package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Materialize
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** Size-gated shared materialization: the local-checkpoint fast path and
  * the staged-parquet fallback must return identical rows and schema, and
  * both must truncate lineage (the upstream pipeline executes once).
  * Scopes: every materialization is released by the scope that was open
  * when it was made, and nothing outside Materialize materializes.
  */
class MaterializeSpec extends AnyFunSuite with SparkTest {

  private def fixture = {
    import spark.implicits._
    (1L to 200L).map(i => (i % 7, i, i * 0.5)).toDF("signal_id", "seq_no", "value")
  }

  test("small frame takes the localCheckpoint path and preserves rows") {
    spark.conf.unset("spark.graft.materialize.maxLocalBytes")
    val df = fixture.withColumn("d", col("value") * 2)
    val m = Materialize.shared(df)
    // local checkpoint => the plan is an RDD scan leaf, not the pipeline
    assert(m.queryExecution.optimizedPlan.collectLeaves().exists(
      _.getClass.getSimpleName.contains("LogicalRDD")))
    assert(m.schema == df.schema)
    assert(m.collect().toSet == df.collect().toSet)
  }

  test("past the size threshold the frame stages to parquet, same rows") {
    spark.conf.set("spark.graft.materialize.maxLocalBytes", "0")
    try Materialize.scoped {
      val df = fixture.withColumn("d", col("value") * 2)
      val m = Materialize.shared(df)
      // staged => the plan reads a file source, holds no executor storage
      assert(m.queryExecution.optimizedPlan.collectLeaves().exists(
        _.getClass.getSimpleName.contains("LogicalRelation")))
      assert(spark.sparkContext.getPersistentRDDs.isEmpty ||
        !m.queryExecution.optimizedPlan.collectLeaves().exists(
          _.getClass.getSimpleName.contains("LogicalRDD")))
      // file sources force nullability, so names+types must survive the
      // round-trip but nullable flags widen (documented on Materialize)
      assert(m.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)))
      assert(m.collect().toSet == df.collect().toSet)
    } finally spark.conf.unset("spark.graft.materialize.maxLocalBytes")
  }

  test("sharedIfLarge passes small frames through and engages past the bound") {
    val df = fixture.withColumn("d", col("value") * 2)
    spark.conf.unset("spark.graft.materialize.minSharedBytes")
    // default bound (256 MiB): a 200-row frame passes through untouched —
    // same plan object, no materialization job
    val small = Materialize.sharedIfLarge(df)
    assert(small eq df)
    // bound forced to zero: the gate engages and shared()'s discipline
    // applies (here the local fast path — the plan becomes an RDD leaf)
    spark.conf.set("spark.graft.materialize.minSharedBytes", "0")
    try {
      val m = Materialize.sharedIfLarge(df)
      assert(m.queryExecution.optimizedPlan.collectLeaves().exists(
        _.getClass.getSimpleName.contains("LogicalRDD")))
      assert(m.collect().toSet == df.collect().toSet)
    } finally spark.conf.unset("spark.graft.materialize.minSharedBytes")
  }

  test("staged path keeps operator results identical (codec-matrix shape)") {
    import spark.implicits._
    val readings = (1L to 100L).map(i => (i % 5, i, i * 0.25, (i * 25)))
      .toDF("signal_id", "seq_no", "value", "value_q")
    spark.conf.set("spark.graft.materialize.maxLocalBytes", "0")
    try Materialize.scoped {
      val staged = Materialize.shared(readings)
      val sums = staged.groupBy(col("signal_id"))
        .agg(sum(col("value_q")).as("s")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val direct = readings.groupBy(col("signal_id"))
        .agg(sum(col("value_q")).as("s")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(sums == direct)
    } finally spark.conf.unset("spark.graft.materialize.maxLocalBytes")
  }

  private def rddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)
  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE
  private def stagedDirs: Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles).toSeq.flatten
      .map(_.getName).filter(_.startsWith(Materialize.StagedPrefix)).toSet

  /** One of each kind, made in the current scope: (checkpoint RDD id,
    * cached frame, staged dirs).
    */
  private def materializeEach(): (Int, org.apache.spark.sql.DataFrame, Set[String]) = {
    val before = stagedDirs
    val cp = Materialize.checkpoint(fixture.filter(col("seq_no") > 10L))
    val c = Materialize.cache(fixture.filter(col("seq_no") > 20L))
    assert(c.count() == 180L)
    spark.conf.set("spark.graft.materialize.maxLocalBytes", "0")
    val staged = try Materialize.shared(fixture.filter(col("seq_no") > 30L))
      finally spark.conf.unset("spark.graft.materialize.maxLocalBytes")
    assert(staged.count() == 170L)
    val dirs = stagedDirs -- before
    assert(persisted(rddId(cp)) && cached(c) && dirs.size == 1)
    (rddId(cp), c, dirs)
  }

  test("a scope releases checkpoint blocks, cached plans and staged dirs on exit") {
    val (id, c, dirs) = Materialize.scoped(materializeEach())
    assert(!persisted(id))
    assert(!cached(c))
    assert((stagedDirs intersect dirs).isEmpty)
  }

  test("a query's scratch store ends with its scope") {
    val before = Materialize.stored(spark)
    // the shape of a store-writing query: write a store, read it back,
    // hand the consumer a frame over it, consume it inside the scope
    val (dir, n) = Materialize.scoped {
      val dir = Materialize.scratchDir("spec-store")
      assert(stagedDirs.contains(new java.io.File(dir).getName),
        s"$dir is not named under the staged prefix")
      fixture.write.parquet(s"$dir/store")
      val q = spark.read.parquet(s"$dir/store").groupBy(col("signal_id")).count()
      (dir, q.collect().length)
    }
    assert(n == 7)
    assert(!new java.io.File(dir).exists, s"$dir outlived its scope")
    assert(before.added(Materialize.stored(spark)).isEmpty)
  }

  test("a scope releases what it materialized when its body throws") {
    var made: Option[(Int, org.apache.spark.sql.DataFrame, Set[String])] = None
    intercept[IllegalStateException] {
      Materialize.scoped {
        made = Some(materializeEach())
        throw new IllegalStateException("body failed")
      }
    }
    val (id, c, dirs) = made.get
    assert(!persisted(id) && !cached(c) && (stagedDirs intersect dirs).isEmpty)
  }

  test("a nested scope releases only its own materializations") {
    Materialize.scoped {
      val outer = Materialize.checkpoint(fixture.filter(col("seq_no") > 5L))
      val innerId = Materialize.scoped {
        val inner = Materialize.checkpoint(outer.filter(col("seq_no") > 50L))
        assert(inner.count() == 150L)
        rddId(inner)
      }
      assert(!persisted(innerId))
      assert(persisted(rddId(outer)))
      // the outer checkpoint still serves reads (a released one would fail)
      assert(outer.count() == 195L)
    }
  }

  test("frames materialized on Future threads started inside a scope belong to it") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val (scopedId, rootId) = Materialize.scoped {
      val inScope = Materialize.inScope(ExecutionContext.global)
      val a = Await.result(Future(Materialize.checkpoint(fixture.filter(col("seq_no") > 1L)))(inScope),
        Duration.Inf)
      // a plain pool thread has no scope open: its checkpoint has no
      // owner and outlives this scope
      val b = Await.result(Future(Materialize.checkpoint(fixture.filter(col("seq_no") > 2L)))(
        ExecutionContext.global), Duration.Inf)
      (rddId(a), rddId(b))
    }
    assert(!persisted(scopedId))
    assert(persisted(rootId))
    spark.sparkContext.getPersistentRDDs(rootId).unpersist(blocking = true)
  }

  test("a frame materialized on a Future that outlives its scope is released at once") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val gate = new java.util.concurrent.CountDownLatch(1)
    val late = Materialize.scoped {
      Future {
        gate.await()
        Materialize.checkpoint(fixture.filter(col("seq_no") > 3L))
      }(Materialize.inScope(ExecutionContext.global))
    }
    gate.countDown()
    assert(!persisted(rddId(Await.result(late, Duration.Inf))))
  }

  test("release frees only what the call that returned the frame made") {
    Materialize.scoped {
      // cache() of a checkpoint returns the same frame: releasing it drops
      // the cached plan and keeps the checkpoint it reads
      val cp = Materialize.checkpoint(fixture.filter(col("seq_no") > 4L))
      val c = Materialize.cache(cp)
      assert(c eq cp)
      assert(c.count() == 196L && cached(c))
      Materialize.release(c)
      assert(!cached(c) && persisted(rddId(cp)))
      assert(cp.count() == 196L)
      // a frame that is already cached stays with whoever cached it
      val outer = Materialize.cache(fixture.filter(col("seq_no") > 6L))
      Materialize.scoped {
        Materialize.cache(outer)
        Materialize.release(outer)
      }
      assert(cached(outer) && outer.count() == 194L)
    }
  }

  test("an early release of a superseded loop round frees it and keeps the rest") {
    Materialize.scoped {
      var round = Materialize.checkpoint(fixture)
      val ids = scala.collection.mutable.ArrayBuffer(rddId(round))
      for (i <- 1 to 3) {
        val next = Materialize.checkpoint(round.filter(col("seq_no") > i.toLong * 10L))
        assert(next.count() == 200L - i * 10L)
        Materialize.release(round)
        round = next
        ids += rddId(next)
      }
      assert(ids.init.forall(!persisted(_)))
      assert(persisted(ids.last))
      assert(round.count() == 170L)
    }
  }

  test("nothing outside Materialize materializes or releases a frame") {
    val banned = Seq(".localCheckpoint(", ".cache()", ".persist(", "unpersist(")
    val sources = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val offenders =
      try sources.iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Materialize.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
          }
        }
      finally sources.close()
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
