package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything a run records: timed ops, output checks, per-layer samples,
  * result digests for the external checker, and storage held between ops.
  */
final class Rec(spark: SparkSession, tmpDir: java.io.File) {
  /** One entry per timed op of the measured loop: did it fail? */
  val opFailed = ArrayBuffer.empty[Boolean]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Digests the external checker verifies, keyed by a stable op key. */
  val digests = mutable.LinkedHashMap.empty[String, String]
  /** Timed ops behind each digest key, so a wrong answer found by the
    * external checker counts every op it covers.
    */
  val keyOps = mutable.LinkedHashMap.empty[String, Int]
  /** Raw result rows the external checker verifies (first run of a key). */
  val dumps = mutable.LinkedHashMap.empty[String, String]
  var peakStorageMb = 0.0
  var measuring = false
  /** Off during warm-up: ops run and are checked, but nothing is sampled. */
  var sampling = true

  /** Every action the session runs, for the full-materialization audit. */
  private val actions = new ActionLog
  spark.listenerManager.register(actions)
  /** Frames the current op handed to `collectAll`. */
  private val collected = ArrayBuffer.empty[QueryExecution]
  private val audited = mutable.Set.empty[String]
  /** Actions inside ops that the audit does not judge, by op kind. */
  val notJudged = mutable.LinkedHashMap.empty[String, mutable.Map[String, Int]]

  def sample(name: String, v: Double): Unit =
    if (sampling && !v.isNaN && !v.isInfinite) samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    checks += ((name, ok, d))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $d")
  }

  /** Run one timed op. The op's result is returned for the (untimed)
    * checks; a throw counts as a failed op and yields None. `sink` says how
    * the op consumes its output, which the action audit then checks:
    * "collect" (through `collectAll`), "write" (Parquet writes) or
    * "stream" (a streaming query's own batches, which Spark does not
    * report as actions).
    */
  def op[T](family: String, kind: String, sink: String = "collect")(f: => T): Option[(T, Double)] = {
    drain()
    actions.take()
    collected.clear()
    Trace.newTrace()
    val t0 = System.nanoTime()
    val r = try Right(Trace.span(s"op.$family.$kind")(f)) catch {
      case e: Throwable => Left(e)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    r match {
      case Left(e) =>
        System.err.println(s"[perfbench] op $family/$kind threw: $e")
        e.printStackTrace()
        if (measuring) opFailed += true
        afterOp()
        None
      case Right(v) =>
        if (measuring) opFailed += false
        audit(kind, sink)
        afterOp()
        Some((v, ms))
    }
  }

  private def drain(): Unit = org.apache.spark.BusDrain(spark.sparkContext)

  /** Full materialization, checked on the actions the op just ran (Spark's
    * QueryExecutionListener reports each with its name and executed plan):
    *  - each frame handed to `collectAll` was consumed by a `collect`, and
    *    its executed plan outputs every column of the frame;
    *  - each Parquet write writes every column of the plan under it;
    *  - a "collect" op ran at least one such collect, a "write" op at
    *    least one such write.
    * Any other action (a count, head or collect inside one of the
    * program's own calls, a look-up the harness makes before a write, or
    * an action that failed) does not hand back the op's output: it is
    * counted in `notJudged`.
    */
  private def audit(kind: String, sink: String): Unit = {
    drain()
    val ran = actions.take()
    var collects, writes = 0
    def fail(what: String): Unit = failLast(s"full_output.$kind", what)
    collected.foreach { qe =>
      ran.find(_._2 eq qe) match {
        case Some(("collect", _)) =>
          collects += 1
          val out = qe.executedPlan.output.map(_.name)
          val cols = qe.analyzed.output.map(_.name)
          if (out != cols) fail(s"executed plan outputs ${out.mkString(",")} of ${cols.mkString(",")}")
        case Some((other, _)) => fail(s"frame consumed by $other, not collect")
        case None => fail("frame was never collected")
      }
    }
    ran.filterNot(a => collected.exists(_ eq a._2)).foreach { case (name, qe) =>
      val ws = if (name.endsWith("(failed)")) Nil
        else QueryWorkload.unwrap(qe.executedPlan).collect { case w: DataWritingCommandExec => w }
      ws.foreach { w =>
        writes += 1
        val child = (w.child match {
          case f: WriteFilesExec => f.child
          case c => c
        }).output.map(_.name)
        val missing = w.cmd.outputColumnNames.filterNot(child.contains)
        if (missing.nonEmpty) fail(s"write drops ${missing.mkString(",")}")
      }
      if (ws.isEmpty) {
        val m = notJudged.getOrElseUpdate(kind, mutable.Map.empty[String, Int].withDefaultValue(0))
        m(name) += 1
      }
    }
    sink match {
      case "collect" if collects == 0 => fail("no collect of the op's output")
      case "write" if writes == 0 => fail("no Parquet write")
      case _ =>
    }
    if (audited.add(kind)) check(s"full_output.$kind", ok = true)
  }

  /** A wrong answer marks the op just run failed (outside the timed loop,
    * where no op is recorded, it is a failed check).
    */
  def failLast(name: String, detail: String): Unit =
    if (measuring && opFailed.nonEmpty) {
      System.err.println(s"[perfbench] WRONG ANSWER $name: $detail")
      opFailed(opFailed.size - 1) = true
    } else check(name, ok = false, detail)

  /** Storage still held after an op: persisted/checkpointed RDD blocks and
    * the program's staged-parquet scratch dirs. Nothing is released here.
    */
  def afterOp(): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val mb = infos.map(i => i.memSize + i.diskSize).sum / 1048576.0
    peakStorageMb = math.max(peakStorageMb, mb)
    val scratch = Option(tmpDir.listFiles()).map(_.count(_.getName.startsWith("graft-"))).getOrElse(0)
    sample("materialize.rdds_left", infos.length)
    sample("materialize.storage_mb_left", mb)
    sample("materialize.scratch_dirs_left", scratch)
  }

  /** Collect an op's whole result; the audit after the op checks that
    * this frame's action was a collect of every column.
    */
  def collectAll(kind: String, df: DataFrame): Array[Row] = {
    collected += df.queryExecution
    df.collect()
  }

  /** Record a digest for `key`; a repeat of the same key must agree with
    * the first (same inputs, deterministic op). Returns false on mismatch.
    */
  def digest(key: String, schema: StructType, rows: Array[Row]): Boolean = {
    if (measuring) keyOps(key) = keyOps.getOrElse(key, 0) + 1
    val d = Digest.of(schema, rows)
    digests.get(key) match {
      case None => digests(key) = d; true
      case Some(prev) => prev == d
    }
  }

  def dump(key: String, schema: StructType, rows: Array[Row]): Unit =
    if (!dumps.contains(key)) dumps(key) = Digest.rowsJson(schema, rows)
}

/** Every action the session runs, with its name (`collect`, `count`,
  * `command` for a write, ...) and query execution. Delivered on the
  * listener bus; read after draining it.
  */
final class ActionLog extends QueryExecutionListener {
  private val seen = ArrayBuffer.empty[(String, QueryExecution)]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { seen += ((funcName, qe)) }
  // a failed action has no executed plan to inspect (the program may
  // catch the failure, as Ingest.policyStream does for a missing state dir)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { seen += ((s"$funcName (failed)", qe)) }
  def take(): Seq[(String, QueryExecution)] = synchronized { val s = seen.toList; seen.clear(); s }
}

/** Order-independent result digest: row count plus, per column, the sum
  * and the sum of squares (exact integers for integral columns, doubles
  * otherwise). The external checker computes the same digest in SQL.
  */
object Digest {
  private def num(v: Any): Either[BigInt, Double] = v match {
    case x: Long => Left(BigInt(x))
    case x: Int => Left(BigInt(x))
    case x: Short => Left(BigInt(x))
    case x: Byte => Left(BigInt(x))
    case x: Boolean => Left(if (x) BigInt(1) else BigInt(0))
    case x: java.sql.Timestamp => Left(BigInt(x.getTime) * 1000 + (x.getNanos / 1000) % 1000)
    case x: java.time.Instant => Left(BigInt(x.getEpochSecond) * 1000000 + x.getNano / 1000)
    case x: String => Left(BigInt(x.length))
    case x: Double => Right(x)
    case x: Float => Right(x.toDouble)
    case x: java.math.BigDecimal => Right(x.doubleValue)
    case x: scala.collection.Seq[_] => Right(x.map(e => num(e).fold(_.toDouble, identity)).sum)
    case x: Array[Byte] => Left(BigInt(x.length))
    case other => throw new IllegalArgumentException(s"no digest for $other")
  }

  def of(schema: StructType, rows: Array[Row]): String = {
    val cols = schema.fields.indices.map { i =>
      var isum = BigInt(0); var isq = BigInt(0); var dsum = 0.0; var dsq = 0.0
      var integral = true
      rows.foreach { r =>
        if (!r.isNullAt(i)) num(r.get(i)) match {
          case Left(b) => isum += b; isq += b * b
          case Right(d) => integral = false; dsum += d; dsq += d * d
        }
      }
      val v = if (integral) s"""["i","$isum","$isq"]""" else s"""["d",${Json.num(dsum)},${Json.num(dsq)}]"""
      s"${Json.str(schema.fields(i).name)}:$v"
    }
    s"""{"n":${rows.length},"cols":{${cols.mkString(",")}}}"""
  }

  def rowsJson(schema: StructType, rows: Array[Row]): String = {
    def v(x: Any): String = x match {
      case null => "null"
      case s: String => Json.str(s)
      case d: Double => Json.num(d)
      case f: Float => Json.num(f.toDouble)
      case b: Boolean => b.toString
      case n: Number => n.toString
      case t: java.sql.Timestamp => Json.str(t.toString)
      case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
      case other => Json.str(other.toString)
    }
    val names = schema.fieldNames.map(Json.str).mkString("[", ",", "]")
    val body = rows.map(r => (0 until r.length).map(i => v(r.get(i))).mkString("[", ",", "]"))
    s"""{"cols":$names,"rows":[${body.mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
