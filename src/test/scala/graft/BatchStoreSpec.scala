package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.BatchStore

/** The micro-batch store's listing: what it counts as a landed batch. */
class BatchStoreSpec extends AnyFunSuite with SparkTest {

  test("the listing skips a hidden staging dir and throws on a batch= dir") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-batchstore").toString
    val store = new BatchStore(spark, dir)
    store.write(Seq(1L, 2L).toDF("v"), 0L)
    store.write(Seq(3L).toDF("v"), 2L)
    // a job still writing batch 5 stages it under a hidden directory
    Files.createDirectories(Paths.get(dir, ".spark-staging-5", "batch_id=5"))
    val fresh = new BatchStore(spark, dir)
    assert(fresh.ids.toSeq == Seq(0L, 2L))
    assert(fresh.newestBefore(2L) == Some(0L))
    assert(fresh.read(fresh.ids.toSeq, Seq(1L).toDF("v").schema).count() == 3L)
    // a directory of the old layout is not taken for an empty store
    Files.createDirectories(Paths.get(dir, "batch=3"))
    val e = intercept[IllegalStateException](new BatchStore(spark, dir).ids)
    assert(e.getMessage.contains("batch=3"), e.getMessage)
  }
}
