package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Meter

/** The dev tools' measuring harness counts exactly what the measured body
  * ran, and every measurement starts from zero. */
class MeterSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("a two-job action reads two jobs and its input; the next measurement starts from zero") {
    val dir = Files.createTempDirectory("meter").resolve("t").toString
    spark.range(0, 10000, 1, 4).selectExpr("id", "id * 2 AS v").write.parquet(dir)
    // schema inference happens here, outside the measurements
    val rows = spark.read.parquet(dir).rdd
    assume(rows.getNumPartitions > 1, "zipWithIndex runs its sizing job only over >1 partition")
    val meter = new Meter(spark)
    try {
      // zipWithIndex sizes the partitions with one job, count runs the second
      val (n, m) = meter(rows.zipWithIndex().count())
      assert(n == 10000)
      assert(m.jobs == 2)
      assert(m.timeline.map(_.id).distinct.size == 2)
      assert(m.tasks >= 2)
      assert(m.inputBytes > 0)
      assert(m.maxTaskInputBytes > 0 && m.maxTaskInputBytes <= m.inputBytes)
      assert(m.outputBytes == 0 && m.shuffleWriteBytes == 0)

      val (_, idle) = meter(())
      assert(idle.jobs == 0 && idle.tasks == 0 && idle.inputBytes == 0)
      assert(idle.maxTaskInputBytes == 0 && idle.timeline.isEmpty)

      val (_, one) = meter(rows.count())
      assert(one.jobs == 1 && one.inputBytes > 0)
    } finally meter.close()
  }

  test("reclaim drops persisted RDDs and cached frames") {
    val df = spark.range(100).toDF("id").persist()
    df.count()
    val rdd = spark.sparkContext.parallelize(1 to 10).persist()
    rdd.count()
    Meter.reclaim(spark)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
