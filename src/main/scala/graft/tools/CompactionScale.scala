package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.pool.Pool
import graft.streaming.CorpusIngestSession

/** The leveled-compaction cost claim under test: with `compactEvery` set,
  * the session's per-cycle compaction cost must be O(small segments), not
  * O(corpus). Two sessions ingest identical micro-batches into pools
  * seeded with the same fat history; one compacts with
  * `compactMaxRows = Long.MaxValue` (every segment is a fold candidate —
  * the pre-leveling full rewrite), the other with a bound that excludes
  * the fat seeds. The metric is bytes WRITTEN per ingest cycle (task
  * output metrics): the full path rewrites the whole pool every cycle
  * (grows with corpus), the leveled path writes only the micro-batch and
  * its small-level folds (flat, bounded by `compactMaxRows`-sized
  * output + the batch itself).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.CompactionScale 6"
  */
object CompactionScale {
  def main(args: Array[String]): Unit = {
    val cycles = if (args.length > 0) args(0).toInt else 6
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val meter = new Meter(spark)

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def slice(i: Int, rows: Int) = base.limit(rows)
      .select((col("doc_id") + lit(i.toLong) * 100000000L).as("doc_id"),
        concat(col("text"), lit(s" salt_$i")).as("text"))
      .repartition(spark.sparkContext.defaultParallelism)

    val seedRows = 5000  // the whole documents table per seed slice
    val batchRows = 1000
    Seq(
      ("full   ", Long.MaxValue),
      ("leveled", 3000L)
    ).foreach { case (label, maxRows) =>
      val pool = Pool.create(spark,
        java.nio.file.Files.createTempDirectory(s"cmp-$label".trim).toString)
      val session = new CorpusIngestSession(pool, "doc_id", "text",
        compactEvery = 1, compactMaxRows = maxRows)
      // fat history first, without compaction ticks in the measurement
      (0 until 3).foreach(i => session.ingest(slice(i, seedRows)))
      (0 until cycles).foreach { c =>
        val (n, m) = meter {
          session.ingest(slice(100 + c, batchRows))
        }
        val segs = pool.committedSegments().length
        println(f"[compaction-scale] $label cycle=$c appended=$n " +
          f"wroteMB=${m.outputBytes / 1e6}%7.1f segs=$segs sec=${m.sec}%6.2f")
      }
    }
    spark.stop()
  }
}
