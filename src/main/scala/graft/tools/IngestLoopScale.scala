package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.pool.Pool
import graft.streaming.{CorpusIngest, CorpusIngestSession}

/** The ingest-loop cost claim under test: with stored fingerprints and a
  * session-retained Bloom filter, the LANDED-side work per batch drops
  * from O(corpus) (stateless: rebuild the sketch from the landed fp column
  * every batch) to O(batch) (session: the retained filter needs no landed
  * read at all, and for an all-novel batch AQE's empty-relation
  * propagation elides even the verify's fp scan). Wall-clock at test scale
  * is dominated by fixed job overhead, so the probe measures what actually
  * scales: BYTES READ per ingest (a task-metrics listener), which is the
  * 100 TB cost driver. Both pools are seeded with a sizable corpus first;
  * then all-novel batches isolate the sketch-build cost, and a final
  * replayed batch shows the verify cost appearing in both paths.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.IngestLoopScale 20 5"
  */
object IngestLoopScale {
  def main(args: Array[String]): Unit = {
    val seedCopies = if (args.length > 0) args(0).toInt else 20
    val batches = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val meter = new Meter(spark)

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def slice(i: Int) = base
      .select((col("doc_id") + lit(i.toLong) * 100000000L).as("doc_id"),
        concat(col("text"), lit(s" salt_$i")).as("text"))
      .repartition(spark.sparkContext.defaultParallelism)

    val statelessPool = Pool.create(spark, java.nio.file.Files.createTempDirectory("ingest-sl").toString)
    val sessionPool = Pool.create(spark, java.nio.file.Files.createTempDirectory("ingest-se").toString)
    val session = new CorpusIngestSession(sessionPool, "doc_id", "text")

    // seed: one big commit into each pool (outside the per-batch measurement)
    val seed = (0 until seedCopies).map(slice).reduce(_ unionByName _).persist()
    val nSeed = seed.count()
    CorpusIngest.ingestBatch(seed, statelessPool, "doc_id", "text")
    session.ingest(seed)
    seed.unpersist()
    println(s"""{"seeded":$nSeed}""")

    (1 to batches).foreach { i =>
      // last batch replays the previous one (pure dups) — unless it would
      // be the ONLY batch, in which case there is nothing landed to replay
      val novel = i < batches || batches == 1
      val b = (if (novel) slice(seedCopies + i) else slice(seedCopies + batches - 1)).persist()
      val nb = b.count()
      val (a0, m0) = meter(CorpusIngest.ingestBatch(b, statelessPool, "doc_id", "text"))
      val (a1, m1) = meter(session.ingest(b))
      b.unpersist()
      require(a0 == a1, s"paths diverged at batch $i: $a0 vs $a1")
      println(s"""{"batch":$i,"novel":$novel,"batch_rows":$nb,"appended":$a0,"stateless_mb_read":${m0.inputBytes / 1000000},"session_mb_read":${m1.inputBytes / 1000000},"stateless_sec":${f"${m0.sec}%.2f"},"session_sec":${f"${m1.sec}%.2f"}}""")
    }
    spark.stop()
  }
}
