package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.SimilarityIndex

/** The gated-vector-ingest cost claim under test: [[SimilarityIndex
  * .IvfIndex.ingestNear]] reads only the batch's PROBED CELL partitions
  * (file skipping via the collected cell-id filter), so per-batch cost is
  * O(rows in the probed cells) = O(landed/K per cell), NOT O(landed) —
  * and K is the operator's bound: double the cells, halve the gate scan.
  * At 100 TB the re-cluster cycle keeps K ∝ corpus so cells stay bounded
  * and the loop stays O(batch).
  *
  * The probe: grow a landed index 1×→4×→16× (deterministically salted
  * copies of the sf embeddings), ingest the SAME fixed batch (novel +
  * planted 1.01-scaled near-dups) at every size, and report wall + task
  * input bytes for the gate. Then rebuild the largest index at 4× the
  * cell count and ingest again — expected: bytes/wall track landed/K,
  * and the K bump claws most of the growth back. A brute-force gate
  * (what a side-table dedup without cells would do) would scan the full
  * landed set every batch.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.VectorIngestScale"
  */
object VectorIngestScale {
  def main(args: Array[String]): Unit = {
    val k = if (args.length > 0) args(0).toInt else 16
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val meter = new Meter(spark)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .persist()
    val n0 = emb.count()

    // deterministic growth: copy i perturbs every coordinate by a small
    // i-dependent factor — same distribution, no accidental exact dups
    def salted(times: Int): DataFrame =
      (0 until times).map { i =>
        emb.select((col("vec_id") + lit(i.toLong * 1000000L)).as("vec_id"),
          transform(col("v"), x => x * (lit(1.0) + lit(i % 97) * lit(1e-4)) +
            lit(i % 13) * lit(1e-3)).as("v"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)

    // the FIXED batch: 200 novel (even-dim sign flips decorrelate each
    // vector from its landed original — cos ≈ 0 — while keeping the
    // batch mutually as distinct as the originals are) + 100 planted
    // near-dups (1.01-scaled copies of base vectors — cosine 1.0
    // against their landed twins at every size)
    val batch = emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 77000000L).as("vec_id"),
        transform(col("v"), (x, j) =>
          when(j % 2 === 0, x * lit(-1.0)).otherwise(x)).as("v"))
      .unionByName(emb.filter(col("vec_id") >= 200 && col("vec_id") < 300)
        .select((col("vec_id") + 88000000L).as("vec_id"),
          transform(col("v"), x => x * lit(1.01)).as("v")))
      .persist()
    batch.count()

    def measure(label: String, idx: SimilarityIndex.IvfIndex,
        landed: Long): Unit = {
      val (n, m) = meter(idx.ingestNear(batch, threshold = 0.995, nprobe = 1))
      println(f"""{"probe":"$label","landed":$landed,"appended":$n,"sec":${m.sec}%.2f,"gate_mb":${m.inputBytes / 1e6}%.1f}""")
    }

    Seq(1, 4, 16).foreach { times =>
      val corpus = salted(times)
      val path = java.nio.file.Files.createTempDirectory(s"vis-$times").toString
      SimilarityIndex.buildIvf(corpus, "vec_id", "v", k, iters = 2, path)
      measure(s"k$k-x$times", SimilarityIndex.loadIvf(spark, path, "vec_id", "v"),
        n0 * times)
      if (times == 16) {
        // the K knob: same landed data, 4x the cells -> the gate reads
        // ~1/4 the bytes (rebuild is how production keeps cells bounded)
        val idx = SimilarityIndex.loadIvf(spark, path, "vec_id", "v")
          .rebuild(k * 4, iters = 2)
        measure(s"k${k * 4}-x$times", idx, n0 * times)
      }
    }
    spark.stop()
  }
}
