package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.{Dedup, SimilarityIndex}

/** The 10×-scale step for the candidate-pair-bearing families: the bench
  * and oracle sweeps pin correctness and cost at sf0.1 (~600k corpus
  * rows), and synthetic probes pin each operator's mechanism — but
  * nothing before r13 measured the REAL pipelines at a full 10× row
  * count, which is where a hidden O(n²) corner (LSH bucket skew, winnow
  * pair blowup, the in-batch vector gate) would first bite.
  *
  * Scaled corpora (written once to temp parquet so both scales read the
  * same way and input bytes are comparable):
  *
  *  - documents ×S: shard c remaps every word w → md5(w|c)[0:8] (shard 0
  *    keeps the original text). A uniform word remap preserves each
  *    shard's intra-shard duplicate/near-duplicate structure EXACTLY
  *    (same shingle-set relations) while making cross-shard text
  *    unrelated — i.e. 10× rows with the same duplicate distribution,
  *    not 10 near-identical copies that would quadratically inflate
  *    every LSH bucket by construction.
  *  - embeddings ×S: shard c multiplies each dimension by a
  *    shard-deterministic ±1 pattern (shard 0 identity) — norms and
  *    intra-shard geometry preserved, cross-shard cosine decorrelated.
  *
  * Each workload then runs the SAME construction the oracle queries run
  * (salted dup copies included), at scale 1 and scale S, reporting wall,
  * total input, MAX single-task input (the skew witness), and shuffle
  * write. Pass/fail reading: wall and shuffle at S should be ≤ ~S·1.5×
  * the scale-1 numbers; max-task-input should stay roughly flat (row
  * groups, not corpus fractions).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.ScaleStep 10"
  */
object ScaleStep {

  def main(args: Array[String]): Unit = {
    val bigScale = if (args.length > 0) args(0).toInt else 10
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val meter = new Meter(spark)
    def measure(name: String, scale: Int)(work: => Long): Unit = {
      val (rows, m) = meter(work)
      println(f"[scalestep] scale=$scale%2d q=$name%-22s wall=${m.sec}%8.2fs rows=$rows%9d " +
        f"in=${m.inputBytes / 1e9}%7.2fGB maxtask=${m.maxTaskInputBytes / 1e6}%7.1fMB " +
        f"shuf=${m.shuffleWriteBytes / 1e6}%8.1fMB")
      Meter.reclaim(spark) // leaked-state hygiene between workloads (the Bench discipline)
    }
    val work = java.nio.file.Files.createTempDirectory("scalestep").toString

    // ---- scaled tables, materialized once per scale ------------------
    def docsAt(scale: Int): String = {
      val path = s"$work/docs$scale"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      (0 until scale).map { c =>
        val text =
          if (c == 0) col("text")
          else array_join(transform(split(col("text"), " "),
            w => substring(md5(concat(w, lit(s"|$c"))), 1, 8)), " ")
        docs.select((col("doc_id") + lit(c * 1000000L)).as("id"), text.as("text"))
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
      path
    }
    def embAt(scale: Int): String = {
      val path = s"$work/emb$scale"
      val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val dim = base.select(size(col("v"))).first().getInt(0)
      (0 until scale).map { c =>
        if (c == 0) base
        else {
          // shard-deterministic ±1 per dimension (simple LCG bit mix)
          val signs = (0 until dim).map(i =>
            if ((((i * 2654435761L + c * 40503L) >> 7) & 1L) == 0L) 1.0 else -1.0)
          val signArr = array(signs.map(lit): _*)
          base.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"), col("label"),
            zip_with(col("v"), signArr, (x, s) => x * s).as("v"))
        }
      }.reduce(_ unionByName _)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(path)
      path
    }

    // the oracle queries' corpus constructions, over the scaled tables
    def textCorpus(path: String): DataFrame = {
      val d = spark.read.parquet(path)
      d.unionByName(d.filter(col("id") % 5 === 0)
          .select((col("id") + 100000000L).as("id"),
            concat(col("text"), lit(" extra words appended")).as("text")))
        .unionByName(d.filter(col("id") % 7 === 0)
          .select((col("id") + 200000000L).as("id"), col("text")))
    }
    def embCorpus(path: String): DataFrame = {
      val b = spark.read.parquet(path)
      b.unionByName(b.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 500000000L).as("vec_id"), col("label"),
          transform(col("v"), x => x * lit(1.01)).as("v")))
    }

    Seq(1, bigScale).foreach { scale =>
      val docsPath = docsAt(scale)
      val embPath = embAt(scale)
      println(s"[scalestep] scale=$scale docs=${spark.read.parquet(docsPath).count()} " +
        s"emb=${spark.read.parquet(embPath).count()}")

      measure("dedup_corpus_clean_lsh", scale) {
        Dedup.dedupCorpusLsh(textCorpus(docsPath), "id", "text",
          n = 3, numPerms = 16, bands = 4, threshold = 0.5).count()
      }

      measure("dedup_winnow_jaccard", scale) {
        val corpus = textCorpus(docsPath)
        val cand = Dedup.winnowCandidatePairs(corpus, "id", "text",
          k = 3, w = 4, maxDf = 100, minShared = 2)
          .select("d1", "d2").localCheckpoint(true)
        Dedup.jaccardForPairs(corpus, cand, "id", "text")
          .filter(col("jaccard") >= 0.5).count()
      }

      measure("dedup_embedding_lsh", scale) {
        Dedup.embeddingLshPairs(embCorpus(embPath), "vec_id", "v", dims = 64)
          .select("d1", "d2").count()
      }

      measure("dedup_embedding_lsh_guard", scale) {
        // the maxBucket guard under the same corpus: bounds the candidate
        // self-join by dropping saturated buckets (recall trade documented
        // on the operator) — the wall/output delta vs the row above IS the
        // quadratic term the guard removes
        Dedup.embeddingLshPairs(embCorpus(embPath), "vec_id", "v", dims = 64,
          maxBucket = 500).select("d1", "d2").count()
      }

      measure("dedup_embedding_lsh_bits64", scale) {
        // the PRIMARY lever: key sizing. 64 bits / 4 bands = 16-bit band
        // keys (65k buckets) — exact-direction near-dups still collide in
        // every band while the saturated-key accidental pairs disperse;
        // this is the documented bits >= bands * log2(N/targetBucket) rule
        Dedup.embeddingLshPairs(embCorpus(embPath), "vec_id", "v", dims = 64,
          bits = 64).select("d1", "d2").count()
      }

      measure("sim_index_ingest_near", scale) {
        // landed = the whole scaled table; batch scales with the shards
        // (novel slice + planted 1.01-scaled near-copies per shard)
        val base = spark.read.parquet(embPath)
        val path = s"$work/ivf-ing-$scale"
        SimilarityIndex.buildIvfFromCentroids(base,
          base.filter(col("vec_id") < 8), "vec_id", "v", path)
        val idx = SimilarityIndex.loadIvf(spark, path, "vec_id", "v")
        val inShard = pmod(col("vec_id"), lit(1000000L))
        val batch = base.filter(inShard >= 300 && inShard < 340)
          .select((col("vec_id") + 700000000L).as("vec_id"), col("label"), col("v"))
          .unionByName(base.filter(inShard % 50 === 0)
            .select((col("vec_id") + 900000000L).as("vec_id"), col("label"),
              transform(col("v"), x => x * lit(1.01)).as("v")))
        idx.ingestNear(batch, threshold = 0.95)
      }
    }
    spark.stop()
  }
}
