package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.Dedup

/** Incremental near-dup at scale, three landed-side strategies:
  *
  *  - RECOMPUTE: landed signatures re-derived from text per batch —
  *    O(landed tokens x perms) every batch;
  *  - PRESIGNED: landed signatures read from a stored narrow table —
  *    O(landed signatures) scanned + band-shuffled every batch (the r14
  *    state, and the term the r14 verdict named scale-killer-in-waiting);
  *  - INDEXED: the [[graft.ops.SignatureIndex]] partition-pruned probe —
  *    the landed read opens only the batch's (band, pfx) partitions, so
  *    probe READ-BYTES should stay ~FLAT as the landed corpus grows
  *    (fixed batch), while both scanning paths grow linearly. The probe's
  *    bytes are measured with [[Meter]] and printed per
  *    size; index BUILD cost is charged to ingest (it happens once per
  *    append in the session), not the probe.
  *
  * Landed side = documents table blown up `copies`x with per-copy word
  * salts (disjoint shingles across copies — the DedupScale trick); the
  * incoming batch is a fixed slice of copy 0 (half near-dups of landed
  * docs, half novel salted variants), so drops genuinely happen at every
  * landed size. Prints one JSON line per landed size.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.IncrementalNearScale 1 10 30"
  */
object IncrementalNearScale {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(4, 16)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val meter = new Meter(spark)

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def salted(copies: Int) = base.crossJoin(spark.range(copies).toDF("c"))
      .select((col("doc_id") + col("c") * 100000000L).as("id"),
        expr("array_join(transform(split(text, ' '), w -> concat(w, '_', CAST(c AS STRING))), ' ')").as("text"))
      .repartition(spark.sparkContext.defaultParallelism)

    // fixed incoming batch: near-dups of copy-0 docs (one appended token —
    // most bands still collide) + novel docs (copy salt no landed copy has).
    // MICRO-BATCH sized (~0.4% of the base docs): the indexed probe's
    // read-bytes bound is (batch keys x bucket size), so the batch must be
    // small against the partition count for the pruning to be visible —
    // exactly the continuous-ingest regime the index exists for (a batch
    // comparable to the whole corpus should read most of it)
    val nearIn = base.filter(col("doc_id") % 500 === 0)
      .select((col("doc_id") + 900000000L).as("id"),
        expr("concat(array_join(transform(split(text, ' '), w -> concat(w, '_0')), ' '), ' extra_0')").as("text"))
    val novelIn = base.filter(col("doc_id") % 500 === 5)
      .select((col("doc_id") + 910000000L).as("id"),
        expr("array_join(transform(split(text, ' '), w -> concat(w, '_x')), ' ')").as("text"))
    val incoming = nearIn.unionByName(novelIn)
      .repartition(spark.sparkContext.defaultParallelism).persist()
    val nIn = incoming.count()

    sizes.foreach { copies =>
      val landed = salted(copies).persist()
      val nLd = landed.count()

      // recompute path: landed signatures re-derived from text per call
      val ((nKept, release), mR) = meter {
        val (kept, release) = Dedup.dedupIncrementalNearManaged(
          incoming, landed, "id", "text")
        (kept.count(), release)
      }
      release()

      // presigned path: landed signatures read from a STORED narrow table
      // (written once at ingest time — the write cost is charged to the
      // append, not the probe, so it is excluded here by design)
      val sigDir = java.nio.file.Files.createTempDirectory("inc-sig").toString
      landed.select(col("id"),
          Dedup.storedSignatureColumn(col("text")).as("sig"))
        .write.mode("overwrite").parquet(sigDir)
      val storedSig = Dedup.signatureFrameFromStored(
        spark.read.parquet(sigDir), "id", "sig", numPerms = 16)
      val (nKeptP, mP) = meter {
        val (keptP, releaseP) = Dedup.dedupIncrementalNearPresignedManaged(
          incoming, storedSig, "id", "text")
        val c = keptP.count(); releaseP(); c
      }

      // indexed path: the partition-pruned probe — build charged to ingest
      val idxPath = java.nio.file.Files.createTempDirectory("inc-idx").toString + "/idx"
      val idx = graft.ops.SignatureIndex.create(spark, idxPath,
        n = 3, numPerms = 16, bands = 4, idTypeDdl = "BIGINT")
      idx.rebuild(storedSig, Seq.empty)
      val (nKeptI, mI) = meter {
        val (keptI, _, releaseI) = Dedup.dedupIncrementalNearIndexed(
          incoming, idx, "id", "text", threshold = 0.5)
        val c = keptI.count(); releaseI(); c
      }

      landed.unpersist()
      require(nKeptP == nKept, s"presigned diverged: $nKeptP vs $nKept")
      require(nKeptI == nKept, s"indexed diverged: $nKeptI vs $nKept")
      println(s"""{"landed":$nLd,"incoming":$nIn,"kept":$nKept,"dropped":${nIn - nKept},"recompute_sec":${f"${mR.sec}%.2f"},"presigned_sec":${f"${mP.sec}%.2f"},"indexed_sec":${f"${mI.sec}%.2f"},"presigned_probe_bytes":${mP.inputBytes},"indexed_probe_bytes":${mI.inputBytes},"index_pfx_len":${idx.pfxLen},"landed_rows_per_sec":${(nLd / mR.sec).toLong}}""")
    }
    incoming.unpersist()
    spark.stop()
  }
}
