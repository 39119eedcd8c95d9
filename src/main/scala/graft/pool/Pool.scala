package graft.pool

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** A pool: a durable table ordered by `kafka.offset`, the Spark-native analog
  * of the reference's lake pool (fifo/lake.go:22,36-39 — pool key must be
  * `kafka.offset` asc; etl/pool.go:24,37-40 `ErrBadPoolKey`).
  *
  * Storage layout (plain parquet + manifest commit protocol, SURVEY §7.4.5):
  *
  * {{{
  *   <root>/
  *     MANIFEST            # committed segment names, one per line; the
  *                         # atomically-renamed manifest IS the commit point
  *     _versions/v00...01  # immutable per-commit manifest snapshots
  *                         # (time travel via readAt; pruned by vacuum)
  *     seg-000001/ *.parquet
  *     seg-000002/ *.parquet
  * }}}
  *
  * Readers list MANIFEST and read only committed segments, so a crashed
  * writer's half-written segment directory is invisible — this is the
  * "transactionally consistent batch + markers in one commit" guarantee
  * (etl/pipeline.go:92-125, fifo/lake.go:58-60). On a real deployment the
  * same interface maps onto a table format with ACID appends; the manifest
  * protocol here is self-contained.
  *
  * ALL metadata I/O goes through the root path's Hadoop `FileSystem` (and
  * `FileContext` for the atomic rename-overwrite commits), so a pool lives
  * wherever the DataFrame writer can put its segments — local disk, HDFS,
  * or an object store — not just on the driver box. Visibility semantics
  * per store class (SCALING.md "pool commit protocol"): on HDFS/local,
  * `FileContext.rename(OVERWRITE)` is the posix-atomic swap; on object
  * stores — where rename degrades to delete+copy and a racing reader
  * could observe the manifest ABSENT mid-swap — the manifest is instead
  * written as ONE direct `create(overwrite)`: a single last-writer-wins
  * PUT, atomic on close, never absent. Safe under the pool's
  * single-writer rule, which is the contract either way; an absent
  * manifest with surviving snapshots additionally read-repairs from the
  * latest snapshot (see [[committedSegments]]).
  *
  * Concurrency: ONE writer per pool (commit is synchronized in-process;
  * cross-process concurrent writers would race the manifest rewrite). The
  * reference carries the same single-writer requirement (README.md:141-152
  * ordering guarantees assume a single loader); multi-writer pools belong to
  * an ACID table format, not this protocol. Any number of readers is safe.
  * The contract is ENFORCED by a writer-epoch fence (`_EPOCH`): an instance
  * claims a fresh epoch token at its first manifest commit and re-reads the
  * file (one small-object read) before every later swap — when another
  * writer has claimed since, the commit refuses LOUDLY before touching the
  * manifest instead of silently last-writer-wins dropping a commit. The
  * newest claimant owns the pool (serial writer handoff — a new session
  * opening the pool and taking over — stays a non-event; the fenced OLD
  * instance stays fenced, since its cached offsets/sketches may be stale).
  * On atomic-rename stores (posix/HDFS class) the claim itself is a real
  * CAS — create-exclusive of a per-epoch `_EPOCH.<n>` file — so even two
  * claims racing within ONE window resolve to a single winner (the loser
  * refuses at claim time, before touching anything). Object stores have
  * no portable CAS: there the claim stays a last-writer-wins `_EPOCH`
  * write and the fence bounds a double-claim violation to at most that
  * one commit window instead of letting it persist silently forever.
  *
  * Scale design: each committed segment is written sorted by
  * (kafka.topic, kafka.offset) via repartitionByRange + sortWithinPartitions,
  * so parquet row-group min/max stats prune both topic-equality and offset-
  * range predicates (the reference gets this from the lake's pool-key sort,
  * design.md:63-87). Resume-offset queries (`tail 1` per topic) then read
  * only segment tails instead of scanning the pool.
  */
final class Pool private (val spark: SparkSession, val root: Path) {
  import Pool._

  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val fs: FileSystem = root.getFileSystem(hadoopConf)
  // FileContext gives rename-with-OVERWRITE (atomic on HDFS/local); built
  // from the FileSystem's own URI so a scheme-less local root still binds
  // to the local store, not fs.defaultFS
  private lazy val fc: FileContext = FileContext.getFileContext(fs.getUri, hadoopConf)

  private def manifestPath: Path = new Path(root, ManifestFile)
  private def segPath(seg: String): Path = new Path(root, seg)

  private def readString(p: Path): String = {
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, StandardCharsets.UTF_8)
  }

  private def parseLines(s: String): Seq[String] =
    s.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)

  // Whether this store's FileContext rename-OVERWRITE is an atomic
  // metadata swap (posix/HDFS semantics). Everything else — object-store
  // schemes in particular — degrades rename to delete+copy, where a
  // reader racing the swap can observe a MISSING or half-copied target.
  private val renameIsAtomic = Pool.renameIsAtomicStore(fs, hadoopConf)

  /** Make `content` visible at `target` such that a reader never observes
    * a half-written file, by the mechanism the STORE actually guarantees:
    *
    *  - atomic-rename stores (local/HDFS class): write-then-rename — the
    *    rename is the visibility point;
    *  - everything else (object-store class): ONE direct
    *    `create(overwrite)` — a single PUT, which on object stores is
    *    atomic-on-close and last-writer-wins, so the target is never
    *    absent and never half-copied. A tmp+rename there would be
    *    delete+copy: a reader could observe the manifest MISSING
    *    (committedSegments silently empty) or mid-copy.
    *
    * The dichotomy is a scheme classification ([[Pool.AtomicRenameSchemes]],
    * extendable via `graft.pool.atomic.rename.schemes`): an
    * atomic-rename filesystem mis-classified as object-store-class would
    * regain a torn-read window if its create() streams into the visible
    * key — so the HDFS-class cloud filesystems (abfs, wasb, maprfs,
    * ozone, alluxio) are in the allowlist, and a deployment on an
    * unlisted atomic-rename store should add its scheme rather than rely
    * on the PUT path. Defense in depth for torn stores and pools written
    * by older code: [[committedSegments]] read-repairs an absent
    * manifest from the latest `_versions` snapshot.
    */
  private def writeAtomic(target: Path, content: String): Unit =
    if (renameIsAtomic) {
      val tmp = new Path(target.getParent,
        s".${target.getName}.tmp.${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
      fc.rename(tmp, target, Options.Rename.OVERWRITE)
    } else {
      val out = fs.create(target, true)
      try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }

  /** The committed segment list. When the manifest file is ABSENT but
    * snapshots exist (a reader racing a non-atomic rename window of a
    * pool written by older code, or a torn store), the latest `_versions`
    * snapshot IS the last commit point — serve it instead of silently
    * reporting an empty pool. Read-only repair: readers may lack write
    * permission, and the next commit rewrites the manifest anyway.
    */
  def committedSegments(): Seq[String] =
    if (fs.exists(manifestPath)) parseLines(readString(manifestPath))
    else versions().lastOption match {
      case Some(v) => snapshotSegments(v)
      case None    => Seq.empty
    }

  def isEmpty: Boolean = committedSegments().isEmpty

  /** Read the committed pool contents. Segments may carry different record
    * shapes (a heterogeneous pool accretes its superset schema one commit at
    * a time — e.g. Staging after demo batch 3 holds two value shapes), so
    * the scan uses the by-name superset of the cached per-segment schemas
    * (absent fields read as null), merged on the driver like every other
    * pool reader; this stays ONE multi-path parquet scan (pushdown +
    * pruning intact).
    */
  def read(): DataFrame = {
    val segs = committedSegments()
    require(segs.nonEmpty, s"pool $root is empty")
    spark.read.schema(SchemaUnion.merge(segs.map(segmentSchema)))
      .parquet(segs.map(s => segPath(s).toString): _*)
  }

  // per-segment footer schemas (driver metadata reads), cached — segments
  // are immutable once committed, so entries never invalidate in place;
  // vacuum/purge EVICT entries for segments they remove from disk, or a
  // months-long ingest session (one nanoTime-unique segment per batch)
  // accretes unbounded driver memory here
  private val segSchemas =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]
  private[graft] def segmentSchema(seg: String): org.apache.spark.sql.types.StructType =
    segSchemas.getOrElseUpdate(seg,
      spark.read.parquet(segPath(seg).toString).schema)

  // Per-file facts from the parquet FOOTERS — pure driver metadata (no
  // Spark job), one footer open per file, cached since segments are
  // immutable (same eviction discipline as segSchemas). rows feeds
  // compaction policy; stats feed the
  // resume-offset fast path and range-read file pruning: (topic min,
  // topic max, offset min, offset max), None when any stat is missing OR
  // the file holds null topic/offset rows (stats exclude nulls, so a
  // null-topic row could own the offset max and attribution would
  // over-report — metadata paths must not guess).
  private case class FileFooter(path: Path, rows: Long,
      stats: Option[(String, String, Long, Long)])
  private val segFooters =
    scala.collection.concurrent.TrieMap.empty[String, Seq[FileFooter]]
  private def segmentFooters(seg: String): Seq[FileFooter] =
    segFooters.getOrElseUpdate(seg, {
      val files = fs.listStatus(segPath(seg)).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .map(_.getPath)
      files.map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hadoopConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val blocks = r.getFooter.getBlocks.asScala
          val per = blocks.map { b =>
            val cols = b.getColumns.asScala
            def stat(path: Seq[String]) = cols.find(
              _.getPath.toArray.toSeq == path).map(_.getStatistics)
            (stat(Seq("kafka", "topic")), stat(Seq("kafka", "offset"))) match {
              case (Some(ts), Some(os))
                  if ts != null && os != null && !ts.isEmpty && !os.isEmpty &&
                    ts.hasNonNullValue && os.hasNonNullValue &&
                    ts.getNumNulls == 0 && os.getNumNulls == 0 =>
                val tMin = ts.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                val tMax = ts.genericGetMax
                  .asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
                Some((tMin, tMax,
                  os.genericGetMin.asInstanceOf[java.lang.Long].longValue,
                  os.genericGetMax.asInstanceOf[java.lang.Long].longValue))
              case _ => None
            }
          }
          val to =
            if (per.isEmpty || per.exists(_.isEmpty)) None
            else Some((per.map(_.get._1).min, per.map(_.get._2).max,
              per.map(_.get._3).min, per.map(_.get._4).max))
          FileFooter(f, r.getRecordCount, to)
        } finally r.close()
      }
    })

  /** Segment row count from the parquet footers (driver metadata, cached). */
  def segmentRows(seg: String): Long = segmentFooters(seg).map(_.rows).sum

  /** Committed segments holding at most `maxRows` rows (footer metadata) —
    * the fold candidates for leveled compaction. */
  def smallSegments(maxRows: Long): Seq[String] =
    committedSegments().filter(segmentRows(_) <= maxRows)

  /** Split the committed segments by a FOOTER-schema predicate and read
    * each group as its own scan (group-merged superset schema). A segment
    * is one atomic append, so schema-level provenance (does this segment
    * carry a stored `fp`/`sig` column?) is exact per segment — readers
    * that derive a missing column differently per era route here instead
    * of filtering a unioned scan, so neither group lists or schedules the
    * other's files at all. `None` when a group is empty.
    */
  def readPartitionedBySchema(p: org.apache.spark.sql.types.StructType => Boolean)
      : (Option[DataFrame], Option[DataFrame]) = {
    val segs = committedSegments()
    require(segs.nonEmpty, s"pool $root is empty")
    readSegmentsPartitionedBySchema(segs, p)
  }

  /** [[readPartitionedBySchema]] restricted to a SUBSET of the committed
    * segments — the catch-up scan a side index runs over exactly the
    * commits it has not covered yet, never re-listing the rest.
    */
  def readSegmentsPartitionedBySchema(segs: Seq[String],
      p: org.apache.spark.sql.types.StructType => Boolean)
      : (Option[DataFrame], Option[DataFrame]) = {
    val committed = committedSegments().toSet
    require(segs.nonEmpty && segs.forall(committed),
      s"segments not committed: ${segs.filterNot(committed)}")
    val (yes, no) = segs.partition(s => p(segmentSchema(s)))
    def rd(g: Seq[String]): Option[DataFrame] =
      if (g.isEmpty) None
      // group superset schema merged DRIVER-side from the cached footers —
      // option("mergeSchema") would run a (small) distributed merge job on
      // every call, a per-micro-batch tax in ingest loops
      else Some(spark.read.schema(SchemaUnion.merge(g.map(segmentSchema)))
        .parquet(g.map(s => segPath(s).toString): _*))
    (rd(yes), rd(no))
  }

  /** Read, or an empty DataFrame of `schema` when the pool has no commits. */
  def readOr(schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else read()

  /** Atomic append of one batch (fifo/lake.go:58-60 `LoadBatch`).
    *
    * Validates the pool-key invariant (`kafka.offset` must exist,
    * fifo/lake.go:36-39), writes the segment sorted for stats-based pruning,
    * then commits by atomically replacing MANIFEST.
    *
    * @param presorted skip the range shuffle when the writer guarantees the
    *   batch is already (topic, offset)-clustered — e.g. single-topic Kafka
    *   micro-batches, which arrive in offset order. Row-group stats still
    *   prune; the sampling pass + shuffle of the full batch is saved, which
    *   is the bulk of commit latency for large micro-batches.
    * @param knownRows the batch's row count when the caller already has it
    *   (Etl.run's compile counts it anyway) — skips the sizing count job.
    *   Such callers should hand over a plan whose expensive subtrees are
    *   cached, since a multi-file write's range sampler executes it twice.
    * @return the committed segment's name — the handle side structures
    *   (e.g. [[graft.ops.SignatureIndex]]) record to track exactly which
    *   pool commits they cover.
    */
  def append(batch: DataFrame, presorted: Boolean = false,
      knownRows: Option[Long] = None): String = {
    require(hasKafkaOffset(batch), ErrBadPoolKey)
    val seg = f"seg-${committedSegments().size + 1}%06d-${System.nanoTime()}%x"
    val segDir = segPath(seg)
    // The range partitioner SAMPLES its input before shuffling it, so an
    // uncached batch plan executes twice per commit. Batches are bounded
    // (micro-batch / CLI-load sized — pools grow by segments, batches
    // don't), so persist for the duration of the write. Callers that pass
    // an already-persisted batch (or knownRows) are left untouched.
    val mustCache = !presorted && knownRows.isEmpty &&
      batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (mustCache) batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sorted =
        if (presorted) batch.sortWithinPartitions(col("kafka.topic"), col("kafka.offset"))
        else {
          // Size the segment's file count to the batch instead of writing
          // spark.sql.shuffle.partitions files regardless: a micro-batch or
          // CLI load of a few hundred k rows otherwise becomes 32+ tiny
          // parquet files per commit — the classic small-files failure that
          // compounds over thousands of commits (listing time, sub-stats
          // row groups) and, at bench scale, dominates commit latency with
          // per-file fixed costs. The count is ~free when not caller-known:
          // the batch is cached (just persisted above, or caller-persisted
          // by contract), and warming the cache here replaces the range-
          // sampler's own first execution. Large batches keep full write
          // parallelism up to the session's shuffle parallelism — the knob
          // a real cluster sizes.
          val n = knownRows.getOrElse(batch.count())
          val maxParts = spark.sessionState.conf.numShufflePartitions
          val parts = ((n / RowsPerSegmentFile) + 1).min(maxParts.toLong).toInt.max(1)
          val clustered =
            if (parts == 1) batch.coalesce(1) // no shuffle, no sampling pass
            else batch.repartitionByRange(parts, col("kafka.topic"), col("kafka.offset"))
          clustered.sortWithinPartitions(col("kafka.topic"), col("kafka.offset"))
        }
      sorted.write.mode(SaveMode.ErrorIfExists).parquet(segDir.toString)
      commit(seg)
      seg
    } finally if (mustCache) batch.unpersist()
  }

  // read-modify-write under the lock: two in-process appends (or an append
  // racing compact) must not both extend the SAME stale manifest list —
  // the loser's segment would be on disk but never committed, and vacuum
  // would then delete it
  private def commit(seg: String): Unit =
    synchronized { replaceManifest(committedSegments() :+ seg) }

  // Writer-fencing token this instance claimed — set at its first manifest
  // commit, checked before every later one (class-header "Concurrency").
  private var writerToken: Option[String] = None

  private def epochPath = new Path(root, WriterEpochFile)
  private def epochClaimPath(e: Long): Path =
    new Path(root, s"$WriterEpochFile.$e")

  private def readEpochToken(): Option[String] =
    try {
      if (fs.exists(epochPath)) Some(readString(epochPath).trim).filter(_.nonEmpty)
      else None
    } catch { case _: java.io.FileNotFoundException => None }

  private def parseEpoch(token: String): Long =
    scala.util.Try(token.takeWhile(_ != '-').toLong).getOrElse(0L)

  /** The pool's current (highest) writer claim as (epoch, token), merged
    * from BOTH claim sources: the per-epoch claim files `_EPOCH.<n>` (the
    * CAS path on atomic-rename stores — the file's presence IS the claim,
    * so a claimant that crashed between create and content write still
    * counts, with an empty token no checker can match) and the legacy
    * single `_EPOCH` file (object-store fallback path and pre-CAS pools).
    * Highest epoch wins; a per-epoch file beats the legacy mirror at the
    * same number (it is the CAS-authoritative source).
    */
  private def currentClaim(): Option[(Long, String)] = {
    val perFile =
      try fs.listStatus(root).toSeq
        .filter(st => st.isFile &&
          st.getPath.getName.startsWith(WriterEpochFile + "."))
        .flatMap(st => scala.util.Try(
          st.getPath.getName.drop(WriterEpochFile.length + 1).toLong).toOption)
        .sorted.lastOption
        .map(e => (e, scala.util.Try(readString(epochClaimPath(e)).trim).getOrElse("")))
      catch { case _: java.io.FileNotFoundException => None }
    val legacy = readEpochToken().map(t => (parseEpoch(t), t))
    (perFile, legacy) match {
      case (Some(p), Some(l)) => Some(if (l._1 > p._1) l else p)
      case (p, l)             => p.orElse(l)
    }
  }

  /** Enforce the single-writer contract at the commit point: claim a fresh
    * epoch on this instance's first commit; on every later one, re-read the
    * current claim (one small listing + read) and REFUSE the swap if
    * another writer claimed since. The token carries a nonce alongside the
    * monotonic epoch number so two claims can never alias.
    *
    * The CLAIM itself is a real CAS wherever the store allows one: on
    * atomic-rename stores (posix/HDFS class — [[Pool.renameIsAtomicStore]])
    * epoch N+1 is claimed by CREATE-EXCLUSIVE of `_EPOCH.<N+1>`
    * (`fs.create(overwrite = false)`, atomic there), so two instances
    * claiming the same epoch within one window race to ONE winner — the
    * loser's commit refuses before touching anything, closing the
    * same-window double-claim race the class header used to document as
    * unavoidable. Object stores (no portable CAS) keep the last-writer-wins
    * single-file claim with the window bounded to one commit, as before.
    * A raced-out loser may reopen/retry and will then claim a FRESH epoch
    * over the winner — the serial-handoff semantics; the fence refuses
    * silent lost updates, it does not elect a leader.
    */
  private def fenceWriter(): Unit = writerToken match {
    case None =>
      claimEpochAt(currentClaim().map(_._1).getOrElse(0L) + 1)
    case Some(mine) =>
      val cur = currentClaim()
      if (!cur.exists(_._2 == mine))
        throw new IllegalStateException(
          s"pool $root: writer fenced — another writer claimed the pool " +
            s"(epoch ${cur.map(_._2).getOrElse("<absent>")}, ours $mine). The newest " +
            "claimant owns the pool; this instance's commits are refused " +
            "from here on (its cached state may be stale) — reopen to take over.")
  }

  /** Claim writer epoch `target` for this instance — create-exclusive CAS
    * on atomic-rename stores, last-writer-wins `_EPOCH` write elsewhere.
    * Throws (fenced, nothing touched) when the CAS loses the race.
    * Package-private seam: the spec drives the exact same-window collision
    * deterministically (two instances, same target) that a thread race
    * cannot reproduce reliably.
    */
  private[graft] def claimEpochAt(target: Long): Unit = synchronized {
    val token = s"$target-${java.util.UUID.randomUUID().toString.take(8)}"
    if (renameIsAtomic) {
      val claim = epochClaimPath(target)
      def lost() = new IllegalStateException(
        s"pool $root: writer fenced at claim — another writer won " +
          s"epoch $target in the same window (create-exclusive lost). " +
          "Reopen to claim a fresh epoch and take over.")
      if (Option(fs.getUri.getScheme).forall(_ == "file")) {
        // Hadoop's RawLocalFileSystem.create(overwrite = false) is
        // check-then-act, not a CAS — go to the kernel's O_EXCL, which is
        // the real atomic create on posix
        try java.nio.file.Files.write(
          java.nio.file.Paths.get(claim.toUri.getPath),
          token.getBytes(StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.nio.file.FileAlreadyExistsException => throw lost() }
      } else {
        // HDFS-class stores: create(overwrite = false) is a namespace-atomic
        // RPC — the exclusive create IS the CAS
        val out =
          try fs.create(claim, false)
          catch {
            case e: java.io.IOException =>
              // a losing CAS may surface as FileAlreadyExistsException or a
              // store-specific IOException — re-check existence so a genuine
              // IO fault is not misreported as a lost race
              if (fs.exists(claim)) throw lost() else throw e
          }
        try out.write(token.getBytes(StandardCharsets.UTF_8)) finally out.close()
      }
      // housekeeping, never correctness: retire superseded claim files and
      // keep the legacy single-file mirror readable for operators/old
      // readers. Best-effort — currentClaim() takes the max across both
      // sources, so a crash anywhere here leaves only redundant history.
      try {
        fs.listStatus(root).toSeq
          .filter(st => st.isFile &&
            st.getPath.getName.startsWith(WriterEpochFile + "."))
          .filter(st => scala.util.Try(
            st.getPath.getName.drop(WriterEpochFile.length + 1).toLong)
            .toOption.exists(_ < target))
          .foreach(st => fs.delete(st.getPath, false))
        writeAtomic(epochPath, token)
      } catch { case scala.util.control.NonFatal(_) => () }
    } else writeAtomic(epochPath, token)
    writerToken = Some(token)
  }

  private def replaceManifest(lines: Seq[String]): Unit = synchronized {
    fenceWriter()
    writeAtomic(manifestPath, lines.mkString("\n"))
    // record the committed state as an immutable numbered snapshot AFTER
    // the rename: history can at worst lack a crash-interrupted latest
    // commit (the next commit records its own), but never lists a state
    // that was not the commit point — phantom versions are worse than a
    // gap. Snapshots are metadata (a few segment names per commit);
    // their data dirs live until vacuum, which prunes unreadable
    // versions with them. Numbering comes from the NEXT counter file,
    // never from the surviving snapshots: vacuum may prune every
    // snapshot, and a restarted count would let readAt(v) resolve an
    // OLD pinned version to an unrelated later state — numbers must be
    // spent once, forever. (The counter also keeps commits O(1): no
    // directory listing per commit.)
    val vDir = new Path(root, VersionsDir)
    fs.mkdirs(vDir)
    val n = nextVersionNumber(vDir)
    // SPEND the number before the snapshot exists: a crash between the
    // two renames then costs a numbering gap (harmless, documented above),
    // never a reused number — the reverse order would let a restart
    // overwrite a committed snapshot an old consumer already pinned
    writeAtomic(new Path(vDir, VersionCounterFile), (n + 1).toString)
    writeAtomic(new Path(vDir, f"v$n%012d"), lines.mkString("\n"))
  }

  // The next unused version number: the counter file when present (it is
  // >= every snapshot number by construction, so no listing needed —
  // commits stay O(1)); else one past the highest surviving snapshot
  // (pre-counter pools, or a manually deleted counter). The fallback can
  // only under-count when the counter is missing AND purge/vacuum pruned
  // the highest snapshots — [[removeSegments]] therefore re-asserts the
  // counter BEFORE any prune, so the gap needs the counter deleted after
  // the prune (manual sabotage, documented residual: a re-spent number
  // would let a consumer pinning the old one silently read a later,
  // unrelated state).
  private def nextVersionNumber(vDir: Path): Long = {
    val counter = new Path(vDir, VersionCounterFile)
    if (fs.exists(counter)) readString(counter).trim.toLong
    else version() + 1
  }

  /** All recorded snapshot versions, ascending (empty for a pool that has
    * never committed since versioning; vacuum prunes versions whose
    * segments it reclaimed).
    */
  def versions(): Seq[Long] = {
    val vDir = new Path(root, VersionsDir)
    if (!fs.exists(vDir)) Seq.empty
    else fs.listStatus(vDir).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("v"))
      .map(_.drop(1).toLong).sorted
  }

  /** The latest recorded snapshot version (0 = none recorded yet). */
  def version(): Long = versions().lastOption.getOrElse(0L)

  private def snapshotSegments(v: Long): Seq[String] =
    parseLines(readString(new Path(new Path(root, VersionsDir), f"v$v%012d")))

  /** Read the pool AS OF a recorded snapshot version — the reproducible
    * corpus pin for a training run: commit, note `version()`, and any
    * later appends, deletes, or compactions leave `readAt(v)` returning
    * the exact rows that run trained on, until an operator-scheduled
    * [[vacuum]] reclaims the space (which prunes the no-longer-readable
    * versions from [[versions]] — absence fails loudly here rather than
    * returning partial data).
    */
  def readAt(v: Long): DataFrame = {
    val f = new Path(new Path(root, VersionsDir), f"v$v%012d")
    require(fs.exists(f),
      s"pool $root has no readable snapshot v$v (never recorded, or vacuumed) — " +
        s"available: ${versions().mkString(", ")}")
    val segs = parseLines(readString(f))
    if (segs.isEmpty)
      // a snapshot recorded from an EMPTY manifest (deleteWhere can delete
      // every row): zero rows OF THE POOL'S SCHEMA, not an empty struct —
      // column references that resolve on every other snapshot must
      // resolve here too. Schema from the nearest earlier non-empty
      // snapshot (what a reader at v would have last seen), else the
      // nearest later one, else the live manifest; truly-never-any-data
      // pools fall through to an empty struct, the only honest answer.
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        emptySnapshotSchema(v))
    else
      spark.read.schema(SchemaUnion.merge(segs.map(segmentSchema)))
        .parquet(segs.map(s => segPath(s).toString): _*)
  }

  private def emptySnapshotSchema(v: Long): org.apache.spark.sql.types.StructType = {
    val vs = versions()
    (vs.filter(_ < v).sorted.reverse ++ vs.filter(_ > v).sorted).iterator
      .map(snapshotSegments)
      .find(_.nonEmpty)
      .orElse(Some(committedSegments()).filter(_.nonEmpty))
      .map(ss => SchemaUnion.merge(ss.map(segmentSchema)))
      .getOrElse(new org.apache.spark.sql.types.StructType())
  }

  /** Compact all committed segments into one (topic, offset)-sorted segment
    * and atomically swap the manifest to point at it.
    *
    * Streaming ingest accretes a segment per micro-batch; thousands of
    * small segments cost file-listing time and shrink row groups below
    * stats-pruning usefulness. Compaction restores one fat sorted segment —
    * readers are never disturbed (old segments stay on disk until the new
    * manifest is the commit point; a reader holding the old manifest list
    * still sees immutable files). The old segment dirs are left for a
    * separate vacuum step, mirroring object-store table formats where
    * deletion is decoupled from the metadata swap.
    *
    * @return number of segments compacted away (0 = nothing to do).
    */
  def compact(): Int =
    if (committedSegments().length <= 1) 0 else compactWith(identity)

  /** As [[compact]] with a row-preserving transform applied during the
    * rewrite — the hook ingest layers use to BACKFILL derived columns
    * (stored fingerprints/signatures) while the pool is being rewritten
    * anyway, so a mixed-era pool comes out of compaction fully stored
    * instead of carrying nulls in its stored columns. The transform must
    * keep the kafka envelope intact (the pool-key invariant is
    * re-validated). Unlike [[compact]], runs even for a single segment
    * (the transform may be the point).
    */
  def compactWith(transform: DataFrame => DataFrame): Int = {
    val segs = committedSegments()
    if (segs.isEmpty) 0 else compactSegmentsWith(segs, transform)
  }

  /** PARTIAL compaction: fold only the LISTED committed segments into one
    * sorted segment (optionally transformed), leaving every other
    * segment's files untouched — the leveled form a continuous-ingest
    * loop needs at scale. A full [[compactWith]] is O(corpus) per cycle;
    * folding just the micro-batch-sized segments is O(small segments),
    * and a fat folded segment naturally ages out of the candidate set
    * ([[smallSegments]]) instead of being rewritten forever. Same atomic
    * manifest swap; old dirs to [[vacuum]].
    */
  def compactSegmentsWith(segs: Seq[String],
      transform: DataFrame => DataFrame = identity): Int = {
    val committed = committedSegments()
    require(segs.nonEmpty && segs.forall(committed.contains),
      s"compactSegmentsWith: segments not committed: ${segs.filterNot(committed.contains)}")
    val data = transform(
      spark.read.schema(SchemaUnion.merge(segs.map(segmentSchema)))
        .parquet(segs.map(s => segPath(s).toString): _*))
    require(hasKafkaOffset(data), ErrBadPoolKey)
    val seg = f"compact-${System.nanoTime()}%x"
    data
      .repartitionByRange(col("kafka.topic"), col("kafka.offset"))
      .sortWithinPartitions(col("kafka.topic"), col("kafka.offset"))
      .write.mode(SaveMode.ErrorIfExists).parquet(segPath(seg).toString)
    val folded = segs.toSet
    synchronized { replaceManifest(committedSegments().filterNot(folded) :+ seg) }
    segs.length
  }

  /** Targeted delete (takedown / right-to-be-forgotten): remove every row
    * matching `pred` by rewriting ONLY the segments that contain matches.
    * Untouched segments' files are never read past their footers, never
    * rewritten, and keep their paths — at 100 TB a delete of one document
    * costs one stats-pruned scan plus the rewrite of the handful of
    * segments (row groups pruned by min/max stats elsewhere) that hold it,
    * not a full-table rewrite.
    *
    * Two passes:
    *   1. one predicate-pushed scan over the committed segments counts
    *      matches PER SEGMENT (`input_file_name`-derived; the collected
    *      result is ≤ #segments rows — metadata-scale). Segments whose
    *      row-group stats exclude the predicate are footer-only reads.
    *   2. the affected segments, GROUPED BY their footer schema so
    *      provenance eras (stored `fp`/`sig` columns vs legacy shapes)
    *      are never merged into one superset segment — the invariant raw
    *      [[compact]] violates and [[readPartitionedBySchema]] relies
    *      on — are rewritten without the matching rows, sorted like any
    *      commit. A group whose rows are all deleted vanishes from the
    *      manifest instead of leaving an empty segment.
    *
    * The manifest swap at the end is the single atomic commit point; old
    * segment dirs stay on disk for [[vacuum]], so readers draining the
    * prior manifest are undisturbed (the compaction discipline).
    *
    * Null predicate results keep the row (SQL DELETE semantics: only
    * rows where `pred` is TRUE are removed). The predicate must resolve
    * against each affected segment's schema extended by the pool's other
    * top-level columns (absent ones read as null); a predicate reaching
    * into a struct field that an affected segment's era lacks fails
    * loudly at rewrite rather than guessing.
    *
    * @param purge when true, the PRE-delete copies are removed too: after
    *   the manifest swap, the affected original segment directories are
    *   deleted from disk and every snapshot version referencing them is
    *   pruned (the vacuum machinery scoped to exactly this delete). This
    *   is the takedown/right-to-be-forgotten mode — the deleted rows are
    *   no longer readable through ANY `readAt` and no longer present in
    *   any on-disk file, at the documented price of forfeiting time
    *   travel across the delete (that is the point) and of disturbing a
    *   reader still draining the pre-delete manifest (the single-writer/
    *   operator-scheduled contract, as with [[vacuum]]). Crash safety: a
    *   `_PURGE` intent marker recording the affected segments AND their
    *   replacements (binding the marker to this purge's own swap) is
    *   written BEFORE the manifest swap, phase-flipped to `committed`
    *   right after it, and removed after the reclamation, and
    *   [[Pool.open]]/[[Pool.create]] complete any POST-swap interrupted
    *   purge from it ([[completePurge]]) — compliance does not depend on
    *   an operator remembering to [[vacuum]]. A crash BEFORE the swap
    *   means the delete never ran: the marker is left in place as
    *   evidence ([[fsck]] flags it; re-running the delete rewrites it)
    *   rather than silently discarded — and an opener never consumes a
    *   LIVE purge's intent mid-flight.
    * @return number of rows deleted.
    */
  def deleteWhere(pred: org.apache.spark.sql.Column,
      purge: Boolean = false): Long = {
    val segs = committedSegments()
    if (segs.isEmpty) return 0L
    // driver-side superset merge from cached footers (no mergeSchema job)
    val merged = SchemaUnion.merge(segs.map(segmentSchema))
    // pass 1 filters on `pred` DIRECTLY — null never passes a filter, so
    // the semantics equal coalesce(pred, false), but unlike the coalesce
    // wrapper the bare predicate stays translatable into parquet
    // PushedFilters (a coalesce(...) conjunct is untranslatable and would
    // turn the match scan into a full read at any scale). Pinned by
    // PlanAuditSpec.
    val bySeg = spark.read.schema(merged)
      .parquet(segs.map(s => segPath(s).toString): _*)
      .filter(pred)
      .groupBy(element_at(split(input_file_name(), "/"), -2).as("_seg"))
      .count()
      .collect()
    if (bySeg.isEmpty) return 0L
    val deleted = bySeg.map(_.getLong(1)).sum
    val affected = bySeg.map(_.getString(0)).toSet
    val groups = segs.filter(affected).groupBy(segmentSchema)
    val newSegs = groups.toSeq.flatMap { case (groupSchema, group) =>
      // scan with the group's OWN shape (nested structs keep their era
      // schema — no null bleed into rewritten footers) extended by the
      // pool's other top-level columns so the predicate still resolves
      val missingTop = merged.fields.filterNot(f =>
        groupSchema.fieldNames.contains(f.name))
      val scanSchema = org.apache.spark.sql.types.StructType(
        groupSchema.fields ++ missingTop)
      // the KEEP side needs the null-safe form (a null predicate keeps
      // the row — SQL DELETE semantics); pushdown loss is irrelevant
      // here, an affected segment is fully read for its rewrite anyway.
      // Persisted for the write: repartitionByRange SAMPLES its input, so
      // an uncached keep plan would read the affected segments twice (the
      // append() rationale; targeted deletes rewrite few segments by
      // premise, so the materialization is bounded and spills if not).
      val keep = spark.read.schema(scanSchema)
        .parquet(group.map(s => segPath(s).toString): _*)
        .filter(!coalesce(pred, lit(false)))
        .select(groupSchema.fieldNames.map(col).toSeq: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val seg = f"delete-${System.nanoTime()}%x"
        keep
          .repartitionByRange(col("kafka.topic"), col("kafka.offset"))
          .sortWithinPartitions(col("kafka.topic"), col("kafka.offset"))
          .write.mode(SaveMode.ErrorIfExists).parquet(segPath(seg).toString)
        // fully-deleted group: metadata-count the rewrite, drop it if empty
        if (spark.read.parquet(segPath(seg).toString).count() == 0L) None
        else Some(seg)
      } finally keep.unpersist()
    }
    // intent BEFORE the swap, phase-flipped to `committed` AFTER it: the
    // marker binds the purge to ITS OWN swap (it records both the
    // segments to remove AND their replacements), so a repair can only
    // fire when that exact swap is observable — a stale pre-swap marker
    // whose listed segments a later compact()/non-purge delete happened
    // to replace no longer triggers a wrongful reclamation (the
    // replacements it names were never committed). Crash windows:
    // pre-swap → intent marker, listed all live, repair refuses (marker
    // preserved as evidence); between swap and flip → intent marker whose
    // replacements ARE live and listed are not: repair completes; after
    // the flip → committed marker, repair completes unconditionally.
    // Written only in purge mode, so non-purge deletes keep their time
    // travel untouched.
    val marker = new Path(root, PurgeMarkerFile)
    // fence BEFORE the intent write, not just inside the swap: a superseded
    // writer must touch NOTHING — least of all the live owner's in-flight
    // intent evidence, which this write would clobber before the commit
    // refused (a fresh instance claims here, which is correct: a purge IS
    // a write, and the claim is what replaceManifest would do anyway)
    if (purge) synchronized {
      fenceWriter()
      writeAtomic(marker,
        Pool.renderPurgeMarker(affected.toSeq.sorted, newSegs.sorted, committed = false))
    }
    synchronized {
      replaceManifest(committedSegments().filterNot(affected) ++ newSegs)
    }
    if (purge) {
      writeAtomic(marker,
        Pool.renderPurgeMarker(affected.toSeq.sorted, newSegs.sorted, committed = true))
      removeSegments(affected)
      fs.delete(marker, false)
    }
    deleted
  }

  /** Finish a purge that crashed between its manifest swap and its
    * reclamation. The `_PURGE` marker binds the purge to its OWN swap:
    * it records the segments to remove, their replacement segments, and
    * a phase. The repair fires only when the swap is proven —
    *
    *  - `committed` phase (the writer flipped it right after its swap):
    *    complete unconditionally;
    *  - `intent` phase: complete ONLY when the live manifest shows
    *    exactly this purge's swap — every replacement committed and
    *    every listed segment gone (the crash-between-swap-and-flip
    *    window). A stale pre-swap marker whose listed segments a LATER
    *    compact()/non-purge delete replaced fails this test (its
    *    replacements were never committed), so the old segments' dirs
    *    and their time-travel snapshots — which non-purge operations
    *    deliberately preserve — survive, and the marker stays as
    *    evidence that the takedown never applied;
    *  - an intent marker with NO replacements (a purge that emptied
    *    every affected group) cannot prove its swap from the manifest:
    *    it is preserved, the reclamation stays owed, and [[vacuum]] —
    *    which removes unreferenced dirs regardless — retires it;
    *  - a legacy/garbled marker never completes (preserved, flagged).
    *
    * When the repair refuses, the marker is LEFT IN PLACE: that state is
    * either a live purge's pre-swap window (another opener must not
    * consume the writer's intent — the race would void the compliance
    * guarantee if the writer then crashed post-swap) or a pre-swap
    * crash, where the delete never ran and silently discarding the only
    * evidence would let an operator believe a takedown applied when it
    * didn't — [[fsck]] flags the lingering intent; re-running the delete
    * (which rewrites the marker) or [[vacuum]] retires it.
    * Failures (e.g. a read-only consumer lacking delete permission) are
    * reported to stderr, never fatal to open: the swapped manifest
    * already hides the rows from every live read, and the reclamation
    * stays owed — visible through [[fsck]] — until a writer opens.
    * Idempotent; run by [[Pool.open]] and [[Pool.create]] so the repair
    * needs no human in the loop.
    */
  def completePurge(): Unit =
    try {
      val marker = new Path(root, PurgeMarkerFile)
      if (!fs.exists(marker)) return
      val live = committedSegments().toSet
      val proven = Pool.parsePurgeMarker(readString(marker))
        .filter(purgeSwapProven(_, live))
      proven.foreach { m =>
        // `-- live` is belt-and-braces: a proven marker's affected set is
        // disjoint from the manifest by construction, and a committed dir
        // must never be deleted regardless
        removeSegments(m.affected.toSet -- live)
        fs.delete(marker, false)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"pool $root: completing an interrupted purge " +
          s"failed (reclamation still owed; fsck() flags it): $e")
    }

  /** Whether a `_PURGE` marker's swap is PROVEN against the live manifest —
    * the single decision [[completePurge]] repairs on and [[fsck]] reports
    * as "reclamation owed" (vs a pre-swap intent, whose delete never ran).
    * One definition so the repair and the report cannot disagree.
    */
  private def purgeSwapProven(m: Pool.PurgeMarker, live: Set[String]): Boolean =
    m.committed ||
      (m.replacements.nonEmpty && m.replacements.forall(live) &&
        m.affected.forall(s => !live(s)))

  /** Delete the given segment directories from disk, prune the snapshot
    * versions that reference any of them, and evict their metadata cache
    * entries — the reclamation core shared by [[vacuum]] (which applies
    * it to every unreferenced dir) and `deleteWhere(purge = true)` (which
    * scopes it to the just-replaced segments).
    */
  private def removeSegments(gone: Set[String]): Unit = {
    if (gone.isEmpty) return
    gone.foreach { s =>
      val dir = segPath(s)
      if (fs.exists(dir)) fs.delete(dir, true)
      segSchemas.remove(s)
      segFooters.remove(s)
    }
    // prune snapshot versions the reclaim made unreadable: a version
    // listing a deleted segment can no longer serve readAt, and keeping
    // it would advertise time travel the data cannot honor. The prune can
    // remove the HIGHEST snapshots, which is the one state where a
    // missing NEXT counter would make nextVersionNumber's fallback
    // re-spend a number — so re-assert the counter from the pre-prune
    // maximum FIRST (pre-counter pools gain one here; numbers are spent
    // once, forever).
    val vDir = new Path(root, VersionsDir)
    if (fs.exists(vDir)) {
      val counter = new Path(vDir, VersionCounterFile)
      if (!fs.exists(counter)) writeAtomic(counter, (version() + 1).toString)
      versions().foreach { v =>
        val f = new Path(vDir, f"v$v%012d")
        // tolerate a concurrently-pruned snapshot: completePurge runs at
        // EVERY open, so a second process opening the pool during the
        // writer's post-swap reclamation window may prune a snapshot
        // between this loop's listing and its read — the prune's goal is
        // already met for that file, and failing the writer's deleteWhere
        // AFTER its commit point over it would be a spurious error
        try {
          if (parseLines(readString(f)).exists(gone.contains)) fs.delete(f, false)
        } catch { case _: java.io.FileNotFoundException => () }
      }
    }
  }

  /** Read-only health report — the operator's pre-vacuum / post-incident
    * check, pure driver metadata (one listing + the snapshot reads):
    *
    *  - `unreferencedDirs`: segment dirs no manifest line points at —
    *    compaction/delete leftovers awaiting [[vacuum]], or a crashed
    *    writer's partial (never readable either way);
    *  - `stalePurgeIntent`: a `_PURGE` marker is present (a purge is in
    *    flight or crashed — [[completePurge]]/reopen repairs it);
    *  - `counterMissing`: the `NEXT` version counter is absent (the
    *    fallback floor applies until the next commit re-asserts it);
    *  - `missingLiveSegments`: manifest lines whose directory is GONE —
    *    `read()` fails; only out-of-band deletion produces this (the
    *    pool's own reclaim verbs never touch committed segments);
    *  - `brokenSnapshots`: recorded versions referencing a segment dir
    *    that no longer exists — their `readAt` would fail; produced only
    *    by out-of-band deletion, never by the pool's own operations
    *    (purge/vacuum prune the versions they orphan).
    *
    * All-empty/false means the pool is clean. Diagnosis only: the repair
    * verbs stay explicit ([[vacuum]], [[completePurge]], re-commit).
    */
  def fsck(): PoolFsck = {
    val live = committedSegments()
    val dirs = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_ != VersionsDir)
    val broken = versions().filter(v =>
      snapshotSegments(v).exists(s => !fs.exists(segPath(s))))
    val marker = new Path(root, PurgeMarkerFile)
    val markerPresent = fs.exists(marker)
    // distinguish the two marker states the repair's decision table
    // distinguishes: a PROVEN swap (the purge committed; only its disk
    // reclamation is owed — a normal writer open performs it) vs a
    // pre-swap intent (the delete never ran; evidence, not owed work).
    // Witnessable only through a NON-repairing open ([[Pool.openNoRepair]])
    // — a normal open's completePurge consumes the owed state first.
    val owed = markerPresent &&
      (try Pool.parsePurgeMarker(readString(marker))
        .exists(purgeSwapProven(_, live.toSet))
      catch { case _: java.io.FileNotFoundException => false })
    PoolFsck(
      unreferencedDirs = dirs.filterNot(live.toSet).sorted,
      missingLiveSegments = live.filter(s => !fs.exists(segPath(s))),
      stalePurgeIntent = markerPresent,
      purgeReclamationOwed = owed,
      counterMissing = fs.exists(new Path(root, VersionsDir)) &&
        !fs.exists(new Path(new Path(root, VersionsDir), VersionCounterFile)),
      brokenSnapshots = broken)
  }

  /** Delete segment directories no longer referenced by the manifest —
    * compaction leftovers and crashed-writer partials. Safe under the
    * pool's single-writer constraint when invoked by that writer (readers
    * listing the CURRENT manifest never touch unreferenced dirs; a reader
    * still draining a pre-compaction manifest is the reason vacuum is a
    * separate, operator-scheduled step rather than part of compact()).
    *
    * @return number of directories removed.
    */
  def vacuum(): Int = {
    val keep = committedSegments().toSet
    val candidates = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_ != VersionsDir)
      .filterNot(keep.contains)
    removeSegments(candidates.toSet)
    // vacuum subsumes any interrupted purge (its leftovers are
    // unreferenced dirs) — retire the intent marker with them
    fs.delete(new Path(root, PurgeMarkerFile), false)
    candidates.size
  }

  /** Per-topic max offset (etl/pool.go:60-66: `offset:=max(kafka.offset) by
    * topic:=kafka.topic`) — the next-offset base for Q32 offset assignment.
    */
  def maxOffsetsByTopic(): DataFrame =
    read()
      .groupBy(col("kafka.topic").as("topic"))
      .agg(max(col("kafka.offset")).as("offset"))

  /** Resume offset for one topic: committed max + 1, or `earliest` (−2) when
    * the pool holds nothing for the topic (fifo/lake.go:62-82,
    * etl/pool.go:20-22). Checkpoint-free recovery: consumer state lives in
    * the sink itself.
    *
    * Fast path: segments are committed sorted by (topic, offset), so every
    * parquet FOOTER already carries exact per-file (topic min/max, offset
    * max) stats — when each file either excludes `topic` or is entirely
    * that topic (min == max == topic), the answer is the max of those
    * files' offset maxima: pure driver metadata, zero Spark jobs, cached
    * per immutable segment. A file SPANNING topics (a range boundary) that
    * may contain `topic` makes attribution ambiguous — fall back to the
    * aggregation job. Single-topic pools (the corpus-ingest and per-topic
    * sync case) always take the fast path; parquet long stats are exact
    * and topic names are short strings well under stats truncation, so the
    * fast path never guesses.
    */
  def nextOffset(topic: String): Long =
    if (isEmpty) KafkaOffsetEarliest
    else nextOffsetFromFooters(topic).getOrElse {
      val rows = read()
        .filter(col("kafka.topic") === topic)
        .agg(max(col("kafka.offset")))
        .collect()
      if (rows.isEmpty || rows(0).isNullAt(0)) KafkaOffsetEarliest else rows(0).getLong(0) + 1
    }

  private def nextOffsetFromFooters(topic: String): Option[Long] = {
    val perFile = committedSegments().flatMap(segmentFooters).map(_.stats)
    if (perFile.exists(_.isEmpty)) return None // a file without stats
    val known = perFile.map(_.get)
    // ambiguous: a file spanning topics (a range boundary) — bail rather
    // than reason about stats string ordering; single-topic pools and
    // cleanly-partitioned multi-topic pools never hit this
    if (known.exists { case (tMin, tMax, _, _) => tMin != tMax }) return None
    val maxes = known.collect { case (tMin, tMax, _, oMax)
      if tMin == topic && tMax == topic => oMax }
    Some(if (maxes.isEmpty) KafkaOffsetEarliest else maxes.max + 1)
  }

  /** Read one topic restricted to `[fromOffset, toOffset]`, skipping whole
    * FILES whose footer stats exclude the range — driver-side pruning on
    * top of parquet's row-group pruning, for the reference's hot query
    * shape (`kafka.topic=='T' kafka.offset >= hwm`, fifo/lake.go:84-92:
    * the to-kafka resume scan). On a pool of thousands of committed
    * segments, the scan lists and schedules only the files that can hold
    * the range instead of every file ever committed; the residual filter
    * keeps the result exact whatever the stats knew. Pruning rules are
    * collation-free: a file is dropped only when it is single-topic for a
    * DIFFERENT topic (string equality, no ordering) or its exact long
    * offset range misses; files without usable stats are kept.
    */
  def readRange(topic: String, fromOffset: Long,
      toOffset: Long = Long.MaxValue): DataFrame = {
    val segs = committedSegments()
    require(segs.nonEmpty, s"pool $root is empty")
    val kept = segs.flatMap(segmentFooters).filter { ff =>
      ff.stats match {
        case Some((tMin, tMax, oMin, oMax)) =>
          !(tMin == tMax && tMin != topic) &&
            oMax >= fromOffset && oMin <= toOffset
        case None => true // no stats — cannot prune, residual filter decides
      }
    }.map(_.path.toString)
    val residual = col("kafka.topic") === topic &&
      col("kafka.offset") >= fromOffset && col("kafka.offset") <= toOffset
    // superset schema merged DRIVER-side from cached footers — the
    // mergeSchema option would run a footer job over EVERY pool file per
    // manifest change, the exact cost this method exists to avoid (the
    // readPartitionedBySchema rationale)
    val schema = SchemaUnion.merge(segs.map(segmentSchema))
    if (kept.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else
      spark.read.schema(schema).parquet(kept: _*).filter(residual)
  }

  private def hasKafkaOffset(df: DataFrame): Boolean =
    df.schema.fields.find(_.name == "kafka").exists { f =>
      f.dataType match {
        case s: org.apache.spark.sql.types.StructType =>
          s.fieldNames.contains("offset") && s.fieldNames.contains("topic")
        case _ => false
      }
    }
}

/** [[Pool.fsck]]'s report — see the method doc for field semantics.
  * `purgeReclamationOwed` refines `stalePurgeIntent`: true when the marker
  * proves its swap committed (the rows are already gone from every live
  * read; only the disk reclamation is owed — a normal writer open performs
  * it), false for a pre-swap intent (the delete never applied — evidence
  * to act on, not owed work). */
final case class PoolFsck(unreferencedDirs: Seq[String],
    missingLiveSegments: Seq[String], stalePurgeIntent: Boolean,
    purgeReclamationOwed: Boolean,
    counterMissing: Boolean, brokenSnapshots: Seq[Long]) {
  def clean: Boolean = unreferencedDirs.isEmpty &&
    missingLiveSegments.isEmpty && !stalePurgeIntent &&
    !counterMissing && brokenSnapshots.isEmpty
}

object Pool {
  val ManifestFile = "MANIFEST"
  /** Immutable per-commit manifest snapshots for [[Pool.readAt]] live
    * here; excluded from vacuum's segment-dir sweep. */
  val VersionsDir = "_versions"
  /** Monotonic next-version counter inside [[VersionsDir]] — survives
    * vacuum pruning every snapshot, so version numbers are never reused. */
  val VersionCounterFile = "NEXT"
  /** Purge intent marker at the pool root: present only between a
    * `deleteWhere(purge = true)`'s start and its completed reclamation —
    * [[Pool.completePurge]] finishes an interrupted purge from it at
    * open time. */
  val PurgeMarkerFile = "_PURGE"
  /** Writer-epoch fence file at the pool root — see the class header's
    * "Concurrency" paragraph. On atomic-rename stores each claim is a
    * create-exclusive per-epoch file `_EPOCH.<n>` (the CAS), with this
    * single file kept as a best-effort mirror; on object stores the
    * single file IS the (last-writer-wins) claim. Files (not dirs), so
    * vacuum's and fsck's directory sweeps never see them. */
  val WriterEpochFile = "_EPOCH"

  /** Parsed `_PURGE` marker: the segments the purge removes, the
    * replacement segments its swap commits, and whether the writer
    * already flipped the phase to committed (done right after its
    * manifest swap). The two lists bind the marker to ITS OWN swap —
    * see [[Pool!.completePurge]]'s decision table. */
  private[graft] final case class PurgeMarker(affected: Seq[String],
      replacements: Seq[String], committed: Boolean)

  /** `_PURGE` marker wire format (v2):
    * {{{
    * v2 intent|committed
    * - <affected segment>    (one per line)
    * + <replacement segment> (one per line)
    * }}}
    */
  private[graft] def renderPurgeMarker(affected: Seq[String],
      replacements: Seq[String], committed: Boolean): String =
    ((if (committed) "v2 committed" else "v2 intent") +:
      (affected.map("- " + _) ++ replacements.map("+ " + _))).mkString("\n")

  /** None for a legacy/garbled marker — which [[Pool!.completePurge]]
    * then never consumes (preserved as evidence, retired by a re-run
    * delete or [[Pool!.vacuum]]). */
  private[graft] def parsePurgeMarker(text: String): Option[PurgeMarker] = {
    val lines = text.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
    lines.headOption.collect {
      case "v2 intent" => false
      case "v2 committed" => true
    }.map { committed =>
      PurgeMarker(
        lines.tail.collect { case l if l.startsWith("- ") => l.drop(2) },
        lines.tail.collect { case l if l.startsWith("+ ") => l.drop(2) },
        committed)
    }
  }
  /** Schemes whose rename is an atomic metadata swap (posix/HDFS-class,
    * including the cloud filesystems that implement REAL rename: Azure
    * abfs/wasb, MapR, Ozone, Alluxio); every other scheme gets the
    * direct single-PUT manifest write (object-store semantics, where
    * rename is delete+copy but a PUT is atomic on close — see
    * `writeAtomic`). A store outside both classes (no atomic rename AND
    * create() streaming bytes into the visible key) has no safe
    * single-file swap at all; deployments with such a store — or with an
    * atomic-rename scheme missing here — extend the set via the Hadoop
    * conf key `graft.pool.atomic.rename.schemes` (comma-separated). */
  val AtomicRenameSchemes: Set[String] =
    Set("file", "hdfs", "viewfs", "webhdfs", "swebhdfs", "har",
      "abfs", "abfss", "wasb", "wasbs", "maprfs", "o3fs", "ofs", "alluxio")
  /** Additive Hadoop conf key extending [[AtomicRenameSchemes]]. */
  val AtomicRenameSchemesKey = "graft.pool.atomic.rename.schemes"

  /** Whether `fs`'s rename is an atomic metadata swap (the
    * [[AtomicRenameSchemes]] classification plus the conf extension) —
    * the property every all-or-nothing directory-swap protocol in the
    * engine keys off (the pool's manifest strategy here; the similarity
    * index's rebuild-swap refusal in [[graft.ops.SimilarityIndex]]). */
  def renameIsAtomicStore(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration): Boolean = {
    val scheme = Option(fs.getUri.getScheme).getOrElse("file")
    AtomicRenameSchemes.contains(scheme) ||
      conf.getTrimmedStrings(AtomicRenameSchemesKey).contains(scheme)
  }
  /** Target rows per written segment file (append's file-count sizing) —
    * the balance point between the small-files hazard (a 32-way shuffle
    * write per few-hundred-k-row commit) and serializing the write into one
    * task. The session's shuffle parallelism caps the file count either
    * way, so a cluster tuned for 100 TB ingest scales the cap with
    * `spark.sql.shuffle.partitions` as usual. (A 64k-rows/file halving was
    * measured NOT to move the 1M-commit wall — the cost is not in the
    * sort+write fan-out.)
    */
  val RowsPerSegmentFile: Long = 1L << 17
  val KafkaOffsetEarliest: Long = -2L // etl/pool.go:20-22
  val ErrBadPoolKey =
    "pool key must be the ascending kafka.offset (kafka:struct<topic,offset> column required)" // fifo/lake.go:36-39

  /** Open-or-create at `path` — any Hadoop-FS-resolvable location (a bare
    * local path, `file:`, `hdfs:`, an object-store scheme with its
    * connector on the classpath). Local bare paths behave exactly as
    * before the FS port (same strings reach the parquet reader/writer).
    */
  def create(spark: SparkSession, path: String): Pool = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    val pool = new Pool(spark, p)
    pool.completePurge()
    pool
  }

  def open(spark: SparkSession, path: String): Pool = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p) && fs.getFileStatus(p).isDirectory, s"no pool at $path")
    val pool = new Pool(spark, p)
    pool.completePurge()
    pool
  }

  /** Open WITHOUT the open-time purge repair — the OBSERVATION path.
    * [[open]]/[[create]] deliberately run [[Pool!.completePurge]] so a
    * crashed purge needs no human in the loop; but that makes a normal
    * open unusable for a health CHECK: it would complete a proven
    * interrupted purge (deleting segment dirs, pruning snapshots,
    * consuming the marker) before the report renders, and the
    * between-swap-and-flip dirty state would be unwitnessable by
    * construction. `fsck`-type callers route here ([[Pool!.fsck]] reports
    * "reclamation owed" instead of performing it); everything that
    * WRITES should keep using [[open]].
    */
  def openNoRepair(spark: SparkSession, path: String): Pool = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p) && fs.getFileStatus(p).isDirectory, s"no pool at $path")
    new Pool(spark, p)
  }
}
