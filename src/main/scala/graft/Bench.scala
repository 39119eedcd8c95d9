package graft

import java.io.{FileDescriptor, FileOutputStream, PrintStream}

/** Headline benchmark: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE machine-parseable JSON line on stdout.
  * Everything else (Spark logs, codegen warnings, stack traces) is forced to
  * stderr so the driver's parser never sees it; per-query failures are
  * recorded in an "errors" map instead of being swallowed.
  */
object Bench {

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", " ").replace("\r", " ").replace("\t", " ") + "\""

  def main(args: Array[String]): Unit = {
    // Write the metric line straight to fd 1: under sbt, System.out may be
    // sbt's logger stream which prefixes lines with "[info] " and would break
    // the driver's JSON parse.
    val realOut = new PrintStream(new FileOutputStream(FileDescriptor.out), true)
    val toErr = new PrintStream(new FileOutputStream(FileDescriptor.err), true)
    System.setOut(toErr) // Java-side printers (Janino, log fallbacks)

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Console.withOut covers Scala-side println (scala.Console snapshots
    // System.out at classload, so setOut alone isn't enough).
    Console.withOut(toErr) {
      val spark = GraftSession.builder(GraftSession.envCores)
        // The app-status store retains 1000 jobs / 1000 stages / 100k tasks /
        // 1000 SQL executions by default EVEN WITH THE UI OFF. A ~400-
        // execution suite (98 queries × 3-5 runs, many-small-jobs etl
        // entries) accretes hundreds of MB of listener state, and late
        // queries measure the resulting GC pressure — one of the suite-order
        // contamination sources behind r7's +26%-on-unchanged-code total.
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        .config("spark.ui.retainedDeadExecutors", "0")
        .config("spark.sql.ui.retainedExecutions", "5")
        .config("spark.appStateStore.asyncTracking.enable", "true")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")

      // Untimed warmup: initialize whole-stage codegen, the parquet reader
      // path, and shuffle machinery once so the alphabetically-first query
      // doesn't absorb ~6s of JVM start-up cost into its measurement.
      try {
        spark.range(1 << 20).selectExpr("sum(id * 2)").collect()
        spark.read.parquet(s"$sfDir/region.parquet")
          .groupBy("r_name").count().collect()
      } catch { case _: Throwable => () }

      val errors = scala.collection.mutable.LinkedHashMap[String, String]()
      // Local-iteration filter; unset runs every query.
      val selected = SparkEntry.selected(sys.env.get("SPARK_GRAFT_ONLY"))
      // ≥3 runs per query, report median + min: single-shot numbers on this
      // box carry up to 4-5× suite-order/JIT variance on the worst queries
      // (r3 adjudication: etl_compile_pass 4.2-19.4s, simhash 0.68-2.4s on
      // identical code), which made round-over-round deltas unfalsifiable.
      // The median of consecutive runs is the steady-state signal; the min is
      // the contention-free floor.
      val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
        .flatMap(v => scala.util.Try(v.trim.toInt).toOption) // malformed → default, not a crash
        .getOrElse(3).max(1)
      def medianOf(ts: Seq[Double]): Double =
        if (ts.length % 2 == 1) ts(ts.length / 2)
        else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2
      // Between queries, drop state the finished query leaked into the
      // shared JVM: cached plans (Etl.run caches its batch), persisted RDDs
      // (localCheckpoint keeps its blocks alive until the RDD is GC'd), and
      // accumulated broadcast blocks. Without this, block-manager occupancy
      // grows monotonically across the 80-query suite and later queries
      // measure the GC pressure of earlier ones (r5: text_vocab 0.2s
      // isolated, 3.5s in-suite).
      // dropLeaked (cheap, every run): BLOCKING unpersist — r7's reclaim used
      // unpersist(false), so block removal raced the next query's start and
      // checkpointed blocks routinely survived into later measurements (the
      // BENCH_r07 tail's "lineage truncated" warnings). reclaim (per query)
      // additionally GCs so the ContextCleaner drops unreferenced
      // broadcasts/shuffles; a per-run GC would cost ~400 full collections.
      // NonFatal only (inside Meter.reclaim): an OOM/linkage error between
      // queries means the JVM is corrupted and the run's numbers are
      // garbage — let it die.
      def dropLeaked(): Unit = graft.tools.Meter.reclaim(spark)
      def reclaim(name: String): Unit = {
        dropLeaked()
        val leftover = try spark.sparkContext.getPersistentRDDs.size
        catch { case scala.util.control.NonFatal(_) => -1 }
        if (leftover != 0) toErr.println(s"bench: $leftover persistent RDDs survived reclaim after $name")
        System.gc() // lets ContextCleaner collect unreferenced broadcasts/RDDs
      }
      // Contention-band diagnostics (sidecar only): per RUN, capture the
      // three counters that discriminate the known stall mechanisms —
      //   gc_ms  (process GC-time delta): old-gen/heap pressure shows here;
      //   run_ms (Σ task executorRunTime): wall the executors spent inside
      //          tasks — inflates under external CPU steal (tasks hold a
      //          core slot but compute slowly);
      //   cpu_ms (Σ task executorCpuTime): actual cycles — flat under
      //          steal and scheduler stalls, inflated only by real work.
      // A slow repeat with gc flat + run inflated + cpu flat = the box was
      // contended (co-tenant steal); gc inflated = heap mechanism; run AND
      // cpu flat while wall inflates = the driver/scheduler stalled between
      // jobs. The r11 adjudication showed the band is bimodal repeats on
      // the widest-stage LSH-family queries; these counters let any future
      // driver-run spread be attributed from bench_detail.json alone.
      val taskRunMs = new java.util.concurrent.atomic.AtomicLong(0L)
      val taskCpuMs = new java.util.concurrent.atomic.AtomicLong(0L)
      // r12 residue instrumentation: two driver slow repeats carried ~zero
      // steal but ~10× task-CPU (curate_pipeline_near 40.3s cpu vs 3.5s
      // clean @ 9 jiffies) — REAL recompute/serialize work the steal
      // verdict doesn't cover. The three candidate mechanisms separate on:
      //   spill_mb  (Σ task memory+disk bytes spilled): an execution-
      //             memory squeeze makes sorts/aggs spill — serialize +
      //             IO cycles that are genuine cpu inflation;
      //   evict     (RDD blocks FALLING memory -> disk-only while still
      //             valid, inside the run window): storage eviction under
      //             suite pressure — persisted gate frames re-read from
      //             disk. Only the genuine pressure transition counts:
      //             the engine persists MEMORY_AND_DISK everywhere, so
      //             real eviction always surfaces as that fall, while the
      //             pipelines' own managed release thunks (memory ->
      //             removed/!isValid) and blocks written straight to disk
      //             (no prior memory residency) must NOT count — they are
      //             healthy behavior, and counting them blunted the
      //             discriminator (r13 ADVICE);
      //   jit_ms    (HotSpot total compilation time delta): codegen churn /
      //             code-cache flushing — interpreted re-runs burn ~10×
      //             cpu with zero spill and zero eviction.
      val spillBytes = new java.util.concurrent.atomic.AtomicLong(0L)
      val evictedBlocks = new java.util.concurrent.atomic.AtomicLong(0L)
      // last-known memory residency per RDD block: the evict counter needs
      // the TRANSITION (was in memory, now disk-only), not the new level
      // alone — removal updates are ambiguous (unpersist vs eviction) and
      // disk-only updates without prior memory residency are just
      // disk-level caching
      val blockInMemory =
        java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.spark.storage.BlockId]()
      // seed from CURRENT storage status: a block persisted before this
      // listener attaches would otherwise have its first genuine
      // memory→disk-only fall uncounted (r14 ADVICE)
      try org.apache.spark.sql.graft.GraftColumnsBridge.inMemoryRddBlocks(spark)
        .foreach(blockInMemory.add)
      catch { case scala.util.control.NonFatal(_) => () }
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null) {
            taskRunMs.addAndGet(t.taskMetrics.executorRunTime)
            taskCpuMs.addAndGet(t.taskMetrics.executorCpuTime / 1000000L)
            spillBytes.addAndGet(t.taskMetrics.memoryBytesSpilled + t.taskMetrics.diskBytesSpilled)
          }
        override def onBlockUpdated(b: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
          val info = b.blockUpdatedInfo
          val sl = info.storageLevel
          if (info.blockId.isRDD) {
            if (sl.isValid && sl.useDisk && !sl.useMemory &&
                blockInMemory.contains(info.blockId))
              evictedBlocks.incrementAndGet()
            if (sl.isValid && sl.useMemory && info.memSize > 0)
              blockInMemory.add(info.blockId)
            else blockInMemory.remove(info.blockId)
          }
        }
      })
      def jitMs(): Long =
        try java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
        catch { case scala.util.control.NonFatal(_) => -1L }
      // CodeHeap occupancy (MB): a full code cache disables the JIT —
      // whole-stage-codegen classes then run INTERPRETED, the one
      // mechanism that inflates task-CPU ~10× with jit_ms FLAT, zero
      // spill, zero eviction, zero steal. Reported as a level (not a
      // delta) in the last diag slot.
      def codeCacheMb(): Long =
        try {
          val it = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.iterator()
          var s = 0L
          while (it.hasNext) {
            val p = it.next()
            if (p.getName.startsWith("CodeHeap")) s += p.getUsage.getUsed
          }
          s >> 20
        } catch { case scala.util.control.NonFatal(_) => -1L }
      def gcMs(): Long = {
        val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
        var s = 0L
        while (it.hasNext) { val v = it.next().getCollectionTime; if (v > 0) s += v }
        s
      }
      // vCPU STEAL (jiffies, /proc/stat col 8): the host descheduling this
      // VM's vCPUs. Crucial because guest thread-CPU accounting CANNOT see
      // it — a stolen vCPU still counts as "running" to the guest, so under
      // host steal wall, task_run AND task_cpu inflate proportionally
      // (cpu/run constant), unlike an in-guest co-tenant (cpu/run
      // collapses) or heap pressure (gc_ms dominates). The r12 live band
      // capture had exactly the proportional signature; this counter is
      // the direct witness.
      def stealJiffies(): Long =
        try {
          val src = scala.io.Source.fromFile("/proc/stat")
          try src.getLines().next().trim.split("\\s+").drop(1).lift(7)
            .map(_.toLong).getOrElse(-1L)
          finally src.close()
        } catch { case scala.util.control.NonFatal(_) => -1L }
      val results = selected.map { case (name, fn) =>
        val diags = scala.collection.mutable.ArrayBuffer[(Double, Long, Long, Long, Long, Long, Long, Long, Long)]()
        def once(): Double = {
          org.apache.spark.sql.graft.GraftColumnsBridge.drainListenerBus(spark)
          val (gc0, run0, cpu0, st0) =
            (gcMs(), taskRunMs.get(), taskCpuMs.get(), stealJiffies())
          val (sp0, ev0, jit0) = (spillBytes.get(), evictedBlocks.get(), jitMs())
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            errors(name) = e.toString.linesIterator.next().take(300) }
          val t = (System.nanoTime() - t0) / 1e9
          // flush the query's own task/block events BEFORE dropLeaked so
          // the eviction counter sees the run, not the between-run cleanup
          org.apache.spark.sql.graft.GraftColumnsBridge.drainListenerBus(spark)
          val row = (t, gcMs() - gc0, taskRunMs.get() - run0,
            taskCpuMs.get() - cpu0, stealJiffies() - st0,
            (spillBytes.get() - sp0) >> 20, evictedBlocks.get() - ev0,
            jitMs() - jit0, codeCacheMb())
          dropLeaked() // run-to-run isolation: repeat runs must not stack leaked blocks
          org.apache.spark.sql.graft.GraftColumnsBridge.drainListenerBus(spark)
          diags += row
          t
        }
        var times = (1 to runs).map(_ => once()).sorted
        // Adaptive: a query whose spread exceeds half its median is still
        // dominated by scheduler/GC noise (the many-small-jobs etl scenarios
        // are the repeat offenders) — two extra runs tighten the median
        // without taxing the stable 95% of the suite.
        if (runs > 1 && times.last - times.head > 0.5 * medianOf(times))
          times = (times ++ (1 to 2).map(_ => once())).sorted
        // STEAL-FILTERED median (the named-mechanism mitigation): a run
        // whose window carried > 300 steal jiffies (3 stolen vCPU-seconds)
        // measured the HOST, not the engine — the r12 adjudication showed
        // every >2x repeat matches such a burst in its own diag row. Take
        // up to 2 extra runs while contaminated, then compute the median
        // over the CLEAN runs when at least 2 exist (else over everything —
        // a fully-stolen window has no engine signal to prefer). The raw
        // arrays and per-run steal always ship complete in the sidecar;
        // only the summary statistic is filtered, and min never is.
        val StealJiffies = 300L
        def cleanTimes(): Seq[Double] =
          diags.filter(_._5 <= StealJiffies).map(_._1).toSeq.sorted
        var extra = 0
        while (cleanTimes().length < runs.min(3) && extra < 2) {
          times = (times :+ once()).sorted; extra += 1
        }
        reclaim(name)
        val clean = cleanTimes()
        val med = if (clean.length >= 2) medianOf(clean) else medianOf(times)
        // CONTAMINATED: every retry (base + adaptive + steal extras) still
        // carried steal, so the reported median measured the HOST — the r14
        // driver round had exactly this (ingest_pool_near median 21.5 over
        // 7 stolen runs, min at the 8.3 clean floor). Self-describe the
        // state so a reader reaches for queries_min instead of mistaking
        // host weather for a regression (r14 verdict task 5).
        val contaminated = clean.length < 2
        // the UNFILTERED median ships alongside (ADVICE r12: steal is
        // partly proportional to the guest's own demand, so a filter
        // keyed on steal count alone could bias the headline — reporting
        // both makes the filter's effect auditable per query)
        (name, med, times.head, times, diags.toSeq, medianOf(times), contaminated)
      }

      // Locale.ROOT: the f"" interpolator uses the default JVM locale, which
      // can render decimal commas and break the driver's JSON parse.
      def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      def num2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      val qs = results.map { case (k, med, _, _, _, _, _) => jstr(k) + ":" + num(med) }.mkString("{", ",", "}")
      val qmins = results.map { case (k, _, min, _, _, _, _) => jstr(k) + ":" + num(min) }.mkString("{", ",", "}")
      // full per-run arrays (sidecar only): the in-suite spread SHAPE is
      // the diagnostic for contention-band adjudication — a median alone
      // cannot distinguish "one cold outlier" from "bimodal repeats"
      val qruns = results.map { case (k, _, _, ts, _, _, _) =>
        jstr(k) + ":[" + ts.map(num2).mkString(",") + "]" }.mkString("{", ",", "}")
      // per-run mechanism counters, IN EXECUTION ORDER (not sorted like
      // queries_runs): [wall_s, gc_ms, task_run_ms, task_cpu_ms,
      // steal_jiffies, spill_mb, evict_blocks, jit_ms, codecache_mb] per
      // run — see the comments above for how these name a stall's cause
      // (steal at 100 Hz USER_HZ: 100 jiffies = 1 stolen vCPU-second;
      // spill/evict/jit/codecache discriminate the no-steal
      // cpu-inflation mechanisms; codecache is a level, the rest deltas)
      val qdiag = results.map { case (k, _, _, _, ds, _, _) =>
        jstr(k) + ":[" + ds.map { case (w, gc, run, cpu, st, sp, ev, jit, cc) =>
          s"[${num2(w)},$gc,$run,$cpu,$st,$sp,$ev,$jit,$cc]" }.mkString(",") + "]"
      }.mkString("{", ",", "}")
      // unfiltered medians (per query + sum): the steal filter's effect
      // must be auditable, not implicit in the headline
      val qmedRaw = results.map { case (k, _, _, _, _, mr, _) =>
        jstr(k) + ":" + num(mr) }.mkString("{", ",", "}")
      val es = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
      // queries whose EVERY retry carried steal: their median measured the
      // host, not the engine — readers should take queries_min for them
      // (the clean-contention floor, which is never filtered)
      val contaminatedNames = results.collect { case (k, _, _, _, _, _, true) => k }
      val qcontam = contaminatedNames.map(jstr).mkString("[", ",", "]")
      val total = results.map(_._2).sum
      val totalMin = results.map(_._3).sum
      val totalRaw = results.map(_._6).sum
      // The stdout machine line must fit ENTIRELY inside the driver's
      // 2000-char output tail or it records parsed:null (round 4's lesson;
      // at 83 queries even a medians-only map at 3 decimals is ~2.1k chars).
      // Budget the line to 1800 chars — 2-decimal per-query medians, error
      // strings clipped, and if needed the FASTEST queries pruned from the
      // map (slow ones are the signal) with a "q_omitted" count. The sidecar
      // always carries everything at full precision.
      // "adaptive": high-spread queries get 2 extra runs beyond the base N.
      val lineBudget = 1800
      val esShort = errors.map { case (k, v) => jstr(k) + ":" + jstr(v.take(80)) }.mkString("{", ",", "}")
      val bySlowest = results.sortBy { case (_, med, _, _, _, _, _) => -med }
      def lineFor(keep: Int): String = {
        val kept = bySlowest.take(keep).sortBy(_._1)
        val q = kept.map { case (k, med, _, _, _, _, _) => jstr(k) + ":" + num2(med) }.mkString("{", ",", "}")
        val omitted = if (keep < results.size) s""","q_omitted":${results.size - keep}""" else ""
        // contaminated medians self-describe even on the budgeted line —
        // usually empty, so it costs ~20 chars on clean hosts
        val contam = if (contaminatedNames.isEmpty) "" else s""","contaminated":$qcontam"""
        s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$q,"errors":$esShort$omitted$contam,"sf":${jstr(sfDir)}}"""
      }
      val line = (results.size to 1 by -1).iterator.map(lineFor)
        .find(_.length <= lineBudget)
        .getOrElse(lineFor(0))
      val detail = s"""{"metric":"total","value":${num(total)},"unit":"sec","stat":"median-of-$runs-adaptive-steal-filtered","queries":$qs,"queries_min":$qmins,"queries_median_raw":$qmedRaw,"queries_runs":$qruns,"queries_diag":$qdiag,"queries_contaminated":$qcontam,"total_min":${num(totalMin)},"total_median_raw":${num(totalRaw)},"errors":$es,"n_err":${errors.size},"sf":${jstr(sfDir)}}"""
      try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => toErr.println(s"bench_detail.json write failed: $e") }
      spark.stop()
      realOut.println(line)
      realOut.flush()
    }
  }
}
