package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftColumnsBridge

/** The dev tools' one measuring harness. A single SparkListener counts what
  * a measured body ran — jobs, tasks, input / output / shuffle bytes and
  * spill — and times each job. [[apply]] runs the body under a wall timer
  * between two listener-bus drains, so the counters cover exactly the
  * body's events and every measurement starts from zero.
  *
  * {{{
  *   val meter = new Meter(spark)
  *   val (n, m) = meter { df.count() }
  *   println(f"rows=$n sec=${m.sec}%.2f jobs=${m.jobs} readMB=${m.inputBytes / 1e6}%.1f")
  *   Meter.reclaim(spark) // between runs
  * }}}
  */
final class Meter(spark: SparkSession) {
  private val jobs = new AtomicLong
  private val tasks = new AtomicLong
  private val inputBytes = new AtomicLong
  private val maxTaskInputBytes = new AtomicLong
  private val outputBytes = new AtomicLong
  private val shuffleReadBytes = new AtomicLong
  private val shuffleWriteBytes = new AtomicLong
  private val spillBytes = new AtomicLong
  private val counters = Seq(jobs, tasks, inputBytes, maxTaskInputBytes,
    outputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes)
  // (start, description) per live job; finished jobs of this measurement
  private val starts = new ConcurrentHashMap[Int, (Long, String)]
  private val finished = new ConcurrentLinkedQueue[Meter.Job]

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      // job description, else its call site, else its result stage's name
      val desc = Option(j.properties).flatMap(p =>
        Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short"))))
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
      starts.put(j.jobId, (System.nanoTime(), desc.getOrElse("?")))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(starts.remove(j.jobId)).foreach { case (t0, desc) =>
        finished.add(Meter.Job(j.jobId, t0, System.nanoTime(), desc))
      }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        val in = m.inputMetrics.bytesRead
        inputBytes.addAndGet(in)
        maxTaskInputBytes.accumulateAndGet(in, math.max)
        outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Runs `body` and returns its result with what it cost. */
  def apply[A](body: => A): (A, Meter.Reading) = {
    GraftColumnsBridge.drainListenerBus(spark)
    counters.foreach(_.set(0L))
    finished.clear()
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    GraftColumnsBridge.drainListenerBus(spark)
    (a, Meter.Reading(sec, t0, jobs.get, tasks.get, inputBytes.get,
      maxTaskInputBytes.get, outputBytes.get, shuffleReadBytes.get,
      shuffleWriteBytes.get, spillBytes.get,
      finished.asScala.toSeq.sortBy(_.startNs)))
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Meter {
  /** One finished job: listener-side start and end (System.nanoTime). */
  final case class Job(id: Int, startNs: Long, endNs: Long, desc: String) {
    def sec: Double = (endNs - startNs) / 1e9
  }

  /** What one measured body cost. `startNs` is the wall timer's start on
    * the jobs' clock; `timeline` holds the jobs that finished inside the
    * measurement, by start. */
  final case class Reading(sec: Double, startNs: Long, jobs: Long, tasks: Long,
      inputBytes: Long, maxTaskInputBytes: Long, outputBytes: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      timeline: Seq[Job])

  /** Drops what a finished run left cached, so the next run does not
    * measure it. Blocking RDD unpersist comes first: `clearCache`
    * unpersists DataFrame caches without blocking and drops them from the
    * persistent-RDD map, so a loop after it would never see them and their
    * block removal would race the next run.
    */
  def reclaim(spark: SparkSession): Unit = {
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    catch { case NonFatal(_) => () }
    try spark.sharedState.cacheManager.clearCache()
    catch { case NonFatal(_) => () }
  }
}
