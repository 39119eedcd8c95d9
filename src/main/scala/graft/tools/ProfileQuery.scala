package graft.tools

import graft.{GraftSession, Queries}

/** Dev-only: per-Spark-job wall breakdown of ANY declared query, plus the
  * driver-side gaps between jobs (planning/analysis/commit time the job
  * timeline cannot show). Usage:
  *
  *   sbt "runMain graft.tools.ProfileQuery <query> [rounds]"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1). Prints, per round: every job's
  * wall and description, the sum of job walls, the end-to-end wall, and the
  * implied driver-gap (wall − Σjobs − overlap is not separated; with jobs
  * serial, gap ≈ wall − Σjobs). Round 2+ is the warm (JIT/codegen-amortized)
  * signal — optimization decisions read round 2, not round 1.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("dedup_incremental_indexed")
    val rounds = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val meter = new Meter(spark)

    spark.range(1 << 20).selectExpr("sum(id)").collect() // warmup

    val fn = Queries.queries(name)
    for (round <- 1 to rounds) {
      val (n, m) = meter(fn(spark, sfDir).count())
      val jobs = m.timeline
      println(s"--- $name round $round: rows=$n wall=${f"${m.sec}%.2f"}s jobs=${jobs.size} ---")
      var prevEnd = m.startNs
      var gapSum = 0.0
      jobs.foreach { j =>
        val gap = (j.startNs - prevEnd).max(0L) / 1e9
        gapSum += gap
        println(f"  gap ${gap}%5.2fs | job ${j.id}%4d ${j.sec}%6.2fs  ${j.desc.take(90)}")
        prevEnd = math.max(prevEnd, j.endNs)
      }
      val jobSum = jobs.map(_.sec).sum
      println(f"  sum(jobs)=$jobSum%.2fs  sum(gaps)=$gapSum%.2fs  wall=${m.sec}%.2fs")
      Meter.reclaim(spark) // between rounds, the Bench discipline
    }
    spark.stop()
  }
}
