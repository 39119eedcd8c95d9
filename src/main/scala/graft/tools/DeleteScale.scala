package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.pool.{Envelope, Pool}

/** The targeted-delete cost claim under test: `Pool.deleteWhere` of a few
  * rows costs ONE predicate-pushed match scan (row-group stats prune
  * segments the predicate cannot hit down to footer reads — the pool is
  * committed sorted by (topic, offset), so offset predicates prune) plus
  * the rewrite of only the affected segments — NOT a full-table rewrite.
  * The probe grows a pool by whole segments and deletes a single row by
  * offset each time, reporting bytes read (task-metrics listener), the
  * rewritten-segment count (manifest diff), and wall time. Expected: the
  * pruned path's bytes stay near-FLAT as the pool doubles, and exactly
  * one segment rewrites at every size. A second, non-prunable delete
  * (predicate on an unclustered value column) shows the stats-pruning
  * delta: the match scan then reads O(pool), while the rewrite stays
  * O(affected segments).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.DeleteScale 4"
  */
object DeleteScale {
  def main(args: Array[String]): Unit = {
    val rounds = if (args.length > 0) args(0).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    val meter = new Meter(spark)

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    def slice(i: Int) = Envelope.wrap(
      ev.select((col("event_id") + lit(i.toLong) * 100000000L).as("event_id"),
        col("user_id"), col("value"), col("event_type")),
      topic = lit("events"), offset = col("event_id"),
      key = lit(null).cast("string"),
      valueCols = Seq("event_id", "user_id", "value"))
      .repartition(spark.sparkContext.defaultParallelism)

    val pool = Pool.create(spark,
      java.nio.file.Files.createTempDirectory("delete-scale").toString)
    val userId = ev.select("user_id").first().getLong(0)
    var segsGrown = 0
    (0 until rounds).foreach { r =>
      // double the pool: +1 segment in round 0, then as many as it holds
      val add = math.max(1, segsGrown)
      (0 until add).foreach(j => pool.append(slice(segsGrown + j)))
      segsGrown += add
      val rows = pool.read().count()
      val segsBefore = pool.committedSegments()

      // prunable: one row by pool-key offset (lives in the LAST segment)
      val target = (segsGrown.toLong - 1) * 100000000L + 17L
      val (del1, m1) = meter {
        pool.deleteWhere(col("kafka.offset") === target)
      }
      val rewrote1 = pool.committedSegments().count(_.startsWith("delete-")) -
        segsBefore.count(_.startsWith("delete-"))
      println(f"[delete-scale] segs=$segsGrown%3d rows=$rows%9d " +
        f"BY-OFFSET: deleted=$del1 readMB=${m1.inputBytes / 1e6}%8.1f rewroteSegs=$rewrote1 sec=${m1.sec}%6.2f")

      // non-prunable: GDPR-style delete of one USER — user_id is
      // unclustered, so row-group stats cannot prune and the match scan
      // reads O(pool); the rewrite touches every segment the user's
      // events landed in (here: all of them — each slice repeats the
      // user), the honest worst case the by-offset leg contrasts with
      val segsMid = pool.committedSegments().length
      val (del2, m2) = meter {
        pool.deleteWhere(col("value.user_id") === userId)
      }
      val segsAfter = pool.committedSegments().length
      println(f"[delete-scale] segs=$segsGrown%3d rows=$rows%9d " +
        f"BY-USER:   deleted=$del2%5d readMB=${m2.inputBytes / 1e6}%8.1f " +
        f"segs $segsMid->$segsAfter sec=${m2.sec}%6.2f")
    }
    spark.stop()
  }
}
