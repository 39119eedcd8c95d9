package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration of this engine: the CLI, Bench, Verify
  * and every dev tool build from [[builder]].
  *
  * Local runs use one task slot per host processor, but every setting here
  * is chosen for a large multi-executor cluster: AQE re-plans shuffles at
  * runtime (skew join splitting, partition coalescing), shuffle partitions
  * sized for the local harness (a real deployment overrides via
  * `spark.sql.shuffle.partitions`).
  */
object GraftSession {
  private def defaultCores: Int = Runtime.getRuntime.availableProcessors

  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")

  def get(cores: Int = defaultCores): SparkSession = {
    val s = builder(cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Task slots for the Bench and Verify mains: `SPARK_GRAFT_CPUS` when set,
    * else the host's processor count. */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(defaultCores)
}
