package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * MinHash+LSH near-duplicate candidates over the salted documents
    * corpus — the engine's marquee scale path (single id-keyed signature
    * shuffle, banded bucket join; the planted exact copies guarantee
    * candidates at any SF).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.queries("dedup_minhash_lsh")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracleSql

  /** The queries a `SPARK_GRAFT_ONLY` value selects, sorted by name: the
    * value is a comma-separated list of substrings of query names; unset
    * (None) selects every query. Bench and Verify both filter through
    * this. */
  def selected(only: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    queries.toSeq.sortBy(_._1).filter { case (name, _) =>
      only.forall(_.split(",").exists(name.contains))
    }
}
