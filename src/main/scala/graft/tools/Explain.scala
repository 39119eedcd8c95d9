// Plan inspection harness: sbt "runMain graft.tools.Explain <q1,q2,...> [sfDir]"
// Prints the formatted physical plan of each named query so pushdown /
// broadcast / codegen decisions can be checked. A query whose planning
// throws prints the failure; the rest still run.
package graft.tools

import scala.util.control.NonFatal
import org.apache.spark.sql.execution.FormattedMode
import graft.{GraftSession, Queries}

object Explain {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q30_arithmetic").split(",").toSeq
    val sf = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get()
    names.foreach { name =>
      val plan =
        try Queries.queries(name)(spark, sf).queryExecution.explainString(FormattedMode)
        catch { case NonFatal(e) => s"EXPLAIN FAILED: $e" }
      println(s"=== $name ===")
      println(plan)
    }
    spark.stop()
  }
}
