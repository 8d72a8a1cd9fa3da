package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan audit over EVERY declared query in one session: writes each
  * query's `explain("formatted")` to `<outDir>/<name>.txt` and prints a
  * one-line summary (parquet scans, exchanges, sort-merge vs broadcast
  * joins, codegen spans) — the r18 optimization round's "did a subtree get
  * duplicated / did a join strategy regress" sweep without one JVM per
  * query.
  *
  * `uwin` counts `WindowExec`s with NO partition spec (VERDICT r18 Next
  * #3): each funnels its whole input through a single task — a
  * scale-killer over a corpus-sized input, fine over a tiny
  * post-aggregate grid. The run ends with the total across all queries.
  *
  * Usage: runMain graft.tools.ExplainAll <outDir> [sfDir] [namePrefixFilter]
  */
object ExplainAll {
  /** Unpartitioned windows in `plan`, descending through AQE's initial
    * plan and subqueries. */
  private def unpartitionedWindows(plan: SparkPlan): Int = {
    val own = plan match {
      case w: WindowExec if w.partitionSpec.isEmpty => 1
      case a: AdaptiveSparkPlanExec => unpartitionedWindows(a.inputPlan)
      case _ => 0
    }
    own + (plan.children ++ plan.subqueries).map(unpartitionedWindows).sum
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val only = args.lift(2)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = graft.GraftSession.builder(8).master("local[8]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var uwinTotal = 0
    for (q <- graft.SparkEntry.allDefs if only.forall(q.name.startsWith)) {
      spark.catalog.clearCache()
      try {
        val qe = q.spark(spark, sfDir).queryExecution
        val plan = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        val uwin = unpartitionedWindows(qe.executedPlan)
        uwinTotal += uwin
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, q.name + ".txt"),
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        def c(s: String) = s.r.findAllIn(plan).length
        println(f"[explainall] ${q.name}%-36s scans ${c("Scan parquet")}%3d  " +
          f"exch ${c("Exchange")}%3d  smj ${c("SortMergeJoin")}%2d  " +
          f"bhj ${c("BroadcastHashJoin")}%2d  cart ${c("CartesianProduct|BroadcastNestedLoop")}%2d  " +
          f"uwin $uwin%2d  lines ${plan.linesIterator.length}%5d")
      } catch {
        case e: Throwable =>
          println(s"[explainall] ${q.name} FAILED: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    println(s"[explainall] total unpartitioned windows: $uwinTotal")
    spark.stop()
  }
}
