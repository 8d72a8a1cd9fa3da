package graft.tools

/** Print a declared query's formatted physical plan — the .explain audit
  * loop (PushedFilters / ReadSchema / WholeStageCodegen spans).
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.builder(4).master("local[4]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
