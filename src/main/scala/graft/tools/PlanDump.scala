package graft.tools

/** Dev tool: write `explain("formatted")` for named queries to files —
  * the before/after plan evidence an optimization round commits under
  * plans/<round>/. Usage:
  *   runMain graft.tools.PlanDump <outDir> <suffix> <query>[,<query>...] [sfDir]
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
