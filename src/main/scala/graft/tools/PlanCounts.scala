package graft.tools
object PlanCounts {
  def main(args: Array[String]): Unit = {
    // 4 cores: the PlanSpec exchange ledger is recorded at local[4]
    val spark = graft.GraftSession.builder(cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.001"
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val n = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
        println(s"""LEDGER "$name" -> $n,""")
      } catch { case e: Throwable => println(s"LEDGER_ERR $name ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
