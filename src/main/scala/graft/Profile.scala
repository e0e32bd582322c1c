package graft

/** Dev-only profiling harness: runs selected queries repeatedly to
  * separate cold cost (analysis + codegen + JIT) from warm execution.
  * Usage: runMain graft.Profile <sfDir> <reps> [query ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val reps = if (args.length > 1) args(1).toInt else 3
    val names =
      if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // extra session confs for A/B experiments, e.g.
    // SPARK_GRAFT_CONF="spark.sql.codegen.wholeStage=false;spark.sql.adaptive.enabled=false"
    val extra = sys.env.getOrElse("SPARK_GRAFT_CONF", "")
      .split(';').filter(_.contains('=')).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k.trim, v.trim)
      }
    val spark = extra.foldLeft(GraftSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))
    spark.range(1000000L).selectExpr("sum(id)").collect()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      println(f"PROFILE $name%-28s " + times.map(t => f"$t%7.2f").mkString(" "))
    }
    spark.stop()
  }
}
