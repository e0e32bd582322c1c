package graft.tools
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev profiling tool: run a query to the noop sink, then walk the FINAL
  * executed plan (AQE-resolved) printing per-operator SQL metrics — the
  * offline stand-in for the Spark UI's SQL tab on a box with the UI off.
  * Usage: runMain graft.tools.MetricsDump <query> [sfDir] [warmRuns]
  */
object MetricsDump {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warm = if (args.length > 2) args(2).toInt else 1
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (1 to warm).foreach { _ =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    // the write action runs its OWN QueryExecution — capture it so the
    // walked plan is the one whose metrics were actually populated.
    // Arm the capture only for the noop write's window: construction-
    // eager queries fire their own driver actions both before (their
    // collects) and potentially after it (deferred cache-release
    // probes), and either would otherwise overwrite `captured` with
    // the wrong plan (r14 advice item).
    @volatile var captured: org.apache.spark.sql.execution.QueryExecution = null
    @volatile var armed = false
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = if (armed && captured == null) captured = qe
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    // construction actions completed synchronously above; their async
    // listener events may still be in flight — give the bus a moment
    // to drain before arming so none of them can win the capture
    Thread.sleep(500)
    armed = true
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    println(f"[metrics] $name total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    // listener events are async; a short wait is enough for onSuccess
    var waited = 0
    while (captured == null && waited < 5000) { Thread.sleep(50); waited += 50 }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (_, m) =>
          m.value > 0 && (m.metricType == "timing" || m.metricType == "nsTiming" ||
            Set("numOutputRows", "dataSize", "shuffleBytesWritten",
              "spillSize", "numFiles", "recordsRead", "localBytesRead",
              "remoteBytesRead", "fetchWaitTime", "shuffleWriteTime",
              "elapsedTime", "scanTime", "aggTime", "buildTime",
              "collectTime", "broadcastTime", "sortTime").exists(s =>
              m.name.exists(_.toLowerCase.contains(s.toLowerCase)) || false))
        }
        .map { case (k, m) =>
          val v = m.metricType match {
            case "timing" => s"${m.value} ms"
            case "nsTiming" => f"${m.value / 1e6}%.0f ms"
            case "size" => f"${m.value / 1024.0 / 1024.0}%.2f MB"
            case _ => m.value.toString
          }
          s"$k=$v"
        }
      println("  " * depth + p.nodeName + (if (ms.nonEmpty) "  [" + ms.mkString(", ") + "]" else ""))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case r: ReusedExchangeExec => println("  " * (depth + 1) + "(reused)")
        case _ => p.children.foreach(walk(_, depth + 1))
      }
      p.subqueries.foreach { sq => println("  " * (depth + 1) + "[subquery]"); walk(sq, depth + 2) }
    }
    walk(if (captured != null) captured.executedPlan
         else df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
