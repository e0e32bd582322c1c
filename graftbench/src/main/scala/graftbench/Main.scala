package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One workload run in one JVM. `run.py` launches it and turns the result
  * file into the benchmark's output line.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <cores>
  *        <work dir> <result file> <spans file> [board data dir]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, coresS, work, resultFile, spansFile) = args.take(8)
    val seed = seedS.toLong
    val cores = coresS.toInt
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // backup keys are ISO timestamps with colons, which the checksumming
      // local FS misparses
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val h = new Harness(spark, traceS == "1", secondsS.toDouble)
    h.inputs ++= Seq(
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_ready_ms" -> System.currentTimeMillis())
    h.canaries("before")
    workload match {
      case "archive" => Archive.run(h, work, seed, records = 200000)
      case "stream"  => Stream.run(h, work, seed)
      case "board"   => Board.run(h, work, args(8))
      case other     => throw new IllegalArgumentException(s"unknown workload $other")
    }
    h.canaries("after")
    h.finish()
    if (h.traced) h.writeSpans(spansFile)
    Files.write(Paths.get(resultFile),
      h.resultJson(workload, seed, spansFile).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
