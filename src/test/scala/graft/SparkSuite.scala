package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSuite {
  lazy val spark: SparkSession = {
    // 4 cores: the PlanSpec exchange ledger is recorded at local[4]
    val s = GraftSession.builder(cores = 4)
      .appName("graft-test")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

/** Driver-side reference for the Morton bit mapping (z-bit `k * n + i`
  * carries bit `k` of rank `i`) — the single oracle both ZOrderSpec and
  * PropertySpec assert [[graft.operators.ZOrder.interleave]] against.
  */
object MortonRef {
  def interleave(ranks: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (i <- ranks.indices; k <- 0 until bits)
      z |= ((ranks(i) >> k) & 1L) << (k * ranks.size + i)
    z
  }
}
