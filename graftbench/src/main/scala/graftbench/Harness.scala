package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Order-independent digest of a row multiset: row count plus the sum of
  * a per-row xxhash64 over the named columns.
  */
final case class Digest(rows: Long, hashSum: BigDecimal)

object Digest {
  def columns(names: Seq[String]): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(xxhash64(names.map(col): _*).cast(DecimalType(38, 0))).as("hash_sum"))

  /** Compute the digest as a separate action (used for references only). */
  def of(df: DataFrame): Digest = {
    val r = df.select(columns(df.columns.toSeq): _*).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Run `df` to completion through the `noop` sink and return the digest
    * of the rows it produced, computed in the same pass.
    */
  def noopWrite(df: DataFrame): Digest = sink(df)(_.write.format("noop").mode("overwrite").save())

  def sink(df: DataFrame)(write: DataFrame => Unit): Digest = {
    val obs = Observation()
    val cs = columns(df.columns.toSeq)
    write(df.observe(obs, cs.head, cs.tail: _*))
    val m = obs.get
    val h = m("hash_sum")
    Digest(m("rows").asInstanceOf[Long],
      if (h == null) BigDecimal(0) else BigDecimal(h.asInstanceOf[java.math.BigDecimal]))
  }
}

/** Spark counters of one op, summed over its jobs. */
final case class OpStats(
    jobs: Int,
    tasks: Int,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    /** max / median task run time of the stage with the largest total task time */
    taskSkew: Double)

/** Per-op Spark counters from a listener. Ops run one at a time: the
  * listener counts everything delivered while it is active, and the caller
  * drains the listener bus before reading, so no event of an op is
  * delivered after its counters are read.
  */
final class OpListener extends SparkListener {
  @volatile var active = false
  private var jobs = 0
  private val stageTasks = mutable.Map.empty[Int, ArrayBuffer[Long]]
  private var shuffleWrite, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (active && e.taskInfo != null) {
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def reset(): Unit = synchronized {
    jobs = 0; stageTasks.clear(); shuffleWrite = 0; spill = 0
  }

  def snapshot(): OpStats = synchronized {
    val skew =
      if (stageTasks.isEmpty) 1.0
      else {
        val ds = stageTasks.values.maxBy(_.sum).sorted
        val med = Stats.median(ds.map(_.toDouble).toSeq)
        if (med > 0) ds.last / med else 1.0
      }
    OpStats(jobs, stageTasks.values.map(_.size).sum, shuffleWrite, spill, skew)
  }
}

/** One timed region of the run, as written to the span file. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Shared state of one benchmark run: timing, checks, tracing and the
  * metrics it reports.
  */
final class Harness(val spark: SparkSession, val traced: Boolean, val seconds: Double) {
  /** Wall-clock time of the first timed op (epoch ms), -1 before it. */
  var firstTimedMs: Long = -1L
  private var timedStartNs: Long = 0L
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  /** The workload's own metrics, as README names them. */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Generic end-to-end metrics, reported by every workload. */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val inputs = mutable.LinkedHashMap.empty[String, Any]

  private val listener = new OpListener
  if (traced) spark.sparkContext.addSparkListener(listener)
  private val spans = ArrayBuffer.empty[Span]
  private var spanStack: List[Int] = Nil
  private val origin = System.nanoTime()

  /** Seconds since the first timed op started. */
  def timedElapsed: Double = if (firstTimedMs < 0) 0.0 else (System.nanoTime() - timedStartNs) / 1e9

  /** True while the timed region should go on: fewer than `min` ops done
    * or less than `seconds` of measuring so far.
    */
  def keepGoing(done: Int, min: Int): Boolean = done < min || timedElapsed < seconds

  /** Record a span around `body` (traced runs only; a no-op otherwise). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spans.size
      val parent = spanStack.headOption.getOrElse(-1)
      spans += Span(id, name, parent, System.nanoTime() - origin, -1L)
      spanStack = id :: spanStack
      try body
      finally {
        spanStack = spanStack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime() - origin)
      }
    }

  /** Time one op of the measured region. Returns the result and seconds. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    if (firstTimedMs < 0) { firstTimedMs = System.currentTimeMillis(); timedStartNs = System.nanoTime() }
    attempted += 1
    span(name) {
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - t0) / 1e9
      timedGcMs += gcMs - gc0
      samples.getOrElseUpdate(name, ArrayBuffer.empty) += dt
      (r, dt)
    }
  }

  /** Every timed op's seconds, by op name, in the order they ran. */
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

  /** JVM GC time inside timed ops, ms. */
  private var timedGcMs = 0L

  /** Per-layer metrics every traced run reports: GC per timed op, and the
    * listener's cost as the traced ops' median against the untraced ones'.
    */
  def overhead(tracedOps: Seq[Double], plainOps: Seq[Double]): Unit =
    if (tracedOps.nonEmpty && plainOps.nonEmpty)
      perLayer("trace.overhead_pct") =
        ((Stats.median(tracedOps) / Stats.median(plainOps) - 1) * 100, "%")

  def finish(): Unit = if (traced)
    perLayer("spark.gc_ms") = (timedGcMs.toDouble / math.max(attempted, 1), "ms")

  /** Run `body` with the listener counting (traced runs, when `on`), and
    * return the Spark counters of everything it ran.
    */
  def counted[T](on: Boolean)(body: => T): (T, OpStats) = {
    if (!traced || !on) return (body, OpStats(0, 0, 0, 0, 1.0))
    listener.reset(); listener.active = true
    try {
      val r = body
      BenchBus.drain(spark.sparkContext)
      (r, listener.snapshot())
    } finally listener.active = false
  }

  /** A check of the program's output; a failed check counts as a failed op. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      failed += 1
      failures += s"$what: $detail"
      System.err.println(s"[graftbench] CHECK FAILED $what: $detail")
    }

  /** Time spent in JVM garbage collection so far, ms. */
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Heap pools' peak usage since the last reset, MB. */
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  /** Fixed-work box probes: a CPU-bound aggregate and a shuffle. */
  def canaries(tag: String): Unit = if (traced) {
    def t(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }
    // the first of four is discarded: it pays the probe's own code generation
    val cpu = Seq.fill(4)(t(spark.range(100000000L).selectExpr("sum(id % 7)").collect())).tail
    val shuf = Seq.fill(4)(t(spark.range(2000000L).selectExpr("id % 524287 AS k", "id AS v")
      .groupBy("k").agg(sum("v")).selectExpr("sum(`sum(v)`)").collect())).tail
    perLayer(s"box.canary_cpu_s.$tag") = (Stats.median(cpu), "s")
    perLayer(s"box.canary_shuffle_s.$tag") = (Stats.median(shuf), "s")
  }

  def writeSpans(path: String): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)) += '\n'
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def resultJson(workload: String, seed: Long, spansFile: String): String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      Json.Raw(Json.obj(m.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }))
    Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "first_timed_ms" -> firstTimedMs,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "inputs" -> Json.Raw(Json.obj(inputs.toSeq)),
      "named" -> metrics(named), "end_to_end" -> metrics(endToEnd),
      "samples_s" -> Json.Raw(Json.obj(samples.toSeq.map { case (k, v) => k -> v.toSeq })),
      "per_layer" -> metrics(perLayer),
      "spans_file" -> (if (traced) spansFile else null)))
  }
}

object Stats {
  /** Linear-interpolation quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  /** Already-rendered JSON. */
  final case class Raw(json: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}
