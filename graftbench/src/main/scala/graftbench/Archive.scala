package graftbench

import graft.backup.BackupEngine
import graft.compact.CompactionEngine
import graft.model.{ChronoUnitSlice, ReducedConsumerRecord}
import graft.restore.RestoreEngine
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.temporal.ChronoUnit
import scala.collection.mutable.ArrayBuffer

/** `archive`: batch backup of a generated topic set, then a filtered
  * restore and a compaction of what was restored. Each round runs
  * `backupBatch` into a fresh directory, `RestoreEngine.restore` of two of
  * the four topics from a `fromWhen` that cuts the first quarter, and
  * `CompactionEngine.latestPerKey` over that restore, each to completion.
  */
object Archive {
  val Hours = 48
  val HourMs = 3600000L
  /** 2024-03-01T00:00:00Z */
  val BaseMs = 1709251200000L
  val RestoreTopics = Set("t1", "t3")
  val FromWhenMs: Long = BaseMs + Hours / 4 * HourMs
  val WarmupRounds = 1
  /** Warm-up rounds over an input of 1/SmallShare of the records. */
  val SmallWarmupRounds = 4
  val SmallShare = 20
  val MinRounds = 5

  /** Diurnal shape: a quiet floor and an afternoon peak about 10x it. */
  val hourWeights: Array[Double] = Array.tabulate(Hours) { h =>
    val d = (h % 24) - 15.0
    1.0 + 9.0 * math.exp(-d * d / (2 * 1.5 * 1.5))
  }

  /** `n` records over `Hours` hourly slices in time order. */
  def generate(seed: Long, n: Int): (IndexedSeq[ReducedConsumerRecord], Array[Int]) = {
    val gen = new RecordGen(seed)
    val total = hourWeights.sum
    var acc = 0.0
    val cdf = hourWeights.map { w => acc += w / total; acc }
    val counts = new Array[Int](Hours)
    (0 until n).foreach(_ => counts(gen.pick(cdf)) += 1)
    val recs = (0 until Hours).flatMap { h =>
      Array.fill(counts(h))(BaseMs + h * HourMs + (gen.uniform() * HourMs).toLong).sorted
        .map(gen.record)
    }
    (recs, counts)
  }

  def run(h: Harness, work: String, seed: Long, records: Int): Unit = {
    val spark = h.spark
    import spark.implicits._
    // A generated input written as parquet, with the digests its restore
    // and compaction must produce, computed without Spark: the restore
    // keeps the chosen topics from `fromWhen` on, and the compaction keeps
    // the highest offset of each (topic, partition, key).
    final case class Input(path: String, records: Int, slices: Int, restoreRef: Digest, compactRef: Digest)
    def prepare(name: String, seed: Long, n: Int): (Input, Array[Int]) = {
      val path = s"$work/$name.parquet"
      val (recs, counts) = h.span("setup.generate")(generate(seed, n))
      h.span("setup.write_input")(spark.sparkContext.parallelize(recs, 4 * spark.sparkContext.defaultParallelism)
        .toDF().withColumnRenamed("timestampType", "timestamp_type").write.parquet(path))
      val (restoreRef, compactRef) = h.span("setup.references") {
        def digest(rs: Iterable[ReducedConsumerRecord]) =
          Digest(rs.size.toLong, BigDecimal(rs.iterator.map(r => BigInt(RecordGen.hash(r))).sum))
        val kept = recs.filter(r => RestoreTopics(r.topic) && r.timestamp >= FromWhenMs)
        (digest(kept), digest(kept.groupBy(r => (r.topic, r.partition, r.key)).values.map(_.maxBy(_.offset))))
      }
      (Input(path, n, counts.count(_ > 0), restoreRef, compactRef), counts)
    }
    val (in, counts) = prepare("input", seed, records)
    val (small, _) = prepare("warmup", seed ^ 0x5eedL, records / SmallShare)
    val input = in.path
    val restoreRef = in.restoreRef
    val nonEmpty = counts.filter(_ > 0).sorted
    h.inputs ++= Seq("seed" -> seed, "records" -> records.toLong, "topics" -> 4L,
      "partitions" -> 8L, "keys" -> 50000L, "slices" -> nonEmpty.length.toLong,
      "hot_slice_ratio" -> nonEmpty.last.toDouble / Stats.median(nonEmpty.map(_.toDouble).toSeq))

    val fromWhen = Some(Instant.ofEpochMilli(FromWhenMs).atOffset(ZoneOffset.UTC))
    def backup(input: String, dir: String) =
      BackupEngine.backupBatch(spark.read.parquet(input), dir, ChronoUnitSlice(ChronoUnit.HOURS))
    def restore(dir: String): DataFrame = RestoreEngine.restore(spark, dir, RestoreTopics, fromWhen)

    val backupT, restoreT, compactT = ArrayBuffer.empty[Double]
    val tracedRoundT, plainRoundT = ArrayBuffer.empty[Double]
    val backupStats, restoreStats = ArrayBuffer.empty[OpStats]
    val heapPeaks, bytesOut = ArrayBuffer.empty[Double]

    // One round; timed rounds record their op times. In a traced run every
    // other timed round is counted by the listener, so the untraced ones
    // measure what the tracing costs.
    def round(in: Input, i: Int, timedRound: Boolean): Unit = {
      // every round starts from a collected heap, so rounds see the same GC
      System.gc()
      val dir = s"$work/rounds/r$i"
      val counting = timedRound && i % 2 == 1
      def op[T](name: String)(body: => T): (T, Double) =
        if (timedRound) h.timed(name)(body)
        else { val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9) }

      val ((written, bt), bs) = h.counted(counting)(op("archive.backup")(backup(in.path, dir)))
      h.check("archive.backup records", written.map(_._2).sum == in.records,
        s"${written.map(_._2).sum} written of ${in.records}")
      h.check("archive.backup objects", written.size == in.slices,
        s"${written.size} objects for ${in.slices} slices")
      if (counting)
        bytesOut += RestoreEngine.listKeys(spark, dir).map(new File(dir, _).length).sum.toDouble

      h.resetHeapPeak()
      val ((restored, rt), rs) = h.counted(counting)(op("archive.restore")(Digest.noopWrite(restore(dir))))
      if (counting) heapPeaks += h.heapPeakMb
      h.check("archive.restore digest", restored == in.restoreRef, s"got $restored want ${in.restoreRef}")

      val (compacted, ct) =
        op("archive.compact")(Digest.noopWrite(CompactionEngine.latestPerKey(restore(dir))))
      h.check("archive.compact digest", compacted == in.compactRef, s"got $compacted want ${in.compactRef}")
      FileUtils.deleteDirectory(new File(dir))

      if (timedRound) {
        backupT += bt; restoreT += rt; compactT += ct
        (if (counting) tracedRoundT else plainRoundT) += bt + rt + ct
        if (counting) { backupStats += bs; restoreStats += rs }
      }
    }

    // warm-up: rounds over a small input settle the per-op code (planning,
    // code generation, scheduling) cheaply; full rounds then settle the
    // per-record code
    h.span("setup.warmup") {
      (0 until SmallWarmupRounds).foreach(i => round(small, -1 - i, timedRound = false))
      (0 until WarmupRounds).foreach(i => round(in, -1 - SmallWarmupRounds - i, timedRound = false))
    }
    var i = 0
    while (h.keepGoing(i, MinRounds)) { round(in, i, timedRound = true); i += 1 }

    val med = (xs: Seq[Double]) => Stats.median(xs)
    h.named ++= Seq(
      "backup_rps" -> (records / med(backupT.toSeq), "1/s"),
      "restore_rps" -> (restoreRef.rows / med(restoreT.toSeq), "1/s"),
      "compact_rps" -> (restoreRef.rows / med(compactT.toSeq), "1/s"))
    h.endToEnd ++= Seq(
      "stage1_ms" -> (med(backupT.toSeq) * 1000, "ms"),
      "stage2_ms" -> (med(restoreT.toSeq) * 1000, "ms"),
      "stage3_ms" -> (med(compactT.toSeq) * 1000, "ms"))

    if (h.traced) {
      val lp = h.perLayer
      lp("backup.backupBatch_s") = (med(backupT.toSeq), "s")
      lp("backup.objects") = (nonEmpty.length.toDouble, "count")
      lp("backup.bytes_out") = (med(bytesOut.toSeq), "bytes")
      lp("backup.shuffle_bytes") = (med(backupStats.map(_.shuffleWriteBytes.toDouble).toSeq), "bytes")
      lp("backup.task_skew") = (med(backupStats.map(_.taskSkew).toSeq), "ratio")
      lp("restore.records_out") = (restoreRef.rows.toDouble, "count")
      lp("restore.tasks") = (med(restoreStats.map(_.tasks.toDouble).toSeq), "count")
      lp("restore.task_skew") = (med(restoreStats.map(_.taskSkew).toSeq), "ratio")
      lp("restore.heap_peak_mb") = (heapPeaks.max, "MB")
      lp("compact.records_in") = (restoreRef.rows.toDouble, "count")
      lp("compact.records_out") = (in.compactRef.rows.toDouble, "count")
      h.overhead(tracedRoundT.toSeq, plainRoundT.toSeq)
      probes(h, work, input, backup(input, _), fromWhen)
    }
  }

  /** Layer-only ops of the traced run: each isolates one layer's share of
    * a round.
    */
  private def probes(
      h: Harness, work: String, input: String,
      backup: String => Seq[(String, Long)],
      fromWhen: Option[java.time.OffsetDateTime]): Unit = {
    val spark = h.spark
    val lp = h.perLayer
    val dir = s"$work/probe-backup"
    backup(dir)
    def best[T](n: Int)(body: => T): Double =
      Stats.median((1 to n).map { _ => val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })

    lp("model.encode_s") = (h.span("probe.model.encode")(best(3)(
      spark.read.parquet(input).select(ReducedConsumerRecord.toJsonColumn)
        .write.format("noop").mode("overwrite").save())), "s")
    lp("restore.plan_s") = (h.span("probe.restore.plan")(best(5)(
      RestoreEngine.finalKeys(RestoreEngine.listKeys(spark, dir), fromWhen))), "s")
    val allKeys = RestoreEngine.listKeys(spark, dir)
    lp("restore.decode_s") = (h.span("probe.restore.decode")(best(3)(
      Digest.noopWrite(RestoreEngine.readObjects(spark, dir, allKeys)))), "s")
    val decoded = Digest.of(RestoreEngine.readObjects(spark, dir,
      RestoreEngine.finalKeys(allKeys, fromWhen))).rows
    lp("restore.records_decoded") = (decoded.toDouble, "count")
    lp("restore.useful_ratio") = (lp("restore.records_out")._1 / decoded, "ratio")

    // compaction over a parquet copy of the restore, so decode is excluded
    val copy = s"$work/probe-restored.parquet"
    RestoreEngine.restore(spark, dir, RestoreTopics, fromWhen).write.parquet(copy)
    val stats = ArrayBuffer.empty[OpStats]
    lp("compact.latestPerKey_s") = (h.span("probe.compact.latestPerKey")(best(3) {
      stats += h.counted(on = true)(
        Digest.noopWrite(CompactionEngine.latestPerKey(spark.read.parquet(copy))))._2
    }), "s")
    lp("compact.shuffle_bytes") = (Stats.median(stats.map(_.shuffleWriteBytes.toDouble).toSeq), "bytes")
    lp("compact.spill_bytes") = (Stats.median(stats.map(_.spillBytes.toDouble).toSeq), "bytes")
    FileUtils.deleteDirectory(new File(dir))
  }
}
