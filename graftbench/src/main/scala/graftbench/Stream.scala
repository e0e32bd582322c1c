package graftbench

import graft.model.{ChronoUnitSlice, ReducedConsumerRecord}
import graft.restore.RestoreEngine
import graft.streaming.{StreamingBackup, StreamingRestore}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.io.File
import java.time.temporal.ChronoUnit
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `stream`: a closed loop with one client. Each batch is handed to a
  * `StreamingBackup` query over a `MemoryStream` with `addData`, and the
  * client waits in `processAllAvailable` before it sends the next one. The
  * batch is timed from `addData` to the return. Batches arrive in time
  * order, ten per hourly slice, with a share of late records for the
  * previous slice. After the timed batches the query restarts with a fresh
  * checkpoint and replays the last batch, and `StreamingRestore.toParquet`
  * restores the finished directory.
  */
object Stream {
  val BatchRecords = 2000
  val BatchesPerSlice = 10
  val LateShare = 0.02
  val WarmupBatches = 30
  val MinBatches = 30
  val RestoreRounds = 5
  val WarmupRestores = 2
  val HourMs = 3600000L
  /** 2024-03-01T00:00:00Z */
  val BaseMs = 1709251200000L

  /** Batch `j` of the feed, from one seeded generator. */
  final class Feed(seed: Long) {
    private val gen = new RecordGen(seed)
    var lateSent = 0L
    def batch(j: Int): IndexedSeq[ReducedConsumerRecord] = {
      val slice = j / BatchesPerSlice
      val width = HourMs / BatchesPerSlice
      val start = BaseMs + slice * HourMs + (j % BatchesPerSlice) * width
      val late = if (slice > 0) math.round(BatchRecords * LateShare).toInt else 0
      lateSent += late
      val onTime = Array.fill(BatchRecords - late)(start + (gen.uniform() * width).toLong).sorted
      val lateTs = Array.fill(late)(start - (j % BatchesPerSlice) * width - 1 - (gen.uniform() * HourMs).toLong)
      (onTime ++ lateTs).toIndexedSeq.map(gen.record)
    }
  }

  /** Whether batch `j` of a traced run is counted by the listener: every
    * other batch, the parity flipping each slice, so both halves see every
    * position in a slice and every part of the run.
    */
  def counted(j: Int): Boolean = (j + j / BatchesPerSlice) % 2 == 1

  final case class Pass(batchT: Seq[Double], stats: Seq[OpStats], sent: Long, hashSum: BigInt,
      replayed: Int, late: Long, bytesWritten: Long)

  private def fsBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def run(h: Harness, work: String, seed: Long): Unit = {
    val spark = h.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def start(mem: MemoryStream[ReducedConsumerRecord], dir: String, ckpt: String) =
      StreamingBackup.start(mem.toDF().withColumnRenamed("timestampType", "timestamp_type"),
        dir, ChronoUnitSlice(ChronoUnit.HOURS), ckpt)

    // One pass: batches until `more` says stop, then a restart that replays
    // the last batch. Timed passes time each batch.
    def pass(feed: Feed, dir: String, timedPass: Boolean, more: Int => Boolean): Pass = {
      val mem = MemoryStream[ReducedConsumerRecord]
      val q = start(mem, dir, s"$dir-ckpt")
      val batchT = ArrayBuffer.empty[Double]
      val stats = ArrayBuffer.empty[OpStats]
      var sent = 0L
      var hashSum = BigInt(0)
      var last: IndexedSeq[ReducedConsumerRecord] = IndexedSeq.empty
      var j = 0
      val written0 = fsBytesWritten
      while (more(j)) {
        val b = feed.batch(j)
        sent += b.size
        hashSum += b.iterator.map(r => BigInt(RecordGen.hash(r))).sum
        val counting = timedPass && counted(j)
        val ((_, dt), st) = h.counted(counting) {
          if (timedPass) h.timed("stream.batch") { mem.addData(b); q.processAllAvailable() }
          else { val t0 = System.nanoTime(); mem.addData(b); q.processAllAvailable(); ((), (System.nanoTime() - t0) / 1e9) }
        }
        batchT += dt
        if (counting) stats += st
        last = b
        j += 1
      }
      val written = fsBytesWritten - written0
      q.stop()
      // restart with a fresh checkpoint: the source replays the last batch,
      // and the backup must drop it
      val mem2 = MemoryStream[ReducedConsumerRecord]
      val q2 = start(mem2, dir, s"$dir-ckpt2")
      mem2.addData(last)
      q2.processAllAvailable()
      q2.stop()
      Pass(batchT.toSeq, stats.toSeq, sent, hashSum, last.size, feed.lateSent, written)
    }

    def restore(dir: String, timedOp: Boolean, n: Int = 0): (Digest, Double) = {
      val out = s"$dir-restored$n"
      def go() = {
        val q = StreamingRestore.toParquet(StreamingRestore.stream(spark, dir), out, s"$out-ckpt")
        q.processAllAvailable()
        q.stop()
      }
      val dt =
        if (timedOp) h.timed("stream.restore")(go())._2
        else { val t0 = System.nanoTime(); go(); (System.nanoTime() - t0) / 1e9 }
      (Digest.of(spark.read.parquet(out)), dt)
    }

    def verify(p: Pass, got: Digest, what: String): Unit =
      h.check(s"$what restored multiset", got == Digest(p.sent, BigDecimal(p.hashSum)),
        s"got $got want ${Digest(p.sent, BigDecimal(p.hashSum))}")

    val warmDir = s"$work/warmup"
    h.span("setup.warmup") {
      val warm = pass(new Feed(seed ^ 0x5eedL), warmDir, timedPass = false, _ < WarmupBatches)
      (0 until WarmupRestores).foreach(n => verify(warm, restore(warmDir, timedOp = false, n)._1, "stream warm-up"))
    }

    val dir = s"$work/timed"
    val p = pass(new Feed(seed), dir, timedPass = true, j => h.keepGoing(j, MinBatches))
    // the backup objects as a restore lists them, without the offset sidecars
    val objectFiles = RestoreEngine.listKeys(spark, dir).map(new File(dir, _))
    val objectBytes = objectFiles.map(_.length).sum
    // the restore is one op of about a second: time it several times, each
    // into a fresh output and checkpoint, and take the median
    val restores = (0 until RestoreRounds).map { n =>
      System.gc()
      val r = restore(dir, timedOp = true, n)
      verify(p, r._1, "stream")
      r
    }
    val rt = Stats.median(restores.map(_._2))
    val restored = restores.head._1.rows

    val total = p.batchT.sum
    h.inputs ++= Seq("seed" -> seed, "batch_records" -> BatchRecords.toLong,
      "batches" -> p.batchT.size.toLong, "records" -> p.sent, "late_records" -> p.late,
      "replayed_records" -> p.replayed.toLong)
    val p50 = Stats.median(p.batchT) * 1000
    val p90 = Stats.quantile(p.batchT, 0.9) * 1000
    h.named ++= Seq(
      "stream_rps" -> (p.sent / total, "1/s"),
      "batch_p50_ms" -> (p50, "ms"),
      "batch_p90_ms" -> (p90, "ms"),
      "stream_restore_rps" -> (restored / rt, "1/s"))
    h.endToEnd ++= Seq("stage1_ms" -> (p50, "ms"), "stage2_ms" -> (p90, "ms"),
      "stage3_ms" -> (rt * 1000, "ms"))

    if (h.traced) {
      val lp = h.perLayer
      val med = (xs: Seq[Double]) => Stats.median(xs)
      val indexed = p.batchT.zipWithIndex
      lp("streaming.jobs_per_batch") = (med(p.stats.map(_.jobs.toDouble)), "count")
      lp("streaming.tasks_per_batch") = (med(p.stats.map(_.tasks.toDouble)), "count")
      lp("streaming.bytes_written") = (p.bytesWritten.toDouble, "bytes")
      lp("streaming.write_amp") = (p.bytesWritten.toDouble / objectBytes, "ratio")
      lp("streaming.batch_ms.first_in_slice") =
        (med(indexed.filter(_._2 % BatchesPerSlice == 0).map(_._1 * 1000)), "ms")
      lp("streaming.batch_ms.last_in_slice") =
        (med(indexed.filter(_._2 % BatchesPerSlice == BatchesPerSlice - 1).map(_._1 * 1000)), "ms")
      lp("streaming.replay_dropped") = ((p.sent + p.replayed - restored).toDouble, "count")
      lp("streaming.late_merged") = (if (restored == p.sent) p.late.toDouble else 0.0, "count")
      lp("streaming_restore.s") = (rt, "s")
      lp("streaming_restore.objects") = (objectFiles.length.toDouble, "count")
      val (tracedT, plainT) = indexed.partition(x => counted(x._2))
      h.overhead(tracedT.map(_._1), plainT.map(_._1))
    }
  }
}
