package graft.streaming

import graft.backup.BackupEngine
import graft.model._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.util.SerializableConfiguration

import java.io.{BufferedOutputStream, BufferedReader, InputStreamReader, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Structured Streaming backup: Kafka (or any record stream) -> time-sliced
  * JSON-array objects, with the reference's resume semantics:
  *
  *  - ChronoUnitSlice: a restart APPENDS to the in-flight slice object
  *    (reference TimeConfiguration.scala:16-23, BackupClientInterface
  *    R1-R5 resume machinery — subsumed here by merge-on-write + the SS
  *    checkpoint).
  *  - PeriodFromFirst: windows anchor at the first record seen by THIS
  *    run; a restart starts a new file (reference
  *    TimeConfiguration.scala:9-14 "Suspending/resuming the backup client
  *    will always create a new object").
  *
  * Delivery: at-least-once from the checkpoint (same as the reference's
  * commit-after-upload), upgraded to effective exactly-once by the
  * offset-replay filter on append — records at or below the slice's
  * already-written max offset per (topic, partition) are dropped, the
  * reference's replay-suppression semantics
  * (MockedKafkaConsumerInterface.scala:77-94, P6).
  */
object StreamingBackup {

  /** S1/S2: Kafka committable source + ingest projection as one stream. */
  def fromKafka(spark: SparkSession, bootstrapServers: String, topics: Set[String]): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", "earliest")
      .load()
      .select(
        col("topic"),
        col("partition"),
        col("offset"),
        ReducedConsumerRecord.base64Unchunked(col("key")).as("key"),
        ReducedConsumerRecord.base64Unchunked(col("value")).as("value"),
        unix_millis(col("timestamp")).as("timestamp"),
        col("timestampType").as("timestamp_type"))

  /** Start the streaming backup over a wire-named record stream. */
  def start(
      records: DataFrame,
      outDir: String,
      timeConf: TimeConfiguration,
      checkpointDir: String,
      compression: Option[CompressionType] = None,
      trigger: Trigger = Trigger.ProcessingTime(0L)
  ): StreamingQuery = {
    // PeriodFromFirst: anchor = first record timestamp of THIS RUN
    // (driver-side state; deliberately NOT checkpointed — restart cuts a
    // new file, mirroring the reference's non-resumable mode)
    var runAnchor: Option[Long] = None
    records.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val conf = timeConf match {
          case p: PeriodFromFirst =>
            if (runAnchor.isEmpty) {
              val m = batch.agg(min("timestamp")).head()
              if (!m.isNullAt(0)) runAnchor = Some(m.getLong(0))
            }
            runAnchor match {
              case Some(a) => AnchoredPeriod(a, p.durationMillis)
              case None    => p
            }
          case c => c
        }
        appendBatch(batch.toDF(), outDir, conf, compression)
        ()
      }
      .start()
  }

  /** Write one micro-batch: group records into slices and merge each
    * slice into its (possibly existing) object. Same shuffle shape as the
    * batch writer — one repartition on the slice key, slices in parallel.
    */
  def appendBatch(
      batch: DataFrame,
      outDir: String,
      timeConf: TimeConfiguration,
      compression: Option[CompressionType]
  ): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val (sliced, keyConf) = timeConf match {
      case AnchoredPeriod(_, ms) =>
        // slice math lives in withSliceStart's AnchoredPeriod case; the
        // KEY codec still names by the raw period start (PeriodFromFirst)
        (BackupEngine.withSliceStart(batch, timeConf), PeriodFromFirst(ms))
      case c =>
        (BackupEngine.withSliceStart(batch, c), c)
    }
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val gz = compression.contains(Gzip)
    val out = outDir
    val comp = compression
    import spark.implicits._
    sliced
      .withColumn("json", ReducedConsumerRecord.toJsonColumn)
      .select(col("slice_start"), col("topic"), col("partition"), col("offset"), col("json"))
      .repartition(col("slice_start"))
      .sortWithinPartitions(col("slice_start"), col("topic"), col("partition"), col("offset"))
      .mapPartitions { rows =>
        val fs = FileSystem.get(new java.net.URI(out), hconf.value)
        val grouped = new Iterator[(Long, Seq[(String, Int, Long, String)])] {
          val buf = rows.buffered
          def hasNext: Boolean = buf.hasNext
          def next(): (Long, Seq[(String, Int, Long, String)]) = {
            val slice = buf.head.getLong(0)
            val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Long, String)]
            while (buf.hasNext && buf.head.getLong(0) == slice) {
              val r = buf.next()
              acc += ((r.getString(1), r.getInt(2), r.getLong(3), r.getString(4)))
            }
            (slice, acc.toSeq)
          }
        }
        grouped.map { case (slice, recs) =>
          mergeSlice(fs, out, slice, recs, keyConf, comp, gz)
        }
      }
      .collect()
    ()
  }

  /** Merge records into the slice object: stream-copy the existing array
    * body (minus the closing bracket), drop replayed records (offset <=
    * existing max per topic/partition), append the rest, atomic rename.
    * Keeps the reference's one-JSON-array-per-slice contract.
    *
    * Per-slice max offsets live in a `_offsets_<key>` sidecar (ignored by
    * restore/compaction listing, which skips `_`-prefixed names) so the
    * replay filter normally never re-reads the object; the sidecar records
    * the object length it describes, and any mismatch (crash between the
    * two renames, legacy object without a sidecar) falls back to a
    * streaming JSON parse of the object. Both paths are O(record) memory —
    * a long-lived slice (e.g. ChronoUnitSlice(DAYS) on a hot topic) never
    * gets buffered in the executor heap.
    */
  private def mergeSlice(
      fs: FileSystem,
      outDir: String,
      sliceStart: Long,
      recs: Seq[(String, Int, Long, String)],
      keyConf: TimeConfiguration,
      compression: Option[CompressionType],
      gz: Boolean
  ): (String, Long) = {
    // R5 compression-change policy (BackupClientInterface.scala:321-357):
    // an in-flight slice keeps its ORIGINAL codec; the new setting only
    // applies from the next slice. If the same slice already exists under
    // the other codec's key, keep appending to that object.
    val ts = BackupKey.ofEpochMillis(sliceStart)
    val wanted = BackupKey.calculateKey(ts, keyConf, compression)
    val other = BackupKey.calculateKey(ts, keyConf,
      if (compression.isEmpty) Some(Gzip) else None)
    val (key, gz0) =
      if (!fs.exists(BackupKey.resolve(outDir, wanted)) &&
        fs.exists(BackupKey.resolve(outDir, other)))
        (other, !gz)
      else (wanted, gz)
    val finalPath = BackupKey.resolve(outDir, key)
    // attempt-unique tmp name: task retries/speculation may run two
    // attempts of this partition concurrently; a shared tmp path would
    // let one attempt rename a file the other is still writing
    val attemptId =
      Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    val tmpPath = BackupKey.resolve(outDir, s"_tmp_${attemptId}_$key")
    val sidecarPath = BackupKey.resolve(outDir, s"_offsets_$key")
    val exists = fs.exists(finalPath)
    val objLen = if (exists) fs.getFileStatus(finalPath).getLen else 0L

    val maxOffsets: scala.collection.mutable.Map[(String, Int), Long] =
      if (!exists) scala.collection.mutable.Map.empty
      else readSidecar(fs, sidecarPath, objLen)
        .getOrElse(scanMaxOffsets(fs, finalPath, gz0))

    val fresh = recs.filter { case (t, p, o, _) =>
      maxOffsets.getOrElse((t, p), Long.MinValue) < o
    }
    if (exists && fresh.isEmpty) {
      // nothing to append (pure replay) — still (re)write the sidecar so a
      // stale/missing one is repaired and the next batch skips the scan
      writeSidecar(fs, outDir, key, sidecarPath, objLen, maxOffsets)
      return (key, 0L)
    }

    val raw: OutputStream = fs.create(tmpPath, true)
    val os: OutputStream =
      if (gz0) new GZIPOutputStream(new BufferedOutputStream(raw, 1 << 16))
      else new BufferedOutputStream(raw, 1 << 16)
    val w = new OutputStreamWriter(os, StandardCharsets.UTF_8)
    var written = 0L
    if (exists) {
      val rawIn = fs.open(finalPath)
      val in = if (gz0) new GZIPInputStream(rawIn) else rawIn
      copyBodyWithoutClosingBracket(
        new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8)), w)
      fresh.foreach { case (_, _, _, json) => w.write(","); w.write(json); written += 1 }
    } else {
      w.write("[")
      var first = true
      fresh.foreach { case (_, _, _, json) =>
        if (!first) w.write(",")
        w.write(json); first = false; written += 1
      }
    }
    w.write("]")
    w.close()
    if (!fs.rename(tmpPath, finalPath)) {
      fs.delete(finalPath, false)
      if (!fs.rename(tmpPath, finalPath))
        throw new java.io.IOException(
          s"backup: rename $tmpPath -> $finalPath failed")
    }
    fresh.foreach { case (t, p, o, _) =>
      if (maxOffsets.getOrElse((t, p), Long.MinValue) < o) maxOffsets((t, p)) = o
    }
    writeSidecar(fs, outDir, key, sidecarPath,
      fs.getFileStatus(finalPath).getLen, maxOffsets)
    sweepStaleTmps(fs, outDir, key)
    (key, written)
  }

  /** Age before an orphaned `_tmp_*` file is considered dead. Attempt-unique
    * tmp names are never reused, so a failed/killed attempt's tmp would
    * otherwise live forever; but a LIVE speculative attempt is also writing
    * a `_tmp_*` for the same key, and deleting it mid-write would corrupt
    * that attempt — mtime older than any plausible attempt lifetime is the
    * discriminator.
    */
  private val StaleTmpAgeMillis: Long = 15L * 60 * 1000

  /** After a successful merge/rename, delete dead tmp files left behind for
    * this slice's key by failed attempts (batch backup sweeps its dir at
    * driver pre-check; streaming has no such single entry point, so the
    * sweep rides on each successful merge).
    */
  private def sweepStaleTmps(fs: FileSystem, outDir: String, key: String): Unit =
    try {
      val now = System.currentTimeMillis()
      // plain listStatus, never glob: ISO keys contain ':' (HADOOP-14829)
      fs.listStatus(new Path(outDir)).iterator
        .filter(_.isFile)
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith("_tmp_") && n.endsWith(key) &&
            now - st.getModificationTime > StaleTmpAgeMillis
        }
        .foreach(st => fs.delete(st.getPath, false))
    } catch { case _: Exception => () } // cleanup is best-effort

  /** Stream the existing array text through to `w`, dropping the final
    * `]` (and any trailing whitespace). Holds back the last non-whitespace
    * character plus any whitespace after it until a later non-whitespace
    * character proves them interior — so a trailing-whitespace run that
    * spans chunk boundaries (hand-edited/externally-formatted objects)
    * can never leak the closing `]` into the copied body. Memory is
    * O(chunk + longest interior whitespace run) — for machine-written
    * JSON, effectively O(64 KiB) regardless of object size.
    */
  private def copyBodyWithoutClosingBracket(reader: BufferedReader, w: OutputStreamWriter): Unit = {
    val cur = new Array[Char](1 << 16)
    // held = the last non-whitespace char seen so far + everything after
    // it (all whitespace); only flushed when a later non-ws char arrives
    val held = new java.lang.StringBuilder
    try {
      var n = reader.read(cur)
      while (n > 0) {
        var lastNonWs = n - 1
        while (lastNonWs >= 0 && Character.isWhitespace(cur(lastNonWs))) lastNonWs -= 1
        if (lastNonWs < 0) {
          // whitespace-only chunk: keep holding
          held.append(cur, 0, n)
        } else {
          // a later non-ws char exists, so everything held and everything
          // before it in this chunk is interior — safe to write
          if (held.length > 0) { w.write(held.toString); held.setLength(0) }
          w.write(cur, 0, lastNonWs)
          held.append(cur, lastNonWs, n - lastNonWs)
        }
        n = reader.read(cur)
      }
      // held is now `<last non-ws char><ws*>` (or empty): drop the
      // whitespace, then the char itself iff it is the closing bracket
      var end = held.length
      while (end > 0 && Character.isWhitespace(held.charAt(end - 1))) end -= 1
      if (end > 0 && held.charAt(end - 1) == ']') end -= 1
      if (end > 0) w.write(held.substring(0, end))
    } finally reader.close()
  }

  /** Sidecar format: `{"len":<object bytes>,"max":[{"t":..,"p":..,"o":..}]}`.
    * `len` ties the sidecar to the object version it describes; a mismatch
    * means a crash landed between the object and sidecar renames, and the
    * caller falls back to scanning the object.
    */
  private def readSidecar(
      fs: FileSystem, path: Path, expectLen: Long
  ): Option[scala.collection.mutable.Map[(String, Int), Long]] =
    try {
      if (!fs.exists(path)) None
      else {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val node = mapper.readTree(fs.open(path))
        if (node.get("len").asLong() != expectLen) None
        else {
          val m = scala.collection.mutable.Map.empty[(String, Int), Long]
          val it = node.get("max").elements()
          while (it.hasNext) {
            val e = it.next()
            m((e.get("t").asText(), e.get("p").asInt())) = e.get("o").asLong()
          }
          Some(m)
        }
      }
    } catch { case _: Exception => None }

  private def writeSidecar(
      fs: FileSystem,
      outDir: String,
      key: String,
      path: Path,
      objLen: Long,
      maxOffsets: scala.collection.Map[(String, Int), Long]
  ): Unit = {
    val attemptId =
      Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    val tmp = BackupKey.resolve(outDir, s"_tmp_${attemptId}_offsets_$key")
    val w = new OutputStreamWriter(
      new BufferedOutputStream(fs.create(tmp, true)), StandardCharsets.UTF_8)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val entries = maxOffsets.toSeq.sortBy { case ((t, p), _) => (t, p) }
      .map { case ((t, p), o) =>
        s"""{"t":${mapper.writeValueAsString(t)},"p":$p,"o":$o}"""
      }
    w.write(s"""{"len":$objLen,"max":[${entries.mkString(",")}]}""")
    w.close()
    if (!fs.rename(tmp, path)) {
      fs.delete(path, false)
      fs.rename(tmp, path)
    }
  }

  /** Fallback replay-filter source: streaming-parse the slice object for
    * max offset per (topic, partition). Jackson streaming API — one small
    * record tree at a time, never the whole array.
    */
  private def scanMaxOffsets(
      fs: FileSystem, path: Path, gz: Boolean
  ): scala.collection.mutable.Map[(String, Int), Long] = {
    val m = scala.collection.mutable.Map.empty[(String, Int), Long]
    val rawIn = fs.open(path)
    val in = if (gz) new GZIPInputStream(rawIn) else rawIn
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val parser = mapper.getFactory.createParser(
      new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8)))
    try {
      import com.fasterxml.jackson.core.JsonToken
      var tok = parser.nextToken()
      while (tok != null) {
        if (tok == JsonToken.START_OBJECT) {
          val node = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](parser)
          val k = (node.get("topic").asText(), node.get("partition").asInt())
          val off = node.get("offset").asLong()
          if (m.getOrElse(k, Long.MinValue) < off) m(k) = off
        }
        tok = parser.nextToken()
      }
    } finally parser.close()
    m
  }
}
