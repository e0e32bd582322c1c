package graft

import graft.backup.BackupEngine
import graft.model._
import graft.restore.RestoreEngine
import org.apache.spark.sql.functions._

import java.time.OffsetDateTime
import java.time.temporal.ChronoUnit

/** Round-trip properties ported from the reference's test corpus
  * (core-backup/.../BackupClientInterfaceTest.scala,
  * core-restore/.../RestoreClientInterfaceTest.scala — see FIXTURES.md §3).
  */
class BackupRestoreSpec extends SparkSuite {
  import spark.implicits._

  private def genRecords(n: Int, topics: Seq[String] = Seq("t1"), seed: Long = 42L) = {
    val rnd = new scala.util.Random(seed)
    val base = 1700000000000L
    var ts = base
    val rows = (0 until n).map { i =>
      ts += 1 + rnd.nextInt(9) // strictly increasing padded timestamps
      val topic = topics(rnd.nextInt(topics.size))
      val key = if (rnd.nextInt(10) == 0) None
        else Some(java.util.Base64.getEncoder.encodeToString(s"k${rnd.nextInt(5)}".getBytes))
      val value = java.util.Base64.getEncoder.encodeToString(
        rnd.alphanumeric.take(1 + rnd.nextInt(40)).mkString.getBytes)
      ReducedConsumerRecord(topic, 0, i.toLong, key, value, ts, 0)
    }
    spark.createDataset(rows).toDF()
      .withColumnRenamed("timestampType", "timestamp_type")
  }

  private def collectSorted(df: org.apache.spark.sql.DataFrame) =
    df.select("topic", "partition", "offset", "key", "value", "timestamp", "timestamp_type")
      .collect().map(_.toSeq).sortBy(_.toString)

  test("JSON wire format matches the reference's Circe codec (incl. null key)") {
    val recs = Seq(
      ReducedConsumerRecord("t", 0, 0, Some("a2V5"), "dmFsdWU=", 5L, 0),
      ReducedConsumerRecord("t", 1, 9, None, "dg==", 6L, 1))
    val out = spark.createDataset(recs).toDF()
      .withColumnRenamed("timestampType", "timestamp_type")
      .select(ReducedConsumerRecord.toJsonColumn.as("j"))
      .as[String].collect()
    assert(out(0) ==
      """{"topic":"t","partition":0,"offset":0,"key":"a2V5","value":"dmFsdWU=","timestamp":5,"timestamp_type":0}""")
    assert(out(1) ==
      """{"topic":"t","partition":1,"offset":9,"key":null,"value":"dg==","timestamp":6,"timestamp_type":1}""")
  }

  test("fromEvents -> backupBatch writes Base64 that java.util.Base64.getDecoder accepts") {
    // Spark's base64() breaks lines every 76 characters by default; the
    // reference decodes with the strict decoder, which rejects CR and LF.
    // 58 bytes encode to 80 characters, 200 bytes to 268.
    val payloads = Seq(58, 200).map(n => (0 until n).map(i => ('a' + i % 26).toChar).mkString)
    val userIds = Seq(1234567890123456789L, 42L)
    val events = payloads.zip(userIds).zipWithIndex.map { case ((p, u), i) =>
      (i.toLong, u, p, 1700000000000L * 1000000L + i)
    }.toDF("event_id", "user_id", "props", "ts")
    val dir = tmpDir("backup-base64")
    BackupEngine.backupBatch(
      ReducedConsumerRecord.fromEvents(events), dir, ChronoUnitSlice(ChronoUnit.HOURS))
    val written = RestoreEngine.readObjects(spark, dir, RestoreEngine.listKeys(spark, dir))
      .select("key", "value").collect()
    def decode(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    assert(written.map(r => (decode(r.getString(0)), decode(r.getString(1)))).toSet ==
      userIds.map(_.toString).zip(payloads).toSet)
  }

  test("batch backup refuses a dir with prior slice objects, at job start") {
    val in = genRecords(50)
    val dir = tmpDir("backup-refuse")
    BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    val e = intercept[IllegalStateException] {
      BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    }
    assert(e.getMessage.contains("refuses to overwrite"))
  }

  test("batch backup refuses a colliding slice under the OTHER compression's extension") {
    // restore reads .json and .json.gz alike, so a --gzip re-run over an
    // uncompressed backup would duplicate every record if allowed through
    val in = genRecords(50)
    val dir = tmpDir("backup-refuse-xext")
    BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    val e = intercept[IllegalStateException] {
      BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS),
        compression = Some(Gzip))
    }
    assert(e.getMessage.contains("refuses to overwrite"))
  }

  test("driver pre-check sweeps stale _tmp_ files from dead prior attempts") {
    val in = genRecords(50)
    val dir = tmpDir("backup-tmp-sweep")
    new java.io.File(dir).mkdirs()
    val stale = new java.io.File(dir, "_tmp_999_2020-01-01T00:00:00Z.json")
    java.nio.file.Files.writeString(stale.toPath, "[")
    BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    assert(!stale.exists(), "stale tmp should be deleted at job start")
    assert(RestoreEngine.restore(spark, dir, Set("t1")).count() == 50)
  }

  test("ChronoUnitSlice(SECONDS) round-trip: decode(files) == input") {
    val in = genRecords(500)
    val dir = tmpDir("backup-chrono")
    val written = BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    assert(written.nonEmpty)
    assert(written.forall(_._1.endsWith(".json")))
    // every file is valid JSON array; names parse as OffsetDateTime
    written.foreach { case (k, _) => BackupKey.keyToOffsetDateTime(k) }
    val restored = RestoreEngine.restore(spark, dir, Set("t1"))
    assert(collectSorted(restored).toSeq == collectSorted(in).toSeq)
  }

  test("PeriodFromFirst round-trip + per-file span < period") {
    val in = genRecords(400)
    val periodMs = 700L
    val dir = tmpDir("backup-period")
    val written = BackupEngine.backupBatch(in, dir, PeriodFromFirst(periodMs))
    assert(written.size > 1)
    val restored = RestoreEngine.restore(spark, dir, Set("t1"))
    assert(collectSorted(restored).toSeq == collectSorted(in).toSeq)
    // span within each file < period (reference BackupClientInterfaceTest:129-167)
    written.foreach { case (key, _) =>
      val one = RestoreEngine.readObjects(spark, dir, Seq(key))
        .agg((max($"timestamp") - min($"timestamp")).as("span")).as[Long].head()
      assert(one < periodMs, s"file $key spans >= period")
    }
  }

  test("gzip round-trip with .json.gz keys") {
    val in = genRecords(300, seed = 7L)
    val dir = tmpDir("backup-gz")
    val written = BackupEngine.backupBatch(
      in, dir, ChronoUnitSlice(ChronoUnit.SECONDS), compression = Some(Gzip))
    assert(written.forall(_._1.endsWith(".json.gz")))
    val restored = RestoreEngine.restore(spark, dir, Set("t1"))
    assert(collectSorted(restored).toSeq == collectSorted(in).toSeq)
  }

  test("multi-topic records land in the same time-sliced files; topic filter works") {
    val in = genRecords(400, topics = Seq("a", "b"), seed = 9L)
    val dir = tmpDir("backup-multi")
    BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    val onlyA = RestoreEngine.restore(spark, dir, Set("a"))
    assert(collectSorted(onlyA).toSeq == collectSorted(in.filter($"topic" === "a")).toSeq)
  }

  test("finalKeys: fromWhen straddle-file rule (reference RestoreClientInterface:50-81)") {
    def k(s: String) = s"$s.json"
    val keys = Seq(
      k("2024-01-01T10:00:00Z"), k("2024-01-01T12:00:00Z"), k("2024-01-01T11:00:00Z"))
    val sorted = Seq(k("2024-01-01T10:00:00Z"), k("2024-01-01T11:00:00Z"), k("2024-01-01T12:00:00Z"))
    assert(RestoreEngine.finalKeys(keys, None) == sorted)
    // cutoff between files: keep the straddling file before it
    val mid = OffsetDateTime.parse("2024-01-01T11:30:00Z")
    assert(RestoreEngine.finalKeys(keys, Some(mid)) == sorted.drop(1))
    // cutoff before all: keep all
    val early = OffsetDateTime.parse("2024-01-01T09:00:00Z")
    assert(RestoreEngine.finalKeys(keys, Some(early)) == sorted)
    // cutoff after all: keep only last
    val late = OffsetDateTime.parse("2024-01-01T13:00:00Z")
    assert(RestoreEngine.finalKeys(keys, Some(late)) == sorted.takeRight(1))
  }

  test("restore fromWhen == input filtered by timestamp") {
    val in = genRecords(500, seed = 11L)
    val dir = tmpDir("backup-fromwhen")
    BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    val cut = in.select(percentile_approx($"timestamp", lit(0.5), lit(100))).as[Long].head()
    val fromWhen = BackupKey.ofEpochMillis(cut)
    val restored = RestoreEngine.restore(spark, dir, Set("t1"), Some(fromWhen))
    assert(collectSorted(restored).toSeq ==
      collectSorted(in.filter($"timestamp" >= cut)).toSeq)
  }

  test("restore tolerates the reference's trailing-null terminated files") {
    val dir = tmpDir("restore-null")
    val f = new java.io.File(dir, "2024-01-01T10:00:00Z.json")
    val json =
      """[{"topic":"t","partition":0,"offset":0,"key":null,"value":"dg==","timestamp":1,"timestamp_type":0},null]"""
    java.nio.file.Files.writeString(f.toPath, json)
    val restored = RestoreEngine.restore(spark, dir, Set("t"))
    assert(restored.count() == 1)
  }

  test("topic rename override at restore (P5)") {
    val in = genRecords(100, topics = Seq("old1", "keep"), seed = 13L)
    val dir = tmpDir("backup-rename")
    BackupEngine.backupBatch(in, dir, ChronoUnitSlice(ChronoUnit.SECONDS))
    val restored = RestoreEngine.restore(spark, dir, Set("old1", "keep"),
      overrideTopics = Map("old1" -> "new1"))
    val topics = restored.select("topic").distinct().as[String].collect().toSet
    assert(topics == Set("new1", "keep"))
  }

  private def wire(rs: Seq[ReducedConsumerRecord]) =
    spark.createDataset(rs).toDF().withColumnRenamed("timestampType", "timestamp_type")

  test("property: consecutive records inside one object are < period apart") {
    // reference BackupClientInterfaceTest.scala:103-127 — randomized
    // periods and corpus sizes; every adjacent pair within an object
    // must fall inside the same period window
    val rnd = new scala.util.Random(20260813L)
    (1 to 5).foreach { it =>
      val periodMs = 200L + rnd.nextInt(2000)
      val in = genRecords(150 + rnd.nextInt(200), seed = 1000L + it)
      val dir = tmpDir(s"prop-gap-$it")
      val written = BackupEngine.backupBatch(in, dir, PeriodFromFirst(periodMs))
      assert(written.nonEmpty)
      written.foreach { case (key, _) =>
        val ts = RestoreEngine.readObjects(spark, dir, Seq(key))
          .select("timestamp").as[Long].collect().sorted
        ts.sliding(2).foreach {
          case Array(a, b) =>
            assert(b - a < periodMs, s"consecutive gap >= ${periodMs}ms in $key")
          case _ => ()
        }
      }
    }
  }

  test("property: every object is `}]`-terminated, plain and gzip") {
    // reference BackupClientInterfaceTest.scala:275-303 requires every
    // file BUT the in-flight last to end `}]`; the atomic writer here
    // strengthens that to every file (SURVEY §7.3 divergence: no
    // partial objects can exist)
    val in = genRecords(300, seed = 21L)
    val dir = tmpDir("prop-term")
    val written = BackupEngine.backupBatch(in, dir, PeriodFromFirst(500L))
    assert(written.size > 1)
    written.foreach { case (key, _) =>
      val s = java.nio.file.Files.readString(new java.io.File(dir, key).toPath)
      assert(s.endsWith("}]"), s"object $key not }]-terminated")
    }
    val dirGz = tmpDir("prop-term-gz")
    val writtenGz = BackupEngine.backupBatch(
      in, dirGz, PeriodFromFirst(500L), compression = Some(Gzip))
    writtenGz.foreach { case (key, _) =>
      val gz = new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(new java.io.File(dirGz, key)))
      val s = try new String(gz.readAllBytes(), "UTF-8") finally gz.close()
      assert(s.endsWith("}]"), s"gzip object $key not }]-terminated after decode")
    }
  }

  test("1-element backup round-trips (reference edge case)") {
    // reference BackupClientInterfaceTest.scala:204-237
    val one = ReducedConsumerRecord("t1", 0, 1, Some("a2V5"), "dmFsdWU=", 1700000000001L, 0)
    val dir = tmpDir("prop-one")
    val written = BackupEngine.backupBatch(wire(Seq(one)), dir, PeriodFromFirst(86400000L))
    assert(written.size == 1 && written.head._2 == 1L)
    assert(collectSorted(RestoreEngine.restore(spark, dir, Set("t1"))).toSeq ==
      collectSorted(wire(Seq(one))).toSeq)
  }

  test("2-element backup with a 1ms period: one object per record (reference edge case)") {
    // reference BackupClientInterfaceTest.scala:239-273
    val recs = Seq(
      ReducedConsumerRecord("t1", 0, 1, Some("a2V5"), "djE=", 1700000000001L, 0),
      ReducedConsumerRecord("t1", 0, 2, Some("a2V5"), "djI=", 1700000000002L, 0))
    val dir = tmpDir("prop-two")
    val written = BackupEngine.backupBatch(wire(recs), dir, PeriodFromFirst(1L))
    assert(written.size == 2, s"expected one object per record, got $written")
    assert(written.map(_._2).sum == 2L)
    assert(collectSorted(RestoreEngine.restore(spark, dir, Set("t1"))).toSeq ==
      collectSorted(wire(recs)).toSeq)
  }

  test("compaction: latest value per key (completes the reference's stub, SURVEY §2.9)") {
    val in = genRecords(300, seed = 15L).filter($"key".isNotNull)
    val compacted = graft.compact.CompactionEngine.latestPerKey(in)
    val expect = in.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("topic", "partition", "key").orderBy($"offset".desc)))
      .filter($"rn" === 1).drop("rn")
    assert(collectSorted(compacted).toSeq == collectSorted(expect).toSeq)
  }
}
