package graft.cli

import graft.backup.BackupEngine
import graft.compact.CompactionEngine
import graft.model._
import graft.restore.RestoreEngine
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}

import java.time.OffsetDateTime
import java.time.temporal.ChronoUnit

/** Thin CLI over the engines, mirroring the reference's flag surface
  * (cli-backup/.../Main.scala:30-137, cli-restore/.../Main.scala:30-183)
  * minus Kafka connectivity (batch in/out over files here; the Kafka
  * source/sink paths are library calls).
  *
  * Usage:
  *   backup  --in <parquet> --out <dir> [--slice hours|minutes|seconds|days]
  *           [--period-from-first <millis>] [--gzip [--compression-level N]]
  *           [--topic <name>] [--partitions N]
  *   restore --dir <dir> --topics a,b[,...] [--from-when ISO_OFFSET_DATE_TIME]
  *           [--override-topics old:new[,old2:new2]] [--show N] [--out <parquet>]
  *   compact --dir <backupDir> --topics a,b [--out <parquet>] [--show N]
  *   stream-backup  --in <parquetDir> --out <dir> --checkpoint <dir>
  *                  [--slice ...] [--gzip] [--topic <name>]
  *   stream-restore --dir <backupDir> --out <parquetDir> --checkpoint <dir>
  *                  [--topics a,b] [--from-when ISO] [--override-topics old:new]
  *   build-index --kind neardup|chunk|drift|winnow|scrub|ivf|phash|minmax|bloom|hll|kll
  *               --in <documents|embeddings parquet; any flat OR
  *                    hive-partitioned parquet dir for minmax/bloom>
  *               --out <dir> [--cols a,b  (minmax: numeric columns to box;
  *                    bloom: bigint/int/string key columns to filter)]
  *               [--expected-items N] [--fpp P]  (bloom sizing: distinct
  *                    keys per file and false-positive rate)
  *               (hll: per-source HyperLogLog gram sketches — kilobytes
  *               per source, mergeable, feeds the `overlap` verb;
  *               kll: per-source KLL length-distribution sketches —
  *               quantiles/ranks from kilobytes, merge-refreshed)
  *   update-index --kind <same kinds> --in <NEW batch parquet> --index <existing dir>
  *                --out <new dir>   (incremental refresh; batch ids must be new;
  *                minmax: --in is the GROWN data dir, only unindexed files fold in;
  *                hll: sketches union per source WITHOUT re-scanning the
  *                indexed corpus — gram sketches are set-semantics but
  *                n_docs is additive, so do not re-ingest the same docs)
  *   overlap --in <batch documents parquet> --index <hll|theta artifact>
  *           --out <parquet>
  *           (per indexed source: estimate of how many of the batch's
  *           distinct word-3-grams that source already holds —
  *           contamination triage from kilobyte sketches, the indexed
  *           corpus is never read. Routes by the artifact's kind:
  *           hll probes by inclusion–exclusion, theta by direct
  *           Intersection — build --kind theta when the batch is small
  *           against big sources, where IE's union-scale error drowns
  *           the answer)
  *   quantiles --index <kll artifact> --out <parquet> [--ps 0.5,0.9,0.99]
  *             [--global]
  *           (per-source — or corpus-wide with --global, merged from the
  *           per-source sketches — length percentiles from kilobytes)
  *   scan --in <data dir> --index <artifact> --out <parquet>
  *        --where col:lo:hi[,col2:lo:hi] | --where-eq col:v[,col2:v2]
  *        | both (composed: --index <minmax> --bloom-index <bloom>;
  *          the read touches only files BOTH indexes admit)
  *        (pruned exact scan: --where consults a minmax artifact and
  *        reads only files whose box intersects the range; --where-eq
  *        consults a bloom artifact and reads only files whose filter
  *        admits the key — the point-lookup case minmax boxes are
  *        blind to on high-cardinality keys in arrival order. Both
  *        residual-filter exactly and refuse a stale index — new or
  *        removed files — loudly. Pair --where with `layout` to make
  *        the boxes tight; on a hive-partitioned tree, indexing a
  *        numeric partition column gives per-leaf pruning that
  *        composes with the data-column boxes)
  *   stream-ingest --in <parquet dir to watch> --data <output tree>
  *        --index <minmax artifact dir> --cols a,b --checkpoint <dir>
  *        [--compact-every N [--target-bytes N]]
  *        [--bloom-index <dir> --bloom-cols k[,..] [--expected-items N]]
  *        [--layout-cols a,b [--bits N]]  (z-sort each batch before it
  *             lands: tight per-file boxes at ingest, batch-scale cost)
  *        (file-stream ingest with LIVE index maintenance: each
  *        micro-batch lands under data/batch_id=<epoch> — idempotent
  *        under replay — and the minmax index folds the new files in
  *        the same commit, so `scan` never hits the staleness refusal
  *        between nightly rebuilds; AvailableNow, re-run to pick up
  *        new source files)
  *   tree-report --in <data tree> [--target-bytes N] [--small-bytes N]
  *        (metadata-only layout health: small-file debt by count and
  *        bytes, per-leaf, file-size deciles, and the measured
  *        file-count delta a compact-files run would buy — one
  *        recursive listing, zero data rows)
  *   compact-files --in <data tree> [--target-bytes N] [--small-bytes N]
  *        [--collapse <partition col>] [--index <minmax artifact dir>]
  *        [--parallelism N]
  *        (bin-pack each leaf's small files into ~target-size files —
  *        Spark's own partition packing does the first-fit, no shuffle;
  *        cost scales with small-file debt, not table size. --collapse
  *        merges a bookkeeping partition level's sub-target leaves
  *        (the stream-ingest batch_id tree), always keeping the newest
  *        leaf for replay safety. --index reconciles the minmax
  *        artifact afterward so scan serves the compacted tree)
  *   scrub --in <documents parquet> --out <parquet> [--index <scrub index dir>]
  *         [--stream --checkpoint <dir>]   (probe new files only; resumes)
  *   ingest --in <file or dir> --out <parquet> [--format jsonl|csv|text]
  *   export --in <documents parquet> --out <dir>
  *          [--shards N | --by-bytes <budget>] [--gzip]
  *          (hive-sharded JSONL; default shard = doc_id % N, --by-bytes
  *          packs ≤ budget text bytes per shard in doc_id order and
  *          writes the shard manifest to out/_manifest; ingest reads
  *          either layout back)
  *   curate --in <dir with documents.parquet> --out <parquet>
  *          (quality gates + dedup + decontamination; prints the funnel)
  *   join-asof --left <parquet> --right <parquet> --on k[=rk][,...]
  *             --left-time <col> --right-time <col> --out <parquet>
  *             [--direction backward|forward|nearest] [--tolerance-ms N]
  *             [--tiebreak c,...] [--salt auto|N]
  *             (--salt auto sketches the left key histogram and routes
  *             through the salted merge when one key holds >= 20% of
  *             the rows; --salt N forces N salt buckets; batch only)
  *             [--stream --checkpoint <dir>
  *               [--right-stream [--watermark 10minutes]
  *                               [--mode event-time|arrival]]]
  *          (point-in-time enrichment, left-total; --stream consumes the
  *          left dir incrementally against the static right — NOTE the
  *          static-right layout: each epoch overwrites its own
  *          batch_id=<id> partition dir, so readers see a discovered
  *          batch_id column; a pre-existing FLAT layout in --out is
  *          rejected with a migration hint. Adding --right-stream makes
  *          BOTH sides live — per-key dimension state carried across
  *          batches and restarts, backward only, and left-total only up
  *          to the watermark: facts arriving later than --watermark
  *          behind the stream's max event time are late data and are
  *          dropped, so widen it for catch-up runs over deep backlogs.
  *          --mode picks the ordering contract: event-time (default)
  *          buffers rows until the watermark passes them and replays in
  *          event-time order — output equals the batch join for ANY
  *          arrival order within the watermark, but a row emits only
  *          once newer data has advanced the watermark past it (the
  *          tail of a run stays buffered in the checkpoint and emits on
  *          a later run); arrival emits each fact in the micro-batch it
  *          arrives, matched against the freshest already-arrived
  *          dimension row — prompt, but cross-batch matching reflects
  *          arrival order)
  *   interval-join --left <parquet> --right <parquet>
  *             --left-start <col> --left-end <col>
  *             (--right-start <col> --right-end <col> | --right-point <col>)
  *             --out <parquet>
  *             [--on k[=rk][,...]] [--bucket-ms N] [--count] [--report]
  *             [--stream --checkpoint <dir> [--watermark 10minutes]]
  *          (--report prices a width without running the join: one
  *          metadata-scale pass prints replication per side, the exact
  *          candidate-pair count, and whether the adaptive width looks
  *          >=8x better)
  *          (interval × interval overlap join over half-open [start,
  *          end) INTEGRAL-epoch intervals (TIMESTAMP and fractional
  *          columns are rejected — cast via unix_millis / scale to an
  *          integer grid upstream) — or
  *          point-in-interval with --right-point —
  *          each matching pair exactly once; --count emits the
  *          left-total per-left-row census instead of the pairs (note
  *          fully-duplicate left rows each keep a census row via an
  *          internal uniquifier); --on
  *          is optional — keyless joins match on overlap/containment
  *          alone; --bucket-ms pins the bucket width, otherwise it is
  *          chosen from interval-length stats; right columns clashing
  *          with left names come out prefixed right_. --stream
  *          (epoch-ms) consumes BOTH dirs as live file streams:
  *          with --right-point, interval writes are watermarked on
  *          interval START and points buffer/replay in event-time
  *          order (a run's tail stays in the checkpoint until newer
  *          data advances the watermark); with --right-start/end it
  *          is the interval × interval overlap through Spark's
  *          stream-stream range join — pairs emit as soon as both
  *          rows arrive, and --max-len-ms <N> is REQUIRED (bounds the
  *          join state; intervals longer than it raise per row).
  *          Output equals the batch API for any arrival order within
  *          the watermark; exactly-once parquet file sink,
  *          AvailableNow)
  *   join-report --left <parquet> --right <parquet> --on k[=rk][,...]
  *             --out <parquet> [--sample 0.01] [--top-k 64]
  *             [--broadcast-bytes N] [--apply]
  *             | --stats-left <dir> --stats-right <dir> --out <parquet>
  *               (price from durable keystats artifacts — build-index
  *               --kind keystats --cols k1[,k2] [--sample P]
  *               [--hist-k N] — NO scan of either table; key types
  *               must match pairwise and sample fractions must agree,
  *               refused loudly otherwise)
  *          (price an equi-join WITHOUT running it: per-side rows /
  *          byte / distinct-key evidence, the theta key-set
  *          intersection, and a sampled multiplicity histogram fold
  *          into an output-row estimate, the hottest matched pair's
  *          output share, and a routing verdict — broadcast-left|
  *          broadcast-right|salted-shuffle|shuffle|insufficient-sample.
  *          Two column-pruned scans per side; rows with null key
  *          components are excluded, as the join itself would, and
  *          numeric key pairs coerce to the join's comparison type.
  *          --apply EXECUTES the inner join the verdict prescribes —
  *          broadcast hint, hot-key salted build, or plain — and
  *          writes the joined rows instead of the report frame)
  *   sessionize --in <events parquet> --out <parquet> [--gap-ms N]
  *             [--user-col c] [--time-col c]
  *             [--stream --checkpoint <dir> [--watermark 30minutes]]
  *          (gap sessionization -> one (user_id, start, end, n_events)
  *          row per session, end exclusive; --stream consumes the input
  *          dir incrementally through the OrderedReplay combinator —
  *          out-of-order-safe within the watermark, sessions emit once
  *          the watermark passes their gap horizon, re-running with the
  *          same checkpoint resumes)
  *   layout --in <parquet> --out <dir> --cols a,b[,...] [--bits N]
  *          [--partitions N] [--keep-z]
  *          (z-order rewrite: cluster files on the Morton interleave of
  *          the listed NUMERIC columns so footer min/max stats prune on
  *          every listed dimension; --bits is bits per dimension
  *          (default min(16, 63/n)); ranks are linear min/max scaling —
  *          for heavy-tailed keys pre-rank with ntile and lay out on
  *          that column instead. Prints the per-dimension mean file-span
  *          fraction: ~1/files^(1/n) is healthy, ~1.0 on a dimension
  *          means files cannot be skipped on it)
  *
  * Every command also accepts `--config <file>`: a HOCON config file
  * using the reference's key names (`backup.time-configuration.{type,
  * chrono-unit,duration}`, `backup.compression.{type,level}`,
  * `kafka-cluster.topics`, `restore.{from-when,override-topics}`,
  * plus the S3 surface — `s3-headers.*`, `s3-config.data-bucket[-prefix]`,
  * `pekko.connectors.s3.*` — translated to s3a options by [[S3Settings]];
  * `s3-config.data-bucket` also serves as the default `--dir`/`--out`
  * backup location). Precedence matches the reference's PureConfig+env
  * layering: explicit flag > env var > config file > built-in default.
  */
object Main {
  private def parseArgs(args: Seq[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case flag :: v :: tail if flag.startsWith("--") && !v.startsWith("--") =>
        loop(tail, acc + (flag.drop(2) -> v))
      case flag :: tail if flag.startsWith("--") =>
        loop(tail, acc + (flag.drop(2) -> "true"))
      case other :: _ =>
        die(s"unexpected argument '$other'")
    }
    loop(args.toList, Map.empty)
  }

  private def die(msg: String): Nothing = {
    System.err.println(s"error: $msg")
    System.err.println("commands: backup | restore | compact (see scaladoc for flags)")
    sys.exit(2)
  }

  /** Flag value with env-var fallback — the reference's config pattern is
    * HOCON defaults overridden by env vars (core-backup/.../reference.conf:
    * `time-configuration.chrono-unit = ${?BACKUP_TIME_CONFIGURATION_CHRONO_UNIT}`,
    * core/.../reference.conf: `topics = ${?KAFKA_CLUSTER_TOPICS}`); the same
    * env names work here so reference deployments carry over.
    */
  private def optEnv(o: Map[String, String], flag: String, env: String): Option[String] =
    o.get(flag).orElse(sys.env.get(env))

  /** The parsed `--config` HOCON file, or empty without one. */
  private def loadConfig(o: Map[String, String]): Map[String, String] =
    o.get("config").map { p =>
      if (!new java.io.File(p).isFile) die(s"--config file not found: '$p'")
      try HoconConfig.parseFile(p)
      catch { case e: IllegalArgumentException => die(e.getMessage) }
    }.getOrElse(Map.empty)

  /** Full precedence chain: flag > env var > config-file key. */
  private def resolved(
      o: Map[String, String], cfg: Map[String, String],
      flag: String, env: String, key: String): Option[String] =
    optEnv(o, flag, env).orElse(cfg.get(key))

  private def chronoUnit(s: String): ChronoUnit = s match {
    case "hours" => ChronoUnit.HOURS
    case "days" => ChronoUnit.DAYS
    case "minutes" => ChronoUnit.MINUTES
    case "seconds" => ChronoUnit.SECONDS
    case other => die(s"unsupported chrono unit '$other'")
  }

  /** The reference's time-configuration block: a `type` discriminator
    * selects which of the (both-present, defaulted) `chrono-unit` /
    * `duration` fields is read (core-backup reference.conf:38-44). Flags
    * imply the type; with no flags and no explicit type, a lone duration
    * still means period-from-first (the pre-config CLI contract).
    */
  private[cli] def timeConfiguration(
      o: Map[String, String], cfg: Map[String, String],
      env: Map[String, String] = sys.env): TimeConfiguration = {
    if (o.contains("slice") && o.contains("period-from-first"))
      die("--slice and --period-from-first are mutually exclusive")
    val slice = o.get("slice")
      .orElse(env.get("BACKUP_TIME_CONFIGURATION_CHRONO_UNIT"))
      .orElse(cfg.get("backup.time-configuration.chrono-unit"))
    val period = o.get("period-from-first")
      .orElse(env.get("BACKUP_TIME_CONFIGURATION_DURATION"))
      .orElse(cfg.get("backup.time-configuration.duration"))
    // type resolution: flags imply it; else the explicit type key (env
    // then file); else infer from which VALUES were explicitly given —
    // both env values without a type is ambiguous (the pre-config CLI
    // died here; keep dying), a lone env duration keeps meaning
    // period-from-first even when a config file carries the reference's
    // always-present chrono-unit default, and a file with only a
    // duration infers period-from-first too.
    val tcType =
      if (o.contains("period-from-first")) "period-from-first"
      else if (o.contains("slice")) "chrono-unit-slice"
      else env.get("BACKUP_TIME_CONFIGURATION_TYPE")
        .orElse(cfg.get("backup.time-configuration.type"))
        .getOrElse {
          val envPeriod = env.contains("BACKUP_TIME_CONFIGURATION_DURATION")
          val envSlice = env.contains("BACKUP_TIME_CONFIGURATION_CHRONO_UNIT")
          if (envPeriod && envSlice)
            die("both BACKUP_TIME_CONFIGURATION_DURATION and " +
              "BACKUP_TIME_CONFIGURATION_CHRONO_UNIT are set; set " +
              "BACKUP_TIME_CONFIGURATION_TYPE to disambiguate")
          else if (envPeriod) "period-from-first"
          else if (envSlice) "chrono-unit-slice"
          else if (cfg.contains("backup.time-configuration.duration") &&
            !cfg.contains("backup.time-configuration.chrono-unit")) "period-from-first"
          else "chrono-unit-slice"
        }
    tcType match {
      case "period-from-first" =>
        val d = period.getOrElse(die("period-from-first needs a duration"))
        PeriodFromFirst(HoconConfig.durationMs(d)
          .getOrElse(die(s"duration must be millis or '<n> <unit>', got '$d'")))
      case "chrono-unit-slice" => ChronoUnitSlice(chronoUnit(slice.getOrElse("hours")))
      case other => die(s"unsupported time-configuration type '$other'")
    }
  }

  /** Compression from `--gzip` or the config file's
    * `backup.compression.{type,level}` block. */
  private[cli] def compressionOf(
      o: Map[String, String], cfg: Map[String, String]): (Option[Gzip.type], Option[Int]) = {
    val gzip =
      if (o.contains("gzip")) Some(Gzip)
      else cfg.get("backup.compression.type") match {
        case Some("gzip") => Some(Gzip)
        case Some(other) => die(s"unsupported compression type '$other'")
        case None => None
      }
    val level = o.get("compression-level")
      .orElse(cfg.get("backup.compression.level"))
      .map(_.toIntOption.getOrElse(die("compression level must be an int")))
    (gzip, level)
  }

  private[cli] def overrideTopics(
      o: Map[String, String], cfg: Map[String, String],
      env: Map[String, String] = sys.env): Map[String, String] =
    o.get("override-topics").orElse(env.get("RESTORE_OVERRIDE_TOPICS")).map { s =>
      s.split(',').map { kv =>
        kv.split(':') match {
          case Array(k, v) => k -> v
          case _ => die(s"--override-topics entries must be old:new, got '$kv'")
        }
      }.toMap
    }.getOrElse(HoconConfig.subKeys(cfg, "restore.override-topics"))

  /** Topic set, flag > env > config file; `required` controls whether an
    * empty resolution dies (batch restore/compact) or means "all topics"
    * (stream-restore). */
  private def topicsOf(
      o: Map[String, String], cfg: Map[String, String], required: Boolean): Set[String] =
    resolved(o, cfg, "topics", "KAFKA_CLUSTER_TOPICS", "kafka-cluster.topics")
      .filter(_.nonEmpty)
      .map(_.split(',').toSet)
      .getOrElse(if (required) die("--topics is required") else Set.empty)

  private def fromWhenOf(
      o: Map[String, String], cfg: Map[String, String]): Option[OffsetDateTime] =
    resolved(o, cfg, "from-when", "RESTORE_FROM_WHEN", "restore.from-when").map { s =>
      try OffsetDateTime.parse(s)
      catch { case _: Exception => die(s"--from-when must be ISO_OFFSET_DATE_TIME, got '$s'") }
    }

  private def session(cfg: Map[String, String] = Map.empty): SparkSession = {
    val s3 = try S3Settings.hadoopConf(cfg)
    catch { case e: IllegalArgumentException => die(e.getMessage) }
    val b = graft.GraftSession.builder().appName("graft")
    sys.env.get("SPARK_MASTER").foreach(b.master)
    // the reference's S3 surface (ACLs, SSE, storage class, headers,
    // endpoint/credentials) lands as s3a options on this session
    s3.foreach { case (k, v) => b.config(s"spark.hadoop.$k", v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "backup" :: rest =>
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val in = o.getOrElse("in", die("--in <parquet> is required"))
      val out = o.get("out").orElse(S3Settings.dataUri(cfg))
        .getOrElse(die("--out <dir> is required"))
      val timeConf: TimeConfiguration = timeConfiguration(o, cfg)
      val (gzip, level) = compressionOf(o, cfg)
      val spark = session(cfg)
      val records = ReducedConsumerRecord.fromEvents(
        spark.read.parquet(in),
        topic = o.getOrElse("topic", "events"),
        partitions = o.get("partitions").flatMap(_.toIntOption).getOrElse(8))
      val written = BackupEngine.backupBatch(records, out, timeConf, gzip, level)
      written.foreach { case (k, n) => println(s"$k\t$n") }
      println(s"backed up ${written.map(_._2).sum} records into ${written.size} objects under $out")
      spark.stop()

    case "restore" :: rest =>
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val dir = o.get("dir").orElse(S3Settings.dataUri(cfg))
        .getOrElse(die("--dir <dir> is required"))
      val topics = topicsOf(o, cfg, required = true)
      val fromWhen = fromWhenOf(o, cfg)
      val overrides = overrideTopics(o, cfg)
      val spark = session(cfg)
      val df = RestoreEngine.restore(spark, dir, topics, fromWhen, overrides)
      o.get("out").foreach(p => df.write.mode("overwrite").parquet(p))
      val n = o.get("show").flatMap(_.toIntOption).getOrElse(20)
      df.orderBy("timestamp", "topic", "partition", "offset").show(n, truncate = false)
      println(s"restored ${df.count()} records from $dir")
      spark.stop()

    case "compact" :: rest =>
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val dir = o.get("dir").orElse(S3Settings.dataUri(cfg))
        .getOrElse(die("--dir <backupDir> is required"))
      val topics = topicsOf(o, cfg, required = true)
      val spark = session(cfg)
      val compacted = CompactionEngine.latestPerKey(
        RestoreEngine.restore(spark, dir, topics))
      o.get("out").foreach(p => compacted.write.mode("overwrite").parquet(p))
      compacted.orderBy("topic", "partition", "key")
        .show(o.get("show").flatMap(_.toIntOption).getOrElse(20), truncate = false)
      println(s"compacted to ${compacted.count()} records")
      spark.stop()

    case "stream-backup" :: rest =>
      // Structured Streaming over a growing directory of event parquet
      // files (stands in for the Kafka source when no broker is around):
      // processes what's available, checkpoints, exits; re-running with
      // the same --checkpoint resumes and appends (ChronoUnitSlice).
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val in = o.getOrElse("in", die("--in <parquetDir> is required"))
      val out = o.get("out").orElse(S3Settings.dataUri(cfg))
        .getOrElse(die("--out <dir> is required"))
      val ckpt = o.getOrElse("checkpoint", die("--checkpoint <dir> is required"))
      // resolve the FULL time-configuration (type included), then reject
      // what streaming can't honor: silently substituting slice windows
      // for a config that says period-from-first would make the same
      // config file mean different windows in `backup` vs `stream-backup`
      val unit = timeConfiguration(o, cfg) match {
        case ChronoUnitSlice(u) => u
        case PeriodFromFirst(_) => die(
          "stream-backup supports chrono-unit-slice only; the resolved " +
            "time-configuration type is period-from-first (anchoring windows at the " +
            "first record of an unbounded stream is not supported — use `backup`)")
        // config parsing only produces the two types above; the internal
        // AnchoredPeriod (a streaming run's resolved anchor) can never
        // reach here — die loudly if that invariant ever breaks
        case other => die(s"stream-backup: unexpected time configuration $other")
      }
      val (gzipOpt, _) = compressionOf(o, cfg)
      val spark = session(cfg)
      import org.apache.spark.sql.functions._
      val topic = o.getOrElse("topic", "events")
      val schema = spark.read.parquet(in).schema
      val stream = spark.readStream.schema(schema).parquet(in)
        .select(
          lit(topic).as("topic"),
          (col("user_id") % 8).cast("int").as("partition"),
          col("event_id").as("offset"), // monotonic source id as offset
          ReducedConsumerRecord.base64Unchunked(
            col("user_id").cast("string").cast("binary")).as("key"),
          ReducedConsumerRecord.base64Unchunked(col("props").cast("binary")).as("value"),
          graft.model.Tables.tsMillisCol(schema("ts").dataType).as("timestamp"),
          lit(0).as("timestamp_type"))
      val q = graft.streaming.StreamingBackup.start(
        stream, out, ChronoUnitSlice(unit), ckpt, gzipOpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      println(s"stream-backup: processed available input from $in into $out")
      spark.stop()

    case "stream-restore" :: rest =>
      // Structured Streaming restore: watch the backup dir, decode slice
      // objects incrementally, write records to a parquet sink. Processes
      // what's available, checkpoints, exits; re-running with the same
      // --checkpoint picks up only objects that appeared since. NOTE:
      // objects are tracked by path — records merged into an
      // already-processed slice (streaming append-resume) are not
      // re-read; use batch restore for dirs still being appended to.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val dir = o.get("dir").orElse(S3Settings.dataUri(cfg))
        .getOrElse(die("--dir <backupDir> is required"))
      val out = o.getOrElse("out", die("--out <parquetDir> is required"))
      val ckpt = o.getOrElse("checkpoint", die("--checkpoint <dir> is required"))
      val topics = topicsOf(o, cfg, required = false)
      val fromWhen = fromWhenOf(o, cfg)
      val overrides = overrideTopics(o, cfg)
      val spark = session(cfg)
      val records = graft.streaming.StreamingRestore.stream(
        spark, dir, topics, fromWhen, overrides)
      val q = records.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      println(s"stream-restore: replayed available objects from $dir into $out")
      spark.stop()

    case "stream-ingest" :: rest =>
      // Parquet file-stream ingest with LIVE minmax maintenance: each
      // micro-batch lands under --data/batch_id=<epoch> and the
      // skipping index at --index folds the new files inside the same
      // commit hook, so `scan` serves current data between nightly
      // rebuilds. AvailableNow semantics: processes what's there,
      // checkpoints, exits; re-running with the same --checkpoint
      // picks up only source files that appeared since.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (data, idx) =
        try streamIngestCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"stream-ingest: available files ingested into $data " +
        s"(skipping index $idx current)")
      spark.stop()

    case "tree-report" :: rest =>
      // Metadata-only health report for a parquet tree: small-file
      // debt, size deciles, and what compact-files would buy — one
      // recursive listing, no data rows read.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val rep =
        try treeReportCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      rep.lines.foreach(l => println(s"tree-report: $l"))
      spark.stop()

    case "compact-files" :: rest =>
      // Small-file maintenance for a parquet tree: bin-pack each
      // leaf's small files into ~target-size files (only the debt is
      // rewritten), optionally collapse a bookkeeping partition level,
      // then reconcile the minmax index so `scan` serves the result.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val rep =
        try compactFilesCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      rep.leaves.foreach { l =>
        val name = if (l.leaf.isEmpty) "." else l.leaf
        println(f"compact-files:   $name: ${l.filesBefore} -> " +
          f"${l.filesAfter} files (${l.bytes}%,d bytes repacked)")
      }
      rep.newestLeafKept.foreach(l =>
        println(s"compact-files:   kept newest leaf $l (replay safety)"))
      println(s"compact-files: ${rep.filesBefore} small files -> " +
        s"${rep.filesAfter} packed files across ${rep.leaves.size} " +
        s"leaf rewrite(s); ${rep.untouchedLeaves} leaf(s) untouched" +
        o.get("index").fold("")(i => s"; index $i reconciled"))
      spark.stop()

    case "build-index" :: rest =>
      // The nightly index-refresh job as a CLI verb: rebuild one of the
      // durable probe artifacts (IndexArtifact layout) from a documents
      // table, so the production "batch side rebuilds, every ingest job
      // probes" story is drivable without writing a Spark app.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (kind, out, n) = buildIndexCmd(spark, o)
      println(s"build-index: $kind index over $n docs written to $out")
      spark.stop()

    case "ingest" :: rest =>
      // Raw corpus files -> the documents-parquet contract every
      // analytics/dedup operator reads: the front door of the pipeline.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n) =
        try ingestCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"ingest: $n docs written to $out")
      spark.stop()

    case "curate" :: rest =>
      // The flagship cleaning composition as a runnable job: benchmark
      // exclusion + quality gates + exact dedup + decontamination in
      // one plan, with the per-source funnel printed as the run report.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n, funnel) =
        try curateCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      funnel.foreach(println)
      println(s"curate: $n docs written to $out")
      spark.stop()

    case "update-index" :: rest =>
      // Incremental artifact refresh: fold an ingest batch into the
      // nightly index without re-scanning the indexed corpus.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (kind, out, n) =
        try updateIndexCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      val unit = if (kind == "minmax") "files" else "docs"
      println(s"update-index: $kind index grew by $n $unit into $out")
      spark.stop()

    case "export" :: rest =>
      // The back door: documents parquet -> sharded JSONL a trainer (or
      // another pipeline) consumes; `ingest` reads the output straight
      // back, so the two verbs round-trip the documents contract.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n, shards) =
        try exportCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"export: $n docs written to $out across $shards shards")
      spark.stop()

    case "join-asof" :: rest =>
      // Point-in-time enrichment as a job: attach to every left row the
      // as-of-matching right row (backward / forward / nearest, with
      // tolerance) through the native merge-pass operator — the
      // feature-store join, runnable without writing Scala.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n) =
        try joinAsofCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"join-asof: $n rows written to $out")
      spark.stop()

    case "sessionize" :: rest =>
      // Gap sessionization as a job: batch gaps-and-islands over an
      // events parquet, or — with --stream — the OrderedReplay
      // streaming form (out-of-order-safe within the watermark,
      // checkpoint-resumable); both arms emit the same session rows.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n) =
        try sessionizeCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"sessionize: $n sessions written to $out")
      spark.stop()

    case "interval-join" :: rest =>
      // Interval-overlap join as a job: the distributed bucketed form
      // (equi-join Catalyst can plan; exact predicate as a residual;
      // each pair exactly once) — runnable without writing Scala.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n) =
        try intervalJoinCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"interval-join: $n rows written to $out")
      spark.stop()

    case "join-report" :: rest =>
      // Join pre-flight as a job: the "price it first" verb for plain
      // equi-joins — two column-pruned passes per side, a one-row
      // verdict frame, the join itself never runs.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, verdict) =
        try joinReportCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"join-report: $verdict -> $out")
      spark.stop()

    case "scan" :: rest =>
      // Pruned range scan as a job: consult the minmax stats artifact,
      // read ONLY the files whose box intersects the predicate, exact
      // residual on top — data skipping over plain parquet dirs.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, report) =
        try scanCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"scan: $report -> $out")
      spark.stop()

    case "layout" :: rest =>
      // Z-order layout as a job: rewrite a parquet table clustered on
      // the Morton interleave of N numeric columns, so footer min/max
      // stats prune files on EVERY listed dimension — the multi-axis
      // OPTIMIZE pass for fact tables queried along more than one key.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, report) =
        try layoutCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"layout: wrote $out $report")
      spark.stop()

    case "scrub" :: rest =>
      // The ingest-side consumer of the scrub artifact: rewrite a batch
      // of documents with corpus-duplicated spans removed. With --index
      // it probes the nightly gram-count artifact (batch-scale work
      // only); without, it runs the global mark over the input alone.
      // NOTE: the index must cover the corpus EXCLUDING this batch
      // (the incremental-probe contract shared with dedupIncremental) —
      // probing an index built over the batch itself marks every gram
      // as corpus-present and scrubs everything.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n, removed) = scrubCmd(spark, o)
      println(s"scrub: $n docs written to $out, $removed tokens removed")
      spark.stop()

    case "quantiles" :: rest =>
      // The query side of the kll artifact: per-source (or --global
      // corpus-wide, merged from the per-source sketches) length
      // percentiles from kilobytes — the data-card numbers without a
      // corpus pass.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n) =
        try quantilesCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"quantiles: $n rows -> $out")
      spark.stop()

    case "overlap" :: rest =>
      // The ingest-side consumer of the hll artifact: estimate how much
      // of a new batch's content each indexed source already holds —
      // inclusion–exclusion over kilobyte sketches, the indexed corpus
      // is never read. Batch-scale work only (one sketch pass over the
      // batch), source-count-scale output.
      val o = parseArgs(rest)
      val cfg = loadConfig(o)
      val spark = session(cfg)
      val (out, n) =
        try overlapCmd(spark, o)
        catch { case e: IllegalArgumentException => die(e.getMessage) }
      println(s"overlap: $n sources probed -> $out")
      spark.stop()

    case cmd :: _ => die(s"unknown command '$cmd'")
    case Nil => die("a command is required")
  }

  /** `ingest` body, session-injected for specs (see [[buildIndexCmd]]).
    * Normalizes raw corpus files (jsonl / csv / one-doc-per-line text)
    * onto the documents contract: `doc_id, text, lang, source,
    * n_chars`. Upstream ids are kept when present; otherwise ids are
    * assigned with `monotonically_increasing_id` (unique within the
    * run — production ingest should carry stable upstream ids, which
    * is why an existing `doc_id` column always wins). `lang` defaults
    * to `und`, `source` to the input file's basename — the per-source
    * operators (quota sampling, funnel, mixing) work out of the box on
    * multi-file ingests.
    */
  private[cli] def ingestCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long) = {
    import org.apache.spark.sql.functions._
    val in = o.getOrElse("in", die("--in <file or dir> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    val fmt = o.getOrElse("format", "jsonl")
    val raw = fmt match {
      case "jsonl" => spark.read.json(in)
      case "csv" => spark.read.option("header", "true").csv(in)
      case "text" => spark.read.text(in).withColumnRenamed("value", "text")
      case other => die(s"unsupported ingest format '$other' (expected jsonl|csv|text)")
    }
    require(raw.columns.contains("text"), s"ingest input needs a 'text' column, got ${raw.columns.mkString(",")}")
    val cols = raw.columns.toSet
    val withId =
      if (cols.contains("doc_id")) {
        // upstream ids must survive the long cast intact and be unique —
        // a nulled or duplicated doc_id corrupts the documents contract
        // every downstream operator keys on. try_cast (ANSI cast would
        // throw an opaque error mid-write), then one aggregate pass.
        val idCast = raw.withColumn("doc_id", expr("try_cast(doc_id AS LONG)"))
        val chk = idCast.agg(
          count(lit(1)).as("n"),
          count(col("doc_id")).as("n_nonnull"),
          countDistinct(col("doc_id")).as("n_distinct")).head()
        val (n, nn, nd) = (chk.getLong(0), chk.getLong(1), chk.getLong(2))
        require(nn == n, s"ingest: ${n - nn} of $n upstream doc_id values " +
          "are non-numeric (null after cast to long) — fix the ids or drop " +
          "the column to get generated ids")
        require(nd == n, s"ingest: upstream doc_id has ${n - nd} duplicate " +
          "values — ids must be unique; fix the ids or drop the column")
        idCast
      } else raw.withColumn("doc_id", monotonically_increasing_id())
    val docs = withId
      .withColumn("lang",
        if (cols.contains("lang")) coalesce(col("lang"), lit("und")) else lit("und"))
      .withColumn("source",
        if (cols.contains("source")) coalesce(col("source"), lit("ingest"))
        else regexp_extract(input_file_name(), "([^/]+?)(\\.[a-zA-Z0-9]+)?$", 1))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.write.mode("overwrite").parquet(out)
    (out, spark.read.parquet(out).count())
  }

  /** `curate` body, session-injected for specs: run
    * [[graft.queries.TextQueries.cleanCorpus]] over a documents
    * directory (the composition every standalone gate query also
    * verifies piecewise), write the surviving docs, and return the
    * per-source funnel ([[graft.queries.TextQueries.curationFunnel]])
    * as printable report lines — the nightly yield summary next to the
    * cleaned output.
    */
  private[cli] def curateCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long, Seq[String]) = {
    val in = o.getOrElse("in",
      die("--in <dir containing documents.parquet> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    require(new java.io.File(s"$in/documents.parquet").exists(),
      s"curate: no documents.parquet under --in '$in'")
    graft.queries.TextQueries.cleanCorpus(spark, in)
      .write.mode("overwrite").parquet(out)
    val funnel = graft.queries.TextQueries.curationFunnel(spark, in)
      .collect().map(_.toSeq.mkString("funnel: ", " | ", "")).toSeq
    (out, spark.read.parquet(out).count(), funnel)
  }

  /** `export` body, session-injected for specs: documents parquet →
    * hive-sharded JSONL (`out/shard=K/part-*.json[.gz]`), the delivery
    * format trainers and downstream pipelines consume. Two layouts:
    *
    *  - default: shard = `doc_id % N` (deterministic — re-export
    *    reproduces the layout), N bounds file count and write
    *    parallelism;
    *  - `--by-bytes <budget>`: the webdataset contract end-to-end —
    *    documents pack into shards of ≤ budget TEXT bytes in doc_id
    *    order under the tar-writer convention ([[TextQueries.packByBytes]]:
    *    an item's shard is where its first byte lands, layout via the
    *    two-phase distributed prefix sum — text bytes never ride the
    *    layout computation), and the shards-scale manifest
    *    (shard_id, n_items, n_bytes, first_doc, last_doc) lands at
    *    `out/_manifest` (underscore-prefixed: Spark sources skip it
    *    when reading the shards back).
    *
    * Files are doc_id-ordered within a shard, and [[ingestCmd]] reads
    * the output straight back (`--format jsonl`), so export∘ingest is
    * an identity on the contract columns either way.
    */
  private[cli] def exportCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long, Int) = {
    import org.apache.spark.sql.functions._
    val in = o.getOrElse("in", die("--in <documents parquet> is required"))
    val out = o.getOrElse("out", die("--out <dir> is required"))
    val docs = spark.read.parquet(in)
    require(Seq("doc_id", "text").forall(docs.columns.contains),
      "export input needs the documents contract (doc_id, text, ...), got " +
        docs.columns.mkString(","))
    val (sharded, packed) = o.get("by-bytes") match {
      case Some(b) =>
        require(!o.contains("shards"),
          "--shards and --by-bytes are mutually exclusive")
        val budget = try b.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"--by-bytes needs a byte count, got '$b'")
        }
        require(budget > 0, s"--by-bytes must be positive, got $budget")
        import spark.implicits._
        val sized = docs.select(
          col("doc_id").cast("long"),
          octet_length(col("text")).cast("long")).as[(Long, Long)]
        // the layout is read twice (shard join + manifest) — persist
        // the narrow (doc_id, nb, shard_id, shard_off) frame
        val layout = graft.queries.TextQueries.packByBytes(sized, budget)
          .persist()
        val laid = docs
          .join(layout.select(col("doc_id"), col("shard_id").as("shard")), "doc_id")
          .repartition(col("shard"))
        (laid, Some(layout))
      case None =>
        val shards = o.get("shards").map(_.toInt).getOrElse(8)
        require(shards > 0, s"--shards must be positive, got $shards")
        (docs
          .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
          .repartition(shards, col("shard")), None)
    }
    val writer = sharded
      .sortWithinPartitions("shard", "doc_id")
      .write.mode("overwrite").partitionBy("shard")
    val codec = if (o.contains("gzip")) writer.option("compression", "gzip") else writer
    codec.json(out)
    // manifest AFTER the shard write — the overwrite above clears
    // `out`. Counts come from frames this function already holds (the
    // cached layout / the input scan), never from re-parsing the JSONL
    // just written — the export of a large corpus shouldn't cost a
    // second full pass for a progress line.
    packed match {
      case Some(layout) =>
        graft.queries.TextQueries.manifestOf(layout)
          .write.mode("overwrite").parquet(s"$out/_manifest")
        val n = layout.count()
        val nShards = layout.select("shard_id").distinct().count().toInt
        layout.unpersist()
        (out, n, nShards)
      case None =>
        (out, docs.count(), o.get("shards").map(_.toInt).getOrElse(8))
    }
  }

  /** `join-asof` body, session-injected for specs. Key pairs parse from
    * `--on lcol=rcol[,lcol2=rcol2]` (a bare `col` means the same name
    * on both sides); direction defaults to backward. The output is
    * left-total by the operator's contract, so the reported row count
    * is exactly the left table's.
    */
  private[cli] def joinAsofCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long) = {
    import graft.plans.{AsOfDirection, AsOfJoin}
    val leftIn = o.getOrElse("left", die("--left <parquet> is required"))
    val rightIn = o.getOrElse("right", die("--right <parquet> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    val on = o.getOrElse("on", die("--on lcol=rcol[,...] is required"))
    val lTime = o.getOrElse("left-time", die("--left-time <col> is required"))
    val rTime = o.getOrElse("right-time", die("--right-time <col> is required"))
    val l = spark.read.parquet(leftIn)
    val r = spark.read.parquet(rightIn)
    val keys = on.split(',').toSeq.map(_.split('=') match {
      case Array(a, b) => (a.trim, b.trim)
      case Array(a) => (a.trim, a.trim)
      case _ => throw new IllegalArgumentException(
        s"--on expects lcol=rcol pairs, got '$on'")
    })
    val tiebreak = o.get("tiebreak")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val tol = o.get("tolerance-ms").map { t =>
      try t.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"--tolerance-ms needs a millisecond count, got '$t'")
      }
    }
    val dir = o.getOrElse("direction", "backward") match {
      case "backward" => AsOfDirection.Backward
      case "forward"  => AsOfDirection.Forward
      case "nearest"  => AsOfDirection.Nearest
      case other => throw new IllegalArgumentException(
        s"--direction must be backward|forward|nearest, got '$other'")
    }
    // the operator keeps both sides' columns; right columns whose names
    // clash with a left column (typically the join keys) get a right_
    // prefix so the parquet write never sees duplicates (the merge_asof
    // suffix convention). The right-side references resolve by
    // expression id, so this works on the joined frame of either branch.
    val leftCols = l.columns.toSet
    def prefixClashes(joined: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      r.columns.filter(leftCols).foldLeft(joined) { (df, c) =>
        df.withColumn(s"right_$c", r(c)).drop(r(c))
      }
    if (o.contains("stream")) {
      // the streaming shape: left facts arrive as files, the right
      // dimension is the static nightly artifact — AvailableNow
      // processes what's there, checkpoints, exits; re-running with
      // the same checkpoint joins only new files' rows
      val ckpt = o.getOrElse("checkpoint", throw new IllegalArgumentException(
        "--checkpoint <dir> is required with --stream"))
      if (o.contains("right-stream")) {
        // BOTH sides streaming (facts + live dimension writes): per-key
        // last-right-row state carried across micro-batches and restarts.
        // Matching is arrival-order (the live point-in-time contract), so
        // only the backward direction is meaningful here — a forward match
        // would need future right rows the stream hasn't seen yet.
        if (dir != AsOfDirection.Backward)
          throw new IllegalArgumentException(
            "--right-stream supports only --direction backward: a live " +
            "join can only match dimension rows that have already arrived")
        val mode = o.getOrElse("mode", "event-time") match {
          case "arrival" => graft.streaming.AsOfStreamMode.Arrival
          case "event-time" => graft.streaming.AsOfStreamMode.EventTime
          case other => throw new IllegalArgumentException(
            s"--mode must be event-time|arrival, got '$other'")
        }
        val rightStream = spark.readStream.schema(r.schema).parquet(rightIn)
        val leftStream = spark.readStream.schema(l.schema).parquet(leftIn)
        val joined = graft.streaming.StreamingAnalytics.streamingAsOfJoinStream(
          leftStream, rightStream, keys, lTime, rTime, tiebreak, tol,
          // "10minutes" → "10 minutes": a spaced value would be split
          // into two argv tokens by sbt/shell before parseArgs sees it
          watermark = o.getOrElse("watermark", "1 hour")
            .replaceAll("(?<=\\d)(?=[a-zA-Z])", " "),
          mode = mode)
        val before = scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
        // the parquet FILE sink (not foreachBatch): its sink log makes
        // replayed epochs invisible to readers — exactly-once without the
        // batch_id partition convention the static-right branch needs
        val q = joined.writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val after = scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
        return (out, after - before)
      }
      // the static-right layout moved from flat appended files to
      // overwrite-per-batch_id partition dirs (idempotence under
      // foreachBatch replay); an out dir from the old flat layout would
      // mix root-level files with partition dirs and break partition
      // discovery — reject it with a migration hint instead of
      // producing a half-readable table
      // resolved through the Hadoop FS API, not java.io.File — --out may
      // be any supported filesystem URI (hdfs://, s3a://), where a local
      // listFiles() returns null and the guard would silently no-op
      val outPath = new org.apache.hadoop.fs.Path(out)
      val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val legacyFlat =
        if (outFs.exists(outPath))
          outFs.listStatus(outPath).toSeq
            .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        else Seq.empty
      require(legacyFlat.isEmpty,
        s"join-asof --stream: '$out' holds ${legacyFlat.length} flat parquet " +
          "file(s) from the pre-batch_id layout; epochs now overwrite " +
          "batch_id=<id> partition dirs (readers see an extra discovered " +
          "batch_id column). Move the legacy files into a batch_id=legacy/ " +
          "subdir or point --out at a fresh directory")
      val leftStream = spark.readStream.schema(l.schema).parquet(leftIn)
      val before = scala.util.Try(
        spark.read.parquet(out).count()).getOrElse(0L)
      // idempotent per batch: foreachBatch is at-least-once, so a crash
      // between a plain append and the checkpoint commit would duplicate
      // that batch's rows on restart. Each epoch instead OVERWRITES its
      // own batch_id=<id> partition directory — a replayed batch lands
      // on the same path and replaces itself, never doubles. Readers of
      // `out` see one partitioned table (plus a discovered batch_id
      // column they can ignore).
      val q = graft.streaming.StreamingAnalytics.streamingAsOfProbe(
        leftStream, r, keys, lTime, rTime, tiebreak, ckpt,
        (b, bid) => prefixClashes(b).write.mode("overwrite")
          .parquet(s"$out/batch_id=$bid"),
        direction = dir, toleranceMs = tol,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      // same guard as `before`: if the left input had no files, no batch
      // fires and `out` may still not exist
      val after = scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
      (out, after - before)
    } else {
      // --salt auto = detect-and-route (sampled left key histogram,
      // salted merge when one key crosses the hot-share threshold);
      // --salt <N> = force the salted merge with N buckets; absent =
      // the plain operator (broadcast-vs-merge chosen by stats)
      val joined = o.get("salt") match {
        case Some("auto") =>
          AsOfJoin.joinSkewAware(dir, l, r,
            keys.map(k => l(k._1)), keys.map(k => r(k._2)),
            l(lTime), r(rTime), tiebreak.map(r(_)), tol)
        case Some(n) =>
          val buckets = n.toIntOption.filter(_ >= 2).getOrElse(
            throw new IllegalArgumentException(
              s"--salt expects 'auto' or a bucket count >= 2, got '$n'"))
          AsOfJoin.joinSalted(dir, l, r,
            keys.map(k => l(k._1)), keys.map(k => r(k._2)),
            l(lTime), r(rTime), tiebreak.map(r(_)), tol,
            saltBuckets = buckets)
        case None =>
          AsOfJoin.join(dir, l, r,
            keys.map(k => l(k._1)), keys.map(k => r(k._2)),
            l(lTime), r(rTime), tiebreak.map(r(_)), tol)
      }
      prefixClashes(joined).write.mode("overwrite").parquet(out)
      (out, l.count())
    }
  }

  /** `sessionize` body, session-injected for specs. Both arms emit
    * `(user_id, start, end, n_events)` with the half-open `[start,
    * last + 1)` end convention shared with the interval-overlap gate:
    *
    *  - batch (default): the lag/sum gaps-and-islands composition —
    *    one shuffle on the user, two windows and the session aggregate
    *    riding it;
    *  - `--stream --checkpoint <dir>`: [[graft.streaming.OrderedReplay]]
    *    sessionization over the input directory as a file stream
    *    (AvailableNow — process what's there, checkpoint, exit;
    *    re-running resumes). Out-of-order-safe within `--watermark`;
    *    a session emits once the watermark passes its gap horizon, so
    *    the tail of a run stays in the checkpoint until newer data
    *    arrives — the same drain contract as join-asof's event-time
    *    mode.
    */
  /** `scan`: pruned scan through a skipping artifact — RANGE
    * predicates (`--where col:lo:hi`) consult a minmax index, POINT
    * predicates (`--where-eq col:v`) a bloom index; the flag picks the
    * artifact kind `--index` must hold. Returns (outPath,
    * "read X of Y files (N rows)").
    */
  private[cli] def scanCmd(
      spark: SparkSession, o: Map[String, String]): (String, String) = {
    val in = o.getOrElse("in", die("--in <data dir> is required"))
    val idx = o.getOrElse("index", die("--index <artifact dir> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    if (o.contains("where") && o.contains("where-eq"))
      return scanBothCmd(spark, o, in, idx, out)
    if (o.contains("where-eq")) return scanEqCmd(spark, o, in, idx, out)
    val ranges = parseRanges(o.getOrElse("where",
      die("--where col:lo:hi[,...] or --where-eq col:v[,...] is required")))
    if (ranges.isEmpty) die("--where col:lo:hi[,col2:lo:hi] is required")
    val index = graft.operators.DataSkipping.MinMaxIndex.load(spark, idx)
    val total = index.stats.count()
    val read = index.prunedFiles(ranges).size
    val result = index.scan(spark, in, ranges)
    result.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    (out, s"read $read of $total files ($n rows)")
  }

  /** `--where-eq` clauses, value-typed by the DATA schema (a long
    * column probes the filter's long hashing, a string column the
    * UTF-8 hashing — the same typing the build used). */
  private def parseEqs(spark: SparkSession, spec: String,
                       in: String): Seq[(String, Any)] = {
    val schema = spark.read.parquet(in).schema
    val eqs: Seq[(String, Any)] = spec
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map { clause =>
        clause.split(":") match {
          case Array(c, v) =>
            require(schema.fieldNames.contains(c),
              s"--where-eq: column '$c' not in $in " +
                s"(has: ${schema.fieldNames.mkString(", ")})")
            schema(c).dataType match {
              case org.apache.spark.sql.types.LongType |
                   org.apache.spark.sql.types.IntegerType =>
                (c, v.toLongOption.getOrElse(throw new IllegalArgumentException(
                  s"--where-eq: '$v' is not an integer for column '$c'")): Any)
              case org.apache.spark.sql.types.StringType => (c, v: Any)
              case other => throw new IllegalArgumentException(
                s"--where-eq: column '$c' has unsupported type $other " +
                  "(bloom indexes cover bigint/int/string)")
            }
          case _ => throw new IllegalArgumentException(
            s"--where-eq clause '$clause' must be col:value")
        }
      }
    if (eqs.isEmpty) die("--where-eq col:v[,col2:v2] needs at least one clause")
    eqs
  }

  private def parseRanges(spec: String): Seq[(String, Double, Double)] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      .map { clause =>
        clause.split(":") match {
          case Array(c, lo, hi) =>
            (c,
              lo.toDoubleOption.getOrElse(throw new IllegalArgumentException(
                s"--where: '$lo' is not a number in '$clause'")),
              hi.toDoubleOption.getOrElse(throw new IllegalArgumentException(
                s"--where: '$hi' is not a number in '$clause'")))
          case _ => throw new IllegalArgumentException(
            s"--where clause '$clause' must be col:lo:hi")
        }
      }

  /** `scan --where ... --where-eq ...` arm: COMPOSED pruning — the
    * minmax artifact at `--index` prices the ranges, the bloom
    * artifact at `--bloom-index` prices the points, and the read
    * touches only files BOTH admit (file-list intersection; each
    * index's staleness check still runs). Both predicates then apply
    * exactly as residuals on the one subset read — the union of each
    * index's blind spot is covered by the other's filter. */
  private def scanBothCmd(spark: SparkSession, o: Map[String, String],
                          in: String, idx: String, out: String): (String, String) = {
    // IllegalArgumentException, not die(): the verb dispatcher maps it
    // to the usage exit, and spec-driven calls must survive it
    val bloomDir = o.getOrElse("bloom-index",
      throw new IllegalArgumentException(
        "composed scan needs --index <minmax artifact> for --where " +
          "AND --bloom-index <bloom artifact> for --where-eq"))
    val ranges = parseRanges(o("where"))
    if (ranges.isEmpty) die("--where col:lo:hi[,col2:lo:hi] is required")
    val eqs = parseEqs(spark, o("where-eq"), in)
    val mIdx = graft.operators.DataSkipping.MinMaxIndex.load(spark, idx)
    val bIdx = graft.operators.BloomSkipping.BloomIndex.load(spark, bloomDir)
    val total = mIdx.stats.count()
    // both staleness checks run; the survivors are the intersection
    val fromRanges = mIdx.scanFiles(spark, in, ranges)
    val fromEqs = bIdx.scanFiles(spark, in, eqs)
    val files = fromRanges.intersect(fromEqs.toSet.toSeq)
    val base =
      if (files.isEmpty) spark.read.parquet(in).where(F.lit(false))
      else spark.read.option("basePath", in).parquet(files: _*)
    val withRanges = ranges.foldLeft(base) { case (df, (c, lo, hi)) =>
      df.where(F.col(c).cast("double") >= lo &&
        F.col(c).cast("double") <= hi)
    }
    val result = eqs.foldLeft(withRanges) { case (df, (c, v)) =>
      df.where(F.col(c) === F.lit(v))
    }
    result.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    (out, s"read ${files.size} of $total files ($n rows; " +
      s"ranges kept ${fromRanges.size}, points kept ${fromEqs.size})")
  }

  /** `scan --where-eq` arm: point-lookup pruning through a bloom
    * artifact. Values type-follow the DATA schema (a long column
    * probes the filter's long hashing, a string column the UTF-8
    * hashing — the same typing the build used). */
  private def scanEqCmd(spark: SparkSession, o: Map[String, String],
                        in: String, idx: String, out: String): (String, String) = {
    val eqs = parseEqs(spark, o("where-eq"), in)
    val index = graft.operators.BloomSkipping.BloomIndex.load(spark, idx)
    val total = index.stats.count()
    val read = index.prunedFiles(eqs).size
    val result = index.scan(spark, in, eqs)
    result.write.mode("overwrite").parquet(out)
    val n = spark.read.parquet(out).count()
    (out, s"read $read of $total files ($n rows)")
  }

  /** `layout`: z-order rewrite. Returns (outPath, one-line report with
    * file count and the per-dimension mean file-span fraction — the
    * footer-stats tightness a pruning reader will see; 1.0 on a
    * dimension means no file can ever be skipped on it).
    */
  private[cli] def layoutCmd(
      spark: SparkSession, o: Map[String, String]): (String, String) = {
    import org.apache.spark.sql.functions._
    val in = o.getOrElse("in", die("--in <parquet> is required"))
    val out = o.getOrElse("out", die("--out <dir> is required"))
    val cols = o.getOrElse("cols", die("--cols a,b[,...] is required"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (cols.isEmpty) die("--cols a,b[,...] is required")
    val bits = o.get("bits").map { v =>
      v.toIntOption.filter(b => b >= 1 && b * cols.size <= 63).getOrElse(
        throw new IllegalArgumentException(
          s"--bits must be in [1, ${63 / cols.size}] for ${cols.size} columns, got '$v'"))
    }.getOrElse(math.min(16, 63 / cols.size))
    val partitions = o.get("partitions").map { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"--partitions needs a positive count, got '$v'"))
    }.getOrElse(0)
    val df = spark.read.parquet(in)
    cols.foreach { c =>
      if (!df.columns.contains(c))
        throw new IllegalArgumentException(
          s"--cols column '$c' not in ${in} (has: ${df.columns.mkString(", ")})")
    }
    graft.operators.ZOrder.layout(df, cols, out, bits, partitions,
      keepZ = o.contains("keep-z"))
    // footer tightness report: mean fraction of each dimension's global
    // range a single file spans (what stats pruning gets to work with)
    val back = spark.read.parquet(out)
    val spanAggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"_lo_$c"),
      max(col(c)).cast("double").as(s"_hi_$c")))
    val perFile = back.groupBy(input_file_name().as("_f"))
      .agg(spanAggs.head, spanAggs.tail: _*)
    val g = back.agg(spanAggs.head, spanAggs.tail: _*).head()
    val spans = perFile.agg(
      count(lit(1)).as("files"),
      cols.map(c => avg(col(s"_hi_$c") - col(s"_lo_$c")).as(s"_span_$c")): _*).head()
    val fracs = cols.map { c =>
      val range = g.getAs[Double](s"_hi_$c") - g.getAs[Double](s"_lo_$c")
      val f = if (range <= 0) 0.0 else spans.getAs[Double](s"_span_$c") / range
      // Locale.ROOT so the parsed report stays dot-decimal everywhere
      s"$c=${String.format(java.util.Locale.ROOT, "%.3f", Double.box(f))}"
    }
    (out, s"(${spans.getAs[Long]("files")} files, mean file-span fraction ${fracs.mkString(" ")})")
  }

  private[cli] def sessionizeCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long) = {
    import org.apache.spark.sql.functions._
    val in = o.getOrElse("in", die("--in <events parquet> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    val gap = o.get("gap-ms").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"--gap-ms needs a millisecond count, got '$v'"))
    }.getOrElse(30L * 60 * 1000)
    val userCol = o.getOrElse("user-col", "user_id")
    val timeCol = o.getOrElse("time-col", "ts_ms")
    if (o.contains("stream")) {
      val ckpt = o.getOrElse("checkpoint", throw new IllegalArgumentException(
        "--checkpoint <dir> is required with --stream"))
      import spark.implicits._
      val schema = spark.read.parquet(in).schema
      val raw = spark.readStream.schema(schema).parquet(in)
      // TIMESTAMP/DATE time columns normalize exactly like the as-of
      // API: unix_millis, not a bare long cast (epoch SECONDS)
      val events = raw
        .select(raw(userCol).cast("long").as("userId"),
          graft.plans.AsOfJoin.toEpochMs(raw(timeCol)).as("tsMs"))
        .as[graft.streaming.StreamingAnalytics.UserEvent]
      val sessions = graft.streaming.StreamingAnalytics.sessionize(
          events, gap,
          watermarkDelay = o.getOrElse("watermark", "30 minutes")
            .replaceAll("(?<=\\d)(?=[a-zA-Z])", " "))
        .select(col("userId").as("user_id"), col("start"),
          (col("start") + col("durationMs") + 1L).as("end"),
          col("n").as("n_events"))
      val before = scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
      val q = sessions.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val after = scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
      (out, after - before)
    } else {
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ms")
      val raw = spark.read.parquet(in)
      val sessions = raw
        .select(raw(userCol).cast("long").as("user_id"),
          graft.plans.AsOfJoin.toEpochMs(raw(timeCol)).as("ts_ms"))
        .withColumn("prev_ts", lag("ts_ms", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > gap, 1)
            .otherwise(0))
        .withColumn("session_id", sum("new_session").over(byUser.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(min("ts_ms").as("start"), (max("ts_ms") + 1L).as("end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "start", "end", "n_events")
      sessions.write.mode("overwrite").parquet(out)
      (out, spark.read.parquet(out).count())
    }
  }

  /** `interval-join` body, session-injected for specs. Key pairs parse
    * like join-asof's `--on` (optional here: keyless joins bucket on
    * time alone); `--count` switches from the matched-pairs output to
    * the left-total per-left-row census.
    */
  private[cli] def intervalJoinCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long) = {
    import graft.operators.IntervalJoin
    val leftIn = o.getOrElse("left", die("--left <parquet> is required"))
    val rightIn = o.getOrElse("right", die("--right <parquet> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    val lS = o.getOrElse("left-start", die("--left-start <col> is required"))
    val lE = o.getOrElse("left-end", die("--left-end <col> is required"))
    val keys = o.get("on").map(_.split(',').toSeq.map(_.split('=') match {
      case Array(a, b) => (a.trim, b.trim)
      case Array(a) => (a.trim, a.trim)
      case _ => throw new IllegalArgumentException(
        s"--on expects lcol=rcol pairs, got '${o("on")}'")
    })).getOrElse(Nil)
    val bucket = o.get("bucket-ms").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"--bucket-ms needs a millisecond count, got '$v'"))
    }
    val rawL = spark.read.parquet(leftIn)
    val r = spark.read.parquet(rightIn)
    // --report is a DRY RUN (price a width, run nothing); letting the
    // --stream branch win would consume input files and advance the
    // checkpoint — exactly what the user asked not to do
    require(!(o.contains("report") && o.contains("stream")),
      "--report prices a bucket width without running the join; " +
        "--stream runs it — drop one of the two flags")
    if (o.contains("stream")) {
      // streaming shape: BOTH sides live — interval dimension writes
      // (watermarked on interval START) and point facts consumed as
      // file streams, routed through the OrderedReplay-backed
      // streamingIntervalContains twin; exactly-once parquet FILE sink,
      // AvailableNow (process what's there, checkpoint, exit — rerun
      // with the same checkpoint to pick up only new files). Note the
      // event-time drain contract: a run's tail stays buffered in the
      // checkpoint until newer data advances the watermark.
      require(!o.contains("count"),
        "--stream emits matched pairs; the census (--count) is a batch shape")
      val ckpt = o.getOrElse("checkpoint", throw new IllegalArgumentException(
        "--checkpoint <dir> is required with --stream"))
      val wm = o.getOrElse("watermark", "10 minutes")
        .replaceAll("(?<=\\d)(?=[a-zA-Z])", " ")
      val ivStream = spark.readStream.schema(rawL.schema).parquet(leftIn)
      val ptStream = spark.readStream.schema(r.schema).parquet(rightIn)
      val joined = o.get("right-point") match {
        case Some(pc) =>
          graft.streaming.StreamingAnalytics
            .streamingIntervalContains(ivStream, ptStream, keys, lS, lE, pc, wm)
        case None =>
          // interval × interval overlap between two live streams: the
          // built-in stream-stream join with range conditions; the
          // state-eviction bound needs an explicit max interval length
          val rS = o.getOrElse("right-start", throw new IllegalArgumentException(
            "--stream interval-join needs --right-point <col> (contains) or " +
              "--right-start/--right-end (overlap)"))
          val rE = o.getOrElse("right-end", throw new IllegalArgumentException(
            "--right-end <col> is required with --right-start"))
          val maxLen = o.getOrElse("max-len-ms", throw new IllegalArgumentException(
            "--max-len-ms <N> is required for the streaming overlap shape " +
              "(bounds join state; the batch API derives widths from stats, " +
              "a stream cannot)")).toLongOption.filter(_ > 0).getOrElse(
            throw new IllegalArgumentException(
              s"--max-len-ms needs a positive millisecond count, got '${o("max-len-ms")}'"))
          graft.streaming.StreamingAnalytics.streamingIntervalOverlapJoin(
            ivStream, ptStream, keys, lS, lE, rS, rE, maxLen, wm)
      }
      val before = scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
      val q = joined.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val after = scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
      return (out, after - before)
    }
    if (o.contains("report")) {
      // price a width WITHOUT running the join: one metadata-scale pass
      require(!o.contains("right-point"),
        "--report prices the interval x interval overlap shape")
      val repS = o.getOrElse("right-start", throw new IllegalArgumentException(
        "--report needs --right-start/--right-end"))
      val repE = o.getOrElse("right-end", throw new IllegalArgumentException(
        "--report needs --right-start/--right-end"))
      val rep = IntervalJoin.bucketReport(rawL, r, keys, lS, lE, repS, repE, bucket)
      // Locale.ROOT: the f-interpolator formats %.2f with the JVM
      // default locale, and a comma-decimal locale (de_DE, tr_TR)
      // would make the report line invalid JSON
      def d2(v: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
      println(s"""{"bucket_ms":${rep.bucketMs},"adaptive_ms":${rep.adaptiveMs},""" +
        s""""left_replication":${d2(rep.leftReplication)},""" +
        s""""right_replication":${d2(rep.rightReplication)},""" +
        s""""candidate_pairs":${rep.candidatePairs},""" +
        s""""recommend_adaptive":${rep.recommendAdaptive}}""")
      return ("(report)", rep.candidatePairs)
    }
    // the count APIs group by every left column, so fully-duplicate left
    // rows would merge into one census row with summed counts and the
    // output row count would silently differ from the input; a synthetic
    // per-row id (dropped on output) keeps the census truly one row per
    // input left row
    val uid = "__ij_cli_rowid"
    require(!rawL.columns.contains(uid), s"'$uid' is a reserved column name")
    val l =
      if (o.contains("count"))
        rawL.withColumn(uid,
          org.apache.spark.sql.functions.monotonically_increasing_id())
      else rawL
    val joined = (o.get("right-point") match {
      case Some(pc) =>
        require(!o.contains("right-start") && !o.contains("right-end"),
          "--right-point and --right-start/--right-end are mutually exclusive")
        if (o.contains("count"))
          IntervalJoin.containsCount(l, r, keys, lS, lE, pc, bucket)
        else IntervalJoin.contains(l, r, keys, lS, lE, pc, bucket)
      case None =>
        val rS = o.getOrElse("right-start",
          die("--right-start <col> (or --right-point) is required"))
        val rE = o.getOrElse("right-end",
          die("--right-end <col> (or --right-point) is required"))
        if (o.contains("count"))
          IntervalJoin.overlapCount(l, r, keys, lS, lE, rS, rE, bucket)
        else IntervalJoin.overlap(l, r, keys, lS, lE, rS, rE, bucket)
    }).drop(uid)
    joined.write.mode("overwrite").parquet(out)
    (out, spark.read.parquet(out).count())
  }

  /** `scrub` body, session-injected for specs (see [[buildIndexCmd]]).
    * With `--stream --checkpoint <dir>` the input directory is consumed
    * as a Structured Streaming source (AvailableNow: process what's
    * there, checkpoint, exit — re-running with the same checkpoint
    * appends only new files' docs), each micro-batch probed against the
    * required `--index` corpus artifact — the nightly-index +
    * streaming-ingest story end to end. */
  private[cli] def scrubCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long, Long) = {
    import graft.queries.TextQueries
    import org.apache.spark.sql.functions.{col, sum}
    val in = o.getOrElse("in", die("--in <documents parquet> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    if (o.contains("stream")) {
      // the global no-index mark needs the whole corpus at once — only
      // the index probe has a streaming shape
      val idxPath = o.getOrElse("index",
        die("--stream scrub needs --index (the nightly corpus scrub artifact)"))
      val ckpt = o.getOrElse("checkpoint",
        die("--checkpoint <dir> is required with --stream"))
      val schema = spark.read.parquet(in).schema
      val docsStream = spark.readStream.schema(schema).parquet(in)
      val index = TextQueries.ScrubIndex.load(spark, idxPath)
      val q = graft.streaming.StreamingAnalytics.streamingScrubProbe(
        docsStream, index, ckpt,
        b => b.write.mode("append").parquet(out),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination()
      index.unpersist()
    } else {
      val batch = spark.read.parquet(in)
      val scrubbed = o.get("index") match {
        case Some(idx) =>
          TextQueries.probeScrub(batch, TextQueries.ScrubIndex.load(spark, idx))
        case None =>
          // global mark via the count-aggregate + shuffled join plan:
          // probeScrub would broadcast the input's entire distinct gram
          // set, which for a corpus-sized no-index scrub risks driver
          // OOM (ScrubSamplingSpec pins result equivalence of the paths)
          TextQueries.scrubCorpus(batch)
      }
      scrubbed.write.mode("overwrite").parquet(out)
    }
    val res = spark.read.parquet(out)
    // coalesce: sum over an empty batch is null, not 0
    val removed = res.agg(org.apache.spark.sql.functions.coalesce(
      sum(col("n_removed")), org.apache.spark.sql.functions.lit(0L))).head().getLong(0)
    (out, res.count(), removed)
  }

  /** `build-index` body, session-injected so specs drive it against the
    * shared test session (main owns session lifecycle and would stop it). */
  private[cli] def buildIndexCmd(
      spark: SparkSession, o: Map[String, String]): (String, String, Long) = {
    import graft.queries.TextQueries
    val kind = o.getOrElse("kind", die("--kind neardup|chunk|drift|winnow|scrub|ivf|phash|minmax|hll|kll|theta is required"))
    val in = o.getOrElse("in", die("--in <documents parquet> is required"))
    val out = o.getOrElse("out", die("--out <dir> is required"))
    val corpus = spark.read.parquet(in)
    kind match {
      case "neardup" => TextQueries.buildNearDupIndex(corpus).save(out)
      case "phash" => TextQueries.buildPhashIndex(corpus).save(out)
      case "chunk" => TextQueries.buildChunkIndex(corpus).save(out)
      case "drift" => TextQueries.buildTermDistribution(corpus).save(out)
      case "winnow" => TextQueries.buildWinnowIndex(corpus).save(out)
      case "scrub" => TextQueries.buildScrubIndex(corpus).save(out)
      // per-source HLL gram sketches: kilobytes per source, mergeable
      case "hll" => graft.queries.SketchQueries.buildHllIndex(corpus).save(out)
      // per-source KLL length-distribution sketches (quantiles/ranks)
      case "kll" => graft.queries.SketchQueries.buildKllIndex(corpus).save(out)
      // theta gram sketches: direct-intersection overlap probes
      case "theta" => graft.queries.SketchQueries.buildThetaIndex(corpus).save(out)
      // --in points at an embeddings parquet (vec_id, embedding); the
      // vectors frame lands hive-partitioned by cell so probes prune files
      case "ivf" => graft.queries.SimilarityQueries.buildIvfIndex(corpus).save(out)
      // --in is any flat parquet DIRECTORY; per-FILE min/max boxes over
      // --cols feed the `scan` verb's file pruning
      case "minmax" =>
        val cols = o.getOrElse("cols",
            throw new IllegalArgumentException(
              "--cols a,b[,...] is required for --kind minmax"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        graft.operators.DataSkipping.buildMinMaxIndex(spark, in, cols).save(out)
      // --in is any parquet DIRECTORY; per-FILE bloom filters over
      // --cols feed `scan --where-eq` point-lookup pruning — the
      // equality twin of minmax (whose boxes are blind to
      // high-cardinality keys in arrival order)
      case "bloom" =>
        val cols = o.getOrElse("cols",
            throw new IllegalArgumentException(
              "--cols a,b[,...] is required for --kind bloom"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        graft.operators.BloomSkipping.buildBloomIndex(spark, in, cols,
          expectedItems = o.get("expected-items").map(_.toLong)
            .getOrElse(graft.functions.BloomFilterAgg.ExpectedItems),
          fpp = o.get("fpp").map(_.toDouble)
            .getOrElse(graft.functions.BloomFilterAgg.Fpp)).save(out)
      // durable per-table join pre-flight evidence: count + theta key
      // sketch + top-K sampled histogram; `join-report --stats-left/
      // --stats-right` then prices a join without scanning either side
      case "keystats" =>
        val cols = o.getOrElse("cols",
            throw new IllegalArgumentException(
              "--cols k1[,k2...] is required for --kind keystats"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        graft.operators.JoinPreflight.buildKeyStats(corpus, cols,
          sampleFraction = o.get("sample").map(_.toDouble).getOrElse(0.01),
          histK = o.get("hist-k").map(_.toInt).getOrElse(8192)).save(out)
      case other => die(s"unsupported index kind '$other' " +
        "(expected neardup|chunk|drift|winnow|scrub|ivf|phash|minmax|bloom|keystats|hll|kll|theta)")
    }
    (kind, out, corpus.count())
  }

  /** `overlap` body, session-injected so specs drive it: sketch the
    * incoming batch once, estimate `|batch ∩ source|` per indexed
    * source by inclusion–exclusion against the stored kilobyte
    * sketches. The contamination-triage question ("how much of today's
    * crawl is already in which slice?") answered without reading the
    * indexed corpus. */
  private[cli] def overlapCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long) = {
    val in = o.getOrElse("in", die("--in <batch documents parquet> is required"))
    val idx = o.getOrElse("index", die("--index <hll|theta artifact dir> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    // route by the artifact, not by flag: theta artifacts carry a _meta
    // marker, hll artifacts carry no _meta at all — resolved through the
    // Hadoop FS API so non-local URIs route correctly too
    val metaPath = new org.apache.hadoop.fs.Path(s"$idx/_meta")
    val isTheta = metaPath
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(metaPath) &&
      graft.queries.IndexArtifact.meta(spark, idx)
        .contains(graft.queries.SketchQueries.ThetaIndex.MetaKey)
    val res =
      if (isTheta)
        graft.queries.SketchQueries.ThetaIndex.load(spark, idx)
          .probe(spark.read.parquet(in))
      else
        graft.queries.SketchQueries.HllIndex.load(spark, idx)
          .probe(spark.read.parquet(in))
    // source-count-scale rows — one file reads back fastest
    res.coalesce(1).write.mode("overwrite").parquet(out)
    (out, spark.read.parquet(out).count())
  }

  /** `stream-ingest` body, session-injected so specs drive it: watch
    * a parquet dir as a file stream, land each micro-batch under
    * `--data/batch_id=<epoch>`, and keep the minmax artifact at
    * `--index` scan-serveable after every commit
    * ([[graft.streaming.StreamingIngest]]). */
  private[cli] def streamIngestCmd(
      spark: SparkSession, o: Map[String, String]): (String, String) = {
    val in = o.getOrElse("in", die("--in <parquet dir to watch> is required"))
    val data = o.getOrElse("data", die("--data <output tree> is required"))
    val idx = o.getOrElse("index", die("--index <minmax artifact dir> is required"))
    val ckpt = o.getOrElse("checkpoint", die("--checkpoint <dir> is required"))
    val cols = o.getOrElse("cols", die("--cols a,b[,...] is required"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(cols.nonEmpty, "--cols must name at least one numeric column")
    val src = spark.readStream
      .schema(spark.read.parquet(in).schema)
      .parquet(in)
    val q = graft.streaming.StreamingIngest.startWithMinMaxIndex(
      src, data, idx, cols, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      compactEvery = o.get("compact-every").map(_.toInt).getOrElse(0),
      compactTargetBytes = o.get("target-bytes").map(_.toLong)
        .getOrElse(128L * 1024 * 1024),
      bloomIndexDir = o.get("bloom-index"),
      bloomCols = o.get("bloom-cols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      bloomExpectedItems = o.get("expected-items").map(_.toLong)
        .getOrElse(graft.functions.BloomFilterAgg.ExpectedItems),
      layoutCols = o.get("layout-cols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      layoutBits = o.get("bits").map(_.toInt).getOrElse(16))
    q.awaitTermination()
    (data, idx)
  }

  /** `tree-report` body, session-injected so specs drive it: the
    * metadata-only layout health report
    * ([[graft.operators.TreeReport]]). */
  private[cli] def treeReportCmd(
      spark: SparkSession, o: Map[String, String]): graft.operators.TreeReport.Report =
    graft.operators.TreeReport.report(
      spark,
      o.getOrElse("in", die("--in <data tree> is required")),
      targetBytes = o.get("target-bytes").map(_.toLong)
        .getOrElse(128L * 1024 * 1024),
      smallBytes = o.get("small-bytes").map(_.toLong).getOrElse(-1L))

  /** `compact-files` body, session-injected so specs drive it:
    * bin-pack a tree's small-file debt, then reconcile the minmax
    * artifact when one is given ([[graft.operators.FileCompaction]]). */
  private[cli] def compactFilesCmd(
      spark: SparkSession, o: Map[String, String]): graft.operators.FileCompaction.Report = {
    val in = o.getOrElse("in", die("--in <data tree> is required"))
    val rep = graft.operators.FileCompaction.compactTree(
      spark, in,
      targetBytes = o.get("target-bytes").map(_.toLong)
        .getOrElse(128L * 1024 * 1024),
      smallBytes = o.get("small-bytes").map(_.toLong).getOrElse(-1L),
      collapse = o.get("collapse"),
      parallelism = o.get("parallelism").map(_.toInt).getOrElse(4))
    o.get("index").foreach { idxDir =>
      val idx = graft.operators.DataSkipping.MinMaxIndex.load(spark, idxDir)
      val next = idx.reconciled(spark, in)
      if (!(next eq idx)) next.save(idxDir)
    }
    o.get("bloom-index").foreach { idxDir =>
      val idx = graft.operators.BloomSkipping.BloomIndex.load(spark, idxDir)
      val next = idx.reconciled(spark, in)
      if (!(next eq idx)) next.save(idxDir)
    }
    rep
  }

  /** `join-report` body, session-injected so specs drive it: price an
    * equi-join without running it and write the one-row verdict frame
    * ([[graft.operators.JoinPreflight]]). */
  private[cli] def joinReportCmd(
      spark: SparkSession, o: Map[String, String]): (String, String) = {
    // --stats-left/--stats-right: price from durable keystats
    // artifacts (build-index --kind keystats) — neither table is read
    if (o.contains("stats-left") || o.contains("stats-right")) {
      require(o.contains("stats-left") && o.contains("stats-right"),
        "stats pricing needs BOTH --stats-left and --stats-right " +
          "(mixing one artifact with one live table is not supported — " +
          "the sample fractions and key renderings must pair)")
      require(!o.contains("apply"),
        "--apply needs the live tables; price from stats first, then " +
          "run join-report --apply on the tables the verdict warrants")
      val statsOut = o.getOrElse("out", die("--out <parquet> is required"))
      val rep = graft.operators.JoinPreflight.reportFromStats(
        spark,
        graft.operators.JoinPreflight.KeyStats.load(spark, o("stats-left")),
        graft.operators.JoinPreflight.KeyStats.load(spark, o("stats-right")),
        topK = o.get("top-k").map(_.toInt).getOrElse(64),
        broadcastBytes = o.get("broadcast-bytes").map(_.toLong)
          .getOrElse(graft.operators.JoinPreflight.sessionBroadcastBytes))
      rep.frame(spark).coalesce(1).write.mode("overwrite").parquet(statsOut)
      return (statsOut,
        f"${rep.recommendation} (est ${rep.estOutputRows} rows out, " +
          f"${rep.estMatchedKeys} matched keys, hot pair " +
          f"${rep.hotPairShare}%.2f; priced from artifacts, no scan)")
    }
    val leftIn = o.getOrElse("left", die("--left <parquet> is required"))
    val rightIn = o.getOrElse("right", die("--right <parquet> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    val on = o.getOrElse("on", die("--on k[=rk][,...] is required"))
    val keys = on.split(',').toSeq.map(_.split('=') match {
      case Array(a, b) => (a.trim, b.trim)
      case Array(a) => (a.trim, a.trim)
      case _ => throw new IllegalArgumentException(
        s"--on expects k[=rk] pairs, got '$on'")
    })
    val sample = o.get("sample").map { s =>
      try s.toDouble catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"--sample needs a fraction in (0, 1], got '$s'")
      }
    }.getOrElse(0.01)
    val topK = o.get("top-k").map { s =>
      try s.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"--top-k needs an integer, got '$s'")
      }
    }.getOrElse(64)
    val bb = o.get("broadcast-bytes").map { s =>
      try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"--broadcast-bytes needs a byte count, got '$s'")
      }
    }.getOrElse(graft.operators.JoinPreflight.sessionBroadcastBytes)
    if (o.contains("apply")) {
      // --apply: don't just price the join — RUN it the way the
      // verdict prescribes (broadcast hint / hot-key salted build /
      // plain), writing the joined rows; the verdict still prints
      val (joined, rep) = graft.operators.JoinPreflight.joinAdvised(
        spark.read.parquet(leftIn), keys.map(_._1),
        spark.read.parquet(rightIn), keys.map(_._2),
        sampleFraction = sample, topK = topK, broadcastBytes = bb)
      joined.write.mode("overwrite").parquet(out)
      (out, f"applied ${rep.recommendation} (est ${rep.estOutputRows} " +
        f"rows out, hot pair ${rep.hotPairShare}%.2f)")
    } else {
      val rep = graft.operators.JoinPreflight.report(
        spark.read.parquet(leftIn), keys.map(_._1),
        spark.read.parquet(rightIn), keys.map(_._2),
        sampleFraction = sample, topK = topK, broadcastBytes = bb)
      rep.frame(spark).coalesce(1).write.mode("overwrite").parquet(out)
      (out, f"${rep.recommendation} (est ${rep.estOutputRows} rows out, " +
        f"${rep.estMatchedKeys} matched keys, hot pair ${rep.hotPairShare}%.2f)")
    }
  }

  /** `quantiles` body, session-injected so specs drive it: answer
    * per-source (or corpus-wide with `--global`) percentiles from a
    * `kll` artifact's kilobyte sketches. */
  private[cli] def quantilesCmd(
      spark: SparkSession, o: Map[String, String]): (String, Long) = {
    val idx = o.getOrElse("index", die("--index <kll artifact dir> is required"))
    val out = o.getOrElse("out", die("--out <parquet> is required"))
    val ps = o.getOrElse("ps", "0.5,0.9,0.99")
      .split(",").map(_.trim).filter(_.nonEmpty).map(_.toDouble).toSeq
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"--ps must be ranks in (0, 1], got '${o.getOrElse("ps", "")}'")
    val ix = graft.queries.SketchQueries.KllIndex.load(spark, idx)
    val res = if (o.contains("global")) ix.globalQuantiles(ps) else ix.quantiles(ps)
    res.coalesce(1).write.mode("overwrite").parquet(out)
    (out, spark.read.parquet(out).count())
  }

  /** `update-index` body: fold a NEW batch into an existing artifact
    * without re-scanning the indexed corpus — the ingest-side
    * incremental refresh between nightly full rebuilds. Doc-grain
    * indexes (neardup, chunk, winnow, ivf) append freshly-derived
    * batch rows; count-grain indexes (drift, scrub) sum-merge. `--out`
    * must differ from `--index`: the merged frames LAZILY read the old
    * artifact's parquet, so an in-place overwrite would delete its own
    * input mid-write (the classic Spark self-overwrite trap). For
    * id-carrying kinds the batch's ids must not already be indexed —
    * checked with one column-pruned scan of the id frame probed by the
    * (broadcast) batch id set.
    */
  private[cli] def updateIndexCmd(
      spark: SparkSession, o: Map[String, String]): (String, String, Long) = {
    import graft.queries.{IndexArtifact, SimilarityQueries, TextQueries}
    import org.apache.spark.sql.functions.col
    val kind = o.getOrElse("kind", die("--kind neardup|chunk|drift|winnow|scrub|ivf|phash|hll|kll|theta is required"))
    val in = o.getOrElse("in", die("--in <batch parquet> is required"))
    val idx = o.getOrElse("index", die("--index <existing artifact dir> is required"))
    val out = o.getOrElse("out", die("--out <new artifact dir> is required"))
    if (new java.io.File(out).getCanonicalPath ==
        new java.io.File(idx).getCanonicalPath)
      die("--out must differ from --index: merged frames lazily read the " +
        "old artifact, so writing over it would corrupt both")
    val batch = spark.read.parquet(in)
    def requireDisjoint(frame: String, idCol: String): Unit = {
      // broadcast semi-join, not isin literals: a large ingest batch
      // would otherwise inflate the plan (and the driver) with its ids
      val dup = IndexArtifact.frame(spark, idx, frame).select(col(idCol))
        .join(org.apache.spark.sql.functions.broadcast(
          batch.select(col(idCol)).distinct()), idCol, "left_semi")
        .count()
      // require, not die: the dispatch catches IllegalArgumentException
      // and exits; specs drive this path in-JVM and must survive it
      require(dup == 0,
        s"update-index: $dup batch ${idCol}s are already indexed — " +
          "an incremental update must only add new docs (rebuild instead)")
    }
    kind match {
      case "neardup" =>
        requireDisjoint("bands", "doc_id")
        TextQueries.NearDupIndex.load(spark, idx).updated(batch).save(out)
      case "phash" =>
        requireDisjoint("fps", "doc_id")
        TextQueries.PhashIndex.load(spark, idx).updated(batch).save(out)
      case "chunk" =>
        requireDisjoint("fps", "doc_id")
        TextQueries.ChunkIndex.load(spark, idx).updated(batch).save(out)
      case "drift" =>
        TextQueries.TermDistribution.load(spark, idx).updated(batch).save(out)
      case "winnow" =>
        requireDisjoint("fps", "doc_id")
        TextQueries.WinnowIndex.load(spark, idx).updated(batch).save(out)
      case "scrub" =>
        TextQueries.ScrubIndex.load(spark, idx).updated(batch).save(out)
      // like drift, count-grain: the artifact keeps no doc ids to check
      // disjointness against — gram sketches are set-semantics (safe to
      // re-add), but n_docs is additive, so the no-re-ingest
      // precondition is on the CALLER here
      case "hll" =>
        graft.queries.SketchQueries.HllIndex.load(spark, idx)
          .updated(batch).save(out)
      case "kll" =>
        graft.queries.SketchQueries.KllIndex.load(spark, idx)
          .updated(batch).save(out)
      case "theta" =>
        graft.queries.SketchQueries.ThetaIndex.load(spark, idx)
          .updated(batch).save(out)
      case "ivf" =>
        requireDisjoint("vectors", "vec_id")
        SimilarityQueries.IvfIndex.load(spark, idx).updated(batch).save(out)
      // --in is the (grown) data DIRECTORY; files are their own ids, so
      // disjointness holds by construction — only unindexed files fold in
      case "minmax" =>
        graft.operators.DataSkipping.MinMaxIndex.load(spark, idx)
          .updated(spark, in).save(out)
      case "bloom" =>
        graft.operators.BloomSkipping.BloomIndex.load(spark, idx)
          .updated(spark, in).save(out)
      // no fold path on purpose: merging two TRUNCATED top-K histograms
      // silently loses a key that is mid-tail in both batches but a
      // hitter combined; the build is one pass over the key columns,
      // so the nightly refresh is a rebuild
      case "keystats" => die(
        "keystats artifacts rebuild rather than fold: run build-index " +
          "--kind keystats over the grown table (one key-column pass)")
      case other => die(s"unsupported index kind '$other' " +
        "(expected neardup|chunk|drift|winnow|scrub|ivf|phash|minmax|bloom|keystats|hll|kll|theta)")
    }
    // the ivf path drops zero-norm batch vectors during frozen-centroid
    // assignment, so "grew by n" must report the index's actual vectors
    // delta (two parquet footer counts), not the raw batch size; minmax
    // folds FILES, and --in is the whole grown dir, so report the stats
    // row (= file) delta rather than a data row count
    val grown = kind match {
      case "ivf" =>
        IndexArtifact.frame(spark, out, "vectors").count() -
          IndexArtifact.frame(spark, idx, "vectors").count()
      case "minmax" | "bloom" =>
        IndexArtifact.frame(spark, out, "stats").count() -
          IndexArtifact.frame(spark, idx, "stats").count()
      case _ => batch.count()
    }
    (kind, out, grown)
  }
}
