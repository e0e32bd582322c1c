package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup: JVM/codegen/scheduler init shouldn't bill the
    // first measured query
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // ...nor should one-time init of the execution infra every query
    // shares (parquet reader, shuffle, window exec, noop sink, janino +
    // its own JIT). Profile.scala shows ~2.5-4s of session cold billed to
    // whichever query iterates first, independent of the query. Warm it
    // on the smallest table, untimed.
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val nation = spark.read.parquet(s"$sfDir/nation.parquet")
      nation
        .withColumn("rn", row_number().over(
          Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
        .write.format("noop").mode("overwrite").save()
      // broadcast-join machinery (exchange thread pool, HashedRelation),
      // Generate/explode, hash aggregate, and the range partitioner all
      // pay one-time init + janino costs too — touch each once so the
      // first measured query that uses them isn't billed for it
      nation
        .select(col("n_nationkey"), explode(split(col("n_comment"), " ")).as("w"))
        .join(broadcast(nation.select(col("n_nationkey").as("k"))),
          col("n_nationkey") === col("k"))
        .groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy("w")
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    } catch { // warmup must never fail the bench — but fatal JVM errors must still surface
      case scala.util.control.NonFatal(_) => ()
    }
    // Throttle canary (r8 verdict task 3): this box has a multi-minute
    // throttle duty cycle that inflates whole runs ~1.25-1.3x uniformly.
    // A fixed CPU-bound probe (constant work, no I/O, codegen'd) timed
    // before and after the board gives the reader an absolute box-speed
    // reference: compare canary times ACROSS rounds to normalize window
    // inflation out of round-over-round totals, and before-vs-after to
    // see whether the window shifted mid-run. min-of-2 per side absorbs
    // GC blips without hiding the (minutes-long) throttle signal.
    def canaryOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id % 7)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Second canary mode (r9): a fixed-work SHUFFLE probe. The r9
    // clean-vs-slow window comparison showed the CPU canary steady
    // (0.18-0.22s) while the board inflated 1.53x uniformly — the
    // throttle hits shuffle/spill I/O, not arithmetic, so a
    // exchange-crossing probe is the one that tracks board inflation.
    def canaryShuffleOnce(): Double = {
      val t0 = System.nanoTime()
      // ~1M distinct keys so map-side partials can't collapse the
      // exchange: tens of MB genuinely cross the shuffle machinery
      spark.range(20000000L).selectExpr("id % 1048573 AS k", "id AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
        .selectExpr("sum(s)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    canaryOnce() // untimed: pays the probe's own janino compile
    canaryShuffleOnce()
    val canaryBefore = math.min(canaryOnce(), canaryOnce())
    val canaryShufBefore = math.min(canaryShuffleOnce(), canaryShuffleOnce())
    // Per-decile shuffle canaries (r10 verdict task 2): the r10 artifact's
    // before/after pair (1.09 -> 10.43) proved the throttle can degrade
    // MID-run, leaving no way to tell which timings it touched. One shuffle
    // probe after every ~10% of the board stamps the box's I/O speed along
    // the run, so a reader can see exactly which stretch of queries ran
    // throttled instead of guessing from two endpoints. Cost: ~10 probes of
    // ~0.3-0.5s against a ~2-minute board.
    val canaryTrack = scala.collection.mutable.ArrayBuffer.empty[Double]
    val errors = scala.collection.mutable.Map.empty[String, String]
    // min of 2 runs per query: run 1 pays one-time janino/JIT compilation
    // of that query's operator shapes (measured 2-10x of steady state and
    // noise-dominated on this box); run 2 is the engine's steady-state
    // throughput — the number that scales to a long-running deployment.
    // The min also absorbs transient box noise (GC, page-cache churn).
    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // noop sink: fully evaluates every output column (count() would
      // let Catalyst prune projections), writes nothing
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable =>
          // a broken query must never masquerade as a fast one
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          System.err.println(s"[bench] $name FAILED: ${errors(name)}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // drop any intermediates a query persisted, so cached blocks from
      // one query don't add memory/GC pressure to the next measurement
      spark.catalog.clearCache()
      dt
    }
    val decileEvery = math.max(1, SparkEntry.queries.size / 10)
    val firstPass = SparkEntry.queries.zipWithIndex.map { case ((name, fn), i) =>
      if (i % decileEvery == 0) canaryTrack += canaryShuffleOnce()
      name -> (1 to 2).map(_ => timeOnce(name, fn))
    }
    // The box shows a multi-minute throttle duty cycle (README noise
    // note): a query's back-to-back runs can BOTH land in a bad window
    // minutes long, so its min still reads inflated. One more pass in a
    // LATER window (after the rest of the board has run) covers the two
    // cases where that matters: the slow tail (dominates the total) and
    // any query whose two timings disagree >1.5x (noise-suspect — r7's
    // phantom "regressions" were sub-second queries whose pair of runs
    // shared a bad window; min-of-2 alone can't see that). Bounded
    // extra cost: unstable queries are mostly sub-second.
    val results = firstPass.map { case (name, times) =>
      if (errors.contains(name)) name -> times.max
      else {
        val t = times.min
        val unstable = times.max > times.min * 1.5
        if (t > 2.0 || unstable)
          name -> math.min(t, timeOnce(name, SparkEntry.queries(name)))
        else name -> t
      }
    }
    // millisecond precision keeps the line short (full-precision doubles
    // nearly tripled it and overflowed the driver's tail capture in r5)
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    def q(s: String): String =
      "\"" + s.flatMap { c => if (c == '"' || c == '\\') "\\" + c else if (c < ' ') " " else c.toString } + "\""
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val canaryAfter = math.min(canaryOnce(), canaryOnce())
    val canaryShufAfter = math.min(canaryShuffleOnce(), canaryShuffleOnce())
    val canary = s"""{"before":${fmt(canaryBefore)},"after":${fmt(canaryAfter)},"ratio":${fmt(
      if (canaryBefore > 0) canaryAfter / canaryBefore else 1.0)},"shuffle_before":${fmt(
      canaryShufBefore)},"shuffle_after":${fmt(canaryShufAfter)},"shuffle_track":${
      canaryTrack.map(fmt).mkString("[", ",", "]")}}"""
    // prove the core-count contract in the emitted line: the driver's
    // low-core probe compares 8c vs 32c runs, and at sf0.1 every query is
    // overhead-bound (8c ≈ 32c — janino compile, job scheduling, min-of-2
    // timing dominate), which is indistinguishable from an ignored env var
    // unless the JSON itself records what the session ran with
    val parallelism = spark.sparkContext.defaultParallelism
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpus,"parallelism":$parallelism,"queries":$qs,"errors":$errJson,"canary":$canary,"sf":"$sfDir"}"""
    // durable copy the driver (or a human) can read even if stdout is
    // truncated; r5's report was lost to exactly that
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case scala.util.control.NonFatal(_) => () }
    // stop Spark BEFORE printing so no shutdown log noise lands after the
    // JSON line in a tail-based capture window
    spark.stop()
    println(json)
    // The full line above overflows a tail-based capture window once the
    // query board is large (r6: front of the line cut, parse failed), so
    // the LAST stdout line is a short summary that always fits: total +
    // errors + the slowest 20 queries. The complete per-query set lives
    // in bench_out.json and the full line above.
    val slowest = results.toSeq.sortBy(-_._2).take(20)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","cpus":$cpus,"parallelism":$parallelism,"queries":$slowest,"errors":$errJson,"canary":$canary,"sf":"$sfDir"}""")
  }
}
