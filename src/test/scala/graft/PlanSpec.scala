package graft

import graft.queries.{AnalyticsQueries, TextQueries}

/** Plan-shape regression tests: the scale properties we rely on
  * (pushdown, pruning, broadcast of dims, no unpartitioned windows,
  * no gram-table shuffle) must be visible in the optimized plans —
  * a regression here is a 100 TB problem long before it is a local
  * slowdown.
  */
class PlanSpec extends SparkSuite {
  private val sf = SparkSuite.sf0001

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q3: dim filter pushed to scan, joins broadcast, lineitem pruned") {
    val plan = planOf(AnalyticsQueries.q3Revenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      "mktsegment filter must reach the customer scan")
    // projection pruning: only the 3 needed lineitem columns are read
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>"),
      s"lineitem scan must be pruned to 3 columns:\n$plan")
  }

  test("sessionize: windows share one user partitioning, no global window") {
    val plan = planOf(AnalyticsQueries.sessionize(spark, sf))
    assert(!plan.contains("Window [") || plan.contains("windowspecdefinition(user_id"),
      "session windows must partition by user_id")
    // both window functions + the aggregate reuse ONE hash exchange on user_id
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges == 1, s"expected exactly one user_id exchange, plan:\n$plan")
  }

  test("minhash gram table plans with no shuffle before the signature aggregate") {
    import org.apache.spark.sql.functions._
    // grams come from the native expression: scan -> generate -> partial agg;
    // the ONLY exchange below the signature aggregate is the doc_id one
    val grams = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).as("g"))
    val mh = udaf(graft.functions.MinHashBandAggregator)
    val sig = grams
      .withColumn("gh", xxhash64(col("g")))
      .groupBy("doc_id")
      .agg(mh(col("gh")).as("bh"))
    val plan = planOf(sig)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"gram->signature path must shuffle exactly once:\n$plan")
    assert(plan.contains("word_ngrams"), "native expression must appear in the plan")
    assert(plan.contains("partial_minhashbandaggregator"),
      "signature aggregate must have a map-side partial phase")
  }

  test("decontamination: corpus side joins the broadcast gram set, no corpus-gram shuffle") {
    val plan = planOf(TextQueries.decontaminate(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"held-out gram set must broadcast:\n$plan")
    // exactly one gram-keyed exchange is legal: the BENCHMARK side's
    // distinct (metadata-scale, feeding the broadcast build). The
    // exploded corpus gram stream must never shuffle.
    val gramExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(g#"))
    assert(gramExchanges <= 1, s"corpus grams must not shuffle:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"bench gram set must feed a broadcast build:\n$plan")
  }

  test("stratified sample: scan-side filter, no exchange before the output sort") {
    val plan = planOf(TextQueries.stratifiedSample(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"hash sampling must be shuffle-free:\n$plan")
    // only doc_id and source are needed from the scan
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"scan must be pruned to (doc_id, source):\n$plan")
  }

  test("clean corpus: one fingerprint exchange, contamination anti join broadcasts") {
    val plan = planOf(TextQueries.cleanCorpus(spark, sf))
    assert(plan.contains("windowspecdefinition(fingerprint"),
      s"dedup survival must be the fingerprint-partitioned window:\n$plan")
    // the signal scan + dedup window share ONE narrow-row exchange on
    // the main path (the other exchanges live inside the metadata-scale
    // broadcast subtrees), and the doc_id semi join is gone entirely
    val fpExchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning(fingerprint"))
    assert(fpExchanges == 1, s"expected exactly one fingerprint exchange:\n$plan")
    assert(!plan.contains("LeftSemi"), s"doc_id semi join must be fused away:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown must prune the window map-side:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"output-scale contaminated set must broadcast into the anti join:\n$plan")
  }

  test("bloom decontamination probes scan-side, below the exact broadcast join") {
    val plan = planOf(TextQueries.decontaminateBloom(spark, sf))
    assert(plan.contains("might_contain"),
      s"bloom probe must appear in the corpus-side filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"exact verification must stay a broadcast join:\n$plan")
    // the probe is a Filter under the join build side — corpus grams
    // still never shuffle (same invariant as exact decontamination)
    val gramExchanges = plan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning(g#"))
    assert(gramExchanges <= 1, s"corpus grams must not shuffle:\n$plan")
  }

  test("cosine expr pairs: codegen'd expression inside a broadcast join, no hash exchange") {
    // r7 showed a 3x timing swing with an unchanged plan — these pins
    // make a future plan-shape change fail a test instead of leaving a
    // bench delta ambiguous between noise and regression
    val plan = planOf(graft.queries.SimilarityQueries.cosineExprPairs(spark, sf))
    assert(plan.contains("cosine_similarity"),
      s"native expression must stay in-plan (no mapPartitions boundary):\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 50-row self-pair join must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"pair scoring must be shuffle-free before the output sort:\n$plan")
  }

  test("order ranks: all four rank functions fuse into one window on one custkey exchange") {
    val plan = planOf(AnalyticsQueries.orderRanks(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning(o_custkey"))
    assert(exchanges == 1, s"all window functions must reuse ONE custkey exchange:\n$plan")
    // all four rank functions share ONE Window node (same spec), not a
    // window-per-withColumn chain; percent_rank needs the full
    // partition, so a WindowGroupLimit can never apply here — the fused
    // single pass IS the optimal shape
    val windows = plan.linesIterator.count(_.trim.startsWith("+- Window"))
    assert(windows == 1, s"expected ONE fused Window node, got $windows:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>"),
      s"orders scan must be pruned to 3 columns:\n$plan")
  }

  test("df-prune applies the frequent set scan-side: no join in the pruning pass") {
    val plan = planOf(TextQueries.dfPrune(spark, sf))
    assert(!plan.contains("Join"),
      s"vocabulary-scale deny set must prune as a literal filter, not a join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"pruning must be shuffle-free before the output sort:\n$plan")
  }

  test("sequence packing: one source-keyed window exchange, nothing else") {
    val plan = planOf(TextQueries.packSequences(spark, sf))
    assert(plan.contains("windowspecdefinition(source"),
      s"prefix sum must partition by source:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one source exchange:\n$plan")
  }

  test("event cube: one grouping-sets expand, one aggregate exchange") {
    val plan = planOf(graft.queries.AnalyticsQueries.eventCube(spark, sf))
    assert(plan.contains("Expand"), s"cube must plan as a single Expand:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"grouping sets must aggregate in one shuffle:\n$plan")
  }

  test("grouping sets: single Expand aggregate equals the union of plain aggregates") {
    import org.apache.spark.sql.functions._
    val gs = graft.queries.AnalyticsQueries.eventGroupingSets(spark, sf)
    val plan = planOf(gs)
    assert(plan.contains("Expand"), s"grouping sets must plan as one Expand:\n$plan")
    val rows = gs.collect()
    val byType = graft.queries.AnalyticsQueries.eventStats(spark, sf)
      .groupBy("event_type").agg(sum("n").cast("long").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.filter(_.getInt(0) == 1)
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(got == byType, "gid=1 rows must be the per-type totals")
  }

  test("salted aggregate: two exchanges, output equals the single-phase plan") {
    val salted = graft.queries.AnalyticsQueries.eventStatsSalted(spark, sf)
    val plain = graft.queries.AnalyticsQueries.eventStats(spark, sf)
    val plan = planOf(salted)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"salted aggregation is exactly two shuffles:\n$plan")
    assert(plan.contains("salt"), s"salt must appear in the phase-1 keys:\n$plan")
    // exact DECIMAL partials merge losslessly: same rows out
    assert(salted.collect().toSeq == plain.collect().toSeq)
  }

  test("q6: all predicates pushed to the lineitem scan, no row shuffle") {
    val plan = planOf(AnalyticsQueries.q6Forecast(spark, sf))
    assert(plan.contains("PushedFilters:") && plan.contains("l_quantity"),
      s"quantity filter must reach the scan:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_discount") || plan.contains("l_discount,0.05"),
      s"discount band must reach the scan:\n$plan")
    // scalar aggregate: the only exchange is the single-partition merge of partials
    val rowExchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(rowExchanges == 0, s"q6 must not hash-shuffle any rows:\n$plan")
  }

  test("q17: per-part aggregate broadcasts back into the fact scan") {
    val plan = planOf(AnalyticsQueries.q17SmallQty(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"per-part avg must broadcast, never shuffle lineitem:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge join expected:\n$plan")
  }

  test("funnel: three chained windows reuse ONE user_id exchange") {
    val plan = planOf(AnalyticsQueries.funnel(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges == 1,
      s"stage windows + per-user aggregate must share one user shuffle:\n$plan")
  }

  test("interval union: two windows and two aggregates share ONE user_id exchange") {
    val plan = planOf(AnalyticsQueries.intervalUnion(spark, sf))
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges == 1,
      s"running-max/island windows + (user,island) + (user) aggregates " +
        s"must all reuse the window's user shuffle:\n$plan")
  }

  test("ohlc bars: one hash aggregate, no window and no sort below the output order") {
    val plan = planOf(AnalyticsQueries.ohlcBars(spark, sf))
    assert(!plan.contains("Window"), s"ohlc must not plan a window:\n$plan")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"ohlc is one (user, hour) aggregate exchange:\n$plan")
    assert(plan.contains("partial_min_by") || plan.contains("partial_min"),
      s"bar state must fold map-side (partial aggregation):\n$plan")
  }

  test("retention: cohort window and offset aggregate partition by user first") {
    val plan = planOf(AnalyticsQueries.retentionCohorts(spark, sf))
    assert(plan.contains("windowspecdefinition(user_id"),
      s"cohort min must partition by user_id:\n$plan")
  }

  test("pivot with explicit types: single aggregate, no values-inference job") {
    val df = AnalyticsQueries.eventTypePivot(spark, sf)
    val plan = planOf(df)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
    assert(exchanges == 1, s"pivot must be one conditional aggregate:\n$plan")
    assert(df.columns.toSeq ==
      Seq("user_id", "n_click", "n_error", "n_purchase", "n_signup", "n_view"))
  }

  test("vocab growth: global running sum only ever sees bucket-scale rows") {
    val df = TextQueries.vocabGrowth(spark, sf)
    val n = df.count()
    // 10-doc buckets: the unpartitioned window input is bounded by docs/10
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(n <= docs / 10 + 1, s"bucket rows must be corpus/10, got $n")
    // monotone vocabulary
    import org.apache.spark.sql.functions._
    val rows = df.orderBy("first_bucket").select("vocab_size").collect().map(_.getLong(0))
    assert(rows.sameElements(rows.sorted), "vocab size must be nondecreasing")
  }

  test("top-k aggregate has a map-side partial phase (bounded pre-shuffle state)") {
    val plan = planOf(AnalyticsQueries.topOrdersViaAggregate(spark, sf))
    assert(plan.toLowerCase.contains("partial_topkaggregator"),
      s"top-k must partially aggregate before the shuffle:\n$plan")
  }

  test("no registered query plans a cartesian product or nested-loop join") {
    // the global scale-safety net: a CartesianProduct or
    // BroadcastNestedLoopJoin anywhere in the 86-query surface is a
    // 100 TB incident regardless of how fast it runs at sf0.001.
    // Deliberate exceptions, all with literal-bounded build sides:
    // q_semi_anti crosses two ONE-ROW aggregates; g_window_period_from_
    // first broadcasts the one-row min-timestamp anchor (W1) into the
    // record scan; s_cosine_expr all-pairs both sides filtered to
    // vec_id < 50 at the scan (the expression-parity proof query).
    // allowed: joins whose build side is a 1-row aggregate (vocab size,
    // global counts) — a nested loop over one row is a broadcast scalar,
    // not a scale hazard
    // q11/q22: the scalar-subquery archetypes — the build side is the
    // decorrelated 1-row (total, count) aggregate, same class as the
    // vocab-size scalar in t_ngram_lm
    // t_kl_drift: the corpus-total scalar (1-row sum) broadcast into the
    // vocab-scale contribution join — same class
    // t_ppl_bucket: inherits t_ngram_lm's vocab-size scalar join
    // p_doremi_weights: crosses two 1-row aggregates (corpus mean,
    // weight normalizer) over the collected source-scale LocalRelation
    // e_trend_types: the global (min, max) time-bounds 1-row aggregate
    // broadcast into the event scan — same class as the W1 anchor
    // q_zorder_cells / q_zorder_prune: the per-column (min, max) rank
    // stats — ONE row broadcast into the lineitem scan, same class
    val allowed = Set("q_semi_anti", "g_window_period_from_first", "s_cosine_expr",
      "t_ngram_lm", "t_lm_probe", "p_dsir_sample", "q11_value_stock", "q22_dormant",
      "t_kl_drift", "t_bm25", "t_ppl_bucket", "p_doremi_weights", "e_trend_types",
      "q_zorder_cells", "q_zorder_prune")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (allowed(name)) None
      else {
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
          Some(name)
        else None
      }
    }
    assert(offenders.isEmpty, s"scale-unsafe join shapes in: $offenders")
  }

  test("no registered query plans a quadratic unbounded-following window frame") {
    // Spark executes a window frame whose UPPER bound is
    // unboundedFollowing but whose lower bound is NOT unboundedPreceding
    // (e.g. currentRow -> unboundedFollowing) with
    // UnboundedFollowingWindowFunctionFrame, which RESCANS from the
    // current row to the partition end for EVERY row — O(n^2) per
    // partition. This made e_resample_interp 35s (~25% of the whole
    // board) before round 10 replaced it with a descending-order running
    // frame. Whole-partition frames (unboundedPreceding ->
    // unboundedFollowing) are computed ONCE per partition
    // (UnboundedWindowFunctionFrame) and are safe — the three
    // source-cardinality uses in TextQueries pass untouched, so no
    // allowlist is needed: the ban keys on the frame shape itself.
    def quadraticFrames(plan: String): Seq[String] = {
      val marker = "specifiedwindowframe("
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = plan.indexOf(marker)
      while (i >= 0) {
        // extract the balanced-paren argument list
        var depth = 1
        var j = i + marker.length
        while (depth > 0 && j < plan.length) {
          plan(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          j += 1
        }
        val body = plan.substring(i + marker.length, j - 1)
        // split top-level args: (frameType, lower, upper)
        val args = scala.collection.mutable.ArrayBuffer.empty[String]
        var d = 0; val sb = new StringBuilder
        body.foreach {
          case '(' => d += 1; sb += '('
          case ')' => d -= 1; sb += ')'
          case ',' if d == 0 => args += sb.result().trim; sb.clear()
          case c => sb += c
        }
        args += sb.result().trim
        if (args.length == 3 &&
            args(2).startsWith("unboundedfollowing") &&
            !args(1).startsWith("unboundedpreceding"))
          out += args.mkString(", ")
        i = plan.indexOf(marker, j)
      }
      out.toSeq
    }
    // self-check: the detector must flag the exact shape it exists to ban
    assert(quadraticFrames(
      "Window [last(s, true) windowspecdefinition(u, h ASC, specifiedwindowframe(RowFrame, currentrow$(), unboundedfollowing$())) AS sn]").nonEmpty,
      "detector must catch currentRow -> unboundedFollowing")
    assert(quadraticFrames(
      "Window [sum(t) windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS tot]").isEmpty,
      "detector must pass whole-partition frames")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val frames = quadraticFrames(fn(spark, sf).queryExecution.executedPlan.toString)
      if (frames.nonEmpty) Some(s"$name: ${frames.mkString("; ")}") else None
    }
    assert(offenders.isEmpty,
      s"quadratic unbounded-following window frames in:\n${offenders.mkString("\n")}")
  }

  test("per-query shuffle budget: no query exceeds its recorded exchange count") {
    // the shuffle ledger: every query's hashpartitioning-exchange count,
    // recorded at the plan shapes we deliberately built. A refactor that
    // ADDS a shuffle to any query fails here; improvements pass (<=).
    // Regenerate with `runMain graft.tools.PlanCounts` after intentional
    // plan changes.
    val budget = Map(
      "d_decontam" -> 2, "d_decontam_bloom" -> 2, "d_dedup_exact" -> 1,
      "d_dedup_keep" -> 1, "d_df_prune" -> 0, "d_dup_by_source" -> 2,
      "d_dup_clusters" -> 0, "d_dup_clusters_lp" -> 0, "d_edit_dist" -> 0,
      "d_embed_neardup" -> 0,
      // day-bucketed interval-overlap join: ONE user exchange serves the
      // session windows, the per-session aggregate, and (via broadcast
      // of the error windows) the bucket join
      "q_interval_overlap" -> 1,
      // cluster argmax: clusters broadcast into the quality scan, one
      // aggregate exchange
      "d_dedup_best" -> 1,
      // prefix-bounded inverted-index join (PPJoin+-style asymmetric
      // bound on the overlap coefficient); the df table broadcasts, so
      // the exchange count matches the unfiltered form while the
      // quadratic bucket term is capped by prefix rarity
      "d_containment" -> 3,
      // new-vs-corpus band probe + distinct + verify joins
      "d_dedup_incremental" -> 1,
      // guarded probe collects the (output-scale) pairs first, so the
      // returned plan is just broadcast embedding lookups off a
      // LocalRelation — zero exchanges (was 3 when the LSH subtree
      // re-planned inside the forced broadcast)
      "d_hybrid_verify" -> 0,
      // corpus-trained counts tables + left scoring joins + per-doc agg
      "t_lm_probe" -> 4,
      // guarded probe collects the (output-scale) pairs first, so the
      // folded plan is just the source-matrix aggregate
      "d_overlap_matrix" -> 1,
      // bigram window + two counts tables + two scoring joins + per-doc
      // aggregate — the classic count-then-join LM pipeline; every
      // exchange is vocab- or doc-keyed, nothing corpus-quadratic
      "t_ngram_lm" -> 4,
      "p_split_assign" -> 0,
      // single scan + rule-key aggregate
      "p_filter_report" -> 1,
      // fingerprint first-occurrence aggregate + fp join; chunk text
      // reduces to md5 scan-side, so both exchanges carry 32-char
      // fingerprints + ids, never tokens
      "d_chunk_dedup" -> 2,
      // corpus fp distinct + fingerprint-keyed probe join, new-vs-corpus
      // only — no corpus-corpus chunk work
      "d_chunk_incremental" -> 2,
      // band census over the collected pair set: one tiny aggregate on
      // top of the hybrid-verify LocalRelation plan
      "d_threshold_calib" -> 1,
      // source-keyed percentile bounds (metadata-scale) broadcast back
      // into the corpus scan
      "p_adaptive_len" -> 1,
      // (source, term) frequency + vocab rollup, map-side partials
      "t_hapax" -> 2,
      // part dim prunes + broadcasts; common quantity band pushes to
      // the fact scan; residual OR evaluates post-join — zero exchanges
      "q19_disjunct" -> 0,
      // promo + total revenue from ONE scalar aggregate over one scan
      "q14_promo" -> 0,
      // supplier side broadcasts; customer side shuffles orders on
      // custkey then meets the fact on orderkey; final aggregate
      "q7_bilateral" -> 3,
      // fact side reduces to customer grain before the dim joins
      "q10_returns" -> 1,
      // both-prefix ssjoin: 4 exchanges but each carries a 0.2-sized
      // prefix table — the single-prefix form's 2 exchanges included
      // shuffling the FULL gram table into the candidate join (count
      // is not bytes; this is the deliberate trade)
      "d_jaccard_prefix" -> 4, "d_minhash_lsh" -> 3,
      // d_ngram_jaccard 3 -> 4: the bucket-grouped pair expansion trades
      // the broadcast self-join (double gram compute; would be TWO
      // corpus shuffles as sort-merge at scale) for one gram exchange —
      // one more exchange here, strictly fewer at corpus scale
      "d_ngram_jaccard" -> 4, "d_simhash" -> 4, "d_simhash_wide" -> 4,
      "e_anomaly_zscore" -> 2,
      "m_phash_neardup" -> 2, "m_phash_wide" -> 4,
      "t_kl_drift" -> 7, "t_quality_lr" -> 0,
      "t_bm25" -> 6,
      // training passes run at construction; the returned plan is
      // scan -> project -> sort, zero hash exchanges
      "s_pca_project" -> 0,
      // e_approx_quantiles: +1 for the gate's rank-verdict aggregate
      // (the 5-row estimate broadcasts back into the events scan)
      "e_approx_distinct" -> 2, "e_approx_quantiles" -> 2, "e_event_cube" -> 1,
      // cusum: hourly aggregate + the shared type-keyed window exchange;
      // burst: range frame + argmax share the ONE user-keyed exchange
      "e_cusum_changepoint" -> 2, "e_burst_detect" -> 1,
      // readability: one source-keyed aggregate, in-row string algebra
      "t_readability" -> 1,
      // mips: broadcast-probe scan + one ranking-window exchange
      "s_mips_topk" -> 1,
      // b-bit calibration: the prefix-bounded jaccard pair plan (3) +
      // the two pair-side joins over the in-row signature pass (the
      // double-hashed minima fold needs no exchange of its own)
      // 5 -> 6 in r13: the calibration pivot adds one hash exchange over
      // pairs x 64 rows (output-scale) in return for removing TWO
      // broadcast builds of the corpus-scale docs x 64 signature table
      "d_bbit_minhash" -> 6,
      // ohlc: ONE (user, hour) hash aggregate, min_by/max_by carry the
      // bars — no window, no sort; twap: the lead window and the
      // per-user aggregate share one user exchange; interval_union:
      // running-max + island windows AND both downstream aggregates
      // ((user, island), then (user)) all cluster on supersets of the
      // window's user_id partitioning — one exchange for four stages
      "e_ohlc" -> 1, "e_twap" -> 1, "e_interval_union" -> 1,
      // seasonal baseline: the (type, hod) aggregate + its tiny
      // per-type window (both metadata-scale), then the one fact-grain
      // type aggregate; the baseline joins back as a BROADCAST — the
      // fact table crosses exactly one of the three exchanges
      "e_seasonal_baseline" -> 3,
      "e_event_gaps" -> 1, "e_event_rollup" -> 1, "e_event_stats" -> 1,
      "e_event_stats_salted" -> 2, "e_funnel" -> 1, "e_grouping_sets" -> 1,
      "e_json_props" -> 1, "e_moving_stats" -> 1, "e_moving_median" -> 1,
      "e_resample_ffill" -> 2,
      "e_retention" -> 2, "e_session_window" -> 1, "e_sessionize" -> 1,
      "e_type_pivot" -> 1, "e_users_except" -> 2, "e_users_intersect" -> 2,
      "e_value_histogram" -> 1, "e_value_quantiles" -> 1,
      "g_backup_roundtrip" -> 0, "g_backup_roundtrip_gz" -> 0,
      "g_compact_latest" -> 1, "g_ingest_project" -> 1, "g_key_prefilter" -> 0,
      "g_offset_commit" -> 1, "g_replay_filter" -> 2, "g_restore_filter" -> 1,
      "g_slice_stats" -> 2, "g_topic_rename" -> 1, "g_window_boundaries" -> 1,
      "g_window_hour" -> 1, "g_window_period_from_first" -> 1,
      "m_frame_sample" -> 0, "m_media_features" -> 0, "m_media_meta" -> 0,
      "p_clean_corpus" -> 3, "p_mix_order" -> 1, "p_pack_sequences" -> 1,
      // bounded top-k aggregate: the exchange carries k rows per source
      // per map partition, never the corpus
      "p_quota_sample" -> 1,
      "p_sample_stratified" -> 0, "q17_small_qty" -> 1, "q18_large_orders" -> 1,
      "q1_pricing" -> 1, "q3_revenue" -> 1, "q4_order_priority" -> 1,
      "q5_nation_revenue" -> 1, "q6_forecast" -> 0,
      // Q2: the repartition(partkey) exchange is the ONLY one — the
      // (part,supp) aggregate, the per-part window min, and the tie
      // filter all satisfy their distributions on it (subset clustering)
      "q2_min_cost" -> 1,
      // one fact pass each; dims broadcast, share/total from sum(when)
      "q8_market_share" -> 3, "q9_profit" -> 1,
      // scalar-subquery archetypes: per-key aggregate + 1-row threshold
      "q11_value_stock" -> 2, "q12_ship_delay" -> 1, "q13_order_dist" -> 2,
      "q15_top_supplier" -> 1, "q16_supplier_cnt" -> 2,
      "q20_qty_concentration" -> 3, "q21_late_supplier" -> 3,
      "q22_dormant" -> 1,
      // SemDeDup with exact-duplicate collapse: the corpus crosses an
      // exchange twice ((cell,q) rep window + member/candidate rejoin
      // on rep, both narrow rows); the remaining exchanges carry
      // rep- or output-scale frames (rep pair join, keeper aggregate).
      // Bought deliberately: the old single cell join materialized
      // quadratic pairs on dense cells (DegenerateSpec pins the bound)
      "d_semdedup" -> 7,
      // incremental probe: corpus rep window + new-vs-rep cell join
      "d_semdedup_incr" -> 2,
      // one aggregate; payload bytes never shuffle
      "m_media_dedup" -> 1,
      // eval compares of top-k-scale frames, one per index variant
      // (ivf, pq, ivfpq); each variant carries its own window exchange
      "s_recall_eval" -> 6,
      // one source-grain aggregate; totals via a global window over the
      // source-cardinality rows (single partition, metadata-scale)
      "p_epoch_plan" -> 1,
      // native as-of join (round 10/11): the dimension-sized orders
      // side auto-selects the BROADCAST-INDEX path — the events fact
      // table pays NO exchange at all (q_asof_order/nearest -> 0);
      // q_asof_forward is pinned to the merge path (broadcast=false)
      // to keep its SMJ-style two-side-local-exchange shape gated;
      // q_asof_bucketed reads bucket-aligned tables through the merge
      // exec with ZERO exchanges; q_asof_global's one exchange is the
      // day-cardinality census aggregate feeding the broadcast;
      // q_asof_salted (round 12) is the skew posture — the merge's two
      // side-local exchanges, now hashing (key, salt)
      "q_asof_order" -> 0, "q_asof_forward" -> 2, "q_asof_nearest" -> 0,
      "q_asof_bucketed" -> 0, "q_asof_global" -> 1, "q_asof_salted" -> 2,
      // q_range_join (round 12): routed through IntervalJoin.containsCount
      // — the counts↔orders join-back is gone, one exchange remains
      "q_order_ranks" -> 1, "q_price_deciles" -> 1, "q_range_join" -> 1,
      // z-order gates: the 1-row stats broadcast adds no hash exchange;
      // one aggregate exchange on the cell census each
      "q_zorder_cells" -> 1, "q_zorder_prune" -> 1,
      // pre-flight jobs run eagerly; the returned verdict frame is a
      // one-row LocalRelation
      "q_join_preflight" -> 0,
      "q_revenue_share" -> 1, "q_semi_anti" -> 0, "q_full_outer" -> 2,
      "q_first_order" -> 1,
      "q_top_orders_per_customer" -> 1, "q_topk_partial" -> 1,
      "s_ann_ivf" -> 1, "s_ann_lsh" -> 1,
      "s_ann_topk" -> 1, "s_ivf_trained" -> 1, "s_cosine_expr" -> 0,
      "s_knn_classify" -> 3,
      "t_bpe_pairs" -> 2, // word-count agg + pair agg; expansion in-row over the vocab
      "t_char_entropy" -> 2, "t_corpus_stats" -> 2, "t_fingerprint" -> 0,
      "t_langid" -> 0, "t_quality" -> 0, "t_redact" -> 0, "t_repetition" -> 0,
      "t_rolling_fp" -> 0, "t_tfidf" -> 3, "t_tokens" -> 0, "t_top_terms" -> 1,
      "t_vocab_growth" -> 2,
      // gram-min / gram-df table broadcasts back into the exploded gram
      // stream (vocab-bounded build side): the corpus-scale grams never
      // shuffle; one aggregate + one doc-keyed output exchange
      "t_novelty" -> 2, "t_boilerplate" -> 2,
      // one source-tagged bigram stream, conditional counts for both
      // LMs in single passes: window + c2 + c1 + vocab + scoring joins
      // + doc agg, every exchange vocab- or doc-keyed
      "p_dsir_sample" -> 7,
      // codebooks train on a driver-collected 16x16 table; scoring is
      // one mapPartitions over codes + the query-window exchange
      "s_ann_pq" -> 1,
      // coarse cells prune candidates before the same fused ADC pass;
      // still just the query-window exchange
      "s_ann_ivfpq" -> 1,
      // (doc,bigram) count + per-doc max; both narrow-row aggregates
      "t_top2gram" -> 2,
      // (doc,gram) multiplicity window + two-phase distinct-position
      // count; positions are ints, grams never leave their doc key
      "t_dupgram_cover" -> 3,
      // fingerprint survivor window + source-keyed conditional aggregate
      "p_curation_funnel" -> 2,
      // centroid sums aggregate at construction (labels x 64 rows);
      // the returned frame is a LocalRelation sort
      "s_embed_drift" -> 0,
      // population + rank windows share one cell-keyed exchange;
      // quantizer training runs at construction
      "p_cluster_sample" -> 1,
      "t_winnow" -> 0, // hash/select/digest all in-row; only the output sort exchanges
      // winnowed inverted-index census: ONE capped-collect aggregate on
      // h (df + collectible bucket in one pass) + the pair aggregate;
      // the third printed exchange is the persisted aggregate's
      // materialization subtree re-printed under the routing read.
      // NOTE: the routing decision is EAGER at construction, so these
      // counts assume no bucket in the ledger corpus overflows
      // winnowMaxBucket — a data change that overflows one adds the hot
      // self-join arm's exchanges and fails this budget loudly, which
      // is intended (same for d_substring_scrub's posting cap)
      "d_winnow_overlap" -> 3,
      // capped variant: same skeleton (the df filter is free)
      "d_winnow_capped" -> 3,
      // pair core planned ONCE (r15: in-row explode symmetrize replaced
      // the unionAll that printed the whole core per arm): census +
      // pair aggregate + bounded TopK aggregate, plus the persisted
      // census subtree re-printed under the routing read
      "d_winnow_topk" -> 4,
      // the LSH pipeline's exchanges unchanged: split membership is
      // column algebra of the pair ids, zero added joins
      "d_split_leak" -> 3,
      // one event_type aggregate; the decay anchor is a driver scalar
      "e_decay_sum" -> 1,
      // per-quality-bucket cumulative window (the histogram pass runs at
      // construction); bucket offsets broadcast
      "p_token_budget" -> 1,
      // broadcast labeled-query scan + the query-window exchange
      "s_hard_negatives" -> 1,
      // ngramLm's 6 count-then-join exchanges + the per-score tie-break
      // window + the decile aggregate; the rank itself comes from the
      // broadcast histogram offsets, never a global sort
      "t_ppl_bucket" -> 6,
      // weight algebra over a collected source-scale LocalRelation —
      // the one corpus pass runs at construction
      "p_doremi_weights" -> 0,
      // gram multiplicity agg (partials absorb boilerplate-gram skew)
      // + per-doc cover collect; the mark join broadcasts. r15 built
      // and A/B-rejected a one-pass posting-census form (tools/R15Ab,
      // deleted; source at commit 60fc5df:
      // 1.4-1.6x slower — typed-buffer aggregate over every occurrence
      // beats the saved second derivation only in the winnowed family)
      "d_substring_scrub" -> 2,
      // + the corpus index aggregate on the probe path, + the dup-set
      // union distinct (output-scale rows) — bought so the probe's
      // corpus check builds on the BROADCAST batch-gram set and the
      // index itself never crosses an exchange
      "d_scrub_incremental" -> 4,
      // one hash aggregate, same shape as d_dedup_keep
      "d_dedup_norm" -> 1,
      // bounded global top-k: single-partition exchange only, never a
      // hashpartitioning of the corpus
      "p_sample_weighted" -> 0,
      // (label, dim) centroid sums + vec-keyed distance agg + label
      // top-k aggregate; the sums rejoin via broadcast
      "s_embed_outliers" -> 3,
      // vocab distinct (the word-cache build) + (doc, word) counts +
      // doc aggregate — the encode UDF only ever sees the vocab frame
      "t_bpe_encode" -> 3,
      // two-phase countDistinct keyed (source, gram) then source
      "t_diversity" -> 2,
      // doc-scale marker aggregate + the |langs|^2-cell share window
      "t_lang_confusion" -> 2,
      // candidate re-count only: the MG sketch pass is a k-bounded
      // single-partition fold, the exact pass aggregates <= k terms
      "t_heavy_hitters" -> 1,
      // (source, term) counts + the vocab-scale rank window; the
      // 50-row-per-source regression adds no corpus exchange
      "t_zipf_fit" -> 2,
      // one source-grain aggregate; phase normalizations are windows
      // over source-cardinality rows
      "p_anneal_plan" -> 1,
      // scan-side 4-byte prefix compares + one cells-scale aggregate
      "m_media_sniff" -> 1,
      // one token-count aggregate; α-normalizations are windows over
      // source-cardinality rows
      "p_temperature_mix" -> 1,
      // (source, token) counts then the source-grain entropy identity
      // H = ln N - (Σ c ln c)/N — no join back, no vocab window
      "t_word_entropy" -> 2,
      // broadcast benchmark matrix, one corpus pass, hit-scale output
      "d_decontam_semantic" -> 0,
      // (cell, label) counts + per-cell majority window; training
      // exchanges live in eager collects outside this plan
      "s_cluster_purity" -> 2,
      // scoring pass over probed cells + the per-query top-k window;
      // train/assign are eager collects outside this plan
      "s_ivf_probe" -> 1,
      // two-phase prefix sum: the one co-location repartition by bin;
      // bounds + bin subtotals are eager metadata-scale collects
      "m_shard_pack" -> 1,
      // prefix-sum repartition + the shards-scale manifest aggregate
      "m_shard_manifest" -> 2,
      // one posexplode + dim-keyed moment aggregate (64 groups)
      "s_dim_stats" -> 1,
      // broadcast-centroid assignment + one cell-partitioned window;
      // training exchanges live in eager collects outside this plan
      "s_cell_reps" -> 1,
      // 3 real exchanges (distinct grams, per-gram source sets, pair
      // aggregate) behind a persist; the plan STRING shows the cached
      // subtree under both branch reads, so the ledger sees 2x3
      "t_source_overlap" -> 6,
      // top-10 window + per-(dims, query) set aggregate; both branches
      // of the overlap join re-list the same window subtree
      "s_matryoshka" -> 2,
      // (doc, band) min signatures, bucket counts, band stats — no
      // pair stage, that's the point
      "d_bucket_stats" -> 3,
      // both top-10 rankings ride ONE query-partitioned window
      // exchange; overlap is a filter-count, no join
      "s_binary_quant" -> 1,
      // frame-keyed count (fingerprints shuffle, payloads don't) +
      // single-row rollup
      "m_frame_dedup" -> 1,
      // per-source aggregate + (source, lang) counts + the per-source
      // argmax window's re-key; the final join broadcasts at source
      // cardinality
      "p_data_card" -> 4,
      // (nprobe, query) top-5 window + set aggregate; train/assign
      // are eager collects outside this plan
      "s_ivf_curve" -> 2,
      // hourly aggregate + grid bounds; both direction scans ride one
      // user-partitioned window exchange, same as ffill
      "e_resample_interp" -> 2,
      // one (subspace, code) error aggregate; codebook training is an
      // eager collect outside this plan
      "s_pq_distortion" -> 1,
      // gram df-count (vocab-scale, map-side partials) + the <= 11
      // group histogram
      "d_dup_spectrum" -> 2,
      // metadata-scale bounds broadcast + one type-keyed count
      "e_trend_types" -> 1,
      // user window for lead pairs, types^2 matrix aggregate, and the
      // from-type probability window over matrix-scale rows
      "e_type_transitions" -> 3,
      // two retrieval rank windows (50/query/list), the list-scale
      // fusion join, and the fused top-5 window
      "s_hybrid_rrf" -> 5,
      // broadcast-query label-filtered scoring pass + one top-5 window
      "s_ann_filtered" -> 1,
      // static count; at runtime the persisted day-scale sketch frame
      // computes once, so the executed exchanges are 5: per-day sketch
      // agg, (day,user) distinct, countDistinct's two phases, window
      // union agg — the day-anchor broadcasts re-print its lineage here
      "e_rolling_distinct" -> 7,
      // static count over the persisted gram table's re-printed lineage;
      // at runtime 4: gram distinct, per-gram source sets, pair agg,
      // per-source (count, sketch) agg — both per-source broadcasts
      // reuse the cache
      "t_overlap_sketch" -> 7,
      // same skeleton over 4-grams with theta sketches — same ledger
      "t_overlap_theta" -> 7,
      // per-(type, day) sketch agg, per-type merge agg, rank-verdict agg
      // (the 5-row estimate table broadcasts back into the scan)
      "e_kll_quantiles" -> 3)
    val over = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange hashpartitioning"))
      budget.get(name) match {
        case Some(b) if n > b => Some(s"$name: $n > $b")
        case None => Some(s"$name: not in ledger (add it: $n)")
        case _ => None
      }
    }
    assert(over.isEmpty, s"shuffle budget exceeded:\n${over.mkString("\n")}")
  }

  test("restore record filters reach the decode, no shuffle in restore") {
    val dir = tmpDir("planspec-backup")
    val in = graft.queries.GuardianQueries.records(spark, sf).limit(100)
    graft.backup.BackupEngine.backupBatch(in, dir,
      graft.model.ChronoUnitSlice(java.time.temporal.ChronoUnit.DAYS))
    val plan = planOf(graft.restore.RestoreEngine.restore(spark, dir, Set("events")))
    assert(!plan.contains("Exchange"), s"restore must not shuffle:\n$plan")
    assert(plan.contains("isnotnull(topic") || plan.contains("topic"), "topic filter present")
  }
}
