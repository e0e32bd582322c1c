package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.plans.{AsOfJoin, AsOfJoinExec}
import graft.queries.AnalyticsQueries

/** The native backward as-of join (custom LogicalPlan + Strategy +
  * merge SparkPlan, GraftExtensions-injected): crafted semantics, the
  * cross-implementation equality against the union+window form, and
  * the plan shape the operator exists for.
  */
class AsOfJoinSpec extends SparkSuite {
  import spark.implicits._

  private def leftDf = Seq(
    (1L, 10L, "a"), (1L, 20L, "b"), (1L, 35L, "c"),
    (2L, 10L, "d"), // key with no right rows at all
    (3L, 5L, "e")   // right rows exist but all AFTER this time
  ).toDF("k", "t", "tag")

  private def rightDf = Seq(
    (1L, 10L, 100L, 1.5), (1L, 10L, 101L, 2.5), // tie on time: 101 wins
    (1L, 30L, 102L, 3.5),
    (3L, 50L, 103L, 4.5)
  ).toDF("k", "rt", "rid", "v")

  test("backward semantics: last match at-or-before, tie by tiebreak, nulls when none") {
    val l = leftDf
    val r = rightDf
    val out = AsOfJoin.backward(l, r,
      leftKeys = Seq(l("k")), rightKeys = Seq(r("k")),
      leftTime = l("t"), rightTime = r("rt"),
      rightTiebreak = Seq(r("rid")))
      .select(col("tag"), col("rid"), col("v"))
      .as[(String, Option[Long], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(
      "a" -> ((Some(101L), Some(2.5))), // t=10: both time-10 rows match, higher rid wins
      "b" -> ((Some(101L), Some(2.5))), // t=20: still the time-10 match
      "c" -> ((Some(102L), Some(3.5))), // t=35: the time-30 row supersedes
      "d" -> ((None, None)),            // key 2: no right rows
      "e" -> ((None, None))))           // key 3: right row is in the future
  }

  test("tolerance drops matches older than time - tolerance") {
    val l = leftDf
    val r = rightDf
    val out = AsOfJoin.backward(l, r,
      leftKeys = Seq(l("k")), rightKeys = Seq(r("k")),
      leftTime = l("t"), rightTime = r("rt"),
      rightTiebreak = Seq(r("rid")), toleranceMs = Some(5L))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    // only matches within 5 time units survive: a (10-10=0), c (35-30=5)
    assert(out == Map(
      "a" -> Some(101L), "b" -> None, "c" -> Some(102L),
      "d" -> None, "e" -> None))
  }

  test("native operator equals the union+window formulation on sf0.001") {
    val native = AnalyticsQueries.asofJoin(spark, SparkSuite.sf0001)
      .collect().map(_.toSeq).toSeq
    val window = AnalyticsQueries.asofJoinViaWindow(spark, SparkSuite.sf0001)
      .collect().map(_.toSeq).toSeq
    assert(native.nonEmpty)
    assert(native == window, "custom node diverged from the window oracle")
  }

  private def flatPlan(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatPlan(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => flatPlan(q.plan)
    case other => other +: other.children.flatMap(flatPlan)
  }

  test("merge plan shape: AsOfJoinExec over two side-local exchanges, no window") {
    // the merge-pinned backward join (broadcast = Some(false)): the
    // path a beyond-threshold right side takes. Backward at sf0.001
    // has known matches (forward may legitimately have none when every
    // event postdates the last order)
    val evT = graft.model.Tables.pq(spark, SparkSuite.sf0001, "events")
      .selectExpr("user_id", "ts div 1000000 AS ts_ms", "event_id")
    val ordT = graft.model.Tables.pq(spark, SparkSuite.sf0001, "orders")
      .selectExpr("o_custkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS odate_ms", "o_orderkey")
    val df = AsOfJoin.backward(evT, ordT,
      Seq(evT("user_id")), Seq(ordT("o_custkey")), evT("ts_ms"), ordT("odate_ms"),
      Seq(ordT("o_orderkey")), broadcast = Some(false))
      .select(col("event_id"), col("o_orderkey"))
      .orderBy("event_id")
    df.collect() // finalize AQE
    val nodes = flatPlan(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[AsOfJoinExec]),
      s"expected AsOfJoinExec among: ${nodes.map(_.nodeName).mkString(", ")}")
    assert(!nodes.exists(_.nodeName.contains("Window")),
      "the native operator must not fall back to a window")
    // each side sorted by (key, time[, tiebreak]) directly under the join
    val exec = nodes.collectFirst { case e: AsOfJoinExec => e }.get
    assert(exec.requiredChildOrdering.forall(_.nonEmpty))
    // the operator reports first-class SQL metrics like a built-in
    // join; the final ORDER BY's range-boundary sampling re-executes
    // the child, so the count is a whole multiple of the 1000 events
    val out = exec.metrics("numOutputRows").value
    val matched = exec.metrics("numMatched").value
    assert(out >= 1000L && out % 1000L == 0L,
      s"left-total over sf0.001 events (x sampling passes): $out")
    assert(matched > 0 && matched <= out, s"match count out of range: $matched")
  }

  test("broadcast plan shape: dimension-sized right auto-selects the index path, " +
      "left side pays NO exchange and NO sort") {
    // orders at test scale is far under autoBroadcastJoinThreshold, so
    // the UNPINNED gate must plan BroadcastAsOfJoinExec: right side
    // builds the index through one BroadcastExchange, left side streams
    // through shuffle-free and sort-free — the 100 TB feature-store plan
    val df = AnalyticsQueries.asofJoin(spark, SparkSuite.sf0001)
    df.collect()
    val nodes = flatPlan(df.queryExecution.executedPlan)
    val exec = nodes.collectFirst {
      case e: graft.plans.BroadcastAsOfJoinExec => e }
    assert(exec.nonEmpty,
      s"expected BroadcastAsOfJoinExec among: ${nodes.map(_.nodeName).mkString(", ")}")
    assert(nodes.exists(_.nodeName.contains("BroadcastExchange")),
      "the right side must build through a broadcast exchange")
    // nothing between the left scan and the join: walk the join's left
    // subtree — no exchange, no sort
    val leftSub = flatPlan(exec.get.left)
    assert(!leftSub.exists(_.nodeName.contains("Exchange")),
      s"left side must not shuffle:\n${exec.get.left}")
    assert(!leftSub.exists(_.nodeName.contains("Sort")),
      s"left side must not sort:\n${exec.get.left}")
    // and the two physical paths agree on the full gate output: the
    // SAME backward join forced through the merge exec
    val ev = graft.model.Tables.pq(spark, SparkSuite.sf0001, "events")
      .selectExpr("user_id", "ts div 1000000 AS ts_ms", "event_id")
    val ord = graft.model.Tables.pq(spark, SparkSuite.sf0001, "orders")
      .selectExpr("o_custkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS odate_ms", "o_orderkey")
    val viaMerge = graft.plans.AsOfJoin.backward(ev, ord,
      Seq(ev("user_id")), Seq(ord("o_custkey")), ev("ts_ms"), ord("odate_ms"),
      Seq(ord("o_orderkey")), broadcast = Some(false))
      .select(col("event_id"), col("o_orderkey"))
      .as[(Long, Option[Long])].collect().toMap
    val viaBroadcast = df.select(col("event_id"), col("asof_orderkey"))
      .as[(Long, Option[Long])].collect().toMap
    assert(viaBroadcast == viaMerge,
      "broadcast-index and merge paths must produce identical matches")
  }

  test("forward semantics: first match at-or-after, tie first-wins, tolerance") {
    val l = leftDf
    val r = rightDf
    val out = AsOfJoin.forward(l, r,
      leftKeys = Seq(l("k")), rightKeys = Seq(r("k")),
      leftTime = l("t"), rightTime = r("rt"),
      rightTiebreak = Seq(r("rid")))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    assert(out == Map(
      "a" -> Some(100L), // t=10: both time-10 rows qualify, LOWER rid wins
      "b" -> Some(102L), // t=20: next is the time-30 row
      "c" -> None,       // t=35: nothing after
      "d" -> None,       // key 2: no right rows
      "e" -> Some(103L)))// t=5: the future row is exactly what forward wants
    val tight = AsOfJoin.forward(l, r,
      Seq(l("k")), Seq(r("k")), l("t"), r("rt"),
      rightTiebreak = Seq(r("rid")), toleranceMs = Some(10L))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    // within 10: a (0), b (30-20=10); e's match is 45 away -> dropped
    assert(tight == Map(
      "a" -> Some(100L), "b" -> Some(102L), "c" -> None,
      "d" -> None, "e" -> None))
  }

  test("nearest semantics: closer side wins, equal distance prefers backward") {
    val l = Seq(
      (1L, 18L, "mid"),   // 8 from t=10, 12 from t=30 -> backward (rid 101)
      (1L, 25L, "fwd"),   // 15 back, 5 forward -> forward (rid 102)
      (1L, 20L, "tie"),   // 10 both ways -> backward preferred (rid 101)
      (3L, 5L, "only_f")  // only a future row -> forward (rid 103)
    ).toDF("k", "t", "tag")
    val r = rightDf
    val out = AsOfJoin.nearest(l, r,
      leftKeys = Seq(l("k")), rightKeys = Seq(r("k")),
      leftTime = l("t"), rightTime = r("rt"),
      rightTiebreak = Seq(r("rid")))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    assert(out == Map(
      "mid" -> Some(101L), "fwd" -> Some(102L),
      "tie" -> Some(101L), "only_f" -> Some(103L)))
    // tolerance 5 kills every match farther than 5 on either side
    val tight = AsOfJoin.nearest(l, r,
      Seq(l("k")), Seq(r("k")), l("t"), r("rt"),
      rightTiebreak = Seq(r("rid")), toleranceMs = Some(5L))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    assert(tight == Map(
      "mid" -> None, "fwd" -> Some(102L),
      "tie" -> None, "only_f" -> None))
  }

  test("forward/nearest gate queries run and match a composed reference on sf0.001") {
    import org.apache.spark.sql.expressions.Window
    val fwd = AnalyticsQueries.asofJoinForward(spark, SparkSuite.sf0001)
    val near = AnalyticsQueries.asofJoinNearest(spark, SparkSuite.sf0001)
    // composed reference: backward range join + rank (the oracle's shape)
    val ev = graft.model.Tables.pq(spark, SparkSuite.sf0001, "events")
      .selectExpr("event_id", "user_id", "ts div 1000000 AS ts_ms")
    val ord = graft.model.Tables.pq(spark, SparkSuite.sf0001, "orders")
      .selectExpr("o_custkey", "o_orderkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS odate_ms")
    val refFwd = ev.join(ord,
        ev("user_id") === ord("o_custkey") && ord("odate_ms") >= ev("ts_ms"), "left")
      .withColumn("rn", row_number().over(Window.partitionBy("event_id")
        .orderBy(col("odate_ms").asc_nulls_last, col("o_orderkey").asc_nulls_last)))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey").as("next_orderkey"))
    val gotFwd = fwd.select("event_id", "next_orderkey")
      .as[(Long, Option[Long])].collect().toMap
    val wantFwd = refFwd.as[(Long, Option[Long])].collect().toMap
    assert(gotFwd.nonEmpty && gotFwd == wantFwd)
    assert(near.count() == fwd.count()) // both left-total over events
  }

  test("bucketed sides: the as-of join plans with ZERO exchanges") {
    // the recurring feature-store shape at 100 TB: events and the
    // dimension both live bucketed on the key, so the nightly as-of
    // run reads bucket-aligned files and EnsureRequirements inserts
    // no exchange on either side — only the in-partition (key, time)
    // sorts remain, exactly like a bucketed sort-merge join
    val wh = tmpDir("asof-bucketed-wh")
    val ev = graft.model.Tables.pq(spark, SparkSuite.sf0001, "events")
      .selectExpr("user_id", "ts div 1000000 AS ts_ms", "event_id")
    val ord = graft.model.Tables.pq(spark, SparkSuite.sf0001, "orders")
      .selectExpr("o_custkey", "o_orderkey",
        "unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS odate_ms")
    ev.write.option("path", s"$wh/ev")
      .bucketBy(8, "user_id").mode("overwrite").saveAsTable("ev_asof_bucketed")
    ord.write.option("path", s"$wh/ord")
      .bucketBy(8, "o_custkey").mode("overwrite").saveAsTable("ord_asof_bucketed")
    try {
      val l = spark.table("ev_asof_bucketed")
      val r = spark.table("ord_asof_bucketed")
      // broadcast = Some(false): the POINT of the bucketed layout is
      // paying neither a shuffle nor a broadcast build — without the
      // pin the small test tables would auto-select the broadcast path
      // (whose BroadcastExchange the no-Exchange assertion rejects)
      val joined = AsOfJoin.backward(l, r,
        leftKeys = Seq(l("user_id")), rightKeys = Seq(r("o_custkey")),
        leftTime = l("ts_ms"), rightTime = r("odate_ms"),
        rightTiebreak = Seq(r("o_orderkey")),
        broadcast = Some(false))
        .select(col("event_id"), col("o_orderkey"))
      joined.collect() // finalize AQE
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket-aligned as-of must not shuffle either side:\n$plan")
      // and the layout changes nothing about the answer
      val want = AnalyticsQueries.asofJoin(spark, SparkSuite.sf0001)
        .select(col("event_id"), col("asof_orderkey"))
        .as[(Long, Option[Long])].collect().toMap
      val got = joined.as[(Long, Option[Long])].collect().toMap
      assert(got == want, "bucketed and shuffled as-of joins must agree")
    } finally {
      spark.sql("DROP TABLE IF EXISTS ev_asof_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_asof_bucketed")
    }
  }

  test("randomized: every direction x tolerance equals the brute-force reference") {
    // seeded, deterministic; dense time range [0, 25) over 4 keys forces
    // plenty of exact-time collisions (rt == t) and right-side (key, rt)
    // ties, the cases where the merge's take/hold-ahead rules matter
    val rnd = new scala.util.Random(20260815L)
    def table(n: Int): Seq[(Long, Long, Long)] =
      (0 until n).map(i => (rnd.nextInt(4).toLong, rnd.nextInt(25).toLong, i.toLong))
    def brute(
        left: Seq[(Long, Long, Long)], right: Seq[(Long, Long, Long)],
        dir: String, tol: Option[Long]): Map[Long, Option[Long]] =
      left.map { case (k, t, lid) =>
        val rs = right.filter(_._1 == k)
        val back = rs.filter(r => r._2 <= t && tol.forall(t - r._2 <= _))
          .sortBy(r => (r._2, r._3)).lastOption
        val fwd = rs.filter(r => r._2 >= t && tol.forall(r._2 - t <= _))
          .sortBy(r => (r._2, r._3)).headOption
        val pick = dir match {
          case "backward" => back
          case "forward"  => fwd
          case "nearest"  => (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (t - b._2 <= f._2 - t) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        lid -> pick.map(_._3)
      }.toMap
    for {
      dir <- Seq("backward", "forward", "nearest")
      tol <- Seq(None, Some(3L))
      // ALL THREE physical paths must equal the same reference: the
      // co-partitioned merge exec, the broadcast-index exec, and the
      // salt-split merge (the skew posture — an extra synthetic key
      // must never change the answer)
      path <- Seq("merge", "broadcast", "salted")
      trial <- 1 to 2
    } {
      val lRows = table(50)
      val rRows = table(50)
      val l = lRows.toDF("k", "t", "lid")
      val r = rRows.toDF("k", "rt", "rid")
      val d = dir match {
        case "backward" => graft.plans.AsOfDirection.Backward
        case "forward"  => graft.plans.AsOfDirection.Forward
        case "nearest"  => graft.plans.AsOfDirection.Nearest
      }
      val joined = path match {
        case "salted" => AsOfJoin.joinSalted(d, l, r,
          Seq(l("k")), Seq(r("k")), l("t"), r("rt"),
          Seq(r("rid")), tol, saltBuckets = 4)
        case p => AsOfJoin.join(d, l, r,
          Seq(l("k")), Seq(r("k")), l("t"), r("rt"),
          Seq(r("rid")), tol, broadcast = Some(p == "broadcast"))
      }
      val got = joined
        .select(col("lid"), col("rid"))
        .as[(Long, Option[Long])].collect().toMap
      val want = brute(lRows, rRows, dir, tol)
      assert(got == want,
        s"$dir tol=$tol path=$path trial=$trial diverged: " +
          (got.toSet -- want.toSet).take(5).toString)
    }
  }

  test("salted merge: a hot key's facts spread across salt partitions, answer unchanged") {
    import org.apache.spark.sql.functions.{hash, lit, pmod}
    // 90% of the facts on one key — the shape that serializes the plain
    // merge exec into a single task (custom execs sit outside AQE's
    // OptimizeSkewedJoin)
    val rnd = new scala.util.Random(12L)
    val lRows = (0 until 2000).map { i =>
      val k = if (i % 10 == 0) rnd.nextInt(4) + 2L else 1L
      (k, rnd.nextInt(5000).toLong, i.toLong)
    }
    val rRows = (0 until 300).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(5000).toLong, i.toLong))
    val l = lRows.toDF("k", "t", "lid")
    val r = rRows.toDF("k", "rt", "rid")
    val salted = AsOfJoin.joinSalted(graft.plans.AsOfDirection.Backward,
      l, r, Seq(l("k")), Seq(r("k")), l("t"), r("rt"), Seq(r("rid")),
      saltBuckets = 8)
    // no salt residue in the output schema
    assert(!salted.columns.exists(_.contains("salt")), salted.columns.mkString(","))
    // the answer is exactly the unsalted merge's
    val want = AsOfJoin.backward(l, r, Seq(l("k")), Seq(r("k")),
      l("t"), r("rt"), Seq(r("rid")), broadcast = Some(false))
      .select(col("lid"), col("rid")).as[(Long, Option[Long])].collect().toMap
    val got = salted
      .select(col("lid"), col("rid")).as[(Long, Option[Long])].collect().toMap
    assert(got == want, "salting must never change the answer")
    // structural mitigation proof: BOTH exchanges hash (key, salt), so
    // the hot key's rows land across salt-many partitions
    val plan = salted.queryExecution.executedPlan.toString
    val exLines = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exLines.length == 2 && exLines.forall(_.contains("__asof_salt")),
      s"both merge exchanges must carry the salt:\n${exLines.mkString("\n")}")
    // data-level proof: the hot key's facts scatter over most buckets
    val spread = l.filter(col("k") === 1L)
      .select(pmod(hash(col("t")), lit(8)).as("s")).distinct().count()
    assert(spread >= 6, s"hot key must scatter across salt buckets, got $spread/8")
  }

  test("skew detection fires on the hot-key fixture, stays silent on uniform keys") {
    val rnd = new scala.util.Random(12L)
    // the tools/AsOfSkewAb shape (deleted; source at commit 60fc5df) at spec scale:
    // 90% of facts on key 1
    val hotRows = (0 until 2000).map { i =>
      val k = if (i % 10 == 0) rnd.nextInt(4) + 2L else 1L
      (k, rnd.nextInt(5000).toLong, i.toLong)
    }
    val hot = hotRows.toDF("k", "t", "lid")
    val hotReport = AsOfJoin.detectSkew(hot, Seq(hot("k")), sampleFraction = 1.0)
    assert(hotReport.recommendSalting, s"90%-hot key must fire: $hotReport")
    assert(hotReport.topKeyShare > 0.8 && hotReport.topKeyShare < 0.95, s"$hotReport")
    assert(hotReport.sampledRows == 2000L)
    assert(hotReport.recommendedBuckets >= 8,
      s"buckets must be at least the measured-win floor: $hotReport")
    // uniform keys: top share ~1/50 — far under the threshold
    val uni = (0 until 2000).map(i => (i % 50L, rnd.nextInt(5000).toLong, i.toLong))
      .toDF("k", "t", "lid")
    val uniReport = AsOfJoin.detectSkew(uni, Seq(uni("k")), sampleFraction = 1.0)
    assert(!uniReport.recommendSalting, s"uniform keys must not fire: $uniReport")
    assert(uniReport.topKeyShare < 0.1, s"$uniReport")
    // under the evidence floor: even a 100%-hot key makes no recommendation
    val tiny = Seq((1L, 5L, 0L), (1L, 6L, 1L)).toDF("k", "t", "lid")
    val tinyReport = AsOfJoin.detectSkew(tiny, Seq(tiny("k")), sampleFraction = 1.0)
    assert(!tinyReport.recommendSalting,
      s"${AsOfJoin.minSampleRows}-row evidence floor must hold: $tinyReport")
    // empty left: report degrades gracefully
    val empty = AsOfJoin.detectSkew(hot.filter(col("k") === -1L),
      Seq(col("k")), sampleFraction = 1.0)
    assert(empty.sampledRows == 0L && !empty.recommendSalting)
  }

  test("joinSkewAware routes the hot fixture through the salted merge, answer unchanged") {
    val rnd = new scala.util.Random(12L)
    val lRows = (0 until 2000).map { i =>
      val k = if (i % 10 == 0) rnd.nextInt(4) + 2L else 1L
      (k, rnd.nextInt(5000).toLong, i.toLong)
    }
    val rRows = (0 until 300).map(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(5000).toLong, i.toLong))
    val l = lRows.toDF("k", "t", "lid")
    val r = rRows.toDF("k", "rt", "rid")
    // a broadcast-eligible right short-circuits skew routing entirely —
    // the broadcast exec has no per-key serialization for salting to
    // fix, so a small dimension must NEVER be salted (that would force
    // the strictly worse merge shape)
    val (bcRouted, bcReport) = AsOfJoin.joinSkewAwareWithReport(
      graft.plans.AsOfDirection.Backward, l, r,
      Seq(l("k")), Seq(r("k")), l("t"), r("rt"), Seq(r("rid")),
      toleranceMs = None, sampleFraction = 1.0,
      hotShareThreshold = AsOfJoin.defaultHotShareThreshold, saltOn = Nil)
    assert(!bcReport.recommendSalting && bcReport.sampledRows == 0L,
      s"broadcast-eligible right must skip detection: $bcReport")
    assert(!bcRouted.queryExecution.executedPlan.toString.contains("__asof_salt"))
    // the merge-path routing itself, exercised with broadcast disabled
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (routed, report) = AsOfJoin.joinSkewAwareWithReport(
        graft.plans.AsOfDirection.Backward, l, r,
        Seq(l("k")), Seq(r("k")), l("t"), r("rt"), Seq(r("rid")),
        toleranceMs = None, sampleFraction = 1.0,
        hotShareThreshold = AsOfJoin.defaultHotShareThreshold, saltOn = Nil)
      assert(report.recommendSalting, s"hot fixture must route salted: $report")
      // structural proof the salted plan was actually taken
      val exLines = routed.queryExecution.executedPlan.toString.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exLines.length == 2 && exLines.forall(_.contains("__asof_salt")),
        s"skew route must salt both exchanges:\n${exLines.mkString("\n")}")
      val want = AsOfJoin.backward(l, r, Seq(l("k")), Seq(r("k")),
        l("t"), r("rt"), Seq(r("rid")), broadcast = Some(false))
        .select(col("lid"), col("rid")).as[(Long, Option[Long])].collect().toMap
      val got = routed
        .select(col("lid"), col("rid")).as[(Long, Option[Long])].collect().toMap
      assert(got == want, "skew routing must never change the answer")
      // uniform keys take the plain merge: no salt columns anywhere
      val uniL = (0 until 2000).map(i => (i % 50L, rnd.nextInt(5000).toLong, i.toLong))
        .toDF("k", "t", "lid")
      val (plain, uniReport) = AsOfJoin.joinSkewAwareWithReport(
        graft.plans.AsOfDirection.Backward, uniL, r,
        Seq(uniL("k")), Seq(r("k")), uniL("t"), r("rt"), Seq(r("rid")),
        toleranceMs = None, sampleFraction = 1.0,
        hotShareThreshold = AsOfJoin.defaultHotShareThreshold, saltOn = Nil)
      assert(!uniReport.recommendSalting)
      assert(!plain.queryExecution.executedPlan.toString.contains("__asof_salt"),
        "uniform route must not pay the salted replication")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
  }

  test("guards: key type mismatch and shared-lineage inputs fail loudly") {
    val l = leftDf
    // int vs long keys: the merge would generate its ordering from the
    // left type and compare the right side's bytes as garbage
    val rInt = Seq((1, 10L, 100L)).toDF("k", "rt", "rid")
    val typeErr = intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, rInt, Seq(l("k")), Seq(rInt("k")), l("t"), rInt("rt"))
    }
    assert(typeErr.getMessage.contains("type mismatch"))
    // self-join lineage: shared exprIds would bind right expressions
    // against the wrong child (built-in joins get DeduplicateRelations,
    // a custom node does not) — refuse with an aliasing hint
    val d = leftDf
    val selfErr = intercept[IllegalArgumentException] {
      AsOfJoin.backward(d, d.filter(col("t") > 0),
        Seq(d("k")), Seq(d("k")), d("t"), d("t"))
    }
    assert(selfErr.getMessage.contains("alias one side"))
  }

  test("timestamp time columns mean MILLISECONDS against toleranceMs") {
    import java.sql.Timestamp
    // a bare cast(long) on TIMESTAMP yields epoch SECONDS; the operator
    // must convert through unix_millis so a 30-second-stale match is
    // correctly outside a 10-second tolerance (the seconds bug would
    // see 30 <= 10000 and match)
    val l = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, Timestamp.valueOf("2024-01-01 09:59:30"), 100L))
      .toDF("k", "rt", "rid")
    val tight = AsOfJoin.backward(l, r,
      Seq(l("k")), Seq(r("k")), l("t"), r("rt"),
      toleranceMs = Some(10000L))
      .select(col("rid")).as[Option[Long]].head()
    assert(tight.isEmpty, "30s-stale match must fail a 10s tolerance")
    val loose = AsOfJoin.backward(l, r,
      Seq(l("k")), Seq(r("k")), l("t"), r("rt"),
      toleranceMs = Some(45000L))
      .select(col("rid")).as[Option[Long]].head()
    assert(loose.contains(100L), "30s-stale match must pass a 45s tolerance")
  }

  test("null keys form their own join group (grouping semantics, documented)") {
    val l = Seq((Option.empty[Long], 10L, "nk"), (Some(1L), 10L, "k1"))
      .toDF("k", "t", "tag")
    val r = Seq((Option.empty[Long], 5L, 200L), (Some(1L), 5L, 201L))
      .toDF("k", "rt", "rid")
    val out = AsOfJoin.backward(l, r,
      Seq(l("k")), Seq(r("k")), l("t"), r("rt"))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    assert(out == Map("nk" -> Some(200L), "k1" -> Some(201L)),
      s"null-key rows must match each other, never a real key: $out")
  }

  test("null time raises loudly instead of silently matching at epoch 0") {
    // the contract used to be "null time coerces to epoch 0" — a silent
    // wrong-match generator on dirty data; now it raises per row
    val l = Seq((1L, Option(10L), "ok"), (1L, Option.empty[Long], "bad"))
      .toDF("k", "t", "tag")
    val r = Seq((1L, 5L, 100L)).toDF("k", "rt", "rid")
    for (bcast <- Seq(Some(true), Some(false))) {
      val err = intercept[Exception] {
        AsOfJoin.join(graft.plans.AsOfDirection.Backward, l, r,
          Seq(l("k")), Seq(r("k")), l("t"), r("rt"), Nil, None, bcast)
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(err).exists(_.contains("null left-side time")),
        s"bcast=$bcast: expected the loud null-time message, got: ${msgs(err)}")
    }
    // null on the RIGHT side raises too
    val rNull = Seq((1L, Option.empty[Long], 100L)).toDF("k", "rt", "rid")
    val lOk = Seq((1L, 10L, "ok")).toDF("k", "t", "tag")
    val errR = intercept[Exception] {
      AsOfJoin.backward(lOk, rNull,
        Seq(lOk("k")), Seq(rNull("k")), lOk("t"), rNull("rt")).collect()
    }
    def msgsR(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgsR(t.getCause)
    assert(msgsR(errR).exists(_.contains("null right-side time")))
    // and non-null data through the guard still answers correctly
    val fine = AsOfJoin.backward(lOk, r,
      Seq(lOk("k")), Seq(r("k")), lOk("t"), r("rt"))
      .select(col("rid")).as[Option[Long]].head()
    assert(fine.contains(100L))
  }

  test("keyless (global) as-of: matches against the single global timeline") {
    // pandas merge_asof with by=None — always the broadcast path
    val l = Seq((5L, "a"), (18L, "b"), (100L, "c")).toDF("t", "tag")
    val r = Seq((10L, 100L), (20L, 101L), (30L, 102L)).toDF("rt", "rid")
    val out = AsOfJoin.backward(l, r,
      leftKeys = Nil, rightKeys = Nil,
      leftTime = l("t"), rightTime = r("rt"),
      rightTiebreak = Seq(r("rid")))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    assert(out == Map(
      "a" -> None,         // t=5: nothing at-or-before
      "b" -> Some(100L),   // t=18: rt=10 is the latest at-or-before
      "c" -> Some(102L)))  // t=100: global last row
    // tolerance applies on the global timeline too
    val tight = AsOfJoin.nearest(l, r,
      Nil, Nil, l("t"), r("rt"), Seq(r("rid")), toleranceMs = Some(4L))
      .select(col("tag"), col("rid"))
      .as[(String, Option[Long])].collect().toMap
    assert(tight == Map("a" -> None, "b" -> Some(101L), "c" -> None))
    // forcing the merge path keyless is rejected: nothing to cluster on
    val err = intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, r, Nil, Nil, l("t"), r("rt"),
        broadcast = Some(false))
    }
    assert(err.getMessage.contains("keyless"))
  }

  test("empty sides: no right rows -> all-null matches; no left rows -> empty") {
    val l = leftDf
    val emptyR = rightDf.limit(0)
    val allNull = AsOfJoin.backward(l, emptyR,
      Seq(l("k")), Seq(emptyR("k")), l("t"), emptyR("rt"))
      .select(col("rid")).as[Option[Long]].collect()
    assert(allNull.length == 5 && allNull.forall(_.isEmpty))
    val emptyL = leftDf.limit(0)
    val r = rightDf
    assert(AsOfJoin.backward(emptyL, r,
      Seq(emptyL("k")), Seq(r("k")), emptyL("t"), r("rt")).count() == 0)
  }

  test("broadcast index memo keys on the bound expressions, not just the row array") {
    // a REUSED BroadcastExchange hands every consumer the SAME row-array
    // instance: two joins over one dimension but different time columns
    // must not share an index (the second's binary searches would run
    // over the wrong column's times — silently wrong matches)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    import org.apache.spark.sql.types.LongType
    import graft.plans.{AsOfBroadcastIndex, AsOfDirection}
    // (k, t1, t2): by t1 row0 precedes row1; by t2 the ORDER FLIPS
    val rows: Array[InternalRow] = Array(
      InternalRow(1L, 10L, 100L), InternalRow(1L, 20L, 90L))
    val key = Seq(BoundReference(0, LongType, nullable = false))
    val t1 = BoundReference(1, LongType, nullable = false)
    val t2 = BoundReference(2, LongType, nullable = false)
    val idx1 = AsOfBroadcastIndex.forRows(rows, key, t1, Nil)
    val idx2 = AsOfBroadcastIndex.forRows(rows, key, t2, Nil)
    assert(idx1 ne idx2, "same array + different time expr must not share an index")
    // and the memo still dedups true repeats (same exprs -> same instance)
    assert(AsOfBroadcastIndex.forRows(rows, key, t1, Nil) eq idx1)
    val probeKey = UnsafeProjection.create(
      Seq(BoundReference(0, LongType, nullable = false)))(InternalRow(1L)).copy()
    // backward at lt=15: by t1 the match is the t1=10 row; by t2 NOTHING
    // is at-or-before 15 — a shared index would return the wrong answer
    val m1 = idx1.probe(probeKey, 15L, AsOfDirection.Backward, None)
    assert(m1 != null && m1.getLong(1) == 10L)
    assert(idx2.probe(probeKey, 15L, AsOfDirection.Backward, None) == null)
    // by t2 at lt=95 the match is the (t2=90, t1=20) row
    val m2 = idx2.probe(probeKey, 95L, AsOfDirection.Backward, None)
    assert(m2 != null && m2.getLong(2) == 90L && m2.getLong(1) == 20L)
  }

  test("two broadcast as-of joins over the same dimension, different time columns") {
    // end-to-end twin of the memo test: one action planning both joins,
    // so a reused exchange (when the planner chooses it) flows through
    // the per-expression memo entries
    val r = Seq((1L, 10L, 100L, 7L), (1L, 20L, 90L, 8L))
      .toDF("k", "t1", "t2", "rid")
    val l = Seq((1L, 15L, 0L), (1L, 95L, 1L)).toDF("k", "t", "lid")
    val j1 = AsOfJoin.backward(l, r, Seq(l("k")), Seq(r("k")),
      l("t"), r("t1"), broadcast = Some(true))
      .select(col("lid"), lit("t1").as("via"), col("rid"))
    val j2 = AsOfJoin.backward(l, r, Seq(l("k")), Seq(r("k")),
      l("t"), r("t2"), broadcast = Some(true))
      .select(col("lid"), lit("t2").as("via"), col("rid"))
    val got = j1.unionByName(j2).as[(Long, String, Option[Long])]
      .collect().map(x => (x._1, x._2) -> x._3).toMap
    assert(got == Map(
      (0L, "t1") -> Some(7L),  // t=15: t1=10 row
      (1L, "t1") -> Some(8L),  // t=95: t1=20 row (latest <= 95)
      (0L, "t2") -> None,      // t=15: no t2 <= 15
      (1L, "t2") -> Some(8L)), // t=95: t2=90 row
      s"cross-contaminated broadcast index: $got")
  }
}
