package graft.queries

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis + document-dedup operators over the `documents` table —
  * the LLM-training-pipeline surface (dedup, quality, lang-id, token
  * stats, fingerprints). Everything is declarative column algebra; the
  * pairwise-similarity operators use the sparse inverted-index join
  * (gram -> doc) that scales as the standard MinHash/LSH pipeline.
  */
object TextQueries {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Exact dedup summary: distinct normalized-text fingerprints. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(fingerprint(col("text"))).as("n_distinct"),
      (count(lit(1)) - countDistinct(fingerprint(col("text")))).as("n_dups"))

  /** Exact dedup survivor selection — what a real pipeline does after the
    * summary: one surviving doc per normalized-text fingerprint (keep the
    * lowest doc_id), with the duplicate multiplicity. One hash aggregate
    * (map-side partial), no join.
    */
  def dedupKeep(spark: SparkSession, dir: String): DataFrame =
    dedupKeepCore(spark, dir).orderBy("keep_id")

  /** Unsorted core of [[dedupKeep]] — compositions (cleanCorpus) consume
    * it through joins, where a global sort is dead work (a range-
    * partition exchange + sort the join immediately repartitions away).
    */
  private def dedupKeepCore(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(fingerprint(col("text")).as("fingerprint"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("fingerprint", "keep_id", "n_copies")

  /** Corpus vocabulary: top-50 terms by document frequency. Terms come
    * from the native n-gram expression at n=1 (distinct-per-doc by
    * construction), so doc frequency is a plain count — no distinct
    * shuffle before the aggregate.
    */
  def topTerms(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(graft.functions.WordNGrams.word_ngrams(col("text"), 1)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(50)

  /** Duplicate-cluster assignment: connected components over the
    * exact-verified near-dup pairs (>= 0.8 n-gram Jaccard, via the
    * MinHash/LSH pipeline), cluster id = min doc_id of the component.
    *
    * The pair set is OUTPUT-scale (bounded by the corpus duplicate rate,
    * orders of magnitude smaller than the corpus — same argument that
    * lets the LSH candidates be broadcast), so the component computation
    * is a driver-side union-find over the collected pairs — behind the
    * same [[collectOrDistributed]] budget guard as every pair consumer:
    * a pathological graph that outgrows the driver routes to the
    * distributed min-label-propagation twin ([[dupClustersLabelProp]])
    * instead of OOMing. Same output either way; the pair *generation*
    * stays distributed always.
    */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    dupClustersImpl(spark, dir, maxDriverPairs)

  /** [[dupClusters]] with the driver-collect cap exposed for the
    * forced-overflow test. */
  private[graft] def dupClustersImpl(
      spark: SparkSession, dir: String, maxCollect: Long): DataFrame = {
    import spark.implicits._
    val pairsDf = minhashLshImpl(spark, dir, maxCollect).select(col("id1"), col("id2"))
    collectOrDistributed(pairsDf, maxCollect) { (rows, _) =>
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      nodes.map(n => (n, find(n))).toSeq.toDF("doc_id", "cluster_id")
        .orderBy("doc_id")
    } { dist =>
      // pair graph outgrew the driver budget: cluster it distributed
      labelPropagate(dist)
    }
  }

  /** Duplicate clusters via DISTRIBUTED min-label propagation — the
    * iterate-to-fixpoint twin of [[dupClusters]]' driver union-find,
    * for the pathological case where the pair graph outgrows the
    * driver: each round, every node takes the min label among itself
    * and its neighbors (one join + one aggregate per round, all
    * distributed); rounds stop when no label changes. Convergence is
    * bounded by the cluster diameter — near-dup components are dense,
    * so a handful of rounds in practice. Same output and oracle as
    * [[dupClusters]].
    */
  def dupClustersLabelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropagate(minhashLsh(spark, dir).select("id1", "id2"))

  /** Min-label propagation over an (id1, id2) pair frame — the
    * distributed clustering kernel shared by [[dupClustersLabelProp]]
    * and [[dupClusters]]' overflow fallback. */
  private def labelPropagate(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    // every propagation round joins `edges`; without materialization
    // each round re-executes the whole LSH + verify subtree (measured:
    // the rounds dominated this operator's wall clock). The cache is
    // released with the last round's label cache below.
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .cache()
    // fused first round: label = min(node, direct neighbors) straight
    // from the edge aggregate — one groupBy instead of distinct +
    // join + groupBy, and the loop starts a hop ahead
    var labels = edges.groupBy(col("a").as("node"))
      .agg(min("b").as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("lbl"))
    var prevCache: Option[DataFrame] = None
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val fromNeighbors = edges
        .join(labels, edges("b") === labels("node"))
        .groupBy(col("a").as("node")).agg(min("lbl").as("nlbl"))
      val next = labels.join(fromNeighbors, Seq("node"), "left")
        .select(col("node"), least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"),
          col("lbl").as("prev"))
      // one action per round: count changed labels (drives convergence);
      // cache cuts the lineage so round N doesn't recompute rounds 1..N-1
      val materialized = next.cache()
      changed = materialized.filter(col("lbl") =!= col("prev")).count()
      prevCache.foreach(_.unpersist())
      prevCache = Some(materialized)
      labels = materialized.select("node", "lbl")
      rounds += 1
    }
    if (changed > 0) {
      // partial labels are WRONG labels — fail loudly rather than hand
      // back an unconverged clustering only an external oracle would
      // catch. Min-label propagation moves one hop per round, so 50
      // rounds covers any component of diameter <= 50; near-dup
      // components are dense (diameter of a few), so hitting this cap
      // means a pathological graph or a bug.
      prevCache.foreach(_.unpersist())
      edges.unpersist()
      throw new IllegalStateException(
        s"label propagation did not converge after $rounds rounds ($changed labels still changing)")
    }
    val out = labels.select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy("doc_id")
    // materialize before releasing the last round's cache
    val rows = out.collect()
    prevCache.foreach(_.unpersist())
    edges.unpersist()
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("doc_id", "cluster_id")
      .orderBy("doc_id")
  }

  /** Word-3-gram sets per doc: (doc_id, gram) rows + per-doc sizes.
    *
    * Grams come from the native `WordNGrams` expression (codegen scalar,
    * distinct-per-doc by construction), so the gram table needs NO
    * shuffle at all — the earlier posexplode + window-`lead` + global
    * `distinct()` form cost a shuffle+sort plus a dedup shuffle before
    * any similarity work started. (A transform(sequence(...)) lambda
    * form is no alternative: CollapseProject inlines the `split` into
    * every element reference and evaluates it O(tokens) times per doc,
    * interpreted.)
    */
  private def gramTables(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val grams = docs(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).as("g"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    (grams, sizes)
  }

  /** Exact pairwise n-gram Jaccard >= 0.8 via the inverted-index join
    * (gram -> docs): only docs sharing a gram are ever paired — the
    * sparse similarity join, not an O(n^2) cross join.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val (grams, sizes) = gramTables(spark, dir)
    jaccardOfPairs(interPairs(grams), sizes)
  }

  /** Shared-gram pair intersection counts — the candidate kernel of the
    * exact Jaccard join, as a bucket-grouped expansion rather than an
    * inverted-index self-join: the join form shuffles and computes the
    * gram extraction TWICE (build and probe subtrees are separate);
    * grouping by gram computes it once behind one exchange and expands
    * each sorted bucket's (id1 < id2) pairs. The expansion is staged —
    * posexplode to one row per (bucket, position), then explode the
    * per-position suffix — so a row never materializes more than one
    * bucket's id list (O(B) not O(B^2) memory); the pair COUNT is the
    * join's quadratic term either way, which is exactly what the
    * prefix-filtered twin bounds at corpus scale.
    */
  private def interPairs(grams: DataFrame): DataFrame =
    grams.groupBy("g")
      .agg(expr("sort_array(collect_list(doc_id))").as("ids"))
      .filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id1")))
      .select(col("id1"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("inter"))

  /** Asymmetric containment join: pairs where the smaller doc's gram
    * set is >= 90% inside the other's (overlap coefficient
    * `inter / min(|A|,|B|)`). Symmetric Jaccard misses these — a
    * paragraph quoted inside a much longer doc has tiny Jaccard but
    * containment ~1 — and they are exactly the quote/snippet
    * duplication a corpus curator wants surfaced.
    *
    * The quadratic bucket term is BOUNDED by a containment-correct
    * asymmetric prefix (PPJoin+-style): for a qualifying pair with
    * |A| <= |B|, `inter >= 0.9|A|`, and A's suffix past its
    * `floor(0.1|A|)+1` rarest grams holds fewer than `0.9|A|` grams —
    * so at least one shared gram sits in A's PREFIX (rarest-first
    * canonical order, same comparator as [[jaccardPrefixFiltered]]).
    * Only the smaller-set side's prefix joins the full inverted index
    * (size, then doc-id, breaks the tie), which is lossless at the
    * threshold yet kills the boilerplate-gram blowup: a gram shared by
    * 1M docs has huge doc frequency, lands in almost no prefix, and its
    * index bucket meets a near-empty prefix side instead of itself.
    * Candidates verify exactly (in-row array_intersect), so the output
    * is identical to the unfiltered inverted-index join and the gate
    * re-proves the bound per run.
    *
    * Measured cost of the bound (Profile, warm, local[32]): ~0.8s at
    * sf0.01 and ~4s at sf0.1 vs ~2.2s for the unbounded self-join it
    * replaced — the same constant-vs-quadratic trade as
    * [[jaccardPrefixFiltered]] (whose crossover was MEASURED in round
    * 11 to sit before sf1 — see the README crossover table): the df
    * aggregate + prefix build are linear passes bought to cap a bucket
    * term that is unbounded in the corpus duplicate structure; at the
    * round-11 sf1 point this query scales 10× data → 2.2–7× time.
    *
    * r15 re-measured the "prefix loses below its crossover" premise
    * (tools/ContainAb, deleted; source at commit 60fc5df; same
    * session, min of 2 after warm, sf0.1): the
    * prefix arm reads 3.0–3.8s while BOTH unbounded candidate forms —
    * the plain inverted-index self-join and the bucket-grouped
    * expansion — read 5.5s. The crossover has moved BELOW sf0.1 on the
    * current corpus (the duplicate structure grew hot gram buckets the
    * unbounded forms pay quadratically and the prefix kills), so the
    * r14-verdict idea of routing small corpora to an unbounded arm is
    * a measured pessimization at every SF we can run: the prefix arm
    * stays unconditional.
    */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val docsG = gramArrays(docs(spark, dir))
    // full inverted index, set size riding along scan-side (no join)
    val idx = docsG.select(col("doc_id"), size(col("gs")).as("n"), explode(col("gs")).as("g"))
    val dfreq = idx.groupBy("g").agg(count(lit(1)).as("df"))
    // per-doc prefix of the floor(0.1*n)+1 globally-rarest grams — the
    // df join + collect_list + in-row array_sort/slice form measured
    // fastest for the Jaccard prefix (see [[jaccardPrefixFiltered]])
    val pref = idx.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("g"))).as("ps"))
      .select(col("doc_id"), size(col("ps")).as("n"),
        explode(expr(
          "slice(array_sort(ps), 1, cast(floor(size(ps) * 0.1) as int) + 1).g"))
          .as("g"))
    // prefix side must be the smaller gram set (ties: lower doc_id), so
    // every qualifying pair is generated exactly once, as (smaller side,
    // index side); normalize to id1 < id2 before verification
    val cand = pref.as("a").join(idx.as("b"),
        col("a.g") === col("b.g") &&
          (col("a.n") < col("b.n") ||
            (col("a.n") === col("b.n") && col("a.doc_id") < col("b.doc_id"))))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id2"))
      .distinct()
    cand
      .join(docsG.select(col("doc_id").as("id1"), col("gs").as("gs1")), "id1")
      .join(docsG.select(col("doc_id").as("id2"), col("gs").as("gs2")), "id2")
      .withColumn("inter", size(array_intersect(col("gs1"), col("gs2"))))
      .withColumn("containment",
        col("inter").cast(DoubleType) / least(size(col("gs1")), size(col("gs2"))))
      .filter(col("containment") >= 0.9)
      .select("id1", "id2", "containment")
      .orderBy("id1", "id2")
  }

  private def jaccardOfPairs(
      inter: DataFrame, sizes: DataFrame,
      hint: DataFrame => DataFrame = broadcast): DataFrame = {
    val j = col("inter").cast(DoubleType) / (col("n1") + col("n2") - col("inter"))
    inter
      .join(hint(sizes.select(col("doc_id").as("id1"), col("n").as("n1"))), "id1")
      .join(hint(sizes.select(col("doc_id").as("id2"), col("n").as("n2"))), "id2")
      .withColumn("jaccard", j)
      .filter(col("jaccard") >= 0.8)
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")
  }

  /** Prefix-filtered exact similarity join (AllPairs/PPJoin-style) — the
    * other 100 TB-scale exact path next to MinHash/LSH: for Jaccard >=
    * 0.8, any true pair must share a gram within each doc's PREFIX of
    * its `floor(0.2*|A|)+1` globally-rarest grams (if all shared grams
    * sat in the suffix, the suffix's `ceil(0.8*|A|)-1` slots couldn't
    * hold the `>= 0.8*|A|` shared grams — contradiction). So only the
    * prefix of the smaller-id side joins the full inverted index:
    * ~5x fewer index rows, and because prefixes hold the RAREST grams
    * (global doc-frequency order), the join's bucket sizes — the
    * quadratic term — collapse. Candidates then verify exactly, so the
    * output equals [[ngramJaccard]] and shares its oracle: the filter
    * is provably lossless and the gate re-proves it per run.
    *
    * Measured crossover (Profile, warm, local[32]): the prefix
    * machinery's constant costs 1.7x the unfiltered join at sf0.01
    * (0.95s vs 0.56s) but only 1.25x at sf0.1 (3.2s vs 2.5s) — and
    * round 11 MEASURED the sf1 point on a matched-marginals 50k-doc
    * corpus (same vocabulary, so same bucket density): unfiltered
    * 50.4s (25.7x for 10x data — the quadratic term, on schedule) vs
    * prefix 31.5s (11.6x, near-linear). The crossover sits BEFORE sf1;
    * beyond it the prefix path is the only affordable exact path,
    * where bucket sizes, not scan constants, dominate. Round 13's
    * decomposition (tools/SimJoinProbe, deleted; source at commit 60fc5df)
    * showed the residual sf1 cost
    * was CANDIDATE-bound (118,826 -> 17.0M candidates for 10x data vs
    * FLAT output) and added the length + positional residuals below:
    * candidates drop 9.3x at sf0.1 / 7.9x at sf1, wall-clock at sf1
    * 8.9s, 10x ratio 3.8x. Full table in the README's "Current
    * numbers" section.
    */
  def jaccardPrefixFiltered(spark: SparkSession, dir: String): DataFrame = {
    val (grams, _) = gramTables(spark, dir)
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    // Canonical order (df asc, gram asc) — the same comparator everywhere
    // makes "rarest first" a consistent global prefix order. The df join
    // + doc-keyed collect_list + in-row array_sort/slice replaced an
    // earlier row_number + count window pair over the same exchange:
    // struct field order IS the canonical comparator, so one aggregate
    // does the work of an exchange + sort + two windows — per self-join
    // side, since Spark plans the pref subtree once per side. (A
    // broadcast-df + typed-flatMap variant was measured ~1.7x slower
    // still: the serialization boundary costs more than the shuffle.)
    val pref = grams.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(collect_list(struct(col("df"), col("g"))).as("pairs"))
      .select(col("doc_id"), size(col("pairs")).cast(LongType).as("n"),
        posexplode(expr(
          "slice(array_sort(pairs), 1, cast(floor(size(pairs) * 0.2) as int) + 1).g"))
          .as(Seq("i", "g"))) // i = 0-based rank in the canonical order
    // candidate pairs: BOTH sides are prefixes (the classic both-prefix
    // theorem: the smallest shared gram in canonical order must sit
    // inside each doc's prefix — if it were outside A's prefix, A's
    // prefix elements precede every shared gram so none are in B, and
    // |prefix| + |A∩B| > |A| overflows A; symmetrically for B). The
    // inverted index shrinks ~5x on both sides and the join's quadratic
    // bucket term shrinks ~25x, all provably lossless at the threshold.
    //
    // Two further PPJoin residuals, both lossless at J >= 0.8 = 4/5
    // (which forces overlap o >= t/(1+t)·(n1+n2) = 4/9·(n1+n2)):
    //  - LENGTH: o <= min(n1,n2), so 4·n2 <= 5·n1 and 4·n1 <= 5·n2 —
    //    docs whose distinct-gram counts differ >1.25x can never pair.
    //  - POSITIONAL (Xiao et al. 2008): a match at 0-based canonical
    //    ranks (i1, i2) bounds the overlap by ub = min(n1-i1, n2-i2)
    //    (every shared gram sits at or after the FIRST shared gram's
    //    rank on each side); require 9·ub >= 4·(n1+n2). A true pair's
    //    first-shared-gram row satisfies this by construction, so the
    //    pair survives the distinct even when its later-rank rows are
    //    pruned. The r12 sf1 decomposition (tools/SimJoinProbe,
    //    deleted; source at commit 60fc5df) showed
    //    candidates growing 143x for 10x data against FLAT output —
    //    these residuals are evaluated in-join (no extra exchange) and
    //    cut exactly that term.
    val cand = pref.as("a").join(pref.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 4 <= col("b.n") * 5 && col("b.n") * 4 <= col("a.n") * 5 &&
          least(col("a.n") - col("a.i"), col("b.n") - col("b.i")) * 9 >=
            (col("a.n") + col("b.n")) * 4)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    // exact verification per candidate PAIR, not per shared gram: each
    // side's full gram SET rides along as its (distinct-by-construction)
    // array column and the intersection is one codegen'd array_intersect
    // — candidate-count x array-size work, vs the exploded three-way
    // join whose intermediate is candidate-count x grams-per-doc ROWS
    // (measured 2x slower than the unfiltered join on this corpus).
    val docsG = docs(spark, dir).select(col("doc_id"),
      graft.functions.WordNGrams.word_ngrams(col("text"), 3).as("gs"))
    val j = col("inter").cast(DoubleType) /
      (size(col("gs1")) + size(col("gs2")) - col("inter"))
    cand
      .join(docsG.select(col("doc_id").as("id1"), col("gs").as("gs1")), "id1")
      .join(docsG.select(col("doc_id").as("id2"), col("gs").as("gs2")), "id2")
      .withColumn("inter", size(array_intersect(col("gs1"), col("gs2"))))
      .withColumn("jaccard", j)
      .filter(col("jaccard") >= 0.8)
      .select("id1", "id2", "jaccard")
      .orderBy("id1", "id2")
  }

  /** MinHash + LSH near-dup detection, verified with exact Jaccard — the
    * 100 TB-scale path: 128 permutations (xxhash64 seeded per index),
    * 32 bands x 4 rows; candidate pairs from band-bucket joins only,
    * then exact verification restricted to candidates. At the 0.8
    * threshold the miss probability per true pair is ~(1-s^4)^32 < 5e-8.
    * Output == exact n-gram Jaccard >= 0.8 (same oracle).
    */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashLshImpl(spark, dir, maxDriverPairs)

  /** Max candidate pairs materialized on the driver for the broadcast
    * verification path (~64 MB of boxed pair rows). Past this the pair
    * set is no longer "output-scale" — a pathological un-pre-deduped
    * corpus (floods of shared band hashes) can make it corpus-scale —
    * and the verify join stays fully distributed instead of OOMing the
    * driver. */
  private[graft] val maxDriverPairs = 4000000L

  /** Driver-budget guard for output-scale pair sets — THE single pattern
    * every pair-consuming operator routes through (it was hand-rolled
    * three times and forgotten twice before being extracted; with the
    * helper, the next operator cannot skip it). Probes `pairs` with
    * `limit(cap+1)`: when the set fits the driver budget, `local`
    * receives the collected rows plus a LocalRelation rebuild of them
    * (broadcast-ready — a broadcast IS a driver-side collect, so
    * collecting up front costs nothing extra and the build side can
    * never re-execute the probe subtree); when it overflows, the +1
    * sentinel row proves it, `distributed` receives the original frame,
    * and the pair set never materializes on the driver.
    */
  private[graft] def collectOrDistributed[T](
      pairs: DataFrame, maxCollect: Long)(
      local: (Array[org.apache.spark.sql.Row], DataFrame) => T)(
      distributed: DataFrame => T): T = {
    val spark = pairs.sparkSession
    val capped = math.min(maxCollect + 1, Int.MaxValue.toLong).toInt
    val rows = pairs.limit(capped).collect()
    if (rows.length <= maxCollect) {
      import scala.jdk.CollectionConverters._
      local(rows, spark.createDataFrame(rows.toSeq.asJava, pairs.schema))
    } else distributed(pairs)
  }

  /** Releases `df`'s persisted blocks once its CONSUMER completes — the
    * release path for overflow branches whose returned plan still
    * references the persisted frame (round-6 ADVICE; consumer-tagged
    * with a miss-bounded leak guard since round 10). */
  private def unpersistAfterNextQuery(df: DataFrame): Unit =
    graft.operators.CacheRelease.afterConsumer(df)

  /** Per-doc MinHash band hashes as narrow (doc_id, band, bh) rows —
    * the LSH index representation, built in one tight per-row loop
    * (grams never leave the row; see [[minhashLshImpl]] for why this
    * beats both the flat-column and typed-udaf forms). Shared by the
    * self-join dedup and the incremental new-vs-corpus probe. */
  private def bandedSignatures(docsDf: DataFrame): DataFrame =
    bandedFromGramArrays(gramArrays(docsDf))

  /** Band hashes from a prepared (doc_id, gs) gram-array frame — split
    * out so index building and probing derive signatures and the
    * verification arrays from ONE shared frame. */
  private def bandedFromGramArrays(gramsDf: DataFrame): DataFrame = {
    val spark = gramsDf.sparkSession
    import spark.implicits._
    gramsDf
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.flatMap { case (id, gs) =>
          if (gs.isEmpty) Iterator.empty // parity: gram-less docs were never banded
          else {
            val sig = graft.functions.MinHashAggregator.zero
            gs.foreach { g =>
              graft.functions.MinHashAggregator.reduce(sig, graft.functions.TextFunctions.fnv64(g))
            }
            val bh = graft.functions.MinHashBandAggregator.finish(sig)
            bh.indices.iterator.map(b => (id, b, bh(b)))
          }
        }
      }.toDF("doc_id", "band", "bh")
  }

  /** Static near-dup probe index for a corpus: narrow band-hash rows
    * plus per-doc gram arrays — the "nightly artifact" a production
    * ingest pipeline rebuilds from the batch side and probes from every
    * new batch (or stream).
    *
    * A one-shot probe (the batch gate query) uses the frames as-is —
    * each evaluates exactly once inside the single plan, and persisting
    * would leave session cache behind. Repeated probing (the streaming
    * path probes EVERY micro-batch) must [[persist]] first, or every
    * trigger re-derives the whole corpus index from source — the exact
    * corpus-dominated cost the index exists to amortize.
    */
  final case class NearDupIndex(bands: DataFrame, grams: DataFrame) {
    def persist(): NearDupIndex = { bands.persist(); grams.persist(); this }
    def unpersist(): Unit = { bands.unpersist(); grams.unpersist() }

    /** Write the index to `path` on the [[IndexArtifact]] layout — the
      * durable form of the nightly artifact: the ingest job that
      * rebuilds the index saves it; every later probe job (batch or
      * streaming restart) [[NearDupIndex.load]]s instead of re-deriving
      * the whole corpus index from source. Bands are narrow (doc_id,
      * band, bh) rows and grams one array row per doc, so both write
      * partitioned and scan back with pushdown like any other table.
      */
    def save(path: String): Unit =
      IndexArtifact.save(path, Map("bands" -> bands, "grams" -> grams))

    /** Fold a NEW batch of docs into this index without re-scanning the
      * old corpus: per-doc rows (bands, gram arrays) are independent,
      * so the merged index is frame unions of this index and the
      * batch's freshly-derived rows — bit-identical to a full rebuild
      * over old ∪ batch. Precondition (CLI-enforced for artifacts):
      * batch doc_ids are disjoint from the indexed ones. */
    def updated(batch: DataFrame): NearDupIndex = {
      val b = buildNearDupIndex(batch)
      NearDupIndex(bands.union(b.bands), grams.union(b.grams))
    }
  }

  object NearDupIndex {
    /** Reload an index written by [[NearDupIndex.save]]; probes against
      * the loaded index match probes against the freshly built one
      * bit-for-bit (band hashes and gram arrays are deterministic). */
    def load(spark: SparkSession, path: String): NearDupIndex =
      NearDupIndex(
        IndexArtifact.frame(spark, path, "bands"),
        IndexArtifact.frame(spark, path, "grams"))
  }

  def buildNearDupIndex(corpus: DataFrame): NearDupIndex = {
    val g = gramArrays(corpus)
    NearDupIndex(
      bandedFromGramArrays(g),
      g.select(col("doc_id").as("old_id"), col("gs").as("gs_old")))
  }

  /** Corpus unigram reference for drift probes — the distribution twin
    * of [[NearDupIndex]]: vocab-scale (term, ct) rows plus the two
    * scalars a probe needs. Same artifact lifecycle: the batch side
    * rebuilds it nightly ([[buildTermDistribution]]), probes
    * [[persist]] it when they run repeatedly (the streaming path hits
    * it every micro-batch), [[save]]/[[load]] make it durable.
    */
  final case class TermDistribution(counts: DataFrame, gt: Long, vocab: Long) {
    def persist(): TermDistribution = { counts.persist(); this }
    def unpersist(): Unit = counts.unpersist()
    def save(path: String): Unit =
      IndexArtifact.save(path, Map("counts" -> counts),
        meta = Map("gt" -> gt, "vocab" -> vocab))

    /** Fold a new batch into the reference distribution: term counts
      * sum-merge (union + one vocab-scale aggregate), `gt` adds
      * exactly, `vocab` recounts the merged term set (one aggregate —
      * the same eager scalar pass [[buildTermDistribution]] already
      * pays). Counts are additive, so this equals a full rebuild. */
    def updated(batch: DataFrame): TermDistribution = {
      val b = buildTermDistribution(batch)
      val merged = counts.union(b.counts)
        .groupBy("term").agg(sum("ct").as("ct"))
      TermDistribution(merged, gt + b.gt, merged.count())
    }
  }

  object TermDistribution {
    def load(spark: SparkSession, path: String): TermDistribution = {
      val m = IndexArtifact.meta(spark, path)
      TermDistribution(
        IndexArtifact.frame(spark, path, "counts"), m("gt"), m("vocab"))
    }
  }

  def buildTermDistribution(corpus: DataFrame): TermDistribution = {
    val counts = corpus
      .select(explode(wsTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("ct"))
    // empty corpus: sum over zero rows is null — coalesce so the NPE
    // doesn't surface far from the cause in a later probe
    val row = counts.agg(coalesce(sum("ct"), lit(0L)), count(lit(1))).head()
    TermDistribution(counts, row.getLong(0), row.getLong(1))
  }

  /** KL(batch || corpus) against a [[TermDistribution]] — the
    * ingest-time twin of [[klDrift]]: is today's batch drawn from the
    * distribution the corpus was? Unseen terms get the add-one floor
    * `q = (ct+1)/(gt+vocab)` (same smoothing contract as the LM probe),
    * so the divergence stays finite and `n_unseen` rides along as the
    * direct novelty signal. One batch-scale aggregate, one vocab-keyed
    * left join against the reference — nothing corpus-scale recomputes
    * at probe time.
    *
    * Per-term contributions round-then-DECIMAL-sum (the [[klDrift]]
    * pattern) so the divergence is partition-order independent — the
    * streaming probe and its batch twin must produce byte-equal rows.
    * An EMPTY batch (a restart's first micro-batch) aggregates over
    * zero rows; every typed column coalesces to its zero so sinks
    * reading `getLong`/`getDouble` never hit a null.
    */
  def klAgainst(batch: DataFrame, ref: TermDistribution): DataFrame = {
    val bt = batch
      .select(explode(wsTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    val btot = bt.agg(sum("c").as("btot"))
    bt.join(ref.counts, Seq("term"), "left")
      .crossJoin(broadcast(btot))
      .withColumn("q",
        (coalesce(col("ct"), lit(0L)).cast(DoubleType) + lit(1.0)) /
          lit(ref.gt.toDouble + ref.vocab.toDouble))
      .withColumn("p", col("c").cast(DoubleType) / col("btot"))
      .withColumn("contrib",
        round(col("p") * log(col("p") / col("q")), 12).cast(DecimalType(38, 12)))
      .select(
        count(lit(1)).as("n_terms"),
        coalesce(max(col("btot")), lit(0L)).as("n_tokens"),
        coalesce(sum(when(col("ct").isNull, 1).otherwise(0)).cast(LongType), lit(0L))
          .as("n_unseen"),
        round(coalesce(sum(col("contrib")).cast(DoubleType), lit(0.0)), 6)
          .as("kl_divergence"))
  }

  private def gramArrays(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"),
      graft.functions.WordNGrams.word_ngrams(col("text"), 3).as("gs"))

  /** Probe a batch of new docs against a corpus [[NearDupIndex]]: band
    * hashes join new-vs-old only (an index probe, not a self-join — no
    * old-old pair is ever generated, which is the entire cost at 100 TB
    * where the corpus dwarfs the daily batch); candidates verify
    * exactly via in-row array_intersect. Output is every (new, old)
    * pair at >= 0.8 Jaccard, no id ordering constraint — a new doc
    * matching three corpus docs reports all three.
    */
  def probeNearDups(batch: DataFrame, index: NearDupIndex): DataFrame = {
    val g = gramArrays(batch)
    val cand = bandedFromGramArrays(g).as("x")
      .join(index.bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
    val gsNew = g.select(col("doc_id").as("new_id"), col("gs").as("gs_new"))
    val j = col("inter").cast(DoubleType) /
      (size(col("gs_new")) + size(col("gs_old")) - col("inter"))
    cand
      .join(gsNew, "new_id")
      .join(index.grams, "old_id")
      .withColumn("inter", size(array_intersect(col("gs_new"), col("gs_old"))))
      .withColumn("jaccard", j)
      .filter(col("jaccard") >= 0.8)
      .select("new_id", "old_id", "jaccard")
  }

  /** Incremental dedup — the production ingest flow as a gate query:
    * `src12` plays the incoming batch on the fixture tables, the other
    * sources the existing corpus. See [[probeNearDups]].
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    probeNearDups(
      d.filter(col("source") === "src12"),
      buildNearDupIndex(d.filter(col("source") =!= "src12")))
      .orderBy("new_id", "old_id")
  }

  /** [[minhashLsh]] with the driver-collect cap exposed so tests can
    * force the distributed-verify branch and assert it agrees with the
    * broadcast branch. */
  private[graft] def minhashLshImpl(
      spark: SparkSession, dir: String, maxCollect: Long): DataFrame = {
    import spark.implicits._
    val (grams, sizes) = gramTables(spark, dir)
    // Per-doc minhash signature + band hashes computed per ROW in one
    // tight loop: grams are already distinct-per-doc inside their array
    // column, so the signature needs no aggregation at all — the earlier
    // groupBy + typed-udaf form (itself a fix for the 128-flat-column
    // codegen blowup) shuffled every gram hash and still paid an
    // ObjectHashAggregate's codegen. Now the grams never leave the row
    // and the only shuffle before candidate generation is the narrow
    // (doc_id, band, bh) band join. The gram hash is FNV-1a (any
    // deterministic 64-bit hash works: the splitmix permutations supply
    // avalanche, and the oracle verifies exact Jaccard, not signatures).
    val banded = bandedSignatures(docs(spark, dir))
    // Candidate pairs from a band-bucket self-join on the narrow
    // (doc_id, band, bh) rows. 64-bit band hashes make buckets
    // near-unique, so bucket-grouped pair expansion (collect_list +
    // in-task loops, as the simhash pipeline does over its 2048 possible
    // buckets) is a pessimization here: collect_list forces an
    // ObjectHashAggregate over millions of singleton groups (measured
    // ~2x slower than the join). Degenerate oversized buckets — floods
    // of identical signatures — cannot arise when exact dedup
    // (d_dedup_keep) runs first, the real pipeline order; a corpus that
    // skips it should cap buckets like the simhash path does.
    // The candidate set is small by LSH design and is broadcast for the
    // verification join anyway, so collect it up front (a broadcast IS a
    // driver-side collect) and rebuild it as a local relation: no persist
    // left behind in the session, and the broadcast build can never
    // re-execute the LSH subtree per partition (observed: 32 sequential
    // jobs re-running the whole pipeline over an unmaterialized subtree)
    val candDF = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"))
      .distinct()
    collectOrDistributed(candDF, maxCollect) { (candRows, candidates) =>
      // exact verification on candidates only — force broadcast so AQE can
      // never pick a shuffled join for it (observed plan-choice variance).
      // Candidate doc ids are known (just collected), so every verification
      // re-scan of the gram table is pruned to candidate docs with an
      // `isin` that pushes to the parquet scan: the explode re-runs over
      // ~|candidates| docs, not the corpus.
      val candIds = candRows.iterator
        .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toArray.distinct.sorted
      val candGrams =
        if (candIds.isEmpty) grams.filter(lit(false))
        else grams.filter(col("doc_id").isin(candIds.map(Long.box): _*))
      val g1 = candGrams.select(col("doc_id").as("id1"), col("g"))
      val g2 = candGrams.select(col("doc_id").as("id2"), col("g"))
      val inter = g2
        .join(broadcast(candidates.join(g1, "id1")), Seq("id2", "g"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      val candSizes = candGrams.groupBy("doc_id").agg(count(lit(1)).as("n"))
      jaccardOfPairs(inter, candSizes)
    } { candDist =>
      // Distributed-verify fallback: the pair set stays on the cluster.
      // Shuffle joins keyed on doc id expand each candidate pair by the
      // smaller side's grams, probe the other side on (id2, g), and the
      // per-doc sizes join un-broadcast (they are corpus-scale here).
      // The candidate subtree re-executes once inside this plan — at
      // this scale recomputation beats a driver OOM or a corpus-sized
      // persist.
      val g1 = grams.select(col("doc_id").as("id1"), col("g"))
      val g2 = grams.select(col("doc_id").as("id2"), col("g"))
      val inter = candDist.join(g1, "id1").join(g2, Seq("id2", "g"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("inter"))
      jaccardOfPairs(inter, sizes, hint = identity)
    }
  }

  /** SimHash near-dup detection: 64-bit signature from token hashes,
    * pairs with Hamming distance <= 6 found via 8x8-bit band join
    * (pigeonhole: <=7 differing bits always leave one band intact, so
    * recall at the <=6 threshold is exact). Token hash = md5-derived
    * int64 (md5Hash64) so the WHOLE pipeline — hash, bit counts, band
    * join, hamming — replays bit-for-bit in the DuckDB oracle.
    *
    * SCALE CONTRACT (documented quadratic bucket term): an 8-bit band
    * has only 256 possible values, so bucket population grows LINEARLY
    * with the corpus and the per-bucket pair expansion quadratically —
    * ~12-18x for 10x data in the sf1 sweeps (window-dependent), the
    * same class as d_ngram_jaccard. The band geometry is forced by the
    * contract (64 bits / <=6 hamming needs 7+ bands; 64/8 = 8-bit
    * bands), so past ~1M docs either widen the signature — SHIPPED as
    * [[simhashWide]] (128-bit / 16-bit bands, 65k bucket values,
    * measured 2.2x for 10x data where this form reads 12-18x) — or
    * screen with the prefix-filtered gram join and keep simhash for
    * the survivors; the oversized-bucket fallback below keeps the
    * expansion distributed either way.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashImpl(spark, dir, 10000)

  /** [[simhash]] with the oversized-bucket threshold exposed so tests can
    * force every bucket down the self-join fallback and assert it agrees
    * with the in-task grouped expansion. */
  private[graft] def simhashImpl(spark: SparkSession, dir: String, maxBucket: Int): DataFrame = {
    import spark.implicits._
    // SimHash signature + 8x8-bit banding per ROW in one tight loop: the
    // token stream folds into the 64 ±1 bit counts without leaving the
    // row, so there is no aggregation shuffle and no banding projection
    // at all — the earlier groupBy + typed-udaf form (itself a fix for
    // the 64-flat-sum-column codegen blowup) still paid an aggregate
    // exchange plus an INTERPRETED transform(sequence(...)) banding
    // lambda. The token hash is md5-derived exactly like the SQL
    // md5Hash64 (first 8 digest bytes big-endian == (hi<<32)|lo of the
    // first 16 hex chars), so the DuckDB oracle still replays the whole
    // pipeline bit-for-bit.
    val banded = docs(spark, dir)
      .select(col("doc_id"), wsTokens(col("text")).as("ts"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, ts) =>
          val counts = new Array[Long](64)
          ts.foreach { t =>
            md.reset()
            val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            var h = 0L
            var i = 0
            while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
            var b = 0
            while (b < 64) { counts(b) += (((h >>> b) & 1L) * 2L) - 1L; b += 1 }
          }
          var sig = 0L
          var b = 0
          while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
          (0 until 8).iterator.map(k => (id, sig, k, (sig >>> (k * 8)) & 255L))
        }
      }.toDF("doc_id", "sim", "band", "bh")
    // bucket grouping instead of a band self-join (one exchange, not
    // two). Buckets small enough to pair-expand in one task (the
    // overwhelmingly common case with 8-bit bands on a deduped corpus)
    // expand in a tight in-task loop; OVERSIZED buckets — floods of
    // near-identical signatures, or simply average 8-bit-bucket
    // population once the corpus passes ~maxBucket*256 docs — fall back
    // to a self-join on (band, bh), which spreads the O(|bucket|²) pair
    // expansion across the cluster instead of one task (and instead of
    // silently dropping the bucket's pairs, which would diverge from
    // the oracle with no signal). Both branches hang off the same
    // (band, bh) aggregate, so ReuseExchange runs the signature scan +
    // shuffle once.
    val grouped = banded
      .groupBy("band", "bh").agg(collect_list(struct(col("doc_id"), col("sim"))).as("xs"))
    val smallPairs = grouped
      .filter(size(col("xs")).between(2, maxBucket))
      .select(col("xs")).as[Seq[(Long, Long)]]
      .flatMap { xs =>
        val sorted = xs.toArray.sortBy(_._1)
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i)._1, sorted(j)._1,
          java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2))
      }
      .toDF("id1", "id2", "hamming")
    val bigRows = grouped
      .filter(size(col("xs")) > maxBucket)
      .select(col("band"), col("bh"), explode(col("xs")).as("m"))
      .select(col("band"), col("bh"), col("m.doc_id").as("doc_id"), col("m.sim").as("sim"))
    val bigPairs = bigRows.as("x").join(bigRows.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).as("hamming"))
    smallPairs.unionByName(bigPairs)
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy("id1", "id2")
  }

  /** WIDE SimHash — the scale path [[simhash]]'s scaladoc prescribes,
    * SHIPPED: a 128-bit signature (md5's full digest per token — the
    * 64-bit form uses only its first half) banded as 8×16-bit bands,
    * pairs kept at Hamming distance <= 7 (pigeonhole over 8 bands:
    * exact recall at the threshold, same argument as the 64-bit form).
    * The POINT is the band space: 16-bit bands have 65,536 values
    * against the 8-bit form's 256, so bucket population — and with it
    * the quadratic pair term that takes d_simhash to ~12-18× per 10×
    * data — drops by ~256× at equal corpus size. Same plan shape as
    * [[simhash]]: signature + banding in one mapPartitions pass, ONE
    * (band, bh) exchange, in-task pair expansion with the distributed
    * self-join fallback for oversized buckets. The whole pipeline
    * (per-token 128-bit hash, bit counts, band extraction, two-half
    * hamming) replays bit-for-bit in the DuckDB oracle via the same
    * signed-cast trick as the 64-bit gate.
    */
  def simhashWide(spark: SparkSession, dir: String): DataFrame =
    simhashWideImpl(spark, dir, 10000)

  private[graft] def simhashWideImpl(
      spark: SparkSession, dir: String, maxBucket: Int): DataFrame = {
    import spark.implicits._
    val banded = docs(spark, dir)
      .select(col("doc_id"), wsTokens(col("text")).as("ts"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, ts) =>
          val counts = new Array[Long](128)
          ts.foreach { t =>
            md.reset()
            val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            // hi = first 8 digest bytes (== the 64-bit form's hash),
            // lo = the second 8 — together md5's full 128 bits
            var hi = 0L; var lo = 0L
            var i = 0
            while (i < 8) { hi = (hi << 8) | (d(i) & 0xffL); i += 1 }
            while (i < 16) { lo = (lo << 8) | (d(i) & 0xffL); i += 1 }
            var b = 0
            while (b < 64) {
              counts(b) += (((lo >>> b) & 1L) * 2L) - 1L
              counts(64 + b) += (((hi >>> b) & 1L) * 2L) - 1L
              b += 1
            }
          }
          var sigLo = 0L; var sigHi = 0L
          var b = 0
          while (b < 64) {
            if (counts(b) > 0) sigLo |= (1L << b)
            if (counts(64 + b) > 0) sigHi |= (1L << b)
            b += 1
          }
          // bands 0-3 slice sigLo, 4-7 slice sigHi — 16 bits each
          (0 until 8).iterator.map { k =>
            val bh =
              if (k < 4) (sigLo >>> (k * 16)) & 0xffffL
              else (sigHi >>> ((k - 4) * 16)) & 0xffffL
            (id, sigHi, sigLo, k, bh)
          }
        }
      }.toDF("doc_id", "hi", "lo", "band", "bh")
    val grouped = banded
      .groupBy("band", "bh")
      .agg(collect_list(struct(col("doc_id"), col("hi"), col("lo"))).as("xs"))
    val smallPairs = grouped
      .filter(size(col("xs")).between(2, maxBucket))
      .select(col("xs")).as[Seq[(Long, Long, Long)]]
      .flatMap { xs =>
        val sorted = xs.toArray.sortBy(_._1)
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i)._1, sorted(j)._1,
          java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2) +
            java.lang.Long.bitCount(sorted(i)._3 ^ sorted(j)._3))
      }
      .toDF("id1", "id2", "hamming")
    val bigRows = grouped
      .filter(size(col("xs")) > maxBucket)
      .select(col("band"), col("bh"), explode(col("xs")).as("m"))
      .select(col("band"), col("bh"), col("m.doc_id").as("doc_id"),
        col("m.hi").as("hi"), col("m.lo").as("lo"))
    val bigPairs = bigRows.as("x").join(bigRows.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        (bit_count(col("x.hi").bitwiseXOR(col("y.hi"))) +
          bit_count(col("x.lo").bitwiseXOR(col("y.lo")))).as("hamming"))
    smallPairs.unionByName(bigPairs)
      .filter(col("hamming") <= 7)
      .distinct()
      .orderBy("id1", "id2")
  }

  /** Token counting: whitespace tokens + regex ("BPE-ish") tokens. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      size(wsTokens(col("text"))).cast(LongType).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).cast(LongType).as("n_re_tokens"))
      .orderBy("doc_id")

  /** Quality scoring: token stats, alpha ratio, stopword ratio. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val w = wsTokens(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      size(w).cast(LongType).as("n_tokens"),
      (col("n_chars").cast(DoubleType) / size(w)).as("avg_token_len"),
      (size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0))).cast(LongType)
        .cast(DoubleType) / col("n_chars")).as("alpha_ratio"),
      (tokensInSet(w, stopwords).cast(DoubleType) / size(w)).as("stopword_ratio"))
      .orderBy("doc_id")
  }

  /** N-gram-heuristic language ID: marker-word counts per language,
    * argmax with fixed priority (en > de > fr > es).
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdCore(spark, dir).orderBy("doc_id")

  /** Unsorted core of [[langId]] — [[langConfusion]] aggregates it. */
  private def langIdCore(spark: SparkSession, dir: String): DataFrame = {
    val w = wsTokens(col("text"))
    val markers = Map(
      "en" -> Seq("the", "and", "of", "is"),
      "de" -> Seq("der", "und", "die", "ist"),
      "fr" -> Seq("le", "et", "les", "est"),
      "es" -> Seq("el", "y", "los", "es"))
    docs(spark, dir).select(
        col("doc_id"), col("lang"),
        tokensInSet(w, markers("en")).cast(LongType).as("c_en"),
        tokensInSet(w, markers("de")).cast(LongType).as("c_de"),
        tokensInSet(w, markers("fr")).cast(LongType).as("c_fr"),
        tokensInSet(w, markers("es")).cast(LongType).as("c_es"))
      .withColumn("pred_lang",
        when(col("c_en") >= col("c_de") && col("c_en") >= col("c_fr") && col("c_en") >= col("c_es"), "en")
          .when(col("c_de") >= col("c_fr") && col("c_de") >= col("c_es"), "de")
          .when(col("c_fr") >= col("c_es"), "fr")
          .otherwise("es"))
  }

  /** Language-ID confusion matrix — the QA report behind [[langId]]:
    * (labeled, predicted) doc counts plus each cell's share of its
    * labeled language. The report any curation run publishes before
    * trusting a language filter to route 100 TB. Scan-side marker
    * counts, then one (lang, pred) aggregate with map-side partials and
    * a tiny label-keyed window for the row shares — cells are at most
    * |langs|^2 rows regardless of corpus size.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    langIdCore(spark, dir)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        round(col("n_docs").cast(DoubleType) / sum("n_docs").over(w), 6))
      .orderBy("lang", "pred_lang")
  }

  /** TF-IDF relevance: top-5 terms per document.
    * tf = term count / doc token count; idf = ln(N / df) with df =
    * docs containing the term. Terms from the raw whitespace tokens
    * (duplicates count toward tf); doc frequency from the distinct-per-
    * doc native expression — one narrow (doc, term) aggregate each, the
    * idf table broadcast into the scoring join. Scores round to 6 dp so
    * last-ulp libm differences can't flip the cross-engine compare, and
    * ranking ties break on the term.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val n = d.count() // corpus size: one metadata-scale job
    val tf = d
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tc"))
      .withColumn("doc_len", sum("tc").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val df_ = d
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 1)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(broadcast(df_), "term")
      .withColumn("tfidf",
        round((col("tc").cast(DoubleType) / col("doc_len")) *
          log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("rnk"), col("term"), col("tfidf"))
      .orderBy("doc_id", "rnk")
  }

  /** Character-distribution entropy per doc (bits/char) — the classic
    * cheap gibberish/boilerplate signal in training-data quality
    * filtering. Two narrow aggregates ((doc, char) counts, then the
    * entropy fold); 6-dp rounding absorbs summation-order ulps.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame = {
    val freq = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) > 0)
      .groupBy("doc_id", "ch").agg(count(lit(1)).cast(DoubleType).as("c"))
    val p = col("c") / col("n")
    freq
      .withColumn("n", sum("c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .groupBy("doc_id")
      .agg(round(-sum(p * log2(p)), 6).as("char_entropy"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: MD5 over normalized text. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** Rabin-Karp rolling-hash fingerprint via the native Catalyst
    * expression (graft.functions.RollingHash — codegen'd, no UDF).
    */
  def rollingFingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.RollingHash.rolling_hash(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Benchmark decontamination: flag corpus docs sharing any word-3-gram
    * with the held-out set (source = src0 stands in for an eval
    * benchmark), with the count of distinct shared grams as evidence.
    *
    * The scale shape is exactly what a 100 TB pipeline needs: benchmark
    * gram sets are tiny (an eval suite is MBs, not TBs), so the held-out
    * grams BROADCAST and the corpus side is one scan + map-side
    * hash-join + partial-aggregated count — no shuffle of corpus grams,
    * no candidate blowup. Grams are distinct-per-doc by construction
    * (native WordNGrams), so the count needs no extra dedup.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateCore(spark, dir).orderBy("doc_id")

  /** Unsorted core of [[decontaminate]] — see [[dedupKeepCore]]. */
  private def decontaminateCore(spark: SparkSession, dir: String): DataFrame = {
    val grams = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).as("g"))
    val bench = grams.filter(col("source") === "src0").select("g").distinct()
    grams.filter(col("source") =!= "src0")
      .join(broadcast(bench), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** Intra-document repetition ratio: 1 - distinct-3-grams / total
    * 3-grams — the standard cheap template/boilerplate signal (heavily
    * repeated phrasing scores high). Pure per-row column algebra: both
    * counts come from the same native expressions, so the whole operator
    * is a single scan with zero shuffles before the output sort.
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"),
        size(wsTokens(col("text"))).cast(LongType).as("n_tokens"),
        size(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).cast(LongType)
          .as("n_distinct_3g"))
      .filter(col("n_tokens") >= 3)
      .withColumn("rep_ratio",
        round(lit(1.0) - col("n_distinct_3g").cast(DoubleType) / (col("n_tokens") - lit(2)), 6))
      .orderBy("doc_id")

  /** Gopher-rule "top n-gram mass": per doc, the share of the token
    * stream covered by its single most frequent bigram (the Gopher
    * quality filter drops docs where one 2-gram accounts for > 20% of
    * the text; Rae et al. 2021 measure characters, we measure tokens —
    * same signal, engine-replayable arithmetic). Positional bigrams
    * are built in-row (scan-side), so the shuffled rows are narrow
    * (doc, bigram) pairs with map-side partial counts; the per-doc max
    * is a second doc-scale aggregate. Tie-break: highest count, then
    * lexicographically greatest bigram (max over a (ct, bg) struct) —
    * deterministic and identical to the oracle's ORDER BY ct DESC,
    * bg DESC.
    */
  def topBigramFraction(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id"), wsTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tokens"),
        explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> concat(ts[i-1], ' ', ts[i]))")).as("bg"))
      .groupBy("doc_id", "n_tokens", "bg").agg(count(lit(1)).as("ct"))
      .groupBy("doc_id", "n_tokens")
      .agg(max(struct(col("ct"), col("bg"))).as("top"))
      .select(col("doc_id"), col("n_tokens"),
        col("top.bg").as("top_bigram"), col("top.ct").as("top_ct"),
        round(col("top.ct").cast(DoubleType) * lit(2.0) / col("n_tokens"), 6)
          .as("top_frac"))
      .orderBy("doc_id")

  /** Gopher-rule duplicate-n-gram coverage: per doc, the fraction of
    * token positions covered by a 5-gram that occurs at least twice IN
    * THAT DOC (Rae et al. 2021's "duplicate 5-grams" family — repeated
    * passages inflate the metric even when no single gram dominates,
    * the case [[topBigramFraction]] misses). Positional 5-grams build
    * in-row; multiplicity comes from one window count over (doc, gram)
    * — narrow rows, one exchange — and coverage is a distinct-position
    * count per doc (positions covered by BOTH a repeated and an
    * unrepeated gram count once, via distinct-over-non-null). Docs
    * whose grams are all unique stay in the output with coverage 0 —
    * no join back against the corpus for the zero rows.
    */
  def dupGramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id", "g")
    docs(spark, dir)
      .select(col("doc_id"), wsTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"), size(col("ts")).cast(LongType).as("n_tokens"),
        posexplode(expr(
          "transform(sequence(1, size(ts) - 4), i -> concat_ws(' ', slice(ts, i, 5)))"))
          .as(Seq("p", "g")))
      .withColumn("ct", count(lit(1)).over(w))
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(p, p + 4)")).as("pos"),
        (col("ct") >= 2).as("rep"))
      .groupBy("doc_id", "n_tokens")
      .agg(countDistinct(when(col("rep"), col("pos"))).as("n_covered"))
      .select(col("doc_id"), col("n_tokens"), col("n_covered"),
        round(col("n_covered").cast(DoubleType) / col("n_tokens"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** Per-source curation funnel — the whole cleaning pipeline as ONE
    * conditional aggregate: how many docs each source contributes after
    * each successive gate (length floor -> language consistency ->
    * stopword-density quality -> exact-dedup survivor). This is the
    * per-source yield report a 100 TB curation run publishes nightly;
    * stages compose the operators that exist as standalone queries
    * ([[langId]]'s marker argmax, [[qualityScore]]'s stopword ratio,
    * [[dedupKeep]]'s min-id survivor rule). One fingerprint window for
    * the survivor flag, then a single source-keyed aggregate with
    * `sum(when(...))` partials — two exchanges total, no joins.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val w = wsTokens(col("text"))
    val kw = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val staged = docs(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"),
        size(w).cast(LongType).as("n_tokens"),
        tokensInSet(w, stopwords).cast(DoubleType).as("sw"),
        tokensInSet(w, Seq("the", "and", "of", "is")).as("c_en"),
        tokensInSet(w, Seq("der", "und", "die", "ist")).as("c_de"),
        tokensInSet(w, Seq("le", "et", "les", "est")).as("c_fr"),
        tokensInSet(w, Seq("el", "y", "los", "es")).as("c_es"),
        fingerprint(col("text")).as("fp"))
      .withColumn("pred_lang",
        when(col("c_en") >= col("c_de") && col("c_en") >= col("c_fr") &&
          col("c_en") >= col("c_es"), "en")
          .when(col("c_de") >= col("c_fr") && col("c_de") >= col("c_es"), "de")
          .when(col("c_fr") >= col("c_es"), "fr")
          .otherwise("es"))
      .withColumn("keeper", min("doc_id").over(kw) === col("doc_id"))
      .withColumn("s1", col("n_tokens") >= 30)
      .withColumn("s2", col("s1") && col("pred_lang") === col("lang"))
      .withColumn("s3", col("s2") && col("sw") / col("n_tokens") >= 0.08)
      .withColumn("s4", col("s3") && col("keeper"))
    staged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("s1").cast(LongType)).as("after_length"),
        sum(col("s2").cast(LongType)).as("after_lang"),
        sum(col("s3").cast(LongType)).as("after_quality"),
        sum(col("s4").cast(LongType)).as("after_dedup"))
      .orderBy("source")
  }

  /** Character-level edit-distance verification of near-dup candidates:
    * levenshtein + normalized similarity over the exact-Jaccard >= 0.8
    * pairs. The candidate set is output-scale (same argument as the LSH
    * candidates), so it's collected and rebuilt as a local relation —
    * the doc-text joins are then broadcast-hash, never shuffled — and
    * the quadratic DP runs on candidate pairs only, never the corpus
    * cross product.
    */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame =
    editDistancePairsImpl(spark, dir, maxDriverPairs)

  /** [[editDistancePairs]] with the driver-collect cap exposed for the
    * forced-distributed-branch test. */
  private[graft] def editDistancePairsImpl(
      spark: SparkSession, dir: String, maxCollect: Long): DataFrame = {
    import spark.implicits._
    // Candidates from the LSH pipeline, not the exact inverted-index
    // join: minhashLsh already exact-verifies its candidates at >= 0.8
    // Jaccard (output == ngramJaccard w.h.p. ~1 - 5e-8 per pair; the
    // oracle replays the exact SQL), and at 100 TB the banded pipeline
    // is the only affordable candidate source anyway.
    val verified = minhashLshImpl(spark, dir, maxCollect)
      .select(col("id1"), col("id2"))
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val lev = levenshtein(col("a.text"), col("b.text"))
    def score(pairs: DataFrame): DataFrame = pairs
      .join(d.as("a"), col("id1") === col("a.doc_id"))
      .join(d.as("b"), col("id2") === col("b.doc_id"))
      .select(col("id1"), col("id2"),
        lev.cast(LongType).as("lev"),
        round(lit(1.0) - lev.cast(DoubleType) /
          greatest(length(col("a.text")), length(col("b.text"))), 6).as("sim"))
      .orderBy("id1", "id2")
    // Same driver-budget guard as the LSH collect: verified near-dup
    // pairs are usually output-scale (broadcast them, text joins become
    // broadcast-hash), but a duplicate-flooded corpus can make them
    // corpus-scale — then the pairs stay distributed and the text joins
    // shuffle on doc id instead. The persist keeps the overflow probe
    // from re-running the whole LSH+verify pipeline a second time in
    // the distributed branch; its release defers to the next query
    // completion because the overflow plan still references the pairs.
    val probed = verified.persist()
    collectOrDistributed(probed, maxCollect) { (_, local) =>
      probed.unpersist()
      score(broadcast(local))
    } { dist =>
      unpersistAfterNextQuery(probed)
      score(dist)
    }
  }

  /** Per-source corpus statistics — the profiling pass every ingest runs
    * before filtering decisions: doc counts, char-length distribution
    * (incl. exact interpolated median), language spread. One hash
    * aggregate with map-side partials; source cardinality is tiny so the
    * final shuffle is metadata-scale.
    */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(avg(col("n_chars")), 6).as("avg_chars"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        round(expr("percentile(n_chars, 0.5)"), 6).as("p50_chars"),
        countDistinct("lang").as("n_langs"))
      .orderBy("source")

  /** Deterministic stratified sampling: per-row hash bucket from the
    * doc id (first 32 bits of md5, mod 100), per-source keep rates
    * (50% for src0-3, 10% otherwise). Pure per-row column algebra —
    * sampling at 100 TB must be a SHUFFLE-FREE scan-side filter, and
    * hash-of-key (vs rand()) makes it reproducible run-to-run and
    * stable under retries/speculation, which rand() is not.
    */
  /** Deterministic per-row sample bucket (first 32 bits of md5(doc_id)
    * mod 100) — pure column algebra, so the same expression samples a
    * batch scan or an unbounded stream (see StreamingAnalyticsSpec).
    */
  def sampleBucket(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    conv(substring(md5(docId.cast(StringType).cast(BinaryType)), 1, 8), 16, 10)
      .cast(LongType) % 100

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .filter(col("bucket") <
        when(col("source").isin("src0", "src1", "src2", "src3"), lit(50L)).otherwise(lit(10L)))
      .select(col("doc_id"), col("source"), col("bucket"))
      .orderBy("doc_id")

  /** Deterministic per-source QUOTA sampling — the data-mixing primitive
    * next to [[stratifiedSample]]'s rate sampling: exactly k docs per
    * source (fewer only if the source is smaller), selected as the top-k
    * by md5-derived hash so the draw is pseudo-random yet
    * retry/speculation-stable and replayable in SQL. The selection runs
    * as the bounded [[graft.functions.TopKAggregator]], NOT a
    * row_number window: partial states are k-sized arrays merged
    * map-side, so the shuffle carries k rows per source per map
    * partition — at 100 TB the window form would shuffle and sort the
    * whole corpus into a handful of source partitions (maximal skew);
    * this form's exchange is quota-scale regardless of corpus size.
    */
  def quotaSample(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(graft.functions.TopKAggregator(20))
    // 32-bit md5 prefix: exact in Double (< 2^53), same value in SQL
    val h32 = conv(substring(md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 8), 16, 10)
      .cast(LongType)
    docs(spark, dir)
      .groupBy("source")
      .agg(topk(h32.cast(DoubleType), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("source"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("p._2").as("doc_id"))
      .orderBy("source", "rnk")
  }

  /** Deterministic train/val/test split assignment: the same
    * md5-derived bucket as [[stratifiedSample]] (retry/speculation-safe,
    * replayable in SQL) cut at 80/90 — every engine that hashes the
    * same doc_id agrees on the split forever, the property a training
    * pipeline needs when the corpus is rebuilt incrementally. Pure
    * per-row column algebra: zero shuffles before the output sort.
    */
  def splitAssign(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .select(col("doc_id"), col("source"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** Cross-split contamination audit: near-duplicate pairs (the
    * exact-verified >= 0.8 Jaccard pairs from the MinHash/LSH pipeline)
    * whose members land in DIFFERENT train/val/test splits under
    * [[splitAssign]]'s hash. Any such pair leaks training text into an
    * eval split — the check every pipeline must run after splitting,
    * because hash-splitting is oblivious to near-duplicates. Split
    * membership is pure column algebra of each pair id (the same
    * md5-derived bucket as splitAssign), so the annotation adds ZERO
    * joins on top of the LSH pipeline: the pair-scale frame is extended
    * in place and filtered.
    */
  def splitLeak(spark: SparkSession, dir: String): DataFrame = {
    def splitOf(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val b = sampleBucket(id)
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    minhashLsh(spark, dir)
      .withColumn("split1", splitOf(col("id1")))
      .withColumn("split2", splitOf(col("id2")))
      .filter(col("split1") =!= col("split2"))
      .select("id1", "split1", "id2", "split2", "jaccard")
      .orderBy("id1", "id2")
  }

  /** Token-budget corpus selection — "the best documents that fit in B
    * training tokens": docs ordered by (quality desc, doc_id), kept
    * while the running token total stays within the budget. The naive
    * form is a GLOBAL ordered cumulative sum — a single-partition sort
    * at any scale. This runs the same contract as two bounded passes:
    * (1) a per-quality-bucket token histogram (quality = alpha ratio
    * rounded to 6 dp, so the histogram is <= 10^6 + 1 rows no matter the
    * corpus size) collects to the driver, and its exclusive prefix sums
    * give every bucket its starting offset in the global order;
    * (2) buckets whose offset already exceeds the budget are pruned
    * before any shuffle, survivors join the broadcast offset table and
    * finish with a PER-BUCKET cumulative window — parallel across
    * buckets, never global. The emitted cum_tokens is the exact global
    * running total (offset + within-bucket prefix), so the oracle's
    * single-window form verifies the order contract end-to-end.
    */
  def tokenBudgetSelect(spark: SparkSession, dir: String): DataFrame =
    tokenBudgetSelectImpl(spark, dir, 10000L)

  /** [[tokenBudgetSelect]] with the budget exposed so tests can probe
    * the boundary bucket (partial selection) and the degenerate
    * everything-fits / nothing-fits edges. */
  private[graft] def tokenBudgetSelectImpl(
      spark: SparkSession, dir: String, budget: Long): DataFrame = {
    import spark.implicits._
    val scored = docs(spark, dir).select(
      col("doc_id"),
      size(wsTokens(col("text"))).cast(LongType).as("n_tokens"),
      round(size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0)))
        .cast(DoubleType) / col("n_chars"), 6).as("q"))
    // Pass 1: quality-bucket token histogram, bounded by the 6-dp grid.
    val hist = scored.groupBy("q").agg(sum("n_tokens").as("bucket_tokens"))
      .collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy { case (q, _) => -q }
    var acc = 0L
    val offsets = hist.map { case (q, t) => val o = acc; acc += t; (q, o) }
      .filter { case (_, o) => o < budget } // bucket starts past budget -> wholly out
    val offsDf = offsets.toSeq.toDF("q", "off")
    // Pass 2: per-bucket cumulative window on the surviving buckets only.
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("q").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    scored.join(broadcast(offsDf), "q")
      .withColumn("cum_tokens", col("off") + sum("n_tokens").over(wB))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("q"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Canonical-representative selection per near-duplicate cluster:
    * dedup keeps the HIGHEST-QUALITY member (alpha ratio, ties to the
    * lowest id), not an arbitrary one — the curation policy real
    * pipelines want when boilerplate-heavy copies score lower than the
    * original. Clusters come from the LSH pipeline ([[dupClusters]]);
    * the argmax is one struct-max aggregate with k-independent map-side
    * partials, so the shuffle carries one row per cluster per map
    * partition. The (alpha desc, id asc) struct order is total — no
    * partition-order dependence.
    */
  def dedupBest(spark: SparkSession, dir: String): DataFrame =
    dedupBestImpl(spark, dir, maxDriverPairs)

  /** [[dedupBest]] with the driver-collect cap exposed for the
    * forced-overflow test (the cap reaches [[dupClustersImpl]], which
    * routes an overflowing pair graph to distributed label
    * propagation — this operator inherits that safety). */
  private[graft] def dedupBestImpl(
      spark: SparkSession, dir: String, maxCollect: Long): DataFrame = {
    val clusters = dupClustersImpl(spark, dir, maxCollect)
    val quality = docs(spark, dir).select(col("doc_id"),
      (size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0)))
        .cast(DoubleType) / col("n_chars")).as("alpha_ratio"))
    // clusters are NODE-scale (duplicate docs only — quadratically
    // smaller than the pair set, and both cluster paths materialize
    // node-scale label rows): broadcast them into the corpus-scale
    // quality scan — no corpus shuffle
    broadcast(clusters).join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("alpha_ratio"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"),
        (-col("best.neg_id")).as("keep_id"),
        col("n_members"),
        round(col("best.alpha_ratio"), 6).as("best_alpha"))
      .orderBy("cluster_id")
  }

  /** Cross-source near-duplicate leakage matrix: how many >= 0.8
    * Jaccard pairs straddle each (source, source) combination — the
    * audit that catches a "held-out" slice contaminated by another
    * ingest feed. Pairs come from the LSH pipeline (exact-verified, so
    * the oracle replays exact SQL); they are output-scale and broadcast
    * into the doc->source lookups, so the corpus is never shuffled.
    * Pair direction folds with least/greatest: the matrix is upper-
    * triangular including the diagonal (intra-source dups).
    */
  def overlapMatrix(spark: SparkSession, dir: String): DataFrame =
    overlapMatrixImpl(spark, dir, maxDriverPairs)

  /** [[overlapMatrix]] with the driver-collect cap exposed for the
    * forced-distributed-branch test. */
  private[graft] def overlapMatrixImpl(
      spark: SparkSession, dir: String, maxCollect: Long): DataFrame = {
    val src = docs(spark, dir).select(col("doc_id"), col("source"))
    def fold(p: DataFrame): DataFrame = p
      .join(src.select(col("doc_id").as("id1"), col("source").as("s1")), "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("s2")), "id2")
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
    // same driver-budget guard as the LSH collect: a forced broadcast
    // of a corpus-scale pair set would collect to the driver and undo
    // exactly what the minhashLsh fallback protected against. The
    // persist keeps the probe from re-running the LSH pipeline a second
    // time when fold() executes; release follows each branch's rule.
    val probed = minhashLshImpl(spark, dir, maxCollect).select("id1", "id2").persist()
    collectOrDistributed(probed, maxCollect) { (_, local) =>
      probed.unpersist()
      fold(broadcast(local))
    } { dist =>
      unpersistAfterNextQuery(probed)
      fold(dist)
    }
  }

  /** Bigram language-model scoring — the classic perplexity proxy
    * without an external model: corpus bigram/history counts with
    * add-one smoothing give each doc its mean log-probability
    * `avg ln((c(w1,w2)+1) / (c(w1·)+V))`; unusually improbable token
    * sequences (mojibake, shuffled text, spam) score far below the
    * corpus norm. Scale shape: the counts tables are vocab-bounded
    * aggregates; scoring is two shuffle joins keyed on the bigram and
    * its history — the standard count-then-join LM pipeline, nothing
    * corpus-quadratic. The vocab size rides a broadcast 1-row
    * aggregate (constant-key hash join, not a cartesian).
    */
  def ngramLm(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = docBigrams(docs(spark, dir))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = docs(spark, dir)
      .select(explode(wsTokens(col("text"))).as("w"))
      .agg(countDistinct("w").as("vsize")).withColumn("k", lit(1))
    bigrams
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("k", lit(1))
      .join(broadcast(vocab), "k")
      .select(col("doc_id"),
        log((col("c2") + lit(1.0)) / (col("c1") + col("vsize"))).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("logp"), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing: the corpus split into ntile(10)
    * deciles of the bigram-LM score ([[ngramLm]]'s avg_logp, ties by
    * doc_id), with per-decile population and score stats — the
    * "head/middle/tail by LM perplexity" partition used to stage
    * training data by quality. ntile needs a GLOBAL rank — a
    * single-partition sort at any scale — so the rank is assembled the
    * same way [[tokenBudgetSelect]]'s cumsum is: the 6-dp score grid
    * bounds the distinct-score histogram (collected at construction,
    * bounded rows at any corpus size), its prefix counts give each
    * score value a global rank offset, and a PER-SCORE window supplies
    * the within-value tie-break — parallel across score values, never
    * global. The decile falls out of the rank in closed form (ntile's
    * first n%10 buckets hold one extra row). Decile means go through
    * exact DECIMAL sums (avg_logp is already 6-dp) so the stats are
    * partition-order-free.
    */
  /** The driver-collected distinct-score histogram [[pplBuckets]] ranks
    * from is bounded by the score RANGE on the 6-dp grid, not by the
    * corpus — but unlike [[tokenBudgetSelect]]'s q ∈ [0,1] grid (≤ 10^6
    * values by construction), avg_logp's range is not intrinsically
    * capped. Make the bound explicit: past the cap, rank from a coarser
    * grid (round avg_logp to fewer decimals before the histogram) or an
    * approx-quantile sketch instead of exact decile edges. */
  private[graft] val histCap = 2000000L

  private[graft] def requireHistBounded(distinctScores: Long, cap: Long = histCap): Unit =
    // the caller counts a limit(cap + 1) read, so past the cap the
    // number is a LOWER bound on the true cardinality, not the count
    require(distinctScores <= cap,
      s"pplBuckets: more than $cap distinct 6-dp scores (limited read " +
        s"saw $distinctScores) exceed the driver-histogram cap — " +
        "coarsen the score grid (fewer decimals) or switch the ranking " +
        "to an approx-quantile sketch")

  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val scores = ngramLm(spark, dir).select(col("doc_id"), col("avg_logp"))
    // ONE limited collect serves both the driver-safety bound and the
    // histogram read (r14 — replaces persist + count + collect +
    // unpersist, two jobs over the aggregate): `limit(cap + 1)` caps
    // what can ever reach the driver, a full result means the bound is
    // broken (raise before using the rows), and any result at or under
    // the cap is by definition the COMPLETE histogram.
    val histRows = scores.groupBy("avg_logp").agg(count(lit(1)).as("c"))
      .limit(histCap.toInt + 1).collect()
    requireHistBounded(histRows.length.toLong)
    val hist = histRows
      .map(r => (r.getDouble(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    val offs = hist.map { case (v, c) => val o = acc; acc += c; (v, o) }
    val n = acc
    val q = n / 10
    val r = n % 10
    val offsDf = offs.toSeq.toDF("avg_logp", "off")
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("avg_logp").orderBy("doc_id")
    val ranked = scores.join(broadcast(offsDf), "avg_logp")
      .withColumn("rnk", col("off") + row_number().over(wS))
    // ntile(10): buckets 1..r hold q+1 rows, the rest q. With n < 10
    // every bucket holds one row and the first branch covers all ranks
    // (guarded in Scala: the q = 0 divisor never reaches the plan).
    val decile =
      if (q == 0L) col("rnk").cast(IntegerType)
      else // integral DIV: no double-division misround at any rank
        when(col("rnk") <= lit(r * (q + 1)),
          expr(s"CAST(((rnk - 1) DIV ${q + 1}) + 1 AS INT)"))
          .otherwise(expr(s"CAST($r + ((rnk - ${r * (q + 1)} - 1) DIV $q) + 1 AS INT)"))
    ranked.withColumn("decile", decile)
      .groupBy("decile")
      .agg(
        count(lit(1)).as("n_docs"),
        min("avg_logp").as("min_logp"),
        max("avg_logp").as("max_logp"),
        round(sum(col("avg_logp").cast(DecimalType(18, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_logp"))
      .orderBy("decile")
  }

  /** DoReMi-flavored domain reweighting from the corpus's own bigram
    * LM: sources whose documents the LM finds hardest (mean avg_logp
    * furthest BELOW the corpus mean) get proportionally more sampling
    * weight — the deterministic one-shot cousin of DoReMi's
    * excess-loss reweighting, with the bigram score standing in for
    * reference-model loss. The per-source score table is
    * domain-cardinality-scale, so after ONE corpus pass it collects and
    * the weight algebra runs over a local 20-row frame (no second
    * corpus scan for the corpus-mean or the normalizer). Excess terms
    * round to 12 dp and sum in DECIMAL, so the normalizer is
    * order-free; the 1e-6 floor keeps easier-than-average sources
    * present (never zero weight) and the total strictly positive.
    */
  def doremiWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val per = ngramLm(spark, dir).select(col("doc_id"), col("avg_logp"))
      .join(docs(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("avg_logp").cast(DecimalType(18, 6))).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2)))
      .toSeq.toDF("source", "n_docs", "s")
    val tot = per.agg(
      (sum(col("s")).cast(DoubleType) / sum(col("n_docs"))).as("cmean"))
    val x = per.crossJoin(broadcast(tot))
      .withColumn("smean", col("s").cast(DoubleType) / col("n_docs"))
      .withColumn("exr",
        round(greatest(col("cmean") - col("smean"), lit(1e-6)), 12)
          .cast(DecimalType(38, 12)))
    val totx = x.agg(sum("exr").as("tx"))
    x.crossJoin(broadcast(totx))
      .select(col("source"), col("n_docs"),
        round(col("smean"), 6).as("mean_logp"),
        round(col("exr").cast(DoubleType) / col("tx").cast(DoubleType), 6).as("weight"))
      .orderBy("source")
  }

  /** Per-doc (doc_id, w1, w2) bigram rows with duplicates kept.
    *
    * Pairs derive SCAN-SIDE (r14): explode the positions 1..n-1 and read
    * both words from the materialized token array with `element_at` —
    * no doc-keyed exchange, no sort, no window. The earlier
    * posexplode + `lead` form paid one full-data shuffle+sort per USE,
    * and the LM pipeline derives this frame three times (bigram counts,
    * history counts, the scoring probe). The token array materializes
    * once per doc in the Generate's child projection (a `transform`
    * lambda over the raw `split` would instead be inlined per element
    * by CollapseProject — the known trap); `element_at` is O(1) per
    * reference. The `size >= 2` filter keeps `sequence` ascending
    * (Spark's two-argument sequence INFERS a negative step for
    * start > stop — sequence(1, 0) is [1, 0], not empty).
    */
  private def docBigrams(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), wsTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("ts"),
        explode(expr("sequence(1, size(ts) - 1)")).as("i"))
      .select(col("doc_id"),
        expr("element_at(ts, i)").as("w1"),
        expr("element_at(ts, i + 1)").as("w2"))

  /** Train-on-corpus / score-new-batch LM probe — the deployment split
    * [[ngramLm]] self-scoring doesn't exercise: bigram and history
    * counts come from the EXISTING corpus only, the incoming batch
    * (`src12` on the fixtures) is scored against them, and bigrams the
    * corpus never saw get the add-one floor `ln(1/(c1+V))` (or
    * `ln(1/V)` for an unseen history) via left joins — so genuinely
    * out-of-distribution text scores low instead of failing to join.
    * Same count-then-join shape as [[ngramLm]]; the model tables are
    * the nightly artifact next to the near-dup index.
    */
  def lmProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val corpus = d.filter(col("source") =!= "src12")
    val corpusBigrams = docBigrams(corpus)
    val c2 = corpusBigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = corpusBigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = corpus
      .select(explode(wsTokens(col("text"))).as("w"))
      .agg(countDistinct("w").as("vsize")).withColumn("k", lit(1))
    docBigrams(d.filter(col("source") === "src12"))
      .join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .withColumn("k", lit(1))
      .join(broadcast(vocab), "k")
      .select(col("doc_id"),
        log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("vsize"))).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("logp"), 6).as("avg_logp"))
      .orderBy("doc_id")
  }

  /** Corpus-order n-gram novelty — the memorization/diversity signal a
    * curator reads per ingest batch: for each doc, the fraction of its
    * distinct word-3-grams whose FIRST corpus occurrence (min doc_id)
    * is this doc. A doc full of grams already seen earlier contributes
    * little new text; a novelty-1.0 doc is all-new. Shape: one
    * gram-keyed aggregate (map-side combine) and a gram-keyed join
    * that reuses the aggregate's partitioning — one shuffle family on
    * the gram key, then a doc-keyed aggregate. Nothing pairwise,
    * nothing corpus-quadratic.
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val (grams, _) = gramTables(spark, dir)
    val first = grams.groupBy("g").agg(min("doc_id").as("first_doc"))
    grams.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(avg(when(col("doc_id") === col("first_doc"), 1.0).otherwise(0.0)), 6)
          .as("novel_frac"))
      .orderBy("doc_id")
  }

  /** Per-doc boilerplate fraction — the RefinedWeb/CCNet-style shared-
    * text signal: the fraction of a doc's distinct word-3-grams whose
    * corpus document frequency is >= 3 (i.e., text shared with at
    * least two other docs). High-boilerplate docs are template/nav
    * chrome candidates for removal before training. Same one-shuffle-
    * family gram-df shape as [[novelty]]; the df table is
    * vocabulary-bounded, never pairwise.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val (grams, _) = gramTables(spark, dir)
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(dfreq, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        round(avg(when(col("df") >= 3, 1.0).otherwise(0.0)), 6).as("boiler_frac"))
      .orderBy("doc_id")
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", public arXiv
    * 2302.03169): every doc in the raw pool is weighted by
    * `avg log p_target(bigram) - avg log p_raw(bigram)` where the
    * target LM is trained on the high-quality exemplar slice (`src1`
    * on these fixtures) and the raw LM on the whole pool, both with
    * the same add-one smoothing as [[lmProbe]]. Both models' counts
    * come from ONE conditional-count aggregation per key (target-
    * unseen bigrams count 0 and hit the `ln(1/(c1+V))` floor
    * directly), so the corpus-scale bigram stream shuffles once per
    * key — (w1,w2) then w1 — not once per model. `selected` marks
    * docs whose 6-dp weight is positive — text the target
    * distribution likes MORE than the pool average, the importance-
    * resampling keep set. Count tables stay vocabulary-bounded;
    * nothing quadratic.
    */
  def dsirSample(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // one bigram stream carries the source tag, so BOTH LMs' counts come
    // from single aggregation passes (conditional count for the target
    // slice) — the corpus-scale frame shuffles once per key, not once
    // per model. A target-unseen bigram counts 0 (not null), which the
    // add-one floor absorbs directly.
    val all = d
      .select(col("doc_id"), col("source"),
        posexplode(wsTokens(col("text"))).as(Seq("pos", "w1")))
      .withColumn("w2", lead("w1", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")))
      .filter(col("w2").isNotNull)
      .select("doc_id", "source", "w1", "w2")
    val isTgt = col("source") === "src1"
    val c2 = all.groupBy("w1", "w2")
      .agg(count(lit(1)).as("rc2"), count(when(isTgt, 1)).as("tc2"))
    val c1 = all.groupBy("w1")
      .agg(count(lit(1)).as("rc1"), count(when(isTgt, 1)).as("tc1"))
    val v = d.select(col("source"), explode(wsTokens(col("text"))).as("w"))
      .agg(countDistinct("w").as("rvsize"),
        countDistinct(when(isTgt, col("w"))).as("tvsize"))
      .withColumn("k", lit(1))
    all
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("k", lit(1))
      .join(broadcast(v), "k")
      .select(col("doc_id"),
        (log((col("tc2") + lit(1.0)) / (col("tc1") + col("tvsize"))) -
          log((col("rc2") + lit(1.0)) / (col("rc1") + col("rvsize")))).as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("lr"), 6).as("dsir_weight"))
      .withColumn("selected", (col("dsir_weight") > 0.0).cast("int"))
      .orderBy("doc_id")
  }

  /** Hybrid lexical+semantic dup verification: every verified lexical
    * near-dup pair (>= 0.8 exact Jaccard via the LSH pipeline) is also
    * scored by embedding cosine — the curation diagnostic that
    * separates true duplicates from template twins (same boilerplate,
    * different payload: high Jaccard, diverging embeddings). Pairs are
    * output-scale and broadcast into the embedding lookups, so the
    * vector table is never shuffled; the cosine is the native
    * codegen'd expression.
    */
  def hybridVerify(spark: SparkSession, dir: String): DataFrame =
    hybridVerifyImpl(spark, dir, maxDriverPairs)

  /** [[hybridVerify]] with the driver-collect cap exposed for the
    * forced-distributed-branch test. */
  private[graft] def hybridVerifyImpl(
      spark: SparkSession, dir: String, maxCollect: Long): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def score(p: DataFrame): DataFrame = p
      .join(emb.select(col("vec_id").as("id1"), col("embedding").as("e1")), "id1")
      .join(emb.select(col("vec_id").as("id2"), col("embedding").as("e2")), "id2")
      .select(col("id1"), col("id2"), col("jaccard"),
        round(graft.functions.CosineSimilarity.cosine_similarity(col("e1"), col("e2")), 6)
          .as("cos_sim"))
      .orderBy("id1", "id2")
    // same driver-budget guard as every pair consumer: pairs are
    // output-scale on a sane corpus (broadcast them, the vector table is
    // never shuffled), but when minhashLsh itself overflowed the cap its
    // result IS corpus-scale — a forced broadcast here would collect it
    // to the driver and undo exactly what the LSH fallback protected
    // against. Past the cap the embedding joins shuffle on id instead.
    val probed = minhashLshImpl(spark, dir, maxCollect).persist()
    collectOrDistributed(probed, maxCollect) { (_, local) =>
      probed.unpersist()
      score(broadcast(local))
    } { dist =>
      unpersistAfterNextQuery(probed)
      score(dist)
    }
  }

  /** Semantic-threshold calibration census — the report a curator
    * reads before picking the cosine cutoff in hybrid dedup: the
    * embedding-cosine distribution of the VERIFIED lexical near-dup
    * pairs in 0.2-wide bands, with each band's mean Jaccard and cosine.
    * A corpus whose lexical dups concentrate in high-cosine bands can
    * dedup on embeddings alone; a flat distribution (like these
    * fixtures — embeddings uncorrelated with text dups) says the
    * lexical pipeline must stay. Bands key off the 6-dp-rounded cosine
    * both engines agree on, so membership can never flip cross-engine;
    * the aggregate input is the output-scale pair set, so this is
    * metadata-priced on top of [[hybridVerify]].
    */
  def thresholdCalibration(spark: SparkSession, dir: String): DataFrame =
    hybridVerify(spark, dir)
      .groupBy(floor(col("cos_sim") * 5).cast(LongType).as("cos_band"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("jaccard"), 6).as("avg_jaccard"),
        round(avg("cos_sim"), 6).as("avg_cos"))
      .orderBy("cos_band")

  /** Quality-filter cascade with per-rule reject attribution — the
    * report every curation run produces before committing thresholds:
    * each doc is charged to its FIRST failing rule (cheapest check
    * first, the short-circuit order a production filter runs), and the
    * output is the per-rule reject census. One projection + one
    * metadata-scale aggregate: at 100 TB this is a single scan with
    * map-side partials over a handful of rule keys.
    */
  def filterReport(spark: SparkSession, dir: String): DataFrame = {
    val w = wsTokens(col("text"))
    val nTok = size(w)
    val alpha = size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0)))
      .cast(DoubleType) / col("n_chars")
    val rep = lit(1.0) -
      size(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).cast(DoubleType) /
        (nTok - lit(2))
    val stop = tokensInSet(w, stopwords).cast(DoubleType) / nTok
    docs(spark, dir)
      .select(
        when(nTok < 15, "too_short")
          .when(alpha < 0.81, "low_alpha")
          .when(rep > 0.2, "high_repetition")
          .when(stop < 0.02, "low_stopword")
          .otherwise("pass").as("rule"))
      .groupBy("rule").agg(count(lit(1)).as("n_docs"))
      .orderBy("rule")
  }

  /** Training sequence packing: concatenate each source's docs in id
    * order and chunk every `budget` tokens — the standard "concatenate
    * and split" packing that turns a filtered corpus into fixed-budget
    * training sequences. pack_id / pack_off locate where each doc's
    * token stream STARTS in its source's packed stream (integer math
    * only, exactly reproducible).
    *
    * Scale shape: a prefix sum partitioned by source — each source's
    * running total is an independent window, so sources pack in
    * parallel. A single pathologically large source needs the two-phase
    * prefix sum (per-partition subtotals, broadcast offsets, per-row
    * add) — same output, one extra metadata-scale job; production
    * packing is per-shard anyway, which is exactly what the
    * source-partitioned form models.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(wsTokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("start_tok", sum("n_tokens").over(w) - col("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"start_tok div $budget").as("pack_id"),
        (col("start_tok") % budget).as("pack_off"))
      .orderBy("doc_id")
  }

  /** Weighted source interleaving — the data-mixing policy pass: order
    * the corpus so sources are consumed proportionally to their mixing
    * weights (here 3x for src0-3, 1x otherwise), the deterministic
    * analog of temperature-weighted sampling. Each doc gets its
    * per-source sequence rank rn (partitioned window — sources rank in
    * parallel) and a rational interleave key (rn-1)/w scaled to the
    * integer (rn-1)*3/w, so a weight-3 source emits 3 docs for every
    * weight-1 doc. Integer math only; the ORDER is the product, so no
    * global prefix/row_number is ever computed.
    */
  def mixOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    docs(spark, dir)
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("weight",
        when(col("source").isin("src0", "src1", "src2", "src3"), lit(3L)).otherwise(lit(1L)))
      .withColumn("mix_key", expr("((rn - 1) * 3) div weight"))
      .select("doc_id", "source", "rn", "weight", "mix_key")
      .orderBy("mix_key", "source", "doc_id")
  }

  /** Deny-list redaction — the scrubbing pass (PII / sensitive-vocab
    * masking) every corpus runs before training. Word-boundary regex
    * replacement with a mask token, plus the match count; pure per-row
    * column algebra (one scan, zero shuffles), and the regex subset used
    * (alternation + `\b`) behaves identically in Java regex and RE2, so
    * the oracle replays it byte-for-byte. Output carries the redacted
    * text's md5 so the full payload never moves.
    */
  /** Word-boundary deny-list pattern + masked text — per-row column
    * algebra shared by the batch operator and streaming reuse. */
  val redactPattern: String = "\\b(customer|key|value)\\b"
  def redactedText(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(text, redactPattern, "<MASK>")

  def redact(spark: SparkSession, dir: String): DataFrame = {
    val red = redactedText(col("text"))
    docs(spark, dir).select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(redactPattern), lit(0))).cast(LongType).as("n_masked"),
        length(red).cast(LongType).as("n_chars_redacted"),
        md5(red.cast(BinaryType)).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Corpus-document-frequency pruning: drop tokens appearing in more
    * than half the documents (boilerplate/stopword vocabulary), keeping
    * the rest in order. The frequent set is vocabulary-scale (tiny next
    * to the corpus) so it collects to the driver and prunes scan-side as
    * a literal-array lambda filter — per-row column algebra, no join and
    * no shuffle touches document text. Doc frequency itself is one
    * narrow (term) aggregate off the distinct-per-doc native unigram
    * expression.
    */
  def dfPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{filter => arrFilter}
    val d = docs(spark, dir)
    val n = d.count() // corpus size: one metadata-scale job
    val freqTerms = d
      .select(explode(graft.functions.WordNGrams.word_ngrams(col("text"), 1)).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") > lit(n * 0.5))
      .select("term").collect().map(_.getString(0)).sorted
    val kept =
      if (freqTerms.isEmpty) wsTokens(col("text"))
      else {
        val deny = typedLit(freqTerms)
        arrFilter(wsTokens(col("text")), t => !array_contains(deny, t))
      }
    d.select(
        col("doc_id"),
        size(kept).cast(LongType).as("n_kept"),
        md5(concat_ws(" ", kept).cast(BinaryType)).as("pruned_md5"))
      .orderBy("doc_id")
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the 100 TB
    * execution strategy made explicit. The benchmark gram set builds a
    * bloom via Spark's native BloomFilterAggregate (the same sketch the
    * optimizer's runtime row-level filters inject), and the corpus side
    * probes it SCAN-SIDE with BloomFilterMightContain before the exact
    * broadcast join: ~99% of corpus grams short-circuit on a bitset test
    * without ever building join keys. The exact join then removes bloom
    * false positives, so output == [[decontaminate]] exactly (same
    * oracle) — the sketch only prunes, never decides.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge.{toColumn, toExpression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val grams = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).as("g"))
    val bench = grams.filter(col("source") === "src0").select("g").distinct()
    // Capacity estimate WITHOUT an extra counting job: metadata-scale
    // row count x a generous grams-per-doc bound. Sizing only affects
    // prune efficiency — an undersized (saturated) bloom just passes
    // more candidates to the exact join, never changes the output — so
    // an estimate is all it deserves. At real scale, feed a measured
    // benchmark-gram count here instead.
    val nItems = math.min(math.max(docs(spark, dir).count() * 64L, 1024L), 1L << 26)
    val bloomAgg = new BloomFilterAggregate(
      new XxHash64(Seq(toExpression(col("g")))), nItems).toAggregateExpression()
    val bloom = bench.select(toColumn(bloomAgg)).head().getAs[Array[Byte]](0)
    val mightContain = toColumn(new BloomFilterMightContain(
      toExpression(lit(bloom)),
      new XxHash64(Seq(toExpression(col("g"))))))
    grams.filter(col("source") =!= "src0")
      .filter(mightContain)
      .join(broadcast(bench), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** The flagship composition a training-data pipeline runs end-to-end:
    * keep docs that (a) are not in the held-out benchmark source,
    * (b) clear minimum length and repetition-quality thresholds,
    * (c) survive exact dedup (lowest-id copy wins), and (d) share no
    * 3-gram with the benchmark set. Signals (b) are scan-side per-row
    * algebra; (c) is a semi join against the corpus-scale survivor set
    * (hash join, shuffles once on doc_id); (d) is an anti join against
    * the output-scale contaminated set (broadcast). Threshold compares
    * use the 6-dp-rounded ratio so an engine's last-ulp difference can
    * never flip membership.
    */
  def cleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val nTok = size(wsTokens(col("text"))).cast(LongType)
    val rep = round(
      lit(1.0) - size(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).cast(DoubleType) /
        (nTok - lit(2)), 6)
    // Dedup survival fused into the signal scan: every doc's quality
    // signals AND its fingerprint come out of ONE pass, and "lowest-id
    // copy wins" is a row_number over the fingerprint partition — so the
    // whole composition is one narrow-row exchange (by fingerprint) plus
    // the broadcast anti join, instead of the earlier three (fingerprint
    // aggregate + both sides of a doc_id semi join) with a second full
    // text scan. The window must see ALL docs (src0 and short docs
    // still claim their fingerprint groups), so the per-row filters
    // apply after rn is assigned.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fingerprint").orderBy("doc_id")
    val contaminated = decontaminateCore(spark, dir).select("doc_id")
    docs(spark, dir)
      .select(col("doc_id"), col("source"), nTok.as("n_tokens"), rep.as("rep_ratio"),
        fingerprint(col("text")).as("fingerprint"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("source") =!= "src0" &&
        col("n_tokens") >= 20 && col("rep_ratio") <= 0.5)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select("doc_id", "source", "n_tokens", "rep_ratio")
      .orderBy("doc_id")
  }

  /** Vocabulary growth (Heaps-law profile): docs in id order are cut
    * into 10-doc buckets; a term's first bucket is where it enters the
    * vocabulary; cumulative bucket totals give vocab size over corpus
    * position. Terms are word BIGRAMS (the unigram vocabulary of the
    * synthetic corpus saturates inside the first bucket). Two narrow
    * aggregates (term -> min bucket, bucket -> count) and the running
    * sum windows over the BUCKET-scale result — corpus_size/10 rows at
    * most, never terms or docs.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(expr("doc_id div 10").as("bucket"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 2)).as("term"))
      .groupBy("term").agg(min("bucket").as("first_bucket"))
      .groupBy("first_bucket").agg(count(lit(1)).as("n_new_terms"))
      .withColumn("vocab_size", sum("n_new_terms").over(
        org.apache.spark.sql.expressions.Window.orderBy("first_bucket")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .orderBy("first_bucket")

  /** Cross-document repeated-chunk census — the chunk-granularity
    * approximation of exact substring dedup (the pass corpus curation
    * runs to strip boilerplate passages repeated ACROSS documents,
    * which whole-doc dedup can't see and n-gram Jaccard undercounts):
    * token streams cut into fixed 32-token chunks IN-ROW (zero shuffle
    * — the chunk lambda and fingerprint run scan-side), each chunk
    * reduced to its md5 before any exchange, the canonical first
    * occurrence per fingerprint chosen as min(doc_id, chunk_idx) in one
    * narrow aggregate, and each doc reports how many of its chunks
    * survive (are the first occurrence) vs drop. At 100 TB both
    * exchanges carry 32-char fingerprints + ids — chunk text never
    * moves. (CollapseProject inlines the token split into the chunk
    * lambda, re-evaluating it per chunk; chunks-per-doc is tokens/32,
    * so that costs ~3% of one extra scan — harmless, noted so nobody
    * "fixes" it with a shuffle barrier.)
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = chunkFingerprints(docs(spark, dir))
    val first = chunks.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
    chunks.join(first, "fp")
      .select(col("doc_id"),
        (col("first.doc_id") === col("doc_id") &&
          col("first.chunk_idx") === col("chunk_idx")).cast("long").as("kept"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("kept").as("n_kept"),
        (count(lit(1)) - sum("kept")).as("n_dropped"))
      .orderBy("doc_id")
  }

  /** (doc_id, chunk_idx, fp) rows: 32-token chunks fingerprinted
    * IN-ROW — chunking, joining, and md5 all run scan-side, so the
    * frame's rows are 32-char fingerprints + ids before any exchange. */
  private def chunkFingerprints(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), wsTokens(col("text")).as("ts"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, cast(ceil(size(ts) / 32.0) as int) - 1), " +
            "i -> md5(cast(concat_ws(' ', slice(ts, i * 32 + 1, 32)) as binary)))"))
          .as(Seq("chunk_idx", "fp")))

  /** Corpus chunk-fingerprint index — the chunk-granularity sibling of
    * [[NearDupIndex]] and the other half of the nightly artifact: the
    * batch side rebuilds it from the corpus, every incoming batch (or
    * stream micro-batch) probes it for passages the corpus already
    * contains. Rows are (doc_id, chunk_idx, fp) — fingerprints only,
    * never chunk text.
    */
  final case class ChunkIndex(fps: DataFrame) {
    def persist(): ChunkIndex = { fps.persist(); this }
    def unpersist(): Unit = fps.unpersist()
    def save(path: String): Unit = IndexArtifact.save(path, Map("fps" -> fps))

    /** Per-doc fingerprint rows are independent — the incremental
      * refresh is a frame union with the batch's fresh rows, equal to
      * a full rebuild over old ∪ batch (disjoint doc_ids assumed). */
    def updated(batch: DataFrame): ChunkIndex =
      ChunkIndex(fps.union(chunkFingerprints(batch)))
  }

  object ChunkIndex {
    def load(spark: SparkSession, path: String): ChunkIndex =
      ChunkIndex(IndexArtifact.frame(spark, path, "fps"))
  }

  def buildChunkIndex(corpus: DataFrame): ChunkIndex =
    ChunkIndex(chunkFingerprints(corpus))

  /** Probe a batch of new docs against a corpus [[ChunkIndex]]: per new
    * doc, how many of its 32-token chunks the corpus already contains —
    * the ingest-time passage-contamination census. New-vs-corpus only
    * (an index probe, not a self-join: no corpus-corpus pair work), the
    * join keyed on fingerprints, left-join + flag so chunk counts and
    * seen counts come from ONE aggregate.
    */
  def probeChunks(batch: DataFrame, index: ChunkIndex): DataFrame = {
    val seen = index.fps.select("fp").distinct().withColumn("seen", lit(1L))
    chunkFingerprints(batch)
      .join(seen, Seq("fp"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("seen"), lit(0L))).as("n_seen"))
  }

  /** Incremental chunk-level contamination — the production ingest flow
    * as a gate query (`src12` plays the incoming batch, the other
    * sources the corpus). See [[probeChunks]].
    */
  def chunkIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    probeChunks(
      d.filter(col("source") === "src12"),
      buildChunkIndex(d.filter(col("source") =!= "src12")))
      .orderBy("doc_id")
  }

  /** Per-source adaptive length filter — threshold-free outlier
    * trimming: keep docs inside their OWN source's [p10, p90] char-
    * length band, so a source of tweets and a source of papers each
    * lose their tails without one global cutoff mangling both. The
    * bounds table is source-cardinality (tiny) and broadcasts into the
    * corpus scan; the filter itself is then per-row algebra. The exact
    * interpolated percentile is the oracle-gated form; at 100 TB the
    * drop-in knob is approx_percentile on the same plan shape (the
    * bounds aggregate stays metadata-scale either way).
    */
  def adaptiveLenFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val bounds = d.groupBy("source").agg(
      expr("percentile(n_chars, 0.10)").as("p10"),
      expr("percentile(n_chars, 0.90)").as("p90"))
    d.join(broadcast(bounds), "source")
      .filter(col("n_chars") >= col("p10") && col("n_chars") <= col("p90"))
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Per-source hapax-legomena profile — the vocabulary-richness signal
    * next to [[vocabGrowth]]: tokens occurring exactly once in their
    * source, as a fraction of the source's vocabulary (machine-
    * generated/templated text runs hapax-poor; natural text tracks
    * Zipf). Two narrow aggregates — (source, term) frequency with
    * map-side partials, then a vocab-scale rollup; raw text never
    * shuffles.
    */
  def hapaxProfile(spark: SparkSession, dir: String): DataFrame = {
    val hapax = sum(when(col("tf") === 1, 1L).otherwise(0L))
    docs(spark, dir)
      .select(col("source"), explode(wsTokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("tf"))
      .groupBy("source").agg(
        count(lit(1)).as("vocab"),
        hapax.as("hapax"),
        round(hapax.cast(DoubleType) / count(lit(1)), 6).as("hapax_ratio"))
      .orderBy("source")
  }

  /** Epoch/mixing plan — the data-mixing arithmetic every training run
    * does before reading a byte: per-source token mass, its share of
    * the corpus, and the repeat factor (epochs) needed to rebalance to
    * a UNIFORM token mix (epochs > 1 = upsample that source, < 1 =
    * subsample). One corpus scan folding to a source-cardinality
    * aggregate; the (total, n_sources) pair comes from a GLOBAL window
    * over those source-grain rows — single-partition by construction,
    * but over source-cardinality data, so it is metadata-scale at any
    * corpus size and the corpus is scanned exactly once (the scalar-
    * aggregate crossJoin form planned the source aggregate twice).
    */
  def epochPlan(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs(spark, dir)
      .select(col("source"), size(wsTokens(col("text"))).cast(LongType).as("t"))
      .groupBy("source").agg(sum("t").as("n_tokens"))
      .withColumn("total", sum("n_tokens").over(w))
      .withColumn("n_sources", count(lit(1)).over(w))
      .select(col("source"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType) / col("total"), 6).as("share"),
        (col("total") / col("n_sources")).cast(LongType).as("target_tokens"),
        round((col("total").cast(DoubleType) / col("n_sources")) / col("n_tokens"), 6)
          .as("epochs"))
      .orderBy("source")
  }

  /** Per-source duplication profile — the dedup planning pass: how much
    * of each source is exact-duplicate mass, before any pair generation
    * runs. One hash aggregate over (source, fingerprint) partials; the
    * distinct count never shuffles raw text.
    */
  def dupStatsBySource(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(fingerprint(col("text"))).as("n_distinct"),
        (count(lit(1)) - countDistinct(fingerprint(col("text")))).as("n_dups"))
      .orderBy("source")

  /** Multimodal column plumbing: payloads as opaque binary + typed
    * metadata (real media decode is stubbed — see graft.multimodal).
    */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).select(
      col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"),
      sha2(col("text").cast(BinaryType), 256).as("sha"),
      expr("CAST(16 * (1 + n_chars % 64) AS INT)").as("fake_width"),
      expr("CAST(16 * (1 + n_chars % 36) AS INT)").as("fake_height"))
      .orderBy("doc_id")

  /** Declared-vs-sniffed format census — the corruption /
    * extension-spoofing gate a media ingest runs before any decode:
    * per (declared mime, [[graft.multimodal.MediaPipeline.sniffedFormat]])
    * cell, item count and byte mass. Prefix compares read 4 bytes per
    * blob scan-side; one cells-scale aggregate; payload bytes never
    * shuffle. On the text-payload fixture every row sniffs `unknown` —
    * the real-magic-byte classification is spec-gated with crafted
    * binary payloads (ScrubSamplingSpec).
    */
  def mediaSniff(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.MediaPipeline.mediaFromDocuments(spark, dir)
      .select(col("mime"),
        graft.multimodal.MediaPipeline.sniffedFormat(col("payload")).as("sniffed"),
        length(col("payload")).cast(LongType).as("nb"))
      .groupBy("mime", "sniffed")
      .agg(count(lit(1)).as("n_items"), sum("nb").as("total_bytes"))
      .orderBy("mime", "sniffed")

  /** Exact dedup census over BINARY payloads — the multimodal sibling
    * of [[dedupExact]]: media dedup can't normalize text, so identity
    * is the payload's sha-256, computed scan-side. One aggregate gives
    * the byte-identical dup mass; the normalized-text census alongside
    * shows how much only normalization catches (the synthetic corpus's
    * planted dups differ in case/whitespace, so the two counts differ —
    * a real media column has no normalized form at all). Only
    * fingerprints shuffle — payload bytes never leave their scan, the
    * property that matters when the column holds video.
    */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .agg(
        count(lit(1)).as("n_payloads"),
        countDistinct(sha2(col("text").cast(BinaryType), 256)).as("n_distinct_bytes"),
        countDistinct(fingerprint(col("text"))).as("n_distinct_normalized"))
      .select(col("n_payloads"), col("n_distinct_bytes"),
        (col("n_payloads") - col("n_distinct_bytes")).as("n_byte_dups"),
        (col("n_distinct_bytes") - col("n_distinct_normalized"))
          .as("n_only_normalized_dups"))

  /** Perceptual-hash near-dup over the media payload stream, via
    * multi-index hashing (Norouzi & Fleet, CVPR'12): a 32-bit
    * aHash-style fingerprint per payload — 32 equal byte segments, bit
    * s = (segment byte-mean >= whole-payload byte-mean), decided by
    * integer cross-multiplication (`segsum * n >= tot * seglen`) so the
    * bit is exact in every engine — split into 4 bands of 8 bits.
    * Candidate pairs share at least one band value (pigeonhole: any
    * pair at hamming <= 3 over 32 bits agrees exactly on >= 1 of the 4
    * bands, so recall at the tau=3 output is COMPLETE, not heuristic);
    * hamming is then verified in-row on the carried band vectors and
    * multi-band collisions collapse under one distinct.
    *
    * Payload = the UTF-8 byte stream of `text` — and the contract is
    * bytes on BOTH sides: the oracle extracts the same UTF-8 octets via
    * `hex(encode(text))` (the [[MediaPipeline]] oracle trick) and the
    * length floor is `octet_length`, so non-ASCII corpora fingerprint
    * identically in both engines instead of silently diverging. It
    * stands in for image bytes exactly as in [[mediaDedup]] — a real
    * pHash swaps the per-byte stream for DCT coefficients; the banding,
    * candidate join, and verify are unchanged. 100 TB shape: fingerprints are 4 band-rows per payload
    * (bytes never leave the scan), the join is bucket-grouped on
    * (band_idx, band_val) like every dedup kernel here, and the
    * quadratic term is confined to same-band buckets — near-identical
    * payload clusters, output-scale by the same duplicate-rate argument
    * as the LSH pipeline.
    */
  def phashNearDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The fingerprint kernel runs as a typed per-row map — the same
    // per-partition batch shape as MediaPipeline's codec path (this IS
    // the media family; a real pHash replaces this loop with a decoder
    // + DCT). One O(n) pass per payload; a column-algebra formulation
    // of the 32-segment fold re-evaluates the byte extraction per
    // segment pass under projection collapse (interpreted higher-order
    // exprs, no codegen), which is O(32 n^2) per row — measured
    // pathological, hence the deliberate Dataset.map here.
    val banded = docs(spark, dir)
      .filter(octet_length(col("text")) >= 32)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val n = bytes.length.toLong
        val sums = new Array[Long](32)
        val cnts = new Array[Long](32)
        var tot = 0L
        var k = 0
        while (k < bytes.length) {
          val b = bytes(k).toLong & 0xffL
          val s = ((k * 32L) / n).toInt // byte k -> segment (k*32) div n
          sums(s) += b; cnts(s) += 1; tot += b
          k += 1
        }
        val bands = Array.tabulate(4) { bIdx =>
          var v = 0
          var j = 0
          while (j < 8) {
            val s = bIdx * 8 + j
            // segment mean >= payload mean, decided exactly in integers
            if (sums(s) * n >= tot * cnts(s)) v |= 1 << j
            j += 1
          }
          v
        }
        (id, bands)
      }
      .toDF("doc_id", "bands")
      .select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("band_idx", "band_val")))
    banded.groupBy("band_idx", "band_val")
      .agg(expr("array_sort(collect_list(struct(doc_id, bands)))").as("ids"))
      .filter(size(col("ids")) > 1)
      // staged expansion: per-row memory O(bucket), not O(bucket^2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "x")))
      .select(col("x"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("y"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        expr("aggregate(zip_with(x.bands, y.bands, (p, q) -> bit_count(p ^ q)), 0, (a, h) -> a + h)")
          .as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("id1", "id2")
  }

  /** Wide-band perceptual near-dup — [[phashNearDup]]'s SCALE PATH, the
    * same cure [[simhashWide]] applied to the text simhash. The narrow
    * gate's defect is the band SPACE: 4×8-bit bands admit only 256
    * bucket values per band, so at corpus scale every bucket holds
    * ~n/1024 docs and the in-bucket pair expansion is O(n²/256) —
    * measured 15.2× per 10× data at sf1.
    *
    * SHIPPED: a 64-bit fingerprint — the SAME exact integer-mean kernel
    * (segment mean >= payload mean, decided by integer cross-
    * multiplication so both engines agree bit-for-bit), just 64
    * segments instead of 32 — banded as 4×16-bit bands. Band COUNT
    * stays 4 so the τ=3 recall contract keeps its pigeonhole
    * completeness (hamming <= 3 over 4 bands forces at least one equal
    * band); band VALUES widen 256 → 65,536, cutting expected bucket
    * population — and the quadratic pair term — by ~256× at equal
    * corpus size. Plan shape follows [[simhashWideImpl]]: fingerprint
    * in one Dataset.map pass (payload bytes never leave the task), ONE
    * (band, bh) exchange, in-task pair expansion for normal buckets,
    * and oversize buckets (true giant near-identical clusters) route
    * through a distributed self-join instead of a single-task array —
    * no silent cap. Length floor rises to 64 octets so every segment
    * is non-empty; the narrow form stays registered as the documented
    * oracle twin, exactly like d_simhash / d_simhash_wide.
    */
  def phashWide(spark: SparkSession, dir: String): DataFrame =
    phashWideImpl(spark, dir, 10000)

  /** The 64-segment integer-mean fingerprint kernel over the UTF-8
    * byte stream — one (doc_id, fp) row per payload clearing the
    * 64-octet floor. Shared by the [[phashWide]] gate and the
    * [[PhashIndex]] nightly artifact, so the two can never drift.
    */
  private[graft] def phashFingerprints(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .filter(octet_length(col("text")) >= 64)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = bytes.length.toLong
          val sums = new Array[Long](64)
          val cnts = new Array[Long](64)
          var tot = 0L
          var k = 0
          while (k < bytes.length) {
            val b = bytes(k).toLong & 0xffL
            val s = ((k * 64L) / n).toInt // byte k -> segment (k*64) div n
            sums(s) += b; cnts(s) += 1; tot += b
            k += 1
          }
          var fp = 0L
          var s = 0
          while (s < 64) {
            // segment mean >= payload mean, decided exactly in integers
            if (sums(s) * n >= tot * cnts(s)) fp |= 1L << s
            s += 1
          }
          (id, fp)
        }
      }.toDF("doc_id", "fp")
  }

  /** 4×16-bit band rows derived declaratively from a fingerprint frame
    * — banding is pure bit algebra on `fp`, so indexes store only the
    * narrow (doc_id, fp) rows and band at probe time. */
  private[graft] def phashBands(fps: DataFrame): DataFrame =
    fps.select(col("doc_id"), col("fp"),
      explode(expr(
        "transform(sequence(0, 3), k -> named_struct('band', k, 'bh', (fp >> (k * 16)) & 65535))"))
        .as("b"))
      .select(col("doc_id"), col("fp"), col("b.band").as("band"), col("b.bh").as("bh"))

  private[graft] def phashWideImpl(
      spark: SparkSession, dir: String, maxBucket: Int): DataFrame = {
    import spark.implicits._
    val banded = phashBands(phashFingerprints(docs(spark, dir)))
    val grouped = banded
      .groupBy("band", "bh")
      .agg(collect_list(struct(col("doc_id"), col("fp"))).as("xs"))
    val smallPairs = grouped
      .filter(size(col("xs")).between(2, maxBucket))
      .select(col("xs")).as[Seq[(Long, Long)]]
      .flatMap { xs =>
        val sorted = xs.toArray.sortBy(_._1)
        for {
          i <- sorted.indices.iterator
          j <- (i + 1) until sorted.length
        } yield (sorted(i)._1, sorted(j)._1,
          java.lang.Long.bitCount(sorted(i)._2 ^ sorted(j)._2))
      }
      .toDF("id1", "id2", "hamming")
    val bigRows = grouped
      .filter(size(col("xs")) > maxBucket)
      .select(col("band"), col("bh"), explode(col("xs")).as("m"))
      .select(col("band"), col("bh"),
        col("m.doc_id").as("doc_id"), col("m.fp").as("fp"))
    val bigPairs = bigRows.as("x").join(bigRows.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
    smallPairs.unionByName(bigPairs)
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("id1", "id2")
  }

  /** The media-fingerprint nightly artifact — [[NearDupIndex]]'s
    * convention applied to [[phashWide]]'s kernel: the corpus
    * fingerprint table as narrow (doc_id, fp) rows (8 bytes of
    * signature per payload; banding is bit algebra re-derived at probe
    * time, so nothing band-shaped is stored). The ingest job that
    * fingerprints the media corpus saves it; a nightly batch probes
    * its NEW payloads against the artifact without re-fingerprinting
    * the corpus — the incremental media-dedup story.
    */
  final case class PhashIndex(fps: DataFrame) {
    def persist(): PhashIndex = { fps.persist(); this }
    def unpersist(): Unit = fps.unpersist()
    def save(path: String): Unit =
      IndexArtifact.save(path, Map("fps" -> fps))

    /** Fold a NEW batch in: fingerprints are per-doc, so the merged
      * index is a frame union — bit-identical to a full rebuild over
      * old ∪ batch. Precondition (CLI-enforced): disjoint doc_ids. */
    def updated(batch: DataFrame): PhashIndex =
      PhashIndex(fps.union(phashFingerprints(batch)))
  }

  object PhashIndex {
    def load(spark: SparkSession, path: String): PhashIndex =
      PhashIndex(IndexArtifact.frame(spark, path, "fps"))
  }

  def buildPhashIndex(corpus: DataFrame): PhashIndex =
    PhashIndex(phashFingerprints(corpus))

  /** Probe a batch's payloads against the fingerprint artifact: one
    * (new_id, old_id, hamming) row per batch payload within hamming 3
    * of an indexed one — the τ=3 pigeonhole over 4×16-bit bands, the
    * same recall contract as the [[phashWide]] gate. Scale shape: the
    * batch side fingerprints in one pass, BOTH sides band to 4 narrow
    * rows each, and the candidate join is the usual (band, bh)
    * equi-join — batch-sized × corpus-bucket-sized, never
    * corpus × corpus. The index side scans only (doc_id, fp).
    */
  def probePhash(index: PhashIndex, batch: DataFrame): DataFrame = {
    val b = phashBands(phashFingerprints(batch))
      .select(col("doc_id").as("new_id"), col("fp").as("new_fp"),
        col("band"), col("bh"))
    val i = phashBands(index.fps)
      .select(col("doc_id").as("old_id"), col("fp").as("old_fp"),
        col("band"), col("bh"))
    b.join(i, Seq("band", "bh"))
      .select(col("new_id"), col("old_id"),
        bit_count(col("new_fp").bitwiseXOR(col("old_fp"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy("new_id", "old_id")
  }

  /** Distribution drift census: per-source unigram KL divergence
    * against the whole-corpus unigram distribution — the standard
    * "did this crawl snapshot / new source shift the token mix" check
    * run before admitting a source into a training mix. KL(source ||
    * corpus) is finite by construction (every source term is in the
    * corpus), and the corpus counts derive from the per-source counts
    * by a second aggregate over the SAME (source, term) table — one
    * corpus scan total. Per-term contributions are rounded then summed
    * as DECIMAL so the result is partition-order independent; the
    * per-source total joins back broadcast (sources are few), the
    * per-term total joins at vocab scale — nothing corpus-quadratic.
    */
  def klDrift(spark: SparkSession, dir: String): DataFrame = {
    val st = docs(spark, dir)
      .select(col("source"), explode(wsTokens(col("text"))).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c"))
    val srcTot  = st.groupBy("source").agg(sum("c").as("stot"))
    val termTot = st.groupBy("term").agg(sum("c").as("ct"))
    val grand   = st.agg(sum("c").as("gt"))
    st.join(broadcast(srcTot), "source")
      .join(termTot, "term")
      .crossJoin(broadcast(grand))
      .withColumn("contrib", round(
        (col("c") / col("stot")) *
          log((col("c") / col("stot")) / (col("ct") / col("gt"))), 12)
        .cast(DecimalType(38, 12)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_terms"),
        max("stot").as("n_tokens"),
        round(sum("contrib").cast(DoubleType), 6).as("kl_divergence"))
      .orderBy("source")
  }

  /** BM25 retrieval scoring (Robertson/Sparck Jones, k1=1.2 b=0.75,
    * Lucene's +1 idf smoothing) for a fixed query-term set — the
    * retrieval stage a curation pipeline uses to mine domain exemplars
    * ("find docs like my seed set") before DSIR-style reweighting. One
    * token pass feeds both the doc-length aggregate and the scan-side
    * term-filtered tf table (query terms are a literal IN filter, so
    * the tf side never carries the corpus vocabulary); df and the
    * (N, avgdl) scalars broadcast. Per-term contributions are rounded
    * then DECIMAL-summed (partition-order independent), making the
    * top-20 ordering engine-exact.
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val qTerms = Seq("spark", "hash", "merge")
    val (k1, b) = (1.2, 0.75)
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val tf = toks.filter(col("term").isin(qTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    // literals written out (2.2, 0.25) rather than computed (k1+1, 1-b):
    // the oracle writes the same decimal text, and text -> nearest-double
    // agrees across engines where constant ARITHMETIC need not
    val _ = (k1, b) // parameters documented above; expression uses literals
    val idf = log(
      ((col("n_docs") - col("df")).cast(DoubleType) + lit(0.5)) /
        (col("df").cast(DoubleType) + lit(0.5)) + lit(1.0))
    val tfNorm = (col("tf").cast(DoubleType) * lit(2.2)) /
      (col("tf").cast(DoubleType) +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast(DoubleType) / col("avgdl")))
    tf.join(dl, "doc_id")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", round(idf * tfNorm, 12).cast(DecimalType(38, 12)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_matched"),
        round(sum(col("contrib")).cast(DoubleType), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  /** Classifier-based quality filtering — the "quality classifier"
    * stage of a GPT-3/LLaMA-style pipeline: a logistic model over the
    * [[qualityScore]] features plus log-length, with fixed public
    * stand-in weights (training the classifier is a separate offline
    * concern; the operator under test is the corpus-scale SCORING pass,
    * one scan, no shuffle before the output sort). `kept` thresholds
    * the ROUNDED score so the cutoff is engine-exact.
    */
  def qualityLr(spark: SparkSession, dir: String): DataFrame = {
    val w = wsTokens(col("text"))
    docs(spark, dir).select(
      col("doc_id"),
      size(w).cast(LongType).as("n_tokens"),
      (col("n_chars").cast(DoubleType) / size(w)).as("avg_token_len"),
      (size(regexp_extract_all(col("text"), lit("[a-zA-Z]"), lit(0))).cast(LongType)
        .cast(DoubleType) / col("n_chars")).as("alpha_ratio"),
      (tokensInSet(w, stopwords).cast(DoubleType) / size(w)).as("stopword_ratio"))
      .withColumn("z",
        lit(-2.0) + lit(6.0) * col("stopword_ratio") + lit(2.5) * col("alpha_ratio")
          - lit(0.3) * col("avg_token_len") + lit(0.25) * log(col("n_tokens")))
      .withColumn("lr_score", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6))
      .select(
        col("doc_id"),
        col("lr_score"),
        when(col("lr_score") >= 0.5, 1).otherwise(0).as("kept"))
      .orderBy("doc_id")
  }

  /** Multimodal decode path under the correctness gate: binary payloads
    * through MediaPipeline.decodeAndFeaturize (per-partition batch
    * iteration — the exact shape a real codec UDF runs in), features
    * rounded for cross-engine double parity. The oracle recomputes the
    * deterministic fake decode byte-by-byte in SQL.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.MediaPipeline
      .decodeAndFeaturize(graft.multimodal.MediaPipeline.mediaFromDocuments(spark, dir))
      .toDF()
      .select(
        col("docId").as("doc_id"),
        col("nBytes").as("n_bytes"),
        col("format"),
        col("width"),
        col("height"),
        round(col("meanR"), 6).as("mean_r"),
        round(col("meanG"), 6).as("mean_g"),
        round(col("meanB"), 6).as("mean_b"))
      .orderBy("doc_id")

  /** Multimodal frame sampling under the gate: payloads cut into 64-byte
    * "frames", every 4th emitted with its byte-mean — the one-row-in,
    * N-frame-rows-out flatMap shape of a real video frame sampler, with
    * the (stubbed) decode's byte math replayed exactly by the oracle.
    */
  def mediaFrameSample(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.MediaPipeline
      .sampleFrames(graft.multimodal.MediaPipeline.mediaFromDocuments(spark, dir))
      .toDF()
      .select(
        col("docId").as("doc_id"),
        col("frameIdx").as("frame_idx"),
        col("offset"),
        col("nSampled").as("n_sampled"),
        round(col("meanByte"), 6).as("mean_byte"))
      .orderBy("doc_id", "frame_idx")

  /** Duplication spectrum — the document-frequency histogram of the
    * corpus's word-3-grams (how many distinct grams appear in exactly
    * 1, 2, …, 10, 11+ documents): the planning census a dedup campaign
    * reads FIRST, because it says where the duplicated mass lives — a
    * long singleton tail means near-dup machinery will find little, a
    * fat high-df head means substring scrubbing will reclaim real
    * tokens (Lee et al. 2022's motivating measurement). Reports gram
    * counts AND the doc-occurrence mass per bucket so the reclaimable
    * volume is read off directly. Grams are per-doc distinct (the
    * [[graft.functions.WordNGrams]] contract every gram oracle
    * shares), so multiplicity = document frequency.
    *
    * Scale shape: one gram-count aggregate (vocab-scale, map-side
    * partials), then a ≤ 11-group histogram of the counts — the
    * spectrum never touches documents again.
    */
  def dupSpectrum(spark: SparkSession, dir: String): DataFrame = {
    val bucket = when(col("ct") >= 11, lit(11L)).otherwise(col("ct"))
    docs(spark, dir)
      .select(explode(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("ct"))
      .groupBy(bucket.as("multiplicity"))
      .agg(count(lit(1)).as("n_grams"), sum("ct").as("n_occurrences"))
      .orderBy("multiplicity")
  }

  /** Per-source data card — the one-row-per-source release summary a
    * dataset publisher ships with the corpus (the "data card" of Gebru
    * et al.'s datasheets, reduced to the mechanically-computable
    * rows): volume (docs, tokens), exact-dup rate under the
    * [[fingerprint]] normalization, short-doc rate (the Gopher < 15
    * token rule), and the dominant language with its share.
    * Complements [[corpusStats]] (char-length shape) with the
    * curation-facing rates.
    *
    * Scale shape: two column-pruned corpus passes (one per-source
    * aggregate, one (source, lang) count + per-source argmax window)
    * joined at source cardinality — corpus rows never join anything.
    */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    val t = docs(spark, dir).select(col("source"), col("lang"),
      fingerprint(col("text")).as("fp"),
      size(wsTokens(col("text"))).cast(LongType).as("nt"))
    val base = t.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum("nt").as("n_tokens"),
      countDistinct("fp").as("nd"),
      sum(when(col("nt") < 15, 1L).otherwise(0L)).as("ns"))
    val langCounts = t.groupBy("source", "lang").agg(count(lit(1)).as("lc"))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("lc").desc, col("lang"))
    val top = langCounts
      .withColumn("rn", row_number().over(wl)).filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("lc"))
    base.join(broadcast(top), "source")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(lit(1.0) - col("nd").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 6).as("dup_rate"),
        round(col("ns").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 6).as("short_rate"),
        col("top_lang"),
        round(col("lc").cast(DoubleType) /
          col("n_docs").cast(DoubleType), 6).as("top_lang_share"))
      .orderBy("source")
  }

  /** Cross-payload frame dedup census — the video/audio sibling of
    * [[mediaDedup]] (whole-payload dedup): content dedup at FRAME
    * granularity, where near-identical media share most frames even
    * when no two payloads are byte-equal (re-encoded clips, trimmed
    * copies, watermarked stills). Frames are the 64-byte aligned
    * windows of [[graft.multimodal.MediaPipeline.sampleFrames]] at
    * stride 1; the fingerprint is the frame CONTENT itself (hex
    * window) — exact dedup, no hash parity to defend. Output is the
    * one-row census: total frames, distinct frames, duplicated frames,
    * worst multiplicity.
    *
    * Scale shape: frames derive in-row from the scan (payload bytes
    * never shuffle — only fingerprints), one frame-keyed count with
    * map-side partials, then a single-row rollup. The real codec's
    * frame extractor slots where the hex window is cut, per the
    * multimodal stub contract.
    */
  def mediaFrameDedup(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.MediaPipeline.mediaFromDocuments(spark, dir)
      .select(hex(col("payload")).as("hx"))
      // empty payloads have no frames — and Spark's sequence(0, -1)
      // would otherwise DESCEND and fabricate two
      .filter(length(col("hx")) > 0)
      .select(col("hx"), explode(sequence(lit(0L),
        expr("(length(hx) + 127) DIV 128") - 1)).as("f"))
      .select(expr("substring(hx, CAST(f*128+1 AS INT), 128)").as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("ct"))
      .agg(
        coalesce(sum("ct"), lit(0L)).as("n_frames"),
        count(lit(1)).as("n_distinct"),
        coalesce(sum("ct") - count(lit(1)), lit(0L)).as("n_dup_frames"),
        coalesce(max("ct"), lit(0L)).as("max_multiplicity"))

  /** BPE merge-candidate census — the first iteration of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016) as a corpus
    * pass: the most frequent adjacent character pairs, weighted by word
    * frequency. Scale shape is the one real tokenizer trainers use:
    * the corpus folds to its VOCABULARY first (one word-count
    * aggregate with map-side partials — the only corpus-scale
    * exchange), and the quadratic-ish pair expansion runs over
    * distinct words only (vocab x word-length work, in-row), so the
    * final aggregate is alphabet^2-scale. Merging pair-by-pair over
    * the counted vocab is a driver loop over a TINY table at every
    * scale — this query is the expensive distributed part.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val wc = docs(spark, dir)
      .select(explode(wsTokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    wc.filter(length(col("w")) >= 2)
      // sequence(1, n-1) guarded by the length filter: Spark's sequence
      // DESCENDS when start > stop, so an unguarded length-1 word would
      // fabricate pairs instead of none
      .select(col("c"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("c").as("freq"))
      .orderBy(desc("freq"), asc("pair"))
      .limit(50)
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003 — the MOSS
    * algorithm): over each doc's word-3-gram md5 stream, every window
    * of 4 consecutive hashes selects its minimum (ties to the LEFTMOST
    * position — a deterministic variant of the paper's rightmost rule;
    * selection density is identical), and the distinct selected
    * (position, hash) pairs are the doc's fingerprints. Guarantees any
    * shared run of >= 6 tokens yields a shared fingerprint, at ~2/(w+1)
    * the density of [[rollingFingerprints]]' full hash stream — the
    * standard plagiarism/overlap sketch.
    *
    * Scale shape: the gram stream NEVER leaves its row — hashing,
    * window minima, selection, and the digest are all in-row column
    * algebra over one scan (grams-per-doc x window work per row), so
    * the only exchange is the final metadata-scale sort. The oracle
    * replays the same selection with SQL window functions. md5 as the
    * gram hash is the cross-engine-parity tax (~4s of the sf0.1 bench
    * is hashing); a production deployment swaps in xxhash64 — same
    * selection, same plan, ~10x cheaper hash — and loses only DuckDB
    * replayability.
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsFrom(WinnowIndex(winnowFrame(spark, dir)))

  /** [[winnowFingerprints]] against a prebuilt [[WinnowIndex]] — the
    * artifact-consumer form (everything derives from the saved frame;
    * nothing re-tokenizes the corpus). */
  def winnowFingerprintsFrom(index: WinnowIndex): DataFrame =
    index.fps
      .select(
        col("doc_id"),
        col("n_grams"),
        size(col("sel")).cast(LongType).as("n_fps"),
        md5(expr("cast(concat_ws('', sel.h) as binary)")).as("digest"))
      .orderBy("doc_id")

  /** The winnowing selection pipeline shared by [[winnowFingerprints]]
    * and [[winnowOverlap]]: per doc, the positional gram-hash stream
    * `hs` and the selected (pos, h) fingerprints `sel` — all in-row. */
  private def winnowSelected(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), wsTokens(col("text")).as("ts"))
      // >= 6 tokens = >= 4 grams = at least one full window; filtering
      // BEFORE the hash transform also keeps Spark's descending
      // sequence(1, 0) from fabricating indices on short docs
      .filter(size(col("ts")) >= 6)
      // positional gram hashes (1-based); WordNGrams is distinct-per-doc
      // so it cannot supply the positional stream winnowing needs
      .withColumn("hs", expr(
        """transform(sequence(1, size(ts) - 2),
          |  i -> md5(cast(concat_ws(' ', ts[i-1], ts[i], ts[i+1]) as binary)))""".stripMargin))
      // one pass per window: track (pos, h) of the leftmost minimum in a
      // 4-comparison fold — vs the naive 3x slice + 2x array_min +
      // array_position scan, which allocated three 4-arrays per window.
      // 'zz' sorts above every lowercase-hex md5 digest, so the first
      // comparison always seeds the accumulator; strict < keeps the
      // LEFTMOST occurrence on ties, matching array_position semantics.
      .withColumn("sel", expr(
        """array_sort(array_distinct(transform(sequence(1, size(hs) - 3),
          |  j -> aggregate(sequence(j, j + 3),
          |    struct(cast(0 as bigint) as pos, 'zz' as h),
          |    (acc, k) -> if(hs[k-1] < acc.h,
          |                   struct(cast(k as bigint) as pos, hs[k-1] as h),
          |                   acc)))))""".stripMargin))

  /** Durable winnow-fingerprint index — the fourth nightly artifact
    * (with [[NearDupIndex]], [[ChunkIndex]], [[TermDistribution]]):
    * one row per doc of `(doc_id, n_grams, sel)` where `sel` is the
    * winnow-selected (pos, h) fingerprint array. The md5-heavy
    * positional selection is the dominant cost of every winnow
    * consumer, so it is computed ONCE here and each consumer derives
    * from the frame: [[winnowFingerprintsFrom]] digests `sel.h`,
    * [[winnowOverlapFrom]] explodes it into the inverted index. The
    * `hs` stream is deliberately NOT kept — it is gram-count wide and
    * no consumer needs more than its length.
    */
  final case class WinnowIndex(fps: DataFrame) {
    def persist(): WinnowIndex = { fps.persist(); this }
    def unpersist(): Unit = fps.unpersist()
    def save(path: String): Unit = IndexArtifact.save(path, Map("fps" -> fps))

    /** Winnow selections are per-doc — incremental refresh = frame
      * union with the batch's selections (disjoint doc_ids assumed). */
    def updated(batch: DataFrame): WinnowIndex =
      WinnowIndex(fps.union(buildWinnowIndex(batch).fps))
  }

  object WinnowIndex {
    def load(spark: SparkSession, path: String): WinnowIndex =
      WinnowIndex(IndexArtifact.frame(spark, path, "fps"))
  }

  def buildWinnowIndex(corpus: DataFrame): WinnowIndex =
    WinnowIndex(winnowSelected(corpus)
      .select(col("doc_id"), size(col("hs")).cast(LongType).as("n_grams"), col("sel")))

  /** In-session memo of the winnow index frame per (session, corpus
    * dir): `t_winnow` and `d_winnow_overlap` both consume the same
    * selection, and without sharing each gate query re-ran the md5
    * selection from scratch (the exact double-compute a persisted index
    * exists to remove). The frame persists MEMORY_AND_DISK — it is the
    * ~2/(w+1)-winnowed projection, far smaller than the corpus — and
    * stays cached for the session like a loaded nightly artifact would.
    * Keyed by dir, so tests and
    * multi-corpus sessions never cross-contaminate; index semantics are
    * snapshot-at-build, matching the durable artifact contract.
    */
  private val winnowMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private[graft] def winnowFrame(spark: SparkSession, dir: String): DataFrame = {
    val f = winnowMemo.getOrElseUpdate((spark, dir),
      buildWinnowIndex(docs(spark, dir)).fps
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Re-arm after a session-level `clearCache()` (the bench clears
    // between queries): the overlap census references this frame from
    // SEVERAL plan subtrees (df histogram, small arm, hot arm), and an
    // un-persisted frame recomputes the md5-heavy winnow selection once
    // PER SUBTREE — measured 1.9x on d_winnow_overlap at sf0.1 (r14).
    // Each query still computes the selection from parquet exactly once
    // (the re-armed cache materializes during that query's own run).
    // The check-then-act is deliberately unsynchronized: two concurrent
    // callers racing past a clearCache() would at worst call persist()
    // twice, which Spark tolerates with a warning (the second call is a
    // no-op on an already-persisting plan) — the bench and verify
    // drivers are single-threaded, and correctness never depends on
    // the storage level.
    if (f.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      f.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    f
  }

  /** Winnowing overlap detection — what MOSS actually does with the
    * fingerprints: doc pairs sharing at least one SELECTED hash, with
    * the shared-fingerprint count as the overlap signal. The guarantee
    * makes it a candidate kernel: any >= 6-token shared run WILL share
    * a fingerprint, so no such pair is missed, while the index holds
    * only the winnowed ~2/(w+1) of gram hashes — a ~2.5x smaller
    * inverted index (and correspondingly smaller join buckets) than
    * the full gram table [[ngramJaccard]] joins on. The downstream
    * exact verify (array_intersect on candidates) composes exactly as
    * in the prefix/LSH paths.
    *
    * Scale adjudication (r13, tools/SimJoinProbe, deleted; source at commit 60fc5df):
    * this query is
    * OUTPUT-bound — its answer (every pair sharing >= 1 fingerprint)
    * is 98% of its expanded pair rows at both sf0.1 and sf1 and itself
    * grows 91x for 10x data on the fixed-vocabulary test corpus. The
    * growth is the contract, not the plan; bounded consumers use
    * count/top-k shapes instead of the full pair listing.
    */
  def winnowOverlap(spark: SparkSession, dir: String): DataFrame =
    winnowOverlapFrom(WinnowIndex(winnowFrame(spark, dir)))

  /** The BOUNDED consumer of the winnow overlap signal — what a triage
    * pipeline actually reads: per document, its top-3 overlap partners
    * by shared-fingerprint count (ties: lower partner id), i.e. "the
    * most likely plagiarism/boilerplate source for each doc". Where
    * [[winnowOverlap]]'s full pair listing is output-bound by contract
    * (measured 91× for 10× data on the fixed-vocabulary corpus — the
    * r13 adjudication), this census is ≤ 3 rows per document no matter
    * the duplicate structure, and the ranking runs through the bounded
    * [[graft.functions.TopKAggregator]]: partial states are k-sized
    * arrays merged map-side, so the per-doc shuffle carries at most
    * k rows per map partition — never a hot doc's full partner list
    * through one task's sort. The in-bucket pair expansion feeding it
    * is the same fingerprint census as the listing (that term is the
    * signal itself); what this shape fixes at 100 TB is the OUTPUT and
    * the rank stage.
    */
  def winnowTopOverlaps(spark: SparkSession, dir: String): DataFrame = {
    val pairs = winnowOverlapCore(WinnowIndex(winnowFrame(spark, dir)))
    // symmetrize IN-ROW (each pair row explodes into its two directed
    // rows) instead of a unionAll of two projections of `pairs`: the
    // union form plans the whole pair core — bucket expansion, pair
    // exchange, count aggregate — once PER ARM (r14 plan: two identical
    // HashAggregate+Exchange subtrees under the Union), paying the
    // census twice for the same multiset of rows. Same rows by
    // construction, and the TopK aggregate is partition-order-free.
    val sym = pairs.select(
        explode(array(
          struct(col("id1").as("doc_id"), col("id2").as("partner_id")),
          struct(col("id2").as("doc_id"), col("id1").as("partner_id")))).as("e"),
        col("n_shared"))
      .select(col("e.doc_id").as("doc_id"),
        col("e.partner_id").as("partner_id"), col("n_shared"))
    val topk = udaf(graft.functions.TopKAggregator(3))
    sym.groupBy("doc_id")
      .agg(topk(col("n_shared").cast(DoubleType), col("partner_id")).as("top"))
      .select(col("doc_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("doc_id"),
        (col("pos") + 1).cast(LongType).as("rnk"),
        col("p._2").as("partner_id"),
        col("p._1").cast(LongType).as("n_shared"))
      .orderBy("doc_id", "rnk")
  }

  /** [[winnowOverlap]] against a prebuilt [[WinnowIndex]] — the probe a
    * nightly job runs against the saved artifact. */
  def winnowOverlapFrom(index: WinnowIndex): DataFrame =
    winnowOverlapCore(index).orderBy("id1", "id2")

  /** Oversized-bucket threshold for [[winnowOverlapRouted]]:
    * fingerprints shared by more docs than this route through the
    * distributed self-join arm instead of a single `collect_list` row.
    * Same rationale as the simhash path's 10k default: below it an
    * in-task sorted bucket expansion is the cheapest plan; above it one
    * array row would hold a corpus-scale id list (single-task memory). */
  private[graft] val winnowMaxBucket = 10000

  /** Unsorted pair-count core — [[winnowTopOverlaps]] consumes it under
    * an aggregate, where the listing's global sort is dead work. */
  private def winnowOverlapCore(index: WinnowIndex): DataFrame =
    winnowOverlapRouted(index, winnowMaxBucket, dfCap = None)

  /** [[winnowOverlapCore]] with the bucket routing exposed. Three
    * defenses against a HOT fingerprint (a boilerplate >= 6-token run —
    * license header, nav chrome — shared by millions of docs at corpus
    * scale), mirroring the simhash path's oversized-bucket arm:
    *
    *   - fingerprint document frequencies and the collectible buckets
    *     compute in ONE capped-collect aggregate (map-side partials
    *     with O(maxBucket) buffers — a flood of one fingerprint is
    *     absorbed by combiners, never one task, and never an unbounded
    *     array);
    *   - buckets with df <= `maxBucket` keep the in-task sorted
    *     expansion (the aggregate's complete id list, per-row memory
    *     O(bucket));
    *   - bigger buckets route through a DISTRIBUTED self-join on the
    *     fingerprint: the pair expansion streams out of the join
    *     (sort-merge's duplicate-key buffer is spillable), so no single
    *     row ever holds a corpus-scale id list. The quadratic pair TERM
    *     remains — it is the listing contract — but per-task memory is
    *     bounded.
    *
    * `dfCap` is the MOSS-style "stop fingerprint" escape for the
    * contract's pathological case: fingerprints shared by more than
    * `dfCap` docs are dropped from the census entirely, with a loud
    * dropped-fingerprint report (the [[dfPrune]] shape — boilerplate
    * that common carries no plagiarism signal, only an O(df^2) bill).
    * The report is one narrow aggregate over the (cached) fingerprint
    * histogram.
    *
    * Shuffle shape: the posting table crosses ONE h-keyed exchange into
    * the capped-collect aggregate; the df-cap report, the routing
    * decision and the small arm all read the persisted aggregate (a
    * fingerprint-cardinality frame with O(maxBucket)-bounded rows), and
    * only an actually-overflowed bucket re-reads the cached winnow
    * frame through the hot self-join. Release of the persisted
    * aggregate defers to its consumer ([[graft.operators.CacheRelease]]).
    */
  private[graft] def winnowOverlapRouted(
      index: WinnowIndex, maxBucket: Int, dfCap: Option[Long]): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    dfCap.foreach(c => require(c >= 2,
      s"dfCap must be >= 2 (a 1-cap drops every shared fingerprint), got $c"))
    val fps = index.fps
      .select(col("doc_id"), explode(expr("array_distinct(sel.h)")).as("h"))
    // ONE aggregate yields both the df signal and, for every bucket the
    // in-task arm may expand, its complete id list (r14 — replaces the
    // df histogram + tag-join form, which shuffled the posting table
    // twice and re-derived it in every broadcast subtree). The capped
    // collect keeps per-buffer memory O(maxBucket) no matter how hot a
    // fingerprint is; oversized buckets keep only the exact count and
    // route through the distributed self-join arm, which re-reads the
    // (cached) winnow frame for just those fingerprints.
    val cc = udaf(graft.functions.CappedCollectList(maxBucket))
    // filter BEFORE persist: singleton fingerprints — the vocabulary
    // tail, the vast majority of buckets at corpus scale — pair with
    // nothing and no consumer (df-cap report needs df > cap >= 2,
    // routing needs df > maxBucket, small arm needs 2 <= df) ever
    // reads them, yet r14 cached them all: at sf1 that materialized
    // the ENTIRE fingerprint posting table (sf1 sweep read 27s vs the
    // r13 form's 17s; dropping singletons from the cache recovers it —
    // see OPTIMIZATION_r15.md for the A/B)
    val agg = fps.groupBy("h").agg(cc(col("doc_id")).as("st"))
      .select(col("h"), col("st._1").as("df"), col("st._2").as("ids"))
      .filter(col("df") > 1)
      .persist()
    dfCap.foreach { cap =>
      val r = agg.filter(col("df") > cap)
        .agg(count(lit(1)).as("n"),
          coalesce(max("df"), lit(0L)).as("mx"),
          coalesce(sum("df"), lit(0L)).as("postings"))
        .head()
      if (r.getLong(0) > 0L)
        logger.warn(s"winnow df-cap $cap: dropping ${r.getLong(0)} stop-" +
          s"fingerprint(s) (max df ${r.getLong(1)}, ${r.getLong(2)} " +
          "postings) from the overlap census — pairs sharing ONLY " +
          "capped fingerprints will not be listed")
    }
    // capped fingerprints are dropped (singletons already filtered above)
    val live = dfCap.foldLeft(agg) { (h, cap) =>
      h.filter(col("df") <= cap)
    }
    // Bucket-grouped pair expansion for the common case: the collected
    // bucket sorts in-row and emits each (id1 < id2) pair — staged so a
    // row never materializes more than one bucket's id list (O(bucket)
    // memory, never O(bucket^2)).
    val small = live.filter(col("df") <= maxBucket)
      .select(expr("array_sort(ids)").as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id1")))
      .select(col("id1"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("id2"))
    // Hot arm only when a live bucket overflowed the collect cap (the
    // driver check reads the already-persisted aggregate — one narrow
    // scan, no recompute); its self-join streams pairs out of the join
    // so no single row ever holds a corpus-scale id list.
    val hotH = live.filter(col("df") > maxBucket).select("h")
    val pairs = if (hotH.limit(1).count() == 0L) small else {
      val hotFps = fps.join(broadcast(hotH), "h")
      val hot = hotFps.as("a").join(hotFps.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      small.unionAll(hot)
    }
    graft.operators.CacheRelease.afterConsumer(agg)
    pairs
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** [[winnowOverlap]] with the stop-fingerprint cap engaged (df <= 4
    * here — the gate's corpus is small; production caps sit in the
    * thousands): the overlap census a triage pipeline runs when the
    * corpus carries boilerplate, trading pairs that share ONLY
    * ubiquitous fingerprints for a bill bounded by the cap. */
  def winnowOverlapCapped(spark: SparkSession, dir: String): DataFrame =
    winnowOverlapRouted(WinnowIndex(winnowFrame(spark, dir)),
      winnowMaxBucket, dfCap = Some(4L))
      .orderBy("id1", "id2")

  /** Duplicate-substring scrub — the span-REMOVAL half of exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): instead of dropping whole
    * documents, cut every token span that appears verbatim elsewhere in
    * the corpus and keep the rest. Granularity here is word-5-grams (the
    * paper uses 50-BPE-token runs via a suffix array; the distributed
    * equivalent is gram-multiplicity counting — e.g. Dolma's paragraph
    * dedup uses the same count-then-mark shape): a 5-gram occurring at
    * >= 2 positions corpus-wide (cross-doc OR repeated within one doc)
    * marks all 5 of its token positions for removal, and the document
    * is rebuilt from the surviving positions.
    *
    * Scale shape: positional grams build in-row (one scan); corpus-wide
    * multiplicity is a hash aggregate over the gram key with map-side
    * partials — NOT a window over `g`, which would shuffle the full
    * positional table into per-gram partitions and put a billion-row
    * boilerplate gram ("all rights reserved ...") in ONE task; the
    * aggregate's partials absorb exactly that skew. The surviving dup
    * set is output-scale (bounded by the corpus duplication rate), so
    * the mark join is narrow, and AQE turns it into a broadcast when
    * the dup set is small. Rebuild is per-row array algebra: covered
    * positions collect per doc (arrays bounded by doc length), and an
    * indexed `filter` HOF drops them — no per-token shuffle.
    */
  def substringScrub(spark: SparkSession, dir: String): DataFrame =
    scrubCorpus(docs(spark, dir)).orderBy("doc_id")

  /** [[substringScrub]] over an already-loaded corpus frame — the
    * global-mark plan (gram-count hash aggregate + shuffled mark join)
    * the CLI `scrub` verb uses when no index is given. Unlike
    * [[probeScrub]] with an empty index, nothing here broadcasts the
    * input's distinct gram set, so a corpus-sized input cannot OOM the
    * driver on the no-index path. */
  /** Count-then-mark, deliberately TWO gram derivations (r15 A/B): the
    * tempting one-pass form — a capped posting-collect aggregate
    * yielding multiplicity + complete (doc_id, p) postings in one
    * exchange, the [[winnowOverlapRouted]] pattern — was built and
    * measured 1.4–1.6× SLOWER here (tools/R15Ab, deleted; source at commit 60fc5df;
    * same session,
    * construction + noop action, min of 2: mark form 3.0–3.6s vs
    * census 4.9s at sf0.1). The census pays a typed ObjectHashAggregate
    * with per-buffer list encoders over EVERY gram occurrence
    * (singletons included — ct is unknowable until aggregated), and
    * Spark's object-hash aggregate falls back to sort-based past 128
    * in-memory keys, so the positional table gets sorted per partition;
    * the count pass it replaces is a codegen'd long-count HashAggregate
    * whose map-side partials collapse to distinct grams. Unlike the
    * winnow census (whose input is the already-winnowed ~2/(w+1)
    * selection and which removed TWO posting shuffles), the scrub
    * census adds buffer CPU exceeding the saved second derivation. */
  def scrubCorpus(corpus: DataFrame): DataFrame = {
    val toks = tokArrays(corpus)
    val grams = positionalGrams5(toks)
    val dup = grams.groupBy("g").agg(count(lit(1)).as("ct"))
      .filter(col("ct") >= 2).select("g")
    rebuildScrubbed(toks, coveredPositions(grams, dup))
  }

  private[graft] def tokArrays(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), wsTokens(col("text")).as("ts"))

  /** Positional word-5-grams: (doc_id, 0-based start position, gram). */
  private[graft] def positionalGrams5(toks: DataFrame): DataFrame =
    toks
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(1, size(ts) - 4), i -> concat_ws(' ', slice(ts, i, 5)))"))
          .as(Seq("p", "g")))

  /** Token positions covered by any gram in `dup`: per-doc position
    * sets (arrays bounded by doc length, never shuffled per-token).
    * The aggregate collects gram START positions only — one row per
    * duplicated gram, 5x fewer rows through the doc-keyed exchange than
    * exploding each gram's span — and the [p, p+4] spans expand and
    * dedupe IN-ROW over the collected array (same set by definition:
    * `array_distinct ∘ flatten ∘ span` = the union the per-position
    * `collect_set` built). */
  private def coveredPositions(grams: DataFrame, dup: DataFrame): DataFrame =
    covFromStarts(grams.join(dup, "g").select("doc_id", "p"))

  /** Per-doc cover sets from duplicated-gram START marks: collect the
    * starts (one row per gram, 5x fewer than exploding spans through
    * the doc-keyed exchange) and expand/dedupe the [p, p+4] spans
    * in-row (`array_distinct ∘ flatten ∘ span` = the union a
    * per-position `collect_set` would build). */
  private[graft] def covFromStarts(marks: DataFrame): DataFrame =
    marks
      .groupBy("doc_id")
      .agg(collect_list("p").as("ps"))
      .select(col("doc_id"), expr(
        "array_distinct(flatten(transform(ps, p -> sequence(p, p + 4))))").as("cov"))

  /** Rebuild each doc from the positions NOT in its cover set — per-row
    * array algebra. The kept positions come from `array_except` (hash
    * lookup per element, O(n_tokens + |cov|)) rather than an indexed
    * `filter` probing `array_contains` per token (O(n_tokens * |cov|) —
    * quadratic per doc once a heavily-duplicated doc's cover approaches
    * its length); order is preserved, so the rebuilt string is
    * identical. [[wsTokens]] never yields an empty array (split of an
    * empty string is [""]), so the 0..size-1 sequence is always
    * ascending — the two-argument `sequence` would otherwise count DOWN
    * for start > stop. */
  private[graft] def rebuildScrubbed(toks: DataFrame, covered: DataFrame): DataFrame =
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("ts")).cast(LongType).as("n_tokens"),
        coalesce(size(col("cov")), lit(0)).cast(LongType).as("n_removed"),
        concat_ws(" ", expr(
          """transform(
            |  array_except(sequence(0, size(ts) - 1), coalesce(cov, array())),
            |  i -> element_at(ts, i + 1))""".stripMargin))
          .as("scrubbed"))

  /** Corpus duplicate-gram reference for INCREMENTAL scrubbing — the
    * gram-count table of [[substringScrub]]'s mark phase as a durable
    * artifact (same lifecycle as [[NearDupIndex]]: nightly rebuild,
    * probe at ingest, [[IndexArtifact]] layout, CLI `build-index
    * --kind scrub`). */
  final case class ScrubIndex(counts: DataFrame) {
    def persist(): ScrubIndex = { counts.persist(); this }
    def unpersist(): Unit = counts.unpersist()
    def save(path: String): Unit =
      IndexArtifact.save(path, Map("counts" -> counts))

    /** Gram multiplicities are additive — incremental refresh is a
      * union + one gram-keyed sum, equal to a full rebuild. */
    def updated(batch: DataFrame): ScrubIndex =
      ScrubIndex(counts.union(buildScrubIndex(batch).counts)
        .groupBy("g").agg(sum("ct").as("ct")))
  }

  object ScrubIndex {
    def load(spark: SparkSession, path: String): ScrubIndex =
      ScrubIndex(IndexArtifact.frame(spark, path, "counts"))
  }

  def buildScrubIndex(corpus: DataFrame): ScrubIndex =
    ScrubIndex(positionalGrams5(tokArrays(corpus))
      .groupBy("g").agg(count(lit(1)).as("ct")))

  /** Scrub an incoming batch against a corpus [[ScrubIndex]]: a batch
    * gram is cut when its batch multiplicity plus its corpus count
    * reaches 2 — duplicated against the corpus OR within the batch
    * itself, the same rule [[substringScrub]] applies globally. The
    * 100 TB shape: nothing corpus-scale recomputes at ingest — the
    * batch's distinct grams (small) probe the index by key, and all
    * position machinery stays batch-scale.
    */
  def probeScrub(batch: DataFrame, index: ScrubIndex): DataFrame = {
    val toks = tokArrays(batch)
    val grams = positionalGrams5(toks)
    val bct = grams.groupBy("g").agg(count(lit(1)).as("bct"))
    // split the >= 2 rule so the INDEX NEVER SHUFFLES: a batch gram is
    // dup if repeated within the batch, or present AT ALL in the corpus
    // (bct >= 1 + ct >= 1 already reaches 2). The corpus check is an
    // inner join that builds on the broadcast batch-gram set — a left
    // outer against the index could only build the corpus side, which
    // at 100 TB would shuffle the whole artifact every probe.
    val dupBatch = bct.filter(col("bct") >= 2).select("g")
    val dupCorpus = index.counts.join(broadcast(bct.select("g")), "g").select("g")
    val dup = dupBatch.union(dupCorpus).distinct()
    rebuildScrubbed(toks, coveredPositions(grams, dup))
  }

  /** Incremental scrub as a gate query — `src12` plays the incoming
    * batch, every other source the indexed corpus (the
    * [[dedupIncremental]] fixture convention). */
  def scrubIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    probeScrub(
      d.filter(col("source") === "src12"),
      buildScrubIndex(d.filter(col("source") =!= "src12")))
      .orderBy("doc_id")
  }

  /** Aggressive normalization for near-exact dedup (the CCNet / ExactSubstr
    * preprocessing convention): lowercase, mask every digit to `0`, map
    * everything outside `[a-z0 ]` to space, collapse runs of spaces.
    * Catches the duplicate class [[fingerprint]]'s whitespace+case
    * normalization misses — reformatted punctuation, edition numbers,
    * timestamps — while staying pure per-row column algebra.
    */
  def normAggressive(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(regexp_replace(
      lower(text), "[0-9]", "0"), "[^a-z0 ]", " "), " +", " "))

  /** Survivor selection under [[normAggressive]] — same min-id rule and
    * single hash aggregate as [[dedupKeep]] (map-side partials; the one
    * exchange carries (fp, keep-partial, count-partial), never text).
    */
  def dedupNorm(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy(md5(normAggressive(col("text")).cast(BinaryType)).as("norm_fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Deterministic weighted sampling without replacement — priority
    * sampling (Duffield, Lund & Thorup 2007): each doc draws a
    * reproducible uniform from its id hash and gets priority
    * weight / uniform; the k largest priorities are the sample, giving
    * inclusion probability proportional to weight (here `n_chars` —
    * longer docs carry more training tokens). The textbook
    * Efraimidis–Spirakis key u^(1/w) needs transcendentals whose last
    * ulp differs across engines; priority's single IEEE division is
    * correctly rounded everywhere, so any engine replays the identical
    * sample — the property that makes the draw auditable.
    *
    * Scale shape: the priority is scan-side column algebra and the
    * selection is the bounded [[graft.functions.TopKAggregator]]
    * (k-sized partials merged map-side) — the exchange carries k rows
    * per map partition regardless of corpus size, where a global
    * row_number window would sort the whole corpus into one partition.
    * The 25-row winner set broadcasts back against the corpus scan to
    * recover its attributes.
    */
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(graft.functions.TopKAggregator(25))
    // 32-bit md5 prefix as in [[quotaSample]]: exact in Double, same in SQL
    val h32 = conv(substring(md5(col("doc_id").cast(StringType).cast(BinaryType)), 1, 8), 16, 10)
      .cast(LongType)
    val d = docs(spark, dir)
    val winners = d
      .select(col("doc_id"),
        (col("n_chars").cast(DoubleType) / (h32 + lit(1L)).cast(DoubleType)).as("priority"))
      .groupBy()
      .agg(topk(col("priority"), col("doc_id")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "p")))
      .select((col("pos") + 1).cast(LongType).as("rnk"),
        col("p._2").as("doc_id"), col("p._1").as("priority"))
    d.select(col("doc_id"), col("source"), col("n_chars"))
      .join(broadcast(winners), "doc_id")
      .select(col("rnk"), col("doc_id"), col("source"), col("n_chars"),
        round(col("priority"), 6).as("priority"))
      .orderBy("rnk")
  }

  /** Corpus diversity per source: positional 3-gram type/token ratio
    * (the distinct-n family of diversity metrics) — low ratios flag
    * template farms and machine-generated spam whose per-doc signals
    * ([[repetitionRatio]]) look clean because the repetition is ACROSS
    * documents. countDistinct expands to the standard two-phase
    * aggregate — dedup keyed (source, gram) with map-side partials,
    * then a source-keyed count — so the wide positional gram stream
    * collapses before the second exchange.
    */
  def diversity(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("source"), wsTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(ts) - 2), i -> concat_ws(' ', slice(ts, i, 3)))")).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"), countDistinct("g").as("n_distinct"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast(DoubleType) / col("n_grams"), 6))
      .orderBy("source")

  /** Zipf-law fit per source: OLS slope/intercept of ln(count) against
    * ln(rank) over each source's top-50 terms — natural text sits near
    * slope -1; template farms and generated spam bend the curve, so the
    * slope is a corpus-health signal next to [[diversity]]. Term counts
    * are one (source, term) aggregate; ranking is a per-source window
    * over the VOCAB-scale counts (Heaps-sublinear in the corpus — the
    * one sort this query pays); the regression itself runs over 50 rows
    * per source with every sum on the round(…,12)-then-DECIMAL grid
    * (the [[klDrift]] pattern), so the fit is partition-order
    * independent and replays exactly in any engine with an `ln`.
    */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val m = 50
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("ct").desc, col("term"))
    val ranked = docs(spark, dir)
      .select(col("source"), explode(split(trim(col("text")), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("source", "term").agg(count(lit(1)).as("ct"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= m)
    val x = log(col("rnk").cast(DoubleType))
    val y = log(col("ct").cast(DoubleType))
    def dsum(c: org.apache.spark.sql.Column) =
      sum(round(c, 12).cast(DecimalType(38, 12))).cast(DoubleType)
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        dsum(x).as("sx"), dsum(y).as("sy"),
        dsum(x * x).as("sxx"), dsum(x * y).as("sxy"))
      .select(col("source"), col("n_terms"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") * col("sxx") - col("sx") * col("sxy")) /
          (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6).as("intercept"))
      .orderBy("source")
  }

  /** Two-phase annealing mix plan — the "midtraining" data schedule
    * (Llama-3 / OLMo practice): phase 1 samples sources by their
    * natural token share; phase 2 re-weights each source's share by its
    * mean quality signal (stopword density, the [[qualityScore]]
    * proxy), so the final training steps concentrate on the cleanest
    * data. Complements [[epochPlan]] (how many epochs fit a budget) and
    * [[doremiWeights]] (LM-loss-driven reweighting) with the
    * quality-driven schedule between them. One doc-scale aggregate with
    * map-side partials; the quality means ride the round-12-DECIMAL
    * grid so each phase's weights are partition-order independent; the
    * normalizations are source-cardinality windows (metadata-scale).
    */
  def annealPlan(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val toks = wsTokens(col("text"))
    val quality = tokensInSet(toks, stopwords).cast(DoubleType) / size(toks)
    docs(spark, dir)
      .select(col("source"),
        size(toks).cast(LongType).as("t"),
        round(quality, 12).cast(DecimalType(38, 12)).as("q"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"),
        sum("q").as("qsum"))
      .withColumn("q_mean",
        round(col("qsum").cast(DoubleType) / col("n_docs"), 6))
      .withColumn("scaled",
        round(col("n_tokens").cast(DoubleType) * col("q_mean"), 6)
          .cast(DecimalType(38, 6)))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("q_mean"),
        round(col("n_tokens").cast(DoubleType) / sum("n_tokens").over(w), 6)
          .as("w_phase1"),
        round(col("scaled").cast(DoubleType) /
          sum("scaled").over(w).cast(DoubleType), 6).as("w_phase2"))
      .orderBy("source")
  }

  /** Temperature-scaled source mixing (the T5/mT5 α-sampling scheme,
    * Raffel et al. 2020 §3.4.3 / Xue et al. 2021 §3.2: sample source s
    * with p_s ∝ n_s^α, α < 1 flattening the natural distribution so
    * low-resource sources up-sample): per source, the natural token
    * share plus the α = 1/2 and α = 1/4 shares. α is restricted to
    * powers of 1/2 ON PURPOSE — n^(1/2) and n^(1/4) are one and two
    * IEEE-correctly-rounded sqrt ops on the exact double image of a
    * BIGINT count, so the weights replay bit-identically in any engine,
    * where the paper's pow(n, 0.3) rides libm's uncorrected last ulp
    * (the cross-engine hazard [[sampleWeighted]]'s scaladoc documents).
    * Scale shape: one token-count aggregate (map-side partials), then
    * source-cardinality rows through an unpartitioned window — the
    * [[annealPlan]] shape; the α-terms cross the window as
    * round-12 DECIMAL(38,12) so the normalizing sums are
    * partition-order-free.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    docs(spark, dir)
      .select(col("source"), size(wsTokens(col("text"))).cast(LongType).as("t"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"))
      .withColumn("s2",
        round(sqrt(col("n_tokens").cast(DoubleType)), 12).cast(DecimalType(38, 12)))
      .withColumn("s4",
        round(sqrt(sqrt(col("n_tokens").cast(DoubleType))), 12).cast(DecimalType(38, 12)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType) /
          sum("n_tokens").over(w).cast(DoubleType), 6).as("w_natural"),
        round(col("s2").cast(DoubleType) /
          sum("s2").over(w).cast(DoubleType), 6).as("w_alpha_half"),
        round(col("s4").cast(DoubleType) /
          sum("s4").over(w).cast(DoubleType), 6).as("w_alpha_quarter"))
      .orderBy("source")
  }

  /** Per-source unigram (token) Shannon entropy in nats — the
    * vocabulary-richness signal that separates boilerplate-heavy
    * sources (low H, mass concentrated on few types) from diverse prose
    * (H near log vocab), complementing [[charEntropy]] (char level) and
    * [[diversity]] (distinct-n): H_s = -Σ_w p_w ln p_w over s's token
    * distribution. Scale shape: one (source, token) count aggregate
    * (vocab-scale, map-side partials absorb token skew), then ONE
    * source-cardinality aggregate via the identity
    * `H = ln N − (Σ c·ln c)/N` — no join back, no window over vocab
    * rows, two exchanges total. The `c·ln c` terms round to the 12-dp
    * grid and sum as DECIMAL(38,12) — partition-order-free, with ln
    * bit-identical across engines (the [[ngramLm]] contract).
    */
  def wordEntropy(spark: SparkSession, dir: String): DataFrame = {
    val c = col("c").cast(DoubleType)
    docs(spark, dir)
      .select(col("source"), explode(wsTokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
        sum(round(c * log(c), 12).cast(DecimalType(38, 12))).as("s"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(log(col("n_tokens").cast(DoubleType)) -
          col("s").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6)
          .as("entropy_nats"))
      .orderBy("source")
  }

  /** Bytes per webdataset-style shard: the byte budget every media
    * shard packer cuts at (64 KiB here — sized so the harness scale
    * factors produce tens of shards; production tar shards run
    * 100 MB–1 GB, a constant swap).
    */
  private val shardBudgetBytes = 65536L

  /** Byte-budget shard packing over the media payload stream — the
    * webdataset/tar-shard layout step of a multimodal training
    * pipeline: payloads concatenate in doc_id order and cut every
    * [[shardBudgetBytes]] bytes; each item reports the shard its FIRST
    * byte lands in and its offset within that shard (integer math only
    * — exactly reproducible, items spanning a cut stay with their
    * start, the tar-writer convention).
    *
    * Scale shape: the global byte prefix comes from
    * [[graft.operators.PrefixSum.exclusivePrefix]] — deterministic
    * key-range bins, ONE metadata-scale subtotal aggregate, broadcast
    * offsets, one co-location shuffle — never an unpartitioned window
    * (which would drag every payload length through a single task).
    * Payload bytes themselves never move: only (doc_id, length) pairs
    * enter the scan.
    */
  def shardPack(spark: SparkSession, dir: String): DataFrame =
    shardPacked(spark, dir).orderBy("doc_id")

  private def shardPacked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sized = graft.multimodal.MediaPipeline.mediaFromDocuments(spark, dir)
      .select(col("doc_id").cast(LongType),
        length(col("payload")).cast(LongType).as("nb"))
      .as[(Long, Long)]
    packByBytes(sized, shardBudgetBytes)
  }

  /** The byte-budget packing kernel shared by [[shardPack]] /
    * [[shardManifest]] and the CLI's `export --by-bytes`: (doc_id,
    * byte-length) pairs → (doc_id, nb, shard_id, shard_off) under the
    * tar-writer convention (an item's shard is where its FIRST byte
    * lands; integer math only). The global byte prefix is
    * [[graft.operators.PrefixSum.exclusivePrefix]]'s two-phase scan —
    * never an unpartitioned window.
    */
  def packByBytes(
      sized: org.apache.spark.sql.Dataset[(Long, Long)],
      budget: Long): DataFrame = {
    require(budget > 0, s"byte budget must be positive, got $budget")
    val parts = sized.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    graft.operators.PrefixSum.exclusivePrefix(sized, parts)
      .toDF("doc_id", "nb", "prefix")
      .select(col("doc_id"), col("nb"),
        expr(s"prefix DIV $budget").as("shard_id"),
        pmod(col("prefix"), lit(budget)).as("shard_off"))
  }

  /** Shards-scale manifest over a [[packByBytes]] layout — the contract
    * [[shardManifest]] publishes, reusable over any byte measure. */
  def manifestOf(packed: DataFrame): DataFrame =
    packed
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_items"), sum("nb").as("n_bytes"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard_id")

  /** Per-shard manifest over [[shardPack]] — what the shard writer
    * publishes next to the tars (item count, byte mass, id range per
    * shard) so a training job can range-read without listing members.
    * One shard-cardinality aggregate on top of the prefix-sum plan;
    * output is shards-scale (corpus bytes / budget), not corpus-scale.
    */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    manifestOf(shardPacked(spark, dir))

  /** LSH bucket-size skew report — the pre-flight check an operator
    * runs BEFORE launching a banded near-dup join at scale: per band,
    * how many buckets exist, how large the worst one is, and how much
    * of the corpus sits in colliding (size ≥ 2) buckets. A flooded
    * bucket (missed exact-dedup pass, degenerate boilerplate) turns
    * the band join quadratic; this report is what the [[minhashLsh]]
    * scaladoc's "cap buckets" advice would key on. Uses a 4-band
    * md5-derived minhash (fold of the digest's first 8 hex digits —
    * the proven cross-engine hash) rather than the production FNV
    * signatures, so the whole structure replays under the oracle.
    *
    * Scale shape: gram rows carry (doc, band, hash) — min-aggregate to
    * per-(doc, band) signatures (map-side partials; min needs no
    * distinct pass), then bucket counts, then 4 band rows. No pairs
    * are ever formed — this is the operator you run so that the pair
    * stage doesn't surprise you.
    */
  def bucketStats(spark: SparkSession, dir: String): DataFrame = {
    val bands = array((0 until 4).map(lit): _*)
    val h = conv(substring(md5(
      concat_ws(":", col("band"), col("g")).cast(BinaryType)), 1, 8), 16, 10)
      .cast(LongType)
    docs(spark, dir)
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).as("g"))
      .select(col("doc_id"), col("g"), explode(bands).as("band"))
      .select(col("doc_id"), col("band"), h.as("h"))
      .groupBy("doc_id", "band").agg(min("h").as("sig"))
      .groupBy("band", "sig").agg(count(lit(1)).as("sz"))
      .groupBy("band")
      .agg(sum("sz").as("n_docs"), count(lit(1)).as("n_buckets"),
        max("sz").as("max_bucket"),
        sum(when(col("sz") >= 2, 1L).otherwise(0L)).as("n_collide_buckets"),
        sum(when(col("sz") >= 2, col("sz")).otherwise(0L)).as("n_collide_docs"))
      .select(col("band").cast(LongType).as("band"), col("n_docs"),
        col("n_buckets"), col("max_bucket"), col("n_collide_buckets"),
        col("n_collide_docs"))
      .orderBy("band")
  }

  /** Inter-source content overlap matrix: Jaccard similarity between
    * every pair of sources over their DISTINCT word-3-gram sets — the
    * mixing-time diagnostic that catches two "different" sources that
    * are really the same crawl twice (a mirror, a re-scrape, a vendor
    * reselling another vendor's dump). [[overlapMatrix]] counts
    * near-dup DOC pairs by source; this measures raw content overlap
    * even when no single doc pair crosses the near-dup threshold.
    * Pairs sharing zero grams are omitted (at web scale most pairs —
    * the output is the sparse upper triangle).
    *
    * Scale shape: one distinct (source, gram) aggregate (map-side
    * partials absorb repeated grams), then per-gram source sets —
    * bounded by the SOURCE count, not the corpus — explode into ≤
    * |sources|² pair increments per gram, and the pair aggregate is
    * sources²-scale. Per-source totals broadcast back. The vocabulary
    * crosses the exchange once; nothing doc-scale ever pairs.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the diagonal trick keeps this ONE corpus pass: emitting ordered
    // pairs with a <= b makes (a, a) count each of a's distinct grams
    // exactly once, so per-source totals fall out of the same pair
    // aggregate that computes intersections — no second branch over
    // the gram table (two plan branches would SCAN IT TWICE)
    val pairs = docs(spark, dir)
      .select(col("source"),
        explode(graft.functions.WordNGrams.word_ngrams(col("text"), 3)).as("g"))
      .distinct()
      .groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(col("ss")).as("src_a"), col("ss"))
      .select(col("src_a"), explode(col("ss")).as("src_b"))
      .filter(col("src_a") <= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("cnt"))
      .persist() // sources²-scale — the branch point below re-reads this, not the corpus
    val diag = pairs.filter(col("src_a") === col("src_b"))
      .select(col("src_a").as("s"), col("cnt").as("n"))
    unpersistAfterNextQuery(pairs)
    pairs.filter(col("src_a") < col("src_b"))
      .join(broadcast(diag.select(col("s").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(diag.select(col("s").as("src_b"), col("n").as("nb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("cnt").as("n_shared"),
        col("na").as("n_grams_a"), col("nb").as("n_grams_b"),
        round(col("cnt").cast(DoubleType) /
          (col("na") + col("nb") - col("cnt")).cast(DoubleType), 6)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** Deterministic heavy-hitter terms via the two-pass Misra–Gries
    * shape: pass 1 folds the corpus token stream into ONE k-bounded
    * [[graft.functions.FrequentItemsAggregator]] sketch (partials are
    * <= k counters per map partition — the exchange never carries the
    * vocabulary), whose guarantee is that every term with true
    * frequency > n/(k+1) survives as a candidate; pass 2 exactly
    * re-counts ONLY the <= k candidates (scan-side literal membership
    * filter, so the second exchange is candidate-scale too) and keeps
    * those truly above the threshold. The output is therefore the
    * EXACT heavy-hitter set — sketch estimates never surface, which is
    * what makes the query oracle-comparable while the sketch still
    * does the scale work: a full vocabulary aggregate at 100 TB
    * shuffles billions of (term, count) partials, this shape shuffles
    * 2k. The threshold compares `ct * (k+1) > n` in integers — no
    * division to round differently across engines.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 32
    val toks = docs(spark, dir)
      .select(explode(split(trim(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val st = toks.as[String]
      .select(graft.functions.FrequentItemsAggregator(k).toColumn).head()
    val cand = st.counters.keys.toSeq
    toks.filter(col("w").isin(cand: _*))
      .groupBy("w").agg(count(lit(1)).as("ct"))
      .filter(col("ct") * (k + 1) > st.n)
      .select(col("w").as("term"), col("ct"))
      .orderBy(col("ct").desc, col("term"))
  }

  /** Corpus-scale tokenizer APPLICATION — the per-doc BPE token count
    * and fertility (subtokens per word) that budget planning
    * ([[tokenBudgetSelectImpl]]) and cost models actually need, where
    * [[graft.operators.BpeTrainer]] covers training. The scale trick is
    * the word-level cache every real tokenizer uses (HF tokenizers'
    * word cache, SentencePiece's trie): the merge loop runs ONCE PER
    * DISTINCT WORD (vocabulary scale, Heaps' law — millions of rows at
    * 100 TB), never per occurrence; the corpus-scale work is then a
    * word-keyed count join + one doc-keyed aggregate. The encode UDF is
    * deliberately confined to that vocab-scale frame — at billions of
    * occurrences a per-token UDF would dominate the job.
    *
    * The learned merge list is the fixed point of an iterative
    * data-dependent argmax (not expressible in one SQL query), so the
    * driver gates [[bpeEncodeGate]] (word counts + bounds verdict)
    * instead of the raw token counts; the semantics are spec-gated:
    * encode/training-segmentation agreement, subtoken concatenation
    * identity, and the word-cache path equaling the direct per-doc
    * encode (ScrubSamplingSpec).
    */
  def bpeEncodeCorpus(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val merges = graft.operators.BpeTrainer
      .train(d, "text", nMerges = 30, minFreq = 2L).sortBy(_.rank)
    val bc = spark.sparkContext.broadcast(merges)
    val nSub = udf((w: String) => graft.operators.BpeTrainer.encode(w, bc.value).size)
    val words = d
      .select(col("doc_id"), explode(split(trim(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = words.select("w").distinct().withColumn("n_sub", nSub(col("w")))
    words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .join(vocab, "w")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_sub")).as("n_bpe_tokens"),
        sum(col("c") * length(col("w"))).as("n_chars"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast(DoubleType) / col("n_words"), 6))
      .orderBy("doc_id")
  }

  /** Per-source readability profile — the Flesch-style surface
    * statistics (words per sentence, characters per word) a curation
    * pipeline reads next to [[quality]]'s stopword/length gates:
    * translation-ese, OCR runs, and list-shaped boilerplate all show up
    * as outlier sentence geometry before any model-based score runs.
    * Sentences are terminator counts (`length − length(translate(text,
    * ".!?", ""))` — identical Postgres-semantics translate in both
    * engines), words are the nonempty whitespace tokens, characters
    * are non-space characters; everything sums as integers per source
    * and the two ratios are single long→double divisions — correctly
    * rounded everywhere, no rounding grid needed.
    *
    * Scale shape: one source-keyed aggregate with map-side partials;
    * per-row work is in-row string algebra, no explode.
    */
  def readabilityProfile(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(wsTokens(col("text")),
      (x: org.apache.spark.sql.Column) => length(x) > 0)
    docs(spark, dir)
      .select(col("source"),
        size(ws).cast(LongType).as("w"),
        (length(col("text")) -
          length(translate(col("text"), ".!?", ""))).cast(LongType).as("st"),
        length(translate(col("text"), " ", "")).cast(LongType).as("ch"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
        sum("st").as("n_sentences"), sum("ch").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"), col("n_sentences"),
        (col("n_words").cast(DoubleType) /
          greatest(col("n_sentences"), lit(1L)).cast(DoubleType))
          .as("words_per_sentence"),
        (col("n_chars").cast(DoubleType) /
          greatest(col("n_words"), lit(1L)).cast(DoubleType))
          .as("chars_per_word"))
      .orderBy("source")
  }

  /** b-bit MinHash calibration (Li & König 2010, CACM 54(8)): keep only
    * the LOWEST BIT of each of 64 MinHash values — 64 bits per doc
    * instead of 64 longs, the storage trick that makes
    * billion-document signature tables fit in memory — and check the
    * estimator Ĵ = 2·(agree/64) − 1 against the exact Jaccard on the
    * verified near-dup pairs ([[ngramJaccard]]'s J ≥ 0.8 output). The
    * report a curator reads before swapping full signatures for b-bit
    * ones: how much estimator noise does the 64× compression cost at
    * the working threshold.
    *
    * Replay: the 64 hash functions derive from ONE md5 per gram by
    * Kirsch–Mitzenmacher double hashing — h_i(g) = (a + i·b) mod 2^32
    * with a/b the digest's first/second 32-bit words (the Bloom-filter
    * construction; hashing cost is per GRAM, not per (gram, i)) — and
    * the 64 minima fold IN-ROW over each doc's gram array, so nothing
    * gram×64-scale ever materializes: only docs×64 narrow (doc, i,
    * bit) rows exist at all (the [[bandedFromGramArrays]] shape; a
    * first cut that exploded (gram × i) rows through a hash aggregate
    * measured 12.5s at sf0.1 — this form is ~4× cheaper). Minima are
    * exact integer folds, the two output ratios exact-input divisions
    * (dyadic for Ĵ, the proven single division for J); DuckDB replays
    * the identical a/b hex folds and modular arithmetic.
    *
    * Scale shape: one corpus pass for signatures (docs×64 output), the
    * calibration join touches pair-scale rows only. No new pair term:
    * the pair set is the prefix-bounded Jaccard join's output —
    * [[jaccardPrefixFiltered]], NOT the unfiltered [[ngramJaccard]]
    * (identical rows by the prefix filter's proven losslessness, same
    * oracle). The round-11 sf1 probe caught the code calling the
    * unfiltered join while this doc claimed the bounded one: 84.7s at
    * sf1, inheriting the quadratic bucket term the calibration has no
    * business paying; the swap is output-identical and scale-safe.
    */
  def bbitMinhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bits = docs(spark, dir)
      .select(col("doc_id"),
        graft.functions.WordNGrams.word_ngrams(col("text"), 3).as("gs"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, gs) =>
          if (gs.isEmpty) Iterator.empty // parity: gram-less docs have no signature
          else {
            val mins = Array.fill(64)(Long.MaxValue)
            gs.foreach { g =>
              md.reset()
              val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              val a = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
                ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
              val b = ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
                ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
              var i = 0
              var h = a
              while (i < 64) {
                if (h < mins(i)) mins(i) = h
                i += 1
                h = (h + b) & 0xFFFFFFFFL
              }
            }
            (0 until 64).iterator.map(i => (id, i, mins(i) % 2))
          }
        }
      }.toDF("doc_id", "i", "bit")
    val pairs = jaccardPrefixFiltered(spark, dir)
    // Calibration join, pair-side BROADCAST: `bits` is corpus-scale
    // (docs × 64) — left to its own stats Catalyst broadcast-built it
    // TWICE (the r13 sf1 plan audit: two BroadcastExchanges over the
    // 3.2M-row signature table, two full signature computations), which
    // inverts at 100 TB. The pair set is output-scale (bounded by the
    // J >= 0.8 near-dup rate), so each pair explodes into its two
    // (doc, side) probes, that probe set broadcasts, and the signature
    // table is scanned ONCE, distributed, never shuffled — the join
    // prunes it map-side to the pair docs. The per-(pair, i) pivot and
    // the agreement count aggregate over pairs×64 rows only.
    val sides = pairs.select(col("id1"), col("id2"), col("jaccard"),
        explode(array(
          struct(col("id1").as("doc_id"), lit(1).as("side")),
          struct(col("id2").as("doc_id"), lit(2).as("side")))).as("s"))
      .select(col("id1"), col("id2"), col("jaccard"),
        col("s.doc_id").as("doc_id"), col("s.side").as("side"))
      // localCheckpoint: materialize the probe set ONCE and cut its
      // lineage, so the count below and the join read the same blocks
      // without recomputing the prefix-filtered pair pipeline (and the
      // gate's plan stays the 6-exchange shape the ledger pins — a
      // persist would print the cached build plan inside the tree)
      .localCheckpoint(true)
    // The broadcast hint is mandatory only while the "pairs are
    // output-scale" premise holds; a pathological un-pre-deduped corpus
    // (the same scenario maxDriverPairs guards in the collect paths)
    // makes the probe set corpus-scale, and a forced broadcast would
    // then hit the size cap or the driver instead of degrading. Count
    // the materialized frame (metadata-cheap) and fall back to the
    // stats-driven join above the family's cap.
    val sidesJoin =
      if (sides.count() <= maxDriverPairs) broadcast(sides) else sides
    bits.join(sidesJoin, "doc_id")
      .groupBy("id1", "id2", "jaccard", "i")
      .agg(max(when(col("side") === 1, col("bit"))).as("b1"),
        max(when(col("side") === 2, col("bit"))).as("b2"))
      .groupBy("id1", "id2", "jaccard")
      .agg(sum((col("b1") === col("b2")).cast(LongType)).as("n_agree"))
      .select(col("id1"), col("id2"), col("n_agree"),
        ((col("n_agree") * 2 - 64).cast(DoubleType) / lit(64.0)).as("j_est"),
        col("jaccard").as("j_exact"))
      .orderBy("id1", "id2")
  }

  /** Driver-gate shape for [[bpeEncodeCorpus]]: the learned merge list
    * is an iterative data-dependent argmax no single SQL query can
    * replay, so the gated columns are the deterministic per-doc word
    * count plus an integer bounds verdict the oracle pins as a literal
    * 1 — a BPE encode must emit at least one token per word (merges
    * only shrink) and at most one per character (segmentation never
    * splits below characters): n_words ≤ n_bpe_tokens ≤ n_chars. The
    * token counts themselves stay spec-gated (ScrubSamplingSpec:
    * encode/training agreement, concatenation identity, word-cache =
    * direct encode).
    */
  def bpeEncodeGate(spark: SparkSession, dir: String): DataFrame =
    bpeEncodeCorpus(spark, dir)
      .select(col("doc_id"), col("n_words"),
        (col("n_bpe_tokens") >= col("n_words") &&
          col("n_bpe_tokens") <= col("n_chars"))
          .cast(org.apache.spark.sql.types.LongType).as("bounds_ok"))
      .orderBy("doc_id")
}
