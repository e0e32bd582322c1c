package graftbench

import graft.SparkEntry

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** `board`: ten of graft's board queries, one or more per family, over the
  * fixed sf0.01 tables in `graftbench/data`. Each query is built with
  * `SparkEntry.queries`, run to completion through the `noop` sink, and
  * followed by `clearCache()`. The first pass writes each output as
  * parquet, with the oracle SQL beside it, for `scripts/check_oracle.py`;
  * every later pass must reproduce the first pass's digest.
  */
object Board {
  /** The queries in the order of the plan, cut into three groups of about
    * three seconds each; each group's time is one end-to-end stage.
    */
  val Groups = Seq(
    Seq("d_containment", "d_winnow_topk", "d_semdedup"),
    Seq("d_ngram_jaccard", "d_embed_neardup", "e_resample_interp", "t_ppl_bucket"),
    Seq("s_pca_project", "q_asof_bucketed", "q5_nation_revenue"))
  val Queries = Groups.flatten
  /** Timed passes at least: each stage is the median of two or more, and
    * a traced run has a counted and a plain one.
    */
  val MinPasses = 2

  def run(h: Harness, work: String, data: String): Unit = {
    val spark = h.spark
    val out = s"$work/out"
    val tables = new File(data).listFiles().filter(_.getName.endsWith(".parquet"))
    h.inputs ++= Seq("queries" -> Queries.size.toLong, "tables" -> tables.length.toLong,
      "input_bytes" -> tables.map(_.length).sum)

    // first pass, untimed: it warms the JVM up, and writes the outputs for
    // the oracle and the digests the timed passes must repeat
    val first = h.span("setup.warmup")(Queries.map { q =>
      val d = Digest.sink(SparkEntry.queries(q)(spark, data))(
        _.write.mode("overwrite").parquet(s"$out/$q"))
      spark.catalog.clearCache()
      q -> d
    }.toMap)
    Files.write(Paths.get(s"$out/oracle_sql.json"),
      Json.obj(Queries.map(q => q -> SparkEntry.oracleSql(q))).getBytes(StandardCharsets.UTF_8))

    val passT = ArrayBuffer.empty[Double]
    val groupT = Groups.map(_ => ArrayBuffer.empty[Double])
    val tracedT, plainT = mutable.Map.empty[String, ArrayBuffer[Double]]
    val construct, action = mutable.Map.empty[String, ArrayBuffer[Double]]
    val stats = mutable.Map.empty[String, ArrayBuffer[OpStats]]
    var i = 0
    while (h.keepGoing(i, MinPasses)) {
      System.gc()
      // each query is one timed op; a pass's time is the sum of its
      // queries' times, so draining the listener bus is not in it
      val times = h.span("board.pass")(Groups.map(_.map { q =>
        // in a traced run every other query is counted, and the next pass
        // swaps them, so each query is timed once with the listener
        // counting and once idle, earlier or later in the run
        val counting = (Queries.indexOf(q) + i) % 2 == 1
        val (((d, c, a), dt), st) = h.counted(counting)(h.timed(s"board.$q") {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(q)(spark, data)
          val t1 = System.nanoTime()
          val d = Digest.noopWrite(df)
          val t2 = System.nanoTime()
          spark.catalog.clearCache()
          (d, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
        })
        h.check(s"board.$q digest", d == first(q), s"pass $i got $d, first pass ${first(q)}")
        if (counting) {
          construct.getOrElseUpdate(q, ArrayBuffer.empty) += c
          action.getOrElseUpdate(q, ArrayBuffer.empty) += a
          stats.getOrElseUpdate(q, ArrayBuffer.empty) += st
        }
        (if (counting) tracedT else plainT).getOrElseUpdate(q, ArrayBuffer.empty) += dt
        dt
      }.sum))
      times.zip(groupT).foreach { case (t, g) => g += t }
      passT += times.sum
      i += 1
    }

    val med = (xs: Seq[Double]) => Stats.median(xs)
    h.named("board_pass_s") = (med(passT.toSeq), "s")
    h.endToEnd ++= groupT.zipWithIndex.map { case (g, k) => s"stage${k + 1}_ms" -> (med(g.toSeq) * 1000, "ms") }

    if (h.traced) {
      Queries.foreach { q =>
        val st = stats(q).toSeq
        h.perLayer(s"board.$q.construct_s") = (med(construct(q).toSeq), "s")
        h.perLayer(s"board.$q.action_s") = (med(action(q).toSeq), "s")
        h.perLayer(s"board.$q.jobs") = (med(st.map(_.jobs.toDouble)), "count")
        h.perLayer(s"board.$q.shuffle_bytes") = (med(st.map(_.shuffleWriteBytes.toDouble)), "bytes")
        h.perLayer(s"board.$q.spill_bytes") = (med(st.map(_.spillBytes.toDouble)), "bytes")
      }
      // queries differ in length, so compare each with itself
      h.perLayer("trace.overhead_pct") =
        ((med(Queries.map(q => med(tracedT(q).toSeq) / med(plainT(q).toSeq))) - 1) * 100, "%")
    }
  }
}
