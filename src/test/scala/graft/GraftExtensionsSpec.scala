package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** SparkSessionExtensions wiring: the native expressions must be
  * callable from pure SQL in a session built with the extensions.
  */
class GraftExtensionsSpec extends SparkSuite {

  test("the suite session carries GraftSession's shared settings") {
    assert(spark.sql("SELECT rolling_hash('abc')").head().getLong(0) ==
      graft.functions.RollingHash.hash("abc".getBytes("UTF-8")))
    assert(spark.conf.get("spark.sql.constraintPropagation.enabled") == "false")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sessionState.conf.sessionLocalTimeZone == "UTC")
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      "org.apache.hadoop.fs.RawLocalFileSystem")
  }

  test("size(array_intersect) fuses to intersect_size with exact parity") {
    import org.apache.spark.sql.functions.{array_intersect, col, size}
    import spark.implicits._
    // the shared suite session carries GraftExtensions, so the rewrite
    // rule must fire on the plain composition
    val cases = Seq(
      (Seq("a", "b", "c"), Seq("b", "c", "d")), // plain overlap -> 2
      (Seq("a", "a", "b"), Seq("a", "a")),      // dups count once -> 1
      (Seq.empty[String], Seq("a")),            // empty side -> 0
      (Seq("x"), Seq.empty[String]),            // empty side -> 0
      (Seq("a", null, "b"), Seq(null, "c")),    // null elem both sides -> 1
      (Seq("a"), Seq("A")))                     // case-sensitive -> 0
    // RDD-backed (not a LocalRelation): ConvertToLocalRelation would
    // eagerly fold a local projection away before the plan can be read
    val base = spark.createDataFrame(
      spark.sparkContext.parallelize(cases.map(c => org.apache.spark.sql.Row(c._1, c._2)), 2),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))))
    val df = base.select(size(array_intersect(col("a"), col("b"))).as("n"))
    assert(df.queryExecution.optimizedPlan.toString.contains("intersect_size"),
      s"rewrite did not fire:\n${df.queryExecution.optimizedPlan}")
    // parity reference: distinct intersection, null as a value
    val expected = cases.map { case (a, b) =>
      (a.map(Option(_)).distinct intersect b.map(Option(_)).distinct).size
    }
    assert(df.as[Int].collect().toSeq == expected)
    // null INPUT stays null through the fused form
    val nulls = spark.sql(
      """SELECT size(array_intersect(cast(null as array<string>), array('a'))) AS a,
        |       intersect_size(array('a'), cast(null as array<string>)) AS b""".stripMargin).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // non-string element types keep Spark's stock composition
    val ints = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(Seq(1, 2), Seq(2, 3))), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType)))))
      .select(size(array_intersect(col("a"), col("b"))).as("n"))
    assert(!ints.queryExecution.optimizedPlan.toString.contains("intersect_size"))
    assert(ints.as[Int].head() == 1)
    // (The rule also guards on Size's legacySizeOfNull=false. Spark 4
    // removed the spark.sql.legacy.sizeOfNull conf — size(null) is
    // always null now — so the guard is unreachable belt-and-braces
    // documenting the one semantic divergence the fusion would have.)
  }

  test("rolling_hash and word_ngrams are SQL-callable via GraftExtensions") {
    val prev = spark // ensure the shared session/context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the existing SparkContext; extensions apply to the new session
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      assert(s2 ne prev, "expected a fresh session with extensions applied")
      val row = s2.sql(
        "SELECT rolling_hash('abc') AS h, word_ngrams('a b c d', 2) AS g").head()
      assert(row.getLong(0) ==
        graft.functions.RollingHash.hash("abc".getBytes("UTF-8")))
      assert(row.getSeq[String](1) == Seq("a b", "b c", "c d"))
      // n must be a literal
      val err = intercept[Exception] {
        s2.sql("SELECT word_ngrams('a b c', length('xx'))").head()
      }
      assert(err.getMessage.contains("integer literal"))
      val cnt = s2.sql(
        "SELECT tokens_in_set(array('a','b','a','z'), array('a','z')) AS c").head()
      assert(cnt.getInt(0) == 3)
      // the set side must be foldable
      val err2 = intercept[Exception] {
        s2.sql("SELECT tokens_in_set(array('a'), array(concat(rand(), 'x')))").head()
      }
      assert(err2.getMessage.toLowerCase.contains("literal"))
      // cosine_similarity: exact value, NaN policy on degenerate inputs
      val cs = s2.sql(
        """SELECT cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same,
          |       cosine_similarity(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS ortho,
          |       cosine_similarity(array(1.0D), array(1.0D, 0.0D)) AS mismatch,
          |       cosine_similarity(array(0.0D, 0.0D), array(1.0D, 0.0D)) AS zero
          |""".stripMargin).head()
      assert(cs.getDouble(0) == 1.0 && cs.getDouble(1) == 0.0)
      assert(cs.getDouble(2).isNaN && cs.getDouble(3).isNaN)
      // float arrays (the embeddings column type) work and agree with the
      // double-widened sequential fold computed on the driver from the
      // same vectors (deterministic pick: the two lowest vec_ids)
      val embRows = s2.read.parquet(s"${SparkSuite.sf0001}/embeddings.parquet")
        .orderBy("vec_id").limit(2).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      val Array((idA, va), (idB, vb)) = embRows
      def fold(x: Array[Double], y: Array[Double]): Double = {
        var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
        d / (math.sqrt(nx) * math.sqrt(ny))
      }
      val sqlCos = s2.sql(
        s"""SELECT cosine_similarity(a.embedding, b.embedding)
           |FROM parquet.`${SparkSuite.sf0001}/embeddings.parquet` a
           |JOIN parquet.`${SparkSuite.sf0001}/embeddings.parquet` b
           |ON a.vec_id = $idA AND b.vec_id = $idB""".stripMargin).head().getDouble(0)
      assert(sqlCos == fold(va, vb),
        s"SQL cosine $sqlCos != driver fold ${fold(va, vb)} for vec_ids ($idA, $idB)")
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
