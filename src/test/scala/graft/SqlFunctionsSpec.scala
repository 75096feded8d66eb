package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, xxhash64}
import org.apache.spark.sql.graftext.GraftFunctions._

class SqlFunctionsSpec extends SparkTestBase {

  /** Every native function GraftExtensions registers. */
  private val nativeNames = Seq("vec_dot", "vec_norm", "vec_sub", "vec_quantize",
    "vec_quantize_stats", "gram_moments", "topk_by", "pair_combos",
    "alpha_token_count", "rolling_hash31", "word_ngrams", "kgram_hashes",
    "chain_replace", "nearest_centroid", "nearest_code", "bloom_agg",
    "bloom_might_contain", "cms_estimate", "mm_header_parse")

  test("vec_dot and topk_by are callable from SQL text") {
    val dot = spark.sql(
      "SELECT vec_dot(array(cast(1.0 AS FLOAT), cast(2.0 AS FLOAT)), " +
        "array(cast(3.0 AS FLOAT), cast(4.0 AS FLOAT))) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)

    import spark.implicits._
    Seq((1L, 0.9, 10L), (1L, 0.5, 11L), (1L, 0.95, 12L), (2L, 0.1, 13L))
      .toDF("g", "score", "id").createOrReplaceTempView("scores")
    val top = spark.sql(
      "SELECT g, topk_by(score, id, 2) AS top FROM scores GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getDouble(0), x.getLong(1)))).toMap
    assert(top(1L) == Seq((0.95, 12L), (0.9, 10L)))
    assert(top(2L) == Seq((0.1, 13L)))
  }

  test("vec_sub is callable from SQL text") {
    val got = spark.sql(
      "SELECT vec_sub(array(cast(3.5 AS FLOAT), cast(2.0 AS FLOAT)), " +
        "array(cast(1.0 AS FLOAT), cast(0.5 AS FLOAT))) AS r")
      .head().getSeq[Float](0)
    assert(got == Seq(2.5f, 1.5f))
  }

  test("pair_combos is callable from SQL text") {
    val got = spark.sql(
      "SELECT pair_combos(array(1L, 2L, 3L)) AS p")
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("vec_quantize and gram_moments are callable from SQL text") {
    val q = spark.sql(
      "SELECT vec_quantize(array(cast(0.25 AS FLOAT), cast(-0.25 AS FLOAT)), 2.0) AS q")
      .head().getSeq[Long](0)
    assert(q == Seq(1L, -1L), "HALF_UP ties away from zero")
    import spark.implicits._
    Seq(Seq(2L, 3L), Seq(4L, 5L)).toDF("qa").createOrReplaceTempView("qas")
    val g = spark.sql(
      "SELECT gram_moments(qa) AS g FROM qas")
      .select("g.n", "g.s1", "g.s2").head()
    assert(g.getSeq[Long](0) == Seq(2L, 2L))
    assert(g.getSeq[Long](1) == Seq(6L, 8L))
    val s2 = g.getSeq[org.apache.spark.sql.Row](2)
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).longValueExact())).toMap
    // (0,0): 4+16, (0,1): 6+20, (1,1): 9+25
    assert(s2 == Map((0, 0) -> 20L, (0, 1) -> 26L, (1, 1) -> 34L))
  }

  test("wrong arity surfaces a named error, not a raw IndexOutOfBounds") {
    val e = intercept[Exception] {
      spark.sql("SELECT word_ngrams(array('a','b'))").collect()
    }
    assert(e.getMessage.contains("word_ngrams expects 2 to 3"),
      s"got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(cast(1.0 as float)))").collect()
    }
    assert(e2.getMessage.contains("vec_dot expects 2"), s"got: ${e2.getMessage}")
  }

  test("topk_by rejects wrong input types with a clear analysis error") {
    import spark.implicits._
    Seq((1, 2L)).toDF("int_score", "id").createOrReplaceTempView("bad_scores")
    val e = intercept[Exception] {
      spark.sql("SELECT topk_by(int_score, id, 2) FROM bad_scores").collect()
    }
    assert(e.getMessage.contains("topk_by expects"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT topk_by(CAST(1.0 AS DOUBLE), id, 0) FROM bad_scores").collect()
    }
    assert(e2.getMessage.contains("k >= 1"), e2.getMessage)
  }

  test("session built via GraftSession + withExtensions resolves the functions") {
    // the extensions path is what a cluster's spark.sql.extensions conf uses
    val reg = spark.sessionState.functionRegistry
    def missing = nativeNames.filterNot(n =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"not registered: $missing")
  }

  test("text natives are callable from SQL text") {
    val r = spark.sql(
      "SELECT alpha_token_count('ab 12 c3') AS a, " +
        "vec_norm(array(cast(3.0 AS FLOAT), cast(4.0 AS FLOAT))) AS n, " +
        "word_ngrams(array('a', 'b', 'c'), 2) AS g, " +
        "chain_replace('abcabc', array('ab', 'cc'), array('c', 'Z')) AS cr")
      .head()
    assert(r.getLong(0) == 2L) // "ab" and "c3" carry a letter; "12" does not
    assert(r.getDouble(1) == 5.0)
    assert(r.getSeq[String](2) == Seq("a b", "b c"))
    assert(r.getString(3) == "ZZ") // abcabc -ab>c-> cccc -cc>Z-> ZZ
  }

  private def floats(xs: String*): String =
    xs.map(x => s"CAST($x AS FLOAT)").mkString("array(", ", ", ")")
  private def cent(cl: Int, xs: String*): String =
    s"named_struct('cl', $cl, 'centroid', ${floats(xs: _*)})"
  private def cand(code: Int, xs: String*): String =
    s"named_struct('code', $code, 'cent', ${floats(xs: _*)}, 'nc2', 1.0D)"

  /** The fixture's per-row arguments: a plain row's values, which each
    * edge row overrides in the columns it is about. */
  private val plain = Map(
    "a" -> floats("3.0", "4.0"),
    "b" -> floats("1.0", "0.5"),
    "cents" -> s"array(${cent(7, "2.0", "0.0")}, ${cent(9, "0.0", "1.0")})",
    "cands" -> s"array(${cand(3, "1.0", "0.0")}, ${cand(5, "0.0", "1.0")})",
    "s" -> "'ab 12 c3 ab the cc fox'")

  /** Rows that make a kernel return null or take an edge branch, each
    * with the columns it overrides. `a` stays free of null elements, so
    * vec_norm runs the kernel without the element-null check. */
  private val edges: Seq[Map[String, String]] = Seq(
    Map("b" -> floats("1.0", "0.5", "2.0")),  // vec_dot/vec_sub: length mismatch
    Map("b" -> floats("1.0", "NULL")),        // null element
    Map("b" -> floats("'NaN'", "0.5")),       // NaN element: NaN, not null
    Map("cents" -> "CAST(array() AS array<struct<cl:int,centroid:array<float>>>)",
      "cands" -> "CAST(array() AS array<struct<code:int,cent:array<float>,nc2:double>>)"),
    Map("cents" -> s"array(${cent(7, "2.0", "NULL")}, ${cent(9, "0.0", "1.0")})",
      "cands" -> s"array(${cand(3, "1.0", "NULL")}, ${cand(5, "0.0", "1.0")})"),
    // the embedding is a centroid, duplicated at a lower cl: cosine
    // clamps to 1.0 and the tie goes to cl 4
    Map("a" -> floats("2.0", "0.0"),
      "cents" -> (s"array(${cent(7, "2.0", "0.0")}, ${cent(9, "0.0", "1.0")}, " +
        s"${cent(4, "2.0", "0.0")})")),
    Map("a" -> floats("0.0", "0.0")),         // zero vector: NaN cosines
    Map("a" -> floats("-2.0", "-0.0")),       // antipode of cl 7
    Map("s" -> "''"),                         // empty text
    Map("s" -> "'\uD83D\uDE00 ab \uD834\uDD1E'"))  // astral code points

  /** The two plain rows and the edge rows, with an argument of every type
    * the family takes, as the temp view `natives_fx`. Written to parquet
    * and read back: over an in-memory relation the optimizer would fold
    * the projections by interpreted eval, and generated code would never
    * run. */
  private lazy val fixture: DataFrame = {
    val cols = Seq("a", "b", "cents", "cands", "s")
    val rows = (Seq(plain, plain) ++ edges.map(plain ++ _)).zipWithIndex.map {
      case (r, i) =>
        val (edge, score) = if (i < 2) (false, Seq("0.9D", "0.95D")(i)) else (true, "0.5D")
        (cols.map(r) ++ Seq(edge.toString, score, s"${10L + 2 * i}L")).mkString("(", ", ", ")")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_natives_").resolve("fx").toString
    spark.sql(
      "SELECT edge, a, b, array(2L, 3L, 5L) AS qa, score, id, s, " +
        "split('the quick brown fox', ' ') AS toks, cents, cands, " +
        "unhex('89504E470D0A1A0A0000000D494844520000000200000003080200000000000000AB') " +
        s"AS payload FROM VALUES ${rows.mkString(", ")} " +
        s"AS v(${cols.mkString(", ")}, edge, score, id)")
      .coalesce(1).write.parquet(dir)
    val df = spark.read.parquet(dir)
    df.createOrReplaceTempView("natives_fx")
    df
  }

  private lazy val bloomBytes: Array[Byte] =
    fixture.select(bloom_agg(col("id"), 100)).head().getAs[Array[Byte]](0)

  private lazy val cmsBytes: Array[Byte] = {
    val cms = org.apache.spark.util.sketch.CountMinSketch.create(0.01, 0.99, 1)
    fixture.select(xxhash64(col("s"))).collect().foreach(r => cms.addLong(r.getLong(0)))
    cms.toByteArray
  }

  private def hex(b: Array[Byte]): String = b.map("%02X".format(_)).mkString

  /** One function called through the Column API and through SQL text
    * over `natives_fx`. */
  private def parityCase(name: String): (Column, String) = name match {
    case "vec_dot" => (vec_dot(col("a"), col("b")), "vec_dot(a, b)")
    case "vec_norm" => (vec_norm(col("a")), "vec_norm(a)")
    case "vec_sub" => (vec_sub(col("a"), col("b")), "vec_sub(a, b)")
    case "vec_quantize" => (vec_quantize(col("a"), 2.5), "vec_quantize(a, 2.5D)")
    case "vec_quantize_stats" => (vec_quantize_stats(col("a")), "vec_quantize_stats(a)")
    case "gram_moments" => (gram_moments(col("qa")), "gram_moments(qa)")
    case "topk_by" => (topk_by(col("score"), col("id"), 1), "topk_by(score, id, 1)")
    case "pair_combos" => (pair_combos(col("qa")), "pair_combos(qa)")
    case "alpha_token_count" => (alpha_token_count(col("s")), "alpha_token_count(s)")
    case "rolling_hash31" => (rolling_hash31(col("s")), "rolling_hash31(s)")
    case "word_ngrams" =>
      (word_ngrams(col("toks"), 2, "_"), "word_ngrams(toks, 2, '_')")
    case "kgram_hashes" => (kgram_hashes(col("toks"), 2), "kgram_hashes(toks, 2)")
    case "chain_replace" =>
      (chain_replace(col("s"), Seq("ab" -> "c", "cc" -> "Z")),
        "chain_replace(s, array('ab', 'cc'), array('c', 'Z'))")
    case "nearest_centroid" =>
      (nearest_centroid(col("cents"), col("a")), "nearest_centroid(cents, a)")
    case "nearest_code" =>
      (nearest_code(col("cands"), col("b"), lit(1.25)), "nearest_code(cands, b, 1.25D)")
    case "bloom_agg" => (bloom_agg(col("id"), 100), "bloom_agg(id, 100)")
    case "bloom_might_contain" =>
      (bloom_might_contain(bloomBytes, col("id")),
        s"bloom_might_contain(X'${hex(bloomBytes)}', id)")
    case "cms_estimate" =>
      (cms_estimate(cmsBytes, xxhash64(col("s"))),
        s"cms_estimate(X'${hex(cmsBytes)}', xxhash64(s))")
    case "mm_header_parse" => (mm_header_parse(col("payload")), "mm_header_parse(payload)")
  }

  /** A result as text: null, NaN and -0.0 read apart, binary as hex and
    * nested values field by field, so equal text is an equal result
    * (Row equality reads NaN inside an array as unequal to itself). */
  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => hex(b)
    case r: Row => r.toSeq.map(render).mkString("[", ", ", "]")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("(", ", ", ")")
    case x => x.toString
  }

  /** `name` over the whole fixture through the Column API and through SQL
    * text, rendered. */
  private def results(name: String): (Seq[String], Seq[String]) = {
    val (viaColumn, sqlText) = parityCase(name)
    def rendered(df: DataFrame) = df.collect().toSeq.map(render)
    (rendered(fixture.select(viaColumn)),
      rendered(spark.sql(s"SELECT $sqlText FROM natives_fx")))
  }

  /** `body` with the session's `confs` set, then restored. */
  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  nativeNames.foreach { name =>
    test(s"$name: the Column API and SQL text return the same value") {
      val onPlainRows = fixture.where(!col("edge")).select(parityCase(name)._1).collect()
      assert(onPlainRows.nonEmpty && onPlainRows.forall(!_.isNullAt(0)),
        s"$name: ${onPlainRows.toSeq}")
      val (viaScala, viaSql) = results(name)
      assert(viaScala == viaSql)
    }

    // Janino can decline a generated method and Spark then falls back to
    // eval() without a word, so both paths must give the same answer:
    // CODEGEN_ONLY fails rather than fall back, NO_CODEGEN never compiles
    test(s"$name: generated code and interpreted eval return the same value") {
      val codegen = withConfs("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(results(name))
      val interpreted = withConfs("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false")(results(name))
      assert(interpreted == codegen)
    }
  }

  test("quantizer natives are callable from SQL text") {
    // two centroids: emb (1,0) is closest (max cosine) to cl=7's (2,0)
    val cl = spark.sql(
      "SELECT nearest_centroid(array(" +
        "named_struct('cl', 7, 'centroid', array(cast(2.0 AS FLOAT), cast(0.0 AS FLOAT))), " +
        "named_struct('cl', 9, 'centroid', array(cast(0.0 AS FLOAT), cast(1.0 AS FLOAT)))), " +
        "array(cast(1.0 AS FLOAT), cast(0.1 AS FLOAT))) AS cl").head().getInt(0)
    assert(cl == 7)
    // ADC: sub (1,0) with |sub|^2=1; code 3 at (1,0) has d2 = 1-2+1 = 0
    val code = spark.sql(
      "SELECT nearest_code(array(" +
        "named_struct('code', 3, 'cent', array(cast(1.0 AS FLOAT), cast(0.0 AS FLOAT)), 'nc2', cast(1.0 AS DOUBLE)), " +
        "named_struct('code', 5, 'cent', array(cast(0.0 AS FLOAT), cast(1.0 AS FLOAT)), 'nc2', cast(1.0 AS DOUBLE))), " +
        "array(cast(1.0 AS FLOAT), cast(0.0 AS FLOAT)), cast(1.0 AS DOUBLE)) AS c")
      .head().getInt(0)
    assert(code == 3)
  }

  test("bloom build + probe round-trips in pure SQL — and stays codegen'd") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("bloom_vals")
    // CODEGEN_ONLY turns any interpreted-projection fallback into a hard
    // error: Spark's own BloomFilterMightContain generated Java that
    // Janino rejects ("java.lang.Long" is not an rvalue), so this query
    // silently ran every probe row interpreted until the BloomProbe
    // rewrite — this conf pin is the regression test for that.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      // might_contain requires the filter as a constant or scalar subquery
      val r = spark.sql(
        "SELECT bloom_might_contain(" +
          "(SELECT bloom_agg(x, 100) FROM bloom_vals), 2L) AS hit, " +
          "bloom_might_contain(" +
          "(SELECT bloom_agg(x, 100) FROM bloom_vals), 424242L) AS miss").head()
      assert(r.getBoolean(0))
      assert(!r.getBoolean(1)) // deterministic xxhash64: not a member, not an FP
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("mm_header_parse is callable from SQL text — and stays codegen'd") {
    // a hand-hexed 33-byte PNG header (w=2, h=3) + 1 body byte; unhex
    // keeps the whole chain inside SQL. CODEGEN_ONLY: an interpreted
    // fallback of the struct-building expression is a hard failure.
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val r = spark.sql(
        "SELECT p.format, p.width, p.height, p.sample_rate, p.body_bytes " +
          "FROM (SELECT mm_header_parse(unhex(" +
          "'89504E470D0A1A0A0000000D49484452" + // sig + len + IHDR
          "0000000200000003080200000000000000" + // w=2 h=3 + tail + crc
          "AB')) AS p)").head()
      assert(r.getString(0) == "png")
      assert(r.getLong(1) == 2L && r.getLong(2) == 3L)
      assert(r.isNullAt(3) && r.getLong(4) == 1L)
      // the JPEG walker from SQL text: SOI + APP0 + SOF0 (h=2, w=3) + 1 body byte
      val j = spark.sql(
        "SELECT p.format, p.width, p.height, p.body_bytes " +
          "FROM (SELECT mm_header_parse(unhex(" +
          "'FFD8FFE000104A46494600010100000100010000" + // SOI + JFIF APP0
          "FFC00011080002000303012200021101031101" +    // SOF0: h=2, w=3
          "BB')) AS p)").head()
      assert(j.getString(0) == "jpeg" && j.getLong(1) == 3L &&
        j.getLong(2) == 2L && j.getLong(3) == 1L)
      // unknown magic quarantines as all-null, still under CODEGEN_ONLY
      val q = spark.sql(
        "SELECT p.format FROM (SELECT mm_header_parse(unhex('DEADBEEF')) AS p)")
        .head()
      assert(q.isNullAt(0))
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("bloom_might_contain rejects a non-constant, non-subquery filter argument") {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("x").createOrReplaceTempView("bloom_vals2")
    val e = intercept[Exception] {
      spark.sql(
        "SELECT bloom_might_contain(bf, x) FROM " +
          "(SELECT x, (SELECT bloom_agg(x, 100) FROM bloom_vals2) AS bf " +
          "FROM bloom_vals2) t").collect()
    }
    assert(e.getMessage.contains("constant or UNCORRELATED scalar subquery"),
      s"unexpected error: ${e.getMessage}")
  }

  test("bloom_might_contain rejects a CORRELATED scalar subquery at analysis time") {
    import spark.implicits._
    Seq((1L, 1L), (2L, 1L)).toDF("x", "k").createOrReplaceTempView("bloom_vals3")
    // a correlated subquery would be decorrelated into a join attribute,
    // turning the once-per-task eval into a deep-execution NPE — it must
    // die cleanly at analysis instead (Spark's own acceptance set)
    val e = intercept[Exception] {
      spark.sql(
        "SELECT bloom_might_contain(" +
          "(SELECT bloom_agg(i.x, 100) FROM bloom_vals3 i WHERE i.k = o.k), " +
          "o.x) FROM bloom_vals3 o").collect()
    }
    assert(e.getMessage.contains("UNCORRELATED") ||
      e.getMessage.contains("correlated"),
      s"unexpected error: ${e.getMessage}")
  }
}
