package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftFunctions.{vec_dot, vec_quantize}
import graft.operators.VectorOps

class VectorExprSpec extends SparkTestBase {

  test("native FloatVectorDot is bit-identical to the higher-order formulation") {
    val e = Tables.embeddings(spark, sf0001).limit(200)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ia") < col("ib") && col("ib") < col("ia") + 3)
    val diff = pairs.select(
        vec_dot(col("ea"), col("eb")).as("native"),
        VectorOps.dotHof(col("ea"), col("eb")).as("hof"))
      .where(col("native") =!= col("hof")) // exact comparison, not tolerance
    assert(diff.count() == 0, "native and HOF dot must agree bitwise")
  }

  test("native vec_sub is bit-identical to the zip_with formulation") {
    import org.apache.spark.sql.graftext.GraftFunctions.vec_sub
    val e = Tables.embeddings(spark, sf0001).limit(200)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("eb"))
    val pairs = a.join(b, col("ia") < col("ib") && col("ib") < col("ia") + 3)
    val hof = zip_with(col("ea"), col("eb"),
      (x, y) => (x.cast("double") - y.cast("double")).cast("float"))
    val diff = pairs.select(
        vec_sub(col("ea"), col("eb")).as("native"), hof.as("hof"))
      .where(col("native") =!= col("hof")) // exact array comparison
    assert(diff.count() == 0, "native and HOF residual must agree bitwise")
  }

  test("native vec_sub null semantics: dimension mismatch and null element → null") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftFunctions.vec_sub
    val df = Seq(
      (Some(Seq(1.5f, 2.0f)), Some(Seq(0.5f, 1.0f))),
      (Some(Seq(1.0f)), Some(Seq(1.0f, 2.0f))), // length mismatch
      (None, Some(Seq(1.0f))),                  // null side
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])),
    ).toDF("a", "b")
    val got = df.select(vec_sub(col("a"), col("b"))).collect()
    assert(got(0).getSeq[Float](0) == Seq(1.0f, 1.0f))
    assert(got(1).isNullAt(0), "length mismatch must be null, not a partial diff")
    assert(got(2).isNullAt(0))
    assert(got(3).getSeq[Float](0).isEmpty)
  }

  test("native dot handles nulls and empty arrays") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(3.0f, 4.0f))),
      (None, Some(Seq(1.0f))),
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])),
    ).toDF("a", "b")
    val got = df.select(vec_dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 11.0)
    assert(got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 0.0)
  }

  test("pair_combos matches the HOF formulation on longs, structs, and edges") {
    import org.apache.spark.sql.graftext.GraftFunctions.pair_combos
    import spark.implicits._
    val df = Seq(Seq(1L, 2L, 3L, 4L), Seq(7L, 9L), Seq(5L), Seq.empty[Long])
      .toDF("xs")
    // HOF twin the native expression replaces
    val hof = flatten(transform(col("xs"), (x, i) =>
      transform(slice(col("xs"), i + lit(2), size(col("xs"))), y =>
        struct(x.as("a"), y.as("b")))))
    val both = df.select(pair_combos(col("xs")).as("native"), hof.as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1), s"native vs hof: $r")
    }
    // i<j order and counts: C(4,2)=6 pairs, first (1,2), last (3,4)
    val first = both(0).getSeq[org.apache.spark.sql.Row](0)
    assert(first.size == 6)
    assert((first.head.getLong(0), first.head.getLong(1)) == (1L, 2L))
    assert((first.last.getLong(0), first.last.getLong(1)) == (3L, 4L))
    // null array → null (so explode() drops it, like the HOF form)
    val nul = spark.sql("SELECT cast(null as array<bigint>) AS xs")
      .select(pair_combos(col("xs"))).collect()
    assert(nul(0).isNullAt(0))
    // struct elements pass through intact
    val st = spark.sql(
      """SELECT array(named_struct('id', 1L, 'sig', 10L),
                      named_struct('id', 2L, 'sig', 20L)) AS xs""")
      .select(explode(pair_combos(col("xs"))).as("p"))
      .select(col("p.a.id"), col("p.b.sig")).collect()
    assert(st.length == 1 && st(0).getLong(0) == 1L && st(0).getLong(1) == 20L)
  }

  test("native dot returns null on dimension mismatch and null elements, like the HOF form") {
    // dimension mismatch / null slots must NOT silently truncate to a
    // partial dot — both formulations return null so the bug is loud
    val df = spark.sql(
      """SELECT * FROM VALUES
         (array(cast(1.0 as float), cast(2.0 as float)), array(cast(3.0 as float))),
         (array(cast(1.0 as float), cast(null as float)), array(cast(3.0 as float), cast(4.0 as float)))
         AS t(a, b)""")
    val got = df.select(
      vec_dot(col("a"), col("b")).as("native"),
      VectorOps.dotHof(col("a"), col("b")).as("hof")).collect()
    assert(got(0).isNullAt(0), "mismatched dims: native must be null")
    assert(got(0).isNullAt(1), "mismatched dims: HOF is null (zip_with pads)")
    assert(got(1).isNullAt(0), "null element: native must be null")
    assert(got(1).isNullAt(1), "null element: HOF is null")
  }

  test("sorted-struct-array getField matches the transform(getField) HOF form") {
    // q_event_profile's projection: extracting one field from a sorted
    // array of structs must use the codegen'd GetArrayStructFields path;
    // this pins it output-identical to the interpreted-HOF form it
    // replaced (the engine-wide no-HOF invariant)
    import spark.implicits._
    val df = Seq(
      (1L, Seq((3L, "c"), (1L, "a"), (2L, "b"))),
      (2L, Seq((5L, "x"))),
      (3L, Seq.empty[(Long, String)]))
      .toDF("id", "evs")
      .select(col("id"), transform(col("evs"),
        e => struct(e.getField("_1").as("event_id"),
          e.getField("_2").as("event_type"))).as("evs"))
    val sorted = array_sort(col("evs"))
    val got = df.select(
      concat_ws(",", sorted.getField("event_type")).as("native"),
      concat_ws(",",
        transform(sorted, s => s.getField("event_type"))).as("hof"))
      .collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1), s"parity: $r"))
    assert(got.map(_.getString(0)).toSeq == Seq("a,b,c", "x", ""))
  }

  test("native nearest_centroid matches the array_min(transform(...)) formulation") {
    import org.apache.spark.sql.graftext.GraftFunctions.nearest_centroid
    import spark.implicits._
    // pseudo-random 8-dim vectors + adversarial rows: an exact duplicate
    // of a centroid (cosine clamps to 1.0), a zero vector (all cosines
    // NaN → ties → lowest cl), a negated centroid (cosine -1.0)
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 99
      Seq.fill(8) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    val cents = (0 until 7).map(c => (c, vec(c + 100)))
    val rows = (0L until 50L).map(i => (i, vec(i.toInt))) ++ Seq(
      (50L, cents(3)._2),                 // exact centroid copy
      (51L, Seq.fill(8)(0.0f)),           // zero vector: NaN cosines
      (52L, cents(5)._2.map(-_)))         // antipode
    val e = rows.toDF("vec_id", "embedding")
    val packed = cents.toDF("cl", "centroid")
      .agg(collect_list(struct(col("cl"), col("centroid"))).as("cents"))
    val hofBest = array_min(transform(col("cents"), c =>
      struct(
        (-VectorOps.cosine(col("embedding"), c.getField("centroid"))).as("negsim"),
        c.getField("cl").as("cl"))))
    // ANSI (the Spark 4 default) makes the HOF cosine RAISE on the
    // zero-norm row (0.0/0.0 → DIVIDE_BY_ZERO); the native expression
    // keeps IEEE semantics (NaN → orders last, all-NaN → lowest cl), so
    // the bit-parity claim is against the non-ANSI HOF behavior — on any
    // corpus without zero vectors the two agree under either setting.
    val ansi = "spark.sql.ansi.enabled"
    val ansi0 = spark.conf.get(ansi)
    val both = try {
      spark.conf.set(ansi, "false")
      e.join(broadcast(packed))
        .select(col("vec_id"),
          nearest_centroid(col("cents"), col("embedding")).as("native"),
          hofBest.getField("cl").as("hof"))
        .collect()
    } finally spark.conf.set(ansi, ansi0)
    both.foreach { r =>
      assert(!r.isNullAt(1) && r.getInt(1) == r.getInt(2),
        s"vec ${r.getLong(0)}: native=${r.get(1)} hof=${r.get(2)}")
    }
    // under default ANSI the native expr must not throw on the zero
    // vector: all cosines NaN → deterministic lowest-cl assignment
    val zeroCl = e.where(col("vec_id") === 51L).join(broadcast(packed))
      .select(nearest_centroid(col("cents"), col("embedding"))).collect()
    assert(zeroCl(0).getInt(0) == 0, "zero vector: lowest cl, no ANSI error")
    // empty centroid array → null, like array_min over an empty array
    val empty = e.limit(1)
      .withColumn("cents", expr(
        "cast(array() as array<struct<cl:int,centroid:array<float>>>)"))
      .select(nearest_centroid(col("cents"), col("embedding"))).collect()
    assert(empty(0).isNullAt(0))
  }

  test("native nearest_code matches the array_min(transform(...)) ADC formulation") {
    import org.apache.spark.sql.graftext.GraftFunctions.nearest_code
    import spark.implicits._
    def vec(seed: Int): Seq[Float] = {
      var s = seed.toLong * 2654435761L + 17
      Seq.fill(16) { s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toInt % 1000) / 500.0f }
    }
    // 16 codewords with precomputed |c|², plus an exact-duplicate codeword
    // pair (codes 7 and 12 identical → d2 ties exactly → lowest code wins)
    val cw = (0 until 16).map(c => (c, vec(if (c == 12) 7 else c)))
    val codebook = cw.toDF("code", "cent")
      .withColumn("nc2", vec_dot(col("cent"), col("cent")))
    val packed = codebook
      .agg(collect_list(struct(col("code"), col("cent"), col("nc2"))).as("cb"))
    val subs = ((0L until 30L).map(i => (i, vec(i.toInt + 500))) :+
      (30L, cw(7)._2)) // exact codeword copy: d2 = 0 against both 7 and 12
      .toDF("vec_id", "sub")
      .withColumn("na2", vec_dot(col("sub"), col("sub")))
    val hofBest = array_min(transform(col("cb"), c =>
      struct(
        (col("na2") - lit(2.0) * vec_dot(col("sub"), c.getField("cent"))
          + c.getField("nc2")).as("d2"),
        c.getField("code").as("code"))))
    val both = subs.join(broadcast(packed))
      .select(col("vec_id"),
        nearest_code(col("cb"), col("sub"), col("na2")).as("native"),
        hofBest.getField("code").as("hof"))
      .collect()
    both.foreach { r =>
      assert(!r.isNullAt(1) && r.getInt(1) == r.getInt(2),
        s"vec ${r.getLong(0)}: native=${r.get(1)} hof=${r.get(2)}")
    }
    // the duplicate-codeword tie must resolve to the LOWER code
    val dup = both.find(_.getLong(0) == 30L).get
    assert(dup.getInt(1) == 7, s"tie must break to code 7, got ${dup.getInt(1)}")
  }

  test("native rolling_hash31 matches the split+aggregate HOF formulation") {
    import org.apache.spark.sql.graftext.GraftFunctions.rolling_hash31
    import spark.implicits._
    // ASCII, BMP accents, CJK, a surrogate-pair emoji (Spark's UTF8String
    // split("") yields CODE POINTS — the astral emoji stays ONE element,
    // which caught the first charAt-based native loop), empty, and null
    val df = Seq(
      Some("key agg row scan slow fast"),
      Some("héllo wörld"),
      Some("中文 分词 测试"),
      Some("emoji 😀 pair"),
      Some(""),
      None).toDF("text")
    val hof = aggregate(
      transform(split(col("text"), ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31 + c) % 1000000007L)
    val both = df.select(rolling_hash31(col("text")).as("native"), hof.as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: $r")
      if (!r.isNullAt(0))
        assert(r.getLong(0) == r.getLong(1), s"native vs hof: $r")
    }
    assert(both(4).getLong(0) == 0L, "empty text folds to the seed 0")
    assert(both(5).isNullAt(0), "null text stays null")
  }

  test("native kgram_hashes matches rolling_hash31 over every HOF-joined window") {
    import org.apache.spark.sql.graftext.GraftFunctions.{kgram_hashes, rolling_hash31}
    import spark.implicits._
    // windows spanning ASCII, accents, CJK, an astral emoji token, and a
    // doubled space (split yields an EMPTY token — the join must still
    // emit both separators); k > size → empty; null → null
    val df = Seq(
      Some("the quick brown fox jumps over the lazy dog"),
      Some("héllo wörld 中文 emoji 😀 end"),
      Some("a  b c"), // empty middle token from the doubled space
      Some("one two"),
      None).toDF("text")
    val k = 3
    val tks = split(col("text"), " ")
    // the HOF twin needs the classic size >= k guard (sequence(1, 0)
    // turns descending — the guard WordNGrams' scaladoc documents)
    val hof = when(size(tks) >= k,
      transform(sequence(lit(1), size(tks) - (k - 1)),
        i => rolling_hash31(concat_ws(" ", slice(tks, i, lit(k))))))
      .when(col("text").isNotNull, array().cast("array<bigint>"))
    val native = df.select(kgram_hashes(tks, k).as("hs"), hof.as("hof"))
      .collect()
    native.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null disagreement: $r")
      if (!r.isNullAt(0))
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"native vs hof: $r")
    }
    assert(native(3).getSeq[Long](0).isEmpty, "k > size(t) yields empty")
  }

  test("native word_ngrams matches the transform+slice+concat_ws formulation") {
    import org.apache.spark.sql.graftext.GraftFunctions.word_ngrams
    import spark.implicits._
    val df = Seq(
      "key agg row scan slow fast table value",
      "a b c",        // exactly one trigram
      "héllo wörld 中文 分词",
      "two words",    // below n: HOF guarded externally; native → empty
      "one").toDF("text")
      .select(col("text"), split(col("text"), " ").as("t"))
    val hof = transform(sequence(lit(1), size(col("t")) - 2),
      i => concat_ws(" ", slice(col("t"), i, lit(3))))
    val guarded = df.where(size(col("t")) >= 3)
      .select(word_ngrams(col("t"), 3).as("native"), hof.as("hof"))
      .collect()
    assert(guarded.length == 3)
    guarded.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"native vs hof: $r")
    }
    // below n the native form is EMPTY (DuckDB generate_series behavior),
    // never the descending-sequence garbage the raw HOF produces unguarded
    val short = df.where(size(col("t")) < 3)
      .select(word_ngrams(col("t"), 3)).collect()
    short.foreach(r => assert(r.getSeq[String](0).isEmpty))
    // bigram flavor: adjacent pairs
    val bi = Seq("a b c d").toDF("text").select(split(col("text"), " ").as("t"))
      .select(word_ngrams(col("t"), 2)).head().getSeq[String](0)
    assert(bi == Seq("a b", "b c", "c d"))
  }

  test("native vec_quantize is bit-identical to the transform(round·cast) formulation") {
    // the corpus itself, under the session default (ANSI on): every
    // moment path's input
    val e = Tables.embeddings(spark, sf0001)
    val diff = e.select(
        vec_quantize(col("embedding"), 1048576.0).as("native"),
        VectorOps.quantizeHof(col("embedding"), 1048576.0).as("hof"))
      .where(col("native") =!= col("hof")) // exact array comparison
    assert(diff.count() == 0, "native and HOF quantize must agree bitwise")
  }

  test("native vec_quantize edges: ties, negatives, null element, empty, null, NaN/Inf") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftFunctions.vec_quantize
    // scale 2.0 makes exact .5 products reachable: x=0.25 → 0.5 (HALF_UP
    // → away from zero: 1), x=-0.25 → -0.5 → -1 (Math.round would give 0
    // — the difference this pin exists to catch). Spark's round() on
    // double goes through BigDecimal.valueOf, mirrored by the native loop.
    val df = Seq(
      (1L, Some(Seq(Some(0.25f), Some(-0.25f), Some(0.75f), Some(-0.75f)))),
      (2L, Some(Seq(Some(1.1f), None, Some(-2.9f)))), // null element
      (3L, Some(Seq.empty[Option[Float]])),
      (4L, None),
    ).toDF("id", "a")
    val hof = VectorOps.quantizeHof(col("a"), 2.0)
    val got = df.select(vec_quantize(col("a"), 2.0).as("n"), hof.as("h"))
      .collect()
    assert(got(0).getSeq[Long](0) == Seq(1L, -1L, 2L, -2L),
      "HALF_UP ties must round away from zero")
    assert(got(0).getSeq[Long](0) == got(0).getSeq[Long](1))
    val withNull = got(1).getSeq[Any](0)
    assert(withNull == got(1).getSeq[Any](1) &&
      withNull(1) == null, "null element passes through as null")
    assert(got(2).getSeq[Long](0).isEmpty)
    assert(got(3).isNullAt(0) && got(3).isNullAt(1))
    // NaN/±Inf elements (poisoned vectors) RAISE, exactly like the ANSI
    // round().cast(long) chain this expression replaced — a NaN that
    // silently quantized to 0 would be a legitimate-looking mid-grid
    // value training on garbage (and the DuckDB oracles, whose CAST of
    // NaN errors, could never agree)
    val poisoned = spark.sql(
      """SELECT array(cast('NaN' as float), cast(3.5 as float)) AS a""")
    val e1 = intercept[Exception] {
      poisoned.select(vec_quantize(col("a"), 2.0)).collect()
    }
    assert(e1.getMessage.contains("poisoned") ||
      Option(e1.getCause).exists(_.getMessage.contains("poisoned")),
      s"NaN must raise the poison guard, got: ${e1.getMessage}")
    val inf = spark.sql(
      """SELECT array(cast('Infinity' as float)) AS a""")
    assertThrows[Exception] {
      inf.select(vec_quantize(col("a"), 2.0)).collect()
    }
  }

  test("vec_quantize saturation boundary matches Spark's ANSI cast exactly at ±2^63") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftFunctions.vec_quantize
    // Spark's ANSI Cast(double → long) compares floor(d) <= Long.MaxValue
    // with MaxValue promoted to double (= 2^63): d == 2^63 passes and
    // d.toLong SATURATES to Long.MaxValue. The native guard must accept
    // that same single boundary value (it raised one value early until
    // the round-12 fix), and still raise just past it.
    val two63 = math.pow(2, 63) // exact: 9.223372036854776E18
    val atBoundary = Seq((1L, Seq(1.0f, -1.0f))).toDF("id", "a")
    val native = atBoundary.select(vec_quantize(col("a"), two63)).head().getSeq[Long](0)
    assert(native == Seq(Long.MaxValue, Long.MinValue),
      s"2^63 must saturate like Spark's ANSI cast, got $native")
    // the ANSI chain itself, same inputs — the byte-for-byte claim
    val hof = atBoundary.select(VectorOps.quantizeHof(col("a"), two63)).head().getSeq[Long](0)
    assert(hof == native, "native and ANSI round().cast(long) must agree at the boundary")
    // one ulp past the boundary still raises on both paths
    val past = Seq((1L, Seq(2.0f))).toDF("id", "a")
    assertThrows[Exception] { past.select(vec_quantize(col("a"), two63)).collect() }
    assertThrows[Exception] { past.select(VectorOps.quantizeHof(col("a"), two63)).collect() }
  }

  test("native vec_quantize_stats matches the 4-pass HOF chain") {
    import org.apache.spark.sql.graftext.GraftFunctions.vec_quantize_stats
    // the HOF chain this expression replaced, verbatim
    def hofCols(emb: org.apache.spark.sql.Column) = {
      val maxAbs = array_max(transform(emb, x => abs(x)))
      val scale = when(maxAbs > 0f, lit(127.0) / maxAbs.cast("double"))
        .otherwise(lit(0.0))
      val qs = transform(emb, x => round(x.cast("double") * scale).cast("long"))
      struct(maxAbs.as("max_abs_f"), scale.as("scale"),
        aggregate(qs, lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(qs).as("q_min"), array_max(qs).as("q_max"))
    }
    // corpus rows under the session default (ANSI on)
    val e = Tables.embeddings(spark, sf0001)
    val diff = e.select(vec_quantize_stats(col("embedding")).as("native"),
        hofCols(col("embedding")).as("hof"))
      .where(col("native") =!= col("hof")) // exact struct comparison
    assert(diff.count() == 0, "native and HOF stats must agree bitwise")
    // edges: zero vector (scale 0), -0.0, empty, all-null, null element,
    // null array — parity under the session default (ANSI on)
    val edges = spark.sql(
      """SELECT * FROM VALUES
         (array(cast(0.0 as float), cast(-0.0 as float))),
         (array(cast(0.5 as float), cast(-0.25 as float), cast(0.125 as float))),
         (array(cast(null as float))),
         (array(cast(1.5 as float), cast(null as float))),
         (cast(array() as array<float>)),
         (cast(null as array<float>))
         AS t(emb)""")
    val rows = edges.select(vec_quantize_stats(col("emb")).as("native"),
      hofCols(col("emb")).as("hof")).collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"row $i null disagreement: $r")
      if (!r.isNullAt(0))
        assert(r.getStruct(0) == r.getStruct(1), s"row $i: $r")
    }
    // NaN/Inf poisoned rows RAISE like the ANSI cast in the HOF chain
    // (NaN max ⇒ NaN scale ⇒ poison guard; Inf ⇒ scale 0 ⇒ Inf·0 = NaN)
    Seq("'NaN'", "'Infinity'").foreach { bad =>
      assertThrows[Exception] {
        spark.sql(s"SELECT array(cast($bad as float), cast(2.0 as float)) AS emb")
          .select(vec_quantize_stats(col("emb"))).collect()
      }
    }
    // spot-check the interesting values
    val zeroVec = rows(0).getStruct(0)
    assert(zeroVec.getDouble(1) == 0.0 && zeroVec.getLong(2) == 0L,
      "zero vector: scale 0, all-zero quanta")
    assert(rows(3).getStruct(0).isNullAt(2),
      "null element nulls q_sum (aggregate fold)")
    assert(rows(3).getStruct(0).getLong(3) == 127L,
      "null element skipped by q_min/q_max")
    assert(rows(4).getStruct(0).isNullAt(0) &&
      rows(4).getStruct(0).getLong(2) == 0L,
      "empty array: null max_abs, seed q_sum 0")
    val nullArr = rows(5).getStruct(0)
    assert(nullArr.isNullAt(0) && nullArr.getDouble(1) == 0.0 &&
      nullArr.isNullAt(2),
      "null array: the struct() shape with otherwise(0.0) scale, like the HOF")
  }

  test("gram_moments matches the double-posexplode formulation on the corpus") {
    import org.apache.spark.sql.graftext.GraftFunctions.gram_moments
    val qa = Tables.embeddings(spark, sf0001)
      .select(vec_quantize(col("embedding"), 1048576.0).as("qa"))
    val g = qa.agg(gram_moments(col("qa")).as("g"))
      .select(col("g.n"), col("g.s1"), col("g.s2")).head()
    val aggN = g.getSeq[Long](0)
    val aggS1 = g.getSeq[Long](1)
    val aggS2 = g.getSeq[org.apache.spark.sql.Row](2)
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).toBigInteger)).toMap
    // the explode+sum reference (the shape this aggregate replaced)
    val refNS1 = qa.select(posexplode(col("qa")).as(Seq("p", "qp")))
      .groupBy("p").agg(count(lit(1)).as("n"), sum("qp").as("s1"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val refS2 = qa.select(col("qa"), posexplode(col("qa")).as(Seq("p", "qp")))
      .select(col("p"), col("qp"),
        posexplode(slice(col("qa"), col("p") + lit(1),
          size(col("qa")) - col("p"))).as(Seq("j", "qq")))
      .groupBy(col("p"), (col("p") + col("j")).as("q"))
      .agg(sum((col("qp") * col("qq")).cast("decimal(38,0)")).as("s2"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).toBigInteger)).toMap
    assert(aggN.indices.forall(p => refNS1(p) == ((aggN(p), aggS1(p)))),
      "per-position counts/first moments must match the explode form")
    assert(aggS2 == refS2, "upper-triangle second moments must match exactly")
    // partition independence: integer state merges are order-free
    val g7 = qa.repartition(7).agg(gram_moments(col("qa")).as("g"))
      .select(col("g.n"), col("g.s1"), col("g.s2")).head()
    assert(g7 == g, "result must be independent of partitioning")
  }

  test("gram_moments: 128-bit second moments, ragged arrays, null elements") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftFunctions.gram_moments
    // elements ~2^30: products ~2^60 (fit long), 100-row sums ~2^66
    // (OVERFLOW long) — the i128 accumulator must stay exact where a
    // naive long sum wraps
    val big = (0 until 100).map(i =>
      Seq(Some(1L << 30), Some((1L << 30) + i), Some(-(1L << 29))))
    // ragged + null-element rows: count(lit(1)) semantics per position,
    // and position 3 exists ONLY as a null element — sum() over the
    // all-null group is NULL, which the aggregate must reproduce
    val ragged = Seq(
      Seq(Some(5L), None, Some(7L), None),
      Seq(Some(-3L), Some(4L)),
      Seq[Option[Long]](None))
    val df = (big ++ ragged).toDF("qa")
    val g = df.agg(gram_moments(col("qa")).as("g"))
      .select(col("g.n"), col("g.s1"), col("g.s2")).head()
    val aggN = g.getSeq[Long](0)
    val aggS1 = g.getSeq[Any](1).map(Option(_).map(_.asInstanceOf[Long]))
    val aggS2 = g.getSeq[org.apache.spark.sql.Row](2)
      .map(r => ((r.getInt(0), r.getInt(1)),
        Option(r.getDecimal(2)).map(_.toBigInteger))).toMap
    def optLong(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    val refNS1 = df.select(posexplode(col("qa")).as(Seq("p", "qp")))
      .groupBy("p").agg(count(lit(1)).as("n"), sum("qp").as("s1"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), optLong(r, 2)))).toMap
    val refS2 = df.select(col("qa"), posexplode(col("qa")).as(Seq("p", "qp")))
      .select(col("p"), col("qp"),
        posexplode(slice(col("qa"), col("p") + lit(1),
          size(col("qa")) - col("p"))).as(Seq("j", "qq")))
      .groupBy(col("p"), (col("p") + col("j")).as("q"))
      .agg(sum((col("qp") * col("qq")).cast("decimal(38,0)")).as("s2"))
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        Option(r.getDecimal(2)).map(_.toBigInteger))).toMap
    assert(aggN.indices.forall(p => refNS1(p) == ((aggN(p), aggS1(p)))))
    assert(aggS2 == refS2)
    // the interesting cases actually happened
    assert(aggS2((0, 0)).get.compareTo(
      java.math.BigInteger.valueOf(Long.MaxValue)) > 0,
      "test must exercise the beyond-int64 range")
    assert(aggS1(3).isEmpty && aggS2((0, 3)).isEmpty && aggN(3) == 1L,
      "all-null position must emit NULL moments but count rows")
  }

  test("gram_moments raises loudly on out-of-contract element magnitude") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftFunctions.gram_moments
    // elements near 2^63 could wrap the 128-bit accumulator into a
    // legitimate-looking in-range sum with no error — the guard makes
    // out-of-contract input fail like the quantize expressions do
    val bad = Seq(Seq((1L << 31) + 1L, 2L)).toDF("qa")
    val e = intercept[Exception] {
      bad.agg(gram_moments(col("qa"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exceeds 2^31")),
      s"expected the magnitude guard, got: ${msgs(e)}")
    // the boundary itself is in contract (|x| = 2^31 exactly)
    val edge = Seq(Seq(1L << 31, -(1L << 31))).toDF("qa")
    val g = edge.agg(gram_moments(col("qa")).as("g")).select("g.s2").head()
    val s2 = g.getSeq[org.apache.spark.sql.Row](0)
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDecimal(2).toBigInteger)).toMap
    assert(s2((0, 1)) == java.math.BigInteger.valueOf(1L << 31)
      .multiply(java.math.BigInteger.valueOf(-(1L << 31))))
  }

  test("native alpha_token_count matches both the filter-HOF and regexp_count forms") {
    import org.apache.spark.sql.graftext.GraftFunctions.alpha_token_count
    import spark.implicits._
    val rows = Seq(Some("ab cd"), Some("123 456"), Some("a1b 2#3 x"),
      Some(""), Some("   "), Some("日本語 abc 語a語"), Some("# ... #a"),
      Some("end space "), Some(" lead"), None)
    val df = rows.toDF("s")
    def run(c: org.apache.spark.sql.Column): Seq[Option[Long]] =
      df.select(c.cast("long").as("n")).collect()
        .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    val native = run(alpha_token_count(col("s")))
    val hof = run(size(filter(split(col("s"), " "),
      x => x.rlike("[a-zA-Z]"))).cast("long"))
    val re = run(regexp_count(col("s"), lit("(?:^| )[^ ]*[a-zA-Z][^ ]*"))
      .cast("long"))
    assert(native == hof, s"native $native vs hof $hof")
    assert(native == re, s"native $native vs regexp $re")
  }

  test("native chain_replace is bit-identical to the nested replace formulation") {
    import org.apache.spark.sql.graftext.GraftFunctions.chain_replace
    import spark.implicits._
    // the BPE encode chain's exact patterns plus adversarial cases:
    // left-to-right non-overlap ("aaa" under a->b), a replacement that
    // CREATES the next step's pattern (order sensitivity), empties, nulls
    val pairs = Seq("/a//a/" -> "/aa/", "/aa//a/" -> "/aaa/",
      "aaa" -> "b", "bb" -> "c", "" -> "", "x" -> "xx")
    val rows = Seq(Some("/a//a//a/"), Some("aaaaa"), Some("abab"),
      Some(""), Some("xx"), Some("日本aaa語"), None)
    val df = rows.toDF("s")
    def run(native: Boolean): Seq[Option[String]] = {
      val c = if (native) chain_replace(col("s"), pairs)
        else pairs.foldLeft(col("s")) { case (e, (f, t)) =>
          call_function("replace", e, lit(f), lit(t)) }
      df.select(c.as("r")).collect()
        .map(r => Option(r.getString(0))).toSeq
    }
    assert(run(native = true) == run(native = false))
    // and the node's tree/toString stays bounded at production depth
    val big = (1 to 50000).map(i => s"p$i" -> s"q$i")
    val s = chain_replace(col("s"), big).toString
    assert(s.length < 200, s"toString must elide the vocab, got ${s.length}")
  }
}
