package graft

import org.apache.spark.sql.functions._
import graft.operators.{MultimodalOps, TextOps}

class TextMultimodalSpec extends SparkTestBase {

  test("bpeTrain merges greedily left-to-right and stops when words are fully merged") {
    // "aaa": pairs (a,a)×2 → merge (a,a) GREEDY LEFT gives [aa, a] (not
    // [a, aa]); step2 must therefore see pair (aa, a). After merging that,
    // every word is one symbol — the trainer must stop early (2 rows, not 3).
    val dir = documentsFixture(Seq(
      (0L, "aaa aaa", "en", "srcA"),
      (1L, "aaa", "en", "srcA")))
    val got = TextOps.bpeTrain(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1, "a", "a", 6L),   // 3 words × 2 adjacent (a,a) pairs
      (2, "aa", "a", 3L))) // greedy left merge → [aa, a] per word; then done
  }

  test("bpeEncode applies every learned merge in train order, per doc") {
    // merges learned: (a,a,6) then (aa,a,3) then — tie (a,b):1 vs (c,d):1,
    // lexicographic tie-break — (a,b,1). Encoding: "aaa" collapses to ONE
    // merged token via merges 1+2; "ab" needs merge 3 (which the trainer
    // learns but never applies to its own vocab — encode MUST apply it);
    // "cd" stays two unmerged chars; "x" is filtered (length < 2).
    val dir = documentsFixture(Seq(
      (0L, "aaa aaa", "en", "srcA"),
      (1L, "aaa ab", "en", "srcA"),
      (2L, "cd x", "en", "srcA")))
    val got = TextOps.bpeEncode(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (0L, 2L, 2L, 2L),   // two "aaa" → one merged token each
      (1L, 2L, 2L, 2L),   // "aaa" + "ab" → both single merged tokens
      (2L, 1L, 2L, 0L)))  // "cd" alone: [c, d], nothing merged
  }

  test("bpeEncodeBig: deeper merge chains only ever shrink token counts; word counts fixed") {
    // against the sf0.001 corpus: 48 merges vs 3. The encode applies the
    // merge table in train order, and a merge can only join symbols, so
    // per doc n_tokens(big) <= n_tokens(3) while n_words is untouched by
    // vocabulary depth. Also: the big run must actually merge MORE in
    // aggregate (a 48-merge vocab that buys nothing would mean the
    // trainer or the chained-replace encode is broken).
    val small = TextOps.bpeEncode(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val big = TextOps.bpeEncodeBig(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(big.keySet == small.keySet)
    big.foreach { case (id, (nw, nt)) =>
      assert(nw == small(id)._1, s"doc $id word count changed")
      assert(nt <= small(id)._2, s"doc $id token count grew")
    }
    assert(big.values.map(_._2).sum < small.values.map(_._2).sum,
      "48 merges must compress more than 3 in aggregate")
  }

  test("gopher rules: each rule fires on its planted violator, statistics hand-computed") {
    import graft.operators.TextOps
    val pass = ((1 to 48).map(i => s"word$i") ++ Seq("the", "of")).mkString(" ")
    val short = "the of tiny doc"                          // 4 words < 50
    val longw = ((1 to 48).map(_ => "abcdefghijklmnop")    // mean len > 10
      ++ Seq("the", "of")).mkString(" ")
    val symb  = ((1 to 42).map(i => s"word$i") ++ Seq("the", "of")
      ++ (1 to 6).map(_ => "#")).mkString(" ")             // 6/50 = 0.12 > 0.1
    val nums  = ((1 to 24).map(i => s"word$i") ++ (1 to 24).map(_ => "123")
      ++ Seq("the", "of")).mkString(" ")                   // 26/50 alpha = 0.52
    val nostp = (1 to 50).map(i => s"word$i").mkString(" ") // zero stop hits
    val dir = documentsFixture(Seq(
      (1L, pass, "en", "s"), (2L, short, "en", "s"), (3L, longw, "en", "s"),
      (4L, symb, "en", "s"), (5L, nums, "en", "s"), (6L, nostp, "en", "s")))
    val got = TextOps.gopherRules(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), (6 to 10).map(r.getBoolean),
        r.getBoolean(11))).toMap
    assert(got(1L) == ((50L, Seq(true, true, true, true, true), true)))
    assert(got(2L)._2(0) == false && got(2L)._3 == false)  // word count
    assert(got(3L)._2(1) == false && got(3L)._2.patch(1, Nil, 1).forall(identity))
    assert(got(4L)._2(2) == false && got(4L)._2.patch(2, Nil, 1).forall(identity))
    assert(got(5L)._2(3) == false && got(5L)._2.patch(3, Nil, 1).forall(identity))
    assert(got(6L)._2(4) == false && got(6L)._2.patch(4, Nil, 1).forall(identity))
    // the statistics themselves: doc 4 symbol ratio exactly 6/50
    val r4 = TextOps.gopherRules(spark, dir)
      .where(col("doc_id") === 4L).collect().head
    assert(r4.getDouble(3) == 0.12)
  }

  test("fingerprint matches a driver-side reference implementation") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .limit(20).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = TextOps.fingerprint(spark, sf0001)
      .where(col("doc_id").isin(docs.keys.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, text) =>
      val expected = text.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
      assert(got(id) == expected, s"doc $id")
    }
  }

  test("length z-score flags the planted outlier with an exactly-computed z") {
    // source A: nine docs of 100 chars + one of 1000 → n=10, s1=1900,
    // s2=1_090_000, mean=190, var=72900, sd=270, z_outlier=810/270=3.0
    // (every step exactly representable); source B has zero variance and
    // must be excluded by the var>0 guard, not emit NaN/Inf rows
    val dir = documentsFixture(
      (0L until 9L).map(i => (i, "a" * 100, "en", "sA")) ++
        Seq((9L, "a" * 1000, "en", "sA"),
          (10L, "b" * 50, "en", "sB"), (11L, "b" * 50, "en", "sB")))
    val got = TextOps.lengthZscore(spark, dir).collect()
    assert(got.length == 1, s"only the planted outlier: ${got.mkString(",")}")
    assert(got(0).getLong(0) == 9L)
    assert(got(0).getDouble(3) == 3.0, "z must be the exact integer-derived value")
  }

  test("length histogram buckets on integer-division boundaries") {
    val dir = documentsFixture(Seq(
      (0L, "a" * 99, "en", "s"), (1L, "a" * 100, "en", "s"),
      (2L, "a" * 199, "en", "s"), (3L, "a" * 200, "en", "s")))
    val got = TextOps.lengthHistogram(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((0L, 1L, 99L, 99L), (1L, 2L, 100L, 199L), (2L, 1L, 200L, 200L)),
      s"got $got")
  }

  test("token counts: ws tokens == words for single-spaced text") {
    val dir = documentsFixture(Seq(
      (0L, "one two three", "en", "s"),
      (1L, "single", "en", "s"),
      (2L, "a b c d e", "en", "s")))
    val got = TextOps.tokenCount(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 1L, 2L -> 5L))
  }

  test("lang id: argmax with deterministic tiebreak") {
    val dir = documentsFixture(Seq(
      (0L, "spark join filter nothing else", "en", "s"),   // compute wins
      (1L, "table row column scan vector window", "en", "s"), // storage wins
      (2L, "batch stream window key order", "en", "s"),    // stream wins
      (3L, "nothing matches at all", "en", "s")))          // all 0 → compute (tiebreak)
    val got = TextOps.langId(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(got(0L) == "lang_compute")
    assert(got(1L) == "lang_storage")
    assert(got(2L) == "lang_stream")
    assert(got(3L) == "lang_compute")
  }

  test("quality score ratios are exact int-ratio doubles") {
    val dir = documentsFixture(Seq(
      (0L, "the a the a unique tokens here now ok fine", "en", "s")))
    val r = TextOps.qualityScore(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_tokens") == 10L)
    assert(r.getAs[Long]("n_stopwords") == 4L)
    assert(r.getAs[Double]("stopword_ratio") == 0.4)
  }

  test("multimodal feature ANN: top-3 per query within modality, deterministic") {
    val a = MultimodalOps.featureAnn(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = MultimodalOps.featureAnn(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a == b, "must be deterministic")
    assert(a.nonEmpty)
    val perQuery = a.groupBy(_.head)
    perQuery.foreach { case (q, rows) =>
      assert(rows.map(_(1)).toSeq == (1L to rows.length).toSeq, s"ranks for $q")
      assert(rows.length <= 3)
    }
  }

  test("surprisal: integer floor-log2 bits, hand-computed") {
    // corpus tokens: a×4, b×1 → N=5 (floor log2 = 2), c(a)=4 (2), c(b)=1 (0)
    // doc 1: four a's → bits 0 each, mean 0.0; doc 2: one b → bits 2, mean 2.0
    val dir = documentsFixture(Seq(
      (1L, "a a a a", "en", "src0"),
      (2L, "b", "en", "src0")))
    val got = graft.operators.TextOps.surprisal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 4L, 0L, 0.0), (2L, 1L, 2L, 2.0)))
  }

  test("shard manifest: byte-budget bucketing with hand-computed offsets") {
    // doc_ids 1,4,7 are all 'audio'; byte lens are body + the 44-byte WAV
    // header → 40044,40044,30044 against the 65536 target →
    // preceding-bytes 0,40044,80088 → shards 0,0,1 with offsets
    // 0,40044,14552 (80088-65536)
    val dir = documentsFixture(Seq(
      (1L, "a" * 40000, "en", "src0"),
      (4L, "b" * 40000, "en", "src0"),
      (7L, "c" * 30000, "en", "src0")))
    val got = graft.operators.MultimodalOps.shardManifest(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[String]("modality"),
        r.getAs[Long]("shard_id"), r.getAs[Long]("offset_in_shard")))
    assert(got.toSeq == Seq(
      (1L, "audio", 0L, 0L),
      (4L, "audio", 0L, 40044L),
      (7L, "audio", 1L, 14552L)))
  }

  test("asset dedup: identical payloads merge within a modality, never across") {
    // 6 and 12 are both PNG images (%6=0) with identical bytes → one
    // group, keep = min id, dup_bytes = one copy's length; 3 is an
    // image with the SAME body but JPEG framing (%6=3) → different
    // payload bytes, its own group — the container IS part of the
    // bytes; 1 (audio) has the same body in WAV framing → own group
    // (modality blocks anyway, like `source` in the text dedups)
    val dir = documentsFixture(Seq(
      (6L, "same bytes", "en", "src0"),
      (12L, "same bytes", "en", "src0"),
      (3L, "same bytes", "en", "src0"),
      (1L, "same bytes", "en", "src0")))
    val got = graft.operators.MultimodalOps.assetDedup(spark, dir).collect()
      .map(r => (r.getAs[String]("modality"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"), r.getAs[Long]("dup_bytes")))
    assert(got.toSeq == Seq(
      ("audio", 1L, 1L, 0L),
      // jpeg copy of the same text: distinct payload, never merged
      ("image", 3L, 1L, 0L),
      // "same bytes" (10 chars) → an 11×11 PNG: raster 11·12 = 132
      // bytes + 68 container bytes = 200 per copy
      ("image", 6L, 2L, 200L)))
  }

  test("asset card: hand-computed counts, duplicate fraction and recoverable bytes") {
    // same planted corpus as the dedup spec: image = {6, 12 (png dup of
    // 6), 3 (jpeg — same body, different container → distinct payload)},
    // audio = {1}; "same bytes" is 10 chars
    val dir = documentsFixture(Seq(
      (6L, "same bytes", "en", "src0"),
      (12L, "same bytes", "en", "src0"),
      (3L, "same bytes", "en", "src0"),
      (1L, "same bytes", "en", "src0")))
    val got = graft.operators.MultimodalOps.assetCard(spark, dir).collect()
      .map(r => r.getAs[String]("modality") ->
        ((r.getAs[Long]("n_assets"), r.getAs[Long]("n_payloads"),
          r.getAs[Double]("dup_frac"), r.getAs[Long]("total_bytes"),
          r.getAs[Long]("dup_bytes"), r.getAs[Long]("total_duration_ms"))))
      .toMap
    // byte lens are full container sizes: audio = 10 + 44 (WAV);
    // the 11×11 PNGs = 200 each (132-byte raster + 68 framing); the
    // 11×11 JPEG = 170 + 4 MCU scan bytes = 174
    assert(got("audio") == ((1L, 1L, 0.0, 54L, 0L, 400L)))
    assert(got("image") == ((3L, 2L, 1.0 - 2.0 / 3.0, 574L, 200L, 1200L)),
      s"image card: ${got("image")}")
  }

  test("xxhash64 asset dedup has the identical group structure to the md5 form") {
    val md = graft.operators.MultimodalOps.assetDedup(spark, sf0001).collect()
      .map(r => (r.getAs[String]("modality"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"), r.getAs[Long]("dup_bytes"))).sorted.toSeq
    val xx = graft.operators.MultimodalOps.assetDedupFast(spark, sf0001).collect()
      .map(r => (r.getAs[String]("modality"), r.getAs[Long]("keep_id"),
        r.getAs[Long]("n_copies"), r.getAs[Long]("dup_bytes"))).sorted.toSeq
    assert(md == xx, "hash choice must not change the dedup answer")
  }

  test("audio window plan: zero-pad short clip, STFT overlap, fan-out cap") {
    // audio = doc_id % 3 == 1; duration_ms = n_chars * 40
    val dir = documentsFixture(Seq(
      (1L, "a" * 5, "en", "src0"),     // 200 ms < 400 → one padded window
      (4L, "b" * 30, "en", "src0"),    // 1200 ms → (1200-400)/160+1 = 6
      (7L, "c" * 10000, "en", "src0"))) // 400 s → capped at 64
    val got = graft.operators.MultimodalOps.windowPlan(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("n_windows"),
        r.getAs[Long]("win_idx"), r.getAs[Long]("start_ms"),
        r.getAs[Long]("end_ms")))
    val byAsset = got.groupBy(_._1)
    assert(byAsset(1L).toSeq == Seq((1L, 1L, 0L, 0L, 200L)))
    assert(byAsset(4L).map(_._4).sorted.toSeq ==
      Seq(0L, 160L, 320L, 480L, 640L, 800L))
    assert(byAsset(4L).forall { case (_, n, i, s, e) =>
      n == 6L && e == math.min(s + 400L, 1200L) })
    assert(byAsset(7L).length == 64 && byAsset(7L).forall(_._2 == 64L))
    // overlap: consecutive windows share 400-160 = 240 ms
    val w4 = byAsset(4L).sortBy(_._3)
    w4.sliding(2).foreach { case Array(a, b) =>
      assert(b._4 - a._4 == 160L && a._5 > b._4, "hop < window → overlap") }
  }

  test("frame plan offsets are stco/stsz-exact; fetch ranges coalesce by the real gaps") {
    // video = doc_id % 3 == 2. The EXPECTED offsets are computed here
    // from the synthesis closed forms (szA/szB from md5(text), prefix
    // P(s) = (s DIV 2)(szA+szB) + (s%2)szA, mdat start 216+4n) —
    // independent arithmetic the walker's entry-by-entry table
    // accumulation must reproduce.
    // doc 2 (≡2 mod 6 → SINGLE-chunk layout): 100,000 chars → n = 4001
    //   samples, 16 frames at stride ~250 → gaps ≫ 512 → 16 GETs.
    // doc 5 (≡5 mod 6, n = 41 ≥ 3 → TWO-chunk layout, 4 slack bytes
    //   between chunks): 16 frames at stride ≤ 3 → gaps < 512 → ONE GET
    //   spanning the slack.
    // doc 11 (≡5 mod 6, 60 chars → n = 3 → two-chunk, chunk 2 holds ONE
    //   sample) and doc 17 (≡5 mod 6, 30 chars → n = 2 < 3 → the
    //   single-chunk FALLBACK) pin the variant boundary.
    val dir = documentsFixture(Seq(
      (2L, "x" * 100000, "en", "src0"),
      (5L, "y" * 1000, "en", "src0"),
      (11L, "k" * 60, "en", "src0"),
      (17L, "m" * 30, "en", "src0")))
    def md5b(s: String): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    case class G(n: Long, delta: Long, szA: Long, szB: Long, twoChunk: Boolean)
    def gens(id: Long, text: String, nChars: Long): G = {
      val v0 = md5b(text)(0) & 0xFF
      val vj = 144 + ((md5b(text)(0) & 0xFF) >> 4)
      val n = (nChars * 40) / 1000 + 1
      // frame sizes = 170 + MCU count of the variant's dims (the
      // Motion-JPEG frames the mdat now carries)
      G(n, (nChars * 40) / n,
        170 + (1 + v0 % 4) * (1 + (v0 / 4) % 4),
        (170 + (1 + vj % 4) * (1 + (vj / 4) % 4)).toLong,
        id % 6 == 5 && n >= 3)
    }
    def prefix(s: Long, g: G) = (s / 2) * (g.szA + g.szB) + (s % 2) * g.szA
    // the INDEPENDENT offset arithmetic: single-chunk files put sample s
    // at mdatStart(232+4n) + P(s); two-chunk files start at 272+4n
    // (bigger stsc/stco boxes + the 24-byte stss) and add the 4 slack
    // bytes once s leaves chunk 1 (samples 0-1)
    def expOff(s: Long, g: G): Long =
      if (g.twoChunk) 272 + 4 * g.n + prefix(s, g) + (if (s >= 2) 4 else 0)
      else 232 + 4 * g.n + prefix(s, g)
    val expected = Map(
      2L -> gens(2L, "x" * 100000, 100000L),
      5L -> gens(5L, "y" * 1000, 1000L),
      11L -> gens(11L, "k" * 60, 60L),
      17L -> gens(17L, "m" * 30, 30L))
    assert(expected(5L).twoChunk && expected(11L).twoChunk &&
      !expected(2L).twoChunk && !expected(17L).twoChunk, "variant mix")
    val frames = graft.operators.MultimodalOps.framePlan(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("n_samples"),
        r.getAs[Long]("frame_idx"), r.getAs[Long]("sample_idx"),
        r.getAs[Long]("t_ms"), r.getAs[Long]("byte_offset"),
        r.getAs[Long]("sample_bytes")))
    frames.foreach { case (id, nS, fi, s, tMs, off, sz) =>
      val g = expected(id)
      assert(nS == g.n, s"n_samples $id")
      assert(s == fi * g.n / math.min(16L, g.n), s"stride $id/$fi")
      assert(tMs == s * g.delta, s"t_ms $id/$fi")
      assert(off == expOff(s, g), s"offset $id/$fi: walker vs closed form")
      assert(sz == (if (s % 2 == 0) g.szA else g.szB), s"size $id/$fi")
    }
    assert(frames.count(_._1 == 2L) == 16 && frames.count(_._1 == 5L) == 16)
    assert(frames.count(_._1 == 11L) == 3 && frames.count(_._1 == 17L) == 2)
    // keyframe snap: single-chunk files carry no stss (all-sync → key ==
    // sample, zero run-up); two-chunk files carry stss {1, n/2+1} → the
    // target snaps back to sample 0 or n/2, and the fetch starts at THAT
    // sample's byte position
    val keys = graft.operators.MultimodalOps.keyframePlan(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("frame_idx"),
        r.getAs[Long]("sample_idx"), r.getAs[Long]("key_idx"),
        r.getAs[Long]("key_offset"), r.getAs[Long]("back_samples")))
    assert(keys.length == frames.length)
    keys.foreach { case (id, fi, s, k, koff, back) =>
      val g = expected(id)
      val expK = if (!g.twoChunk) s
        else if (s >= g.n / 2) g.n / 2 else 0L
      assert(k == expK, s"key snap $id/$fi: got $k want $expK")
      assert(koff == expOff(k, g), s"key offset $id/$fi")
      assert(back == s - k && back >= 0, s"run-up $id/$fi")
    }
    // the snap genuinely fires: doc 5's late frames must snap BACK
    assert(keys.exists { case (id, _, s, k, _, _) => id == 5L && k < s },
      "two-chunk stss must produce at least one non-trivial snap")
    val got = graft.operators.MultimodalOps.fetchPlan(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("range_id"),
        r.getAs[Long]("range_start"), r.getAs[Long]("range_end"),
        r.getAs[Long]("n_frames"), r.getAs[Long]("io_bytes")))
    val byAsset = got.groupBy(_._1)
    // doc 2: one GET per frame, each exactly its sample's extent
    assert(byAsset(2L).length == 16)
    assert(byAsset(2L).forall { case (_, _, s, e, n, b) =>
      n == 1L && b == e - s }, byAsset(2L).mkString(","))
    assert(byAsset(2L).map(_._2).sorted.toSeq == (0L until 16L).toSeq,
      "range ids are dense from 0")
    // doc 5: everything coalesces into one GET spanning first→last
    // sample INCLUDING the 4 inter-chunk slack bytes (they sit inside
    // the merged range — the vectored-IO trade priced off real tables)
    val g5 = expected(5L)
    val lastS = 15L * g5.n / 16L
    val endB = expOff(lastS, g5) + (if (lastS % 2 == 0) g5.szA else g5.szB)
    assert(byAsset(5L).toSeq == Seq((5L, 0L,
      expOff(0, g5), endB, 16L, endB - expOff(0, g5))),
      byAsset(5L).mkString(","))
    // coverage invariant: every sampled frame's extent is inside a range
    frames.foreach { case (id, _, _, _, _, off, sz) =>
      assert(byAsset(id).exists { case (_, _, s, e, _, _) =>
        s <= off && off + sz <= e }, s"frame $id@$off+$sz uncovered")
    }
  }

  test("multimodal: decoded features deterministic, payload sizes follow the container math") {
    val f1 = MultimodalOps.featureStats(spark, sf0001).collect()
    val f2 = MultimodalOps.featureStats(spark, sf0001).collect()
    assert(f1.toSeq == f2.toSeq, "decode must be deterministic")
    val feats = MultimodalOps.extractFeatures(spark, sf0001).limit(10).collect()
    feats.foreach { af =>
      assert(af.features.length == MultimodalOps.FeatureDim)
      assert(af.features.forall(v => !v.isNaN && !v.isInfinite))
    }
    // payload byte_len follows the container arithmetic for this ascii
    // corpus: PNG = raster h·(w+1) + 68 framing bytes; JPEG = 170 +
    // one scan byte per MCU; WAV wraps the text (n_chars + header);
    // MP4 = 216 fixed box bytes + 4 per stsz entry + the alternating-
    // size sample total (szA/szB from the text digest)
    // fixed box overhead: 232 single-chunk, 276 two-chunk (bigger
    // stsc/stco boxes, the 24-byte stss, the 4 slack bytes); two-chunk
    // = id ≡ 5 (mod 6) with ≥ 3 samples; per-sample sizes are the
    // Motion-JPEG frame sizes 170 + MCU-count of the variant dims
    val mp4Len = expr(
      """CASE WHEN asset_id % 6 = 5
              AND (n_chars * 40) DIV 1000 + 1 >= 3 THEN 276 ELSE 232 END
         + 4 * ((n_chars * 40) DIV 1000 + 1)
         + (((n_chars * 40) DIV 1000 + 1) DIV 2)
           * ((170 + (1 + CAST(conv(substring(md5(text),1,2),16,10) AS BIGINT) % 4)
                   * (1 + (CAST(conv(substring(md5(text),1,2),16,10) AS BIGINT) DIV 4) % 4))
              + (170 + (1 + (144 + CAST(conv(substring(md5(text),1,1),16,10) AS BIGINT)) % 4)
                     * (1 + ((144 + CAST(conv(substring(md5(text),1,1),16,10) AS BIGINT)) DIV 4) % 4)))
         + (((n_chars * 40) DIV 1000 + 1) % 2)
           * (170 + (1 + CAST(conv(substring(md5(text),1,2),16,10) AS BIGINT) % 4)
                  * (1 + (CAST(conv(substring(md5(text),1,2),16,10) AS BIGINT) DIV 4) % 4))""")
    val expected = when(col("modality") === "image",
        when(col("asset_id") % 6 === 0,
          expr(s"""(n_chars % ${MultimodalOps.PngMaxH} + 1)
                   * (n_chars % ${MultimodalOps.PngMaxW} + 2) + 68"""))
          .otherwise(expr(
            """170 + ((n_chars % 640 + 8) DIV 8) * ((n_chars % 480 + 8) DIV 8)""")))
      .when(col("modality") === "audio", col("n_chars") + MultimodalOps.WavHeaderBytes)
      .otherwise(mp4Len)
    val meta = MultimodalOps.assetMeta(spark, sf0001)
      .join(Tables.documents(spark, sf0001),
        col("asset_id") === col("doc_id"))
      .where(col("byte_len") =!= expected)
    assert(meta.count() == 0)
  }

  test("asset payloads are REAL containers: golden header bytes, parse round-trip") {
    // one tiny asset per container format, headers hand-assembled
    // independently of the synthesis code (golden bytes, not a replay)
    val dir = documentsFixture(Seq(
      (6L, "img", "en", "src0"),    // image %6=0 → PNG; w=4, h=4
      (3L, "jpg", "en", "src0"),    // image %6=3 → JPEG; w=4, h=4
      (1L, "au", "en", "src0"),     // audio: rate idx 1%5=1 → 22050
      (2L, "vid!", "en", "src0")))  // video
    val rows = MultimodalOps.assets(spark, dir)
      .select("asset_id", "payload").collect()
      .map(r => r.getAs[Long]("asset_id") -> r.getAs[Array[Byte]]("payload"))
      .toMap
    def hx(b: Array[Byte]): String = b.map("%02X".format(_)).mkString
    def md5b(s: String): Array[Byte] =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    // PNG for "img" (3 chars → 4×4 grayscale): sig + IHDR + ONE stored-
    // deflate block carrying the Up-filtered gradient raster, with the
    // Adler-32 computed by java.util.zip (independent of the closed
    // form the synthesis uses), zeroed CRCs, IEND
    val v0 = md5b("img")(0) & 0xFF
    val raster =
      (Seq(0, v0, v0, v0, v0) ++
        Seq.fill(3)(Seq(2, 1, 1, 1, 1)).flatten).map(_.toByte).toArray
    val ad = new java.util.zip.Adler32(); ad.update(raster)
    assert(hx(rows(6L)) ==
      "89504E470D0A1A0A" + "0000000D" + "49484452" +
        "00000004" + "00000004" + "08" + "00" + "000000" + "00000000" +
        "0000001F" + "49444154" +                       // IDAT len 20+11
        "7801" + "01" + "1400" + "EBFF" +               // stored block, LEN/NLEN
        hx(raster) + "%08X".format(ad.getValue) +       // raster + real Adler
        "00000000" +                                    // IDAT CRC (zeroed)
        "00000000" + "49454E44" + "00000000")           // IEND
    // JPEG for "jpg" (4×4 → ONE MCU): SOI + APP0 + all-ones DQT + SOF0
    // (grayscale) + the two custom DHTs + SOS + a 2-byte scan
    // [cat8 code | 8 bits of D=8·(vj−128) | EOB] + EOI
    val vj = 144 + ((md5b("jpg")(0) & 0xFF) >> 4)
    val scan = 0x8000 | ((8 * (vj - 128)) << 4)
    assert(hx(rows(3L)) ==
      "FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" +
        "0001" + "0001" + "00" + "00" +
        "FFDB" + "0043" + "00" + ("01" * 64) +
        "FFC0" + "000B" + "08" + "0004" + "0004" + "01" + "01" + "11" + "00" +
        "FFC4" + "001F" + "00" + "000000" + "0C" + ("00" * 12) +
        "000102030405060708090A0B" +
        "FFC4" + "0014" + "10" + "000000" + "01" + ("00" * 12) + "00" +
        "FFDA" + "0008" + "01" + "0100" + "00" + "3F" + "00" +
        "%04X".format(scan) + "FFD9")
    // WAV: RIFF size=36+2 LE, PCM mono 22050 Hz (LE 0x5622 → "22560000"),
    // byte rate 44100, data size 2, body "au"
    assert(hx(rows(1L)) ==
      "52494646" + "26000000" + "57415645" + "666D7420" + "10000000" +
        "0100" + "0100" + "22560000" + "44AC0000" + "0200" + "1000" +
        "64617461" + "02000000" + "6175")
    // MP4 for "vid!" (4 chars → 160 ms → ONE sample of szA bytes): the
    // complete box tree, sizes and table fields hand-assembled — ftyp,
    // moov{free, trak{mdia{mdhd(timescale 1000, duration 160),
    // minf{stbl{stts(1×160), stsc(1 chunk), stsz([szA]), stco(236)}}}},
    // udta(+digest)}, mdat(ONE complete variant-A baseline JPEG — the
    // Motion-JPEG frame the sample extent addresses)
    val vv0 = md5b("vid!")(0) & 0xFF
    val vvj = 144 + (vv0 >> 4)
    val (fwa, fha) = (8 * (1 + vv0 % 4), 8 * (1 + (vv0 / 4) % 4))
    val nmA = (fwa / 8) * (fha / 8)
    val szA = 170 + nmA
    val frameA =
      "FFD8" + "FFE0" + "0010" + "4A46494600" + "0101" + "00" +
        "0001" + "0001" + "00" + "00" +
        "FFDB" + "0043" + "00" + ("01" * 64) +
        "FFC0" + "000B" + "08" + "%04X".format(fha) + "%04X".format(fwa) +
        "01" + "01" + "11" + "00" +
        "FFC4" + "001F" + "00" + "000000" + "0C" + ("00" * 12) +
        "000102030405060708090A0B" +
        "FFC4" + "0014" + "10" + "000000" + "01" + ("00" * 12) + "00" +
        "FFDA" + "0008" + "01" + "0100" + "00" + "3F" + "00" +
        "%04X".format(0x8000 | ((8 * (vvj - 128)) << 4)) +
        ("00" * (nmA - 1)) + "FFD9"
    assert(frameA.length == 2 * szA, "frame hex length vs szA")
    assert(hx(rows(2L)) ==
      "00000010" + "66747970" + "69736F6D" + "00000200" +
        "000000D4" + "6D6F6F76" +                                // moov 212
        "00000010" + "66726565" + ("00" * 8) +                   // free
        "000000A0" + "7472616B" +                                // trak 160
        "00000098" + "6D646961" +                                // mdia 152
        "00000020" + "6D646864" + "00000000" + "00000000" +      // mdhd
        "00000000" + "000003E8" + "000000A0" + "55C40000" +      //   ts/dur
        "00000070" + "6D696E66" +                                // minf 112
        "00000068" + "7374626C" +                                // stbl 104
        "00000018" + "73747473" + "00000000" + "00000001" +      // stts
        "00000001" + "000000A0" +                                //   1 × 160
        "0000001C" + "73747363" + "00000000" + "00000001" +      // stsc
        "00000001" + "00000001" + "00000001" +                   //   1 chunk
        "00000018" + "7374737A" + "00000000" + "00000000" +      // stsz
        "00000001" + "%08X".format(szA) +                        //   [szA]
        "00000014" + "7374636F" + "00000000" + "00000001" +      // stco
        "000000EC" +                                             //   @236
        "0000001C" + "75647461" + "00000000" +                   // udta
        md5b("vid!").map("%02X".format(_)).mkString +            //   +digest
        "%08X".format(8 + szA) + "6D646174" +                    // mdat
        frameA)                                                  //   the frame
    // and the native probe reads those bytes back: png body = raster +
    // 35 chunk-framing bytes; jpeg body = 171 total − the 102-byte
    // SOI+APP0+DQT+SOF header; mp4 body = the mdat payload with the
    // stsz count and mdhd duration surfaced
    val parsed = MultimodalOps.headerParse(spark, dir).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[String]("format"), Option(r.get(3)), Option(r.get(4)),
          Option(r.get(5)), r.getAs[Long]("body_bytes"),
          Option(r.get(7)), Option(r.get(8)))))
      .toMap
    assert(parsed(6L) == (("png", Some(4L), Some(4L), None, 55L, None, None)))
    assert(parsed(3L) == (("jpeg", Some(4L), Some(4L), None, 69L, None, None)))
    assert(parsed(1L) == (("wav", None, None, Some(22050L), 2L, None, None)))
    assert(parsed(2L) == (("mp4", None, None, None, szA.toLong,
      Some(1L), Some(160L))))
  }

  test("jpeg probe genuinely WALKS markers: extra COM segment, SOS-first, truncation") {
    import org.apache.spark.sql.graftext.GraftFunctions.mm_header_parse
    import spark.implicits._
    def unhex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val app0 = "FFD8" + "FFE00010" + "4A46494600" + "0101" + "00" +
      "0001" + "0001" + "0000"
    val sof = "FFC0" + "0011" + "08" + "0140" + "00F0" + // h=320, w=240
      "03" + "012200" + "021101" + "031101"
    val payloads = Seq(
      // a COM segment (len 6: 4 text bytes) BETWEEN APP0 and SOF0 — a
      // fixed-offset reader returns garbage here; the walker must skip
      // it via the segment's own length field and still find the dims
      app0 + "FFFE" + "0006" + "41424344" + sof + "AABB",
      // SOS before any SOF: dims unreadable → quarantine
      app0 + "FFDA" + "0008" + "010100003F00" + "11",
      // truncated mid-segment: the declared APP0 length runs past the end
      "FFD8" + "FFE00010" + "4A46",
      // 0xFF fill bytes before the SOF marker + a standalone TEM marker:
      // both legal JPEG padding forms the walker must step over
      app0 + "FF01" + "FFFF" + sof + "CC")
    val out = payloads.map(unhex).toDF("b")
      .select(mm_header_parse($"b").as("p")).select("p.*").collect()
      .map(r => (Option(r.get(0)).map(_.toString),
        Option(r.get(1)), Option(r.get(2)), Option(r.get(4))))
    assert(out(0) == ((Some("jpeg"), Some(240L), Some(320L), Some(2L))),
      s"walker failed: ${out(0)}")
    assert(out(1) == ((None, None, None, None)), s"SOS-first: ${out(1)}")
    assert(out(2) == ((None, None, None, None)), s"truncated: ${out(2)}")
    assert(out(3) == ((Some("jpeg"), Some(240L), Some(320L), Some(1L))),
      s"fill/TEM padding: ${out(3)}")
  }

  test("cross-modal alignment: matched caption keeps, mismatched caption drops") {
    import spark.implicits._
    // words bucketed under the same md5 hashing-trick recipe the
    // operator uses, computed here independently via MessageDigest
    def bucket(w: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(w.getBytes("UTF-8")).take(4).map("%02X".format(_)).mkString
      java.lang.Long.parseLong(h, 16) % MultimodalOps.FeatureDim
    }
    val words = (0 until 500).map(i => s"w$i")
    val b0 = words.filter(bucket(_) == 0L).take(3) // land in bucket 0
    val b1 = words.filter(bucket(_) == 1L).take(3) // land in bucket 1
    assert(b0.size == 3 && b1.size == 3)
    // both assets put ALL feature mass in component 1 (bucket 0): the
    // matched caption's tokens hash there (cos = 1), the mismatched
    // caption's hash elsewhere (dot = 0) — the CLIP-filter decision
    val feats = Seq(
      (1L, "image", Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)),
      (2L, "image", Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)))
      .toDF("asset_id", "modality", "features")
    val docs = Seq(
      (1L, b0.mkString(" ")),
      (2L, b1.mkString(" ")))
      .toDF("doc_id", "text")
    val got = MultimodalOps.alignJoin(feats, docs).collect()
      .map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[Long]("dot"), r.getAs[Long]("n1"), r.getAs[Long]("n2"),
          r.getAs[Double]("align_cos"), r.getAs[Boolean]("keep"))))
      .toMap
    val s = MultimodalOps.AlignScale
    assert(got(1L) == ((3 * s, s * s, 9L, 1.0, true)), s"matched: ${got(1L)}")
    assert(got(2L) == ((0L, s * s, 9L, 0.0, false)), s"mismatched: ${got(2L)}")
    // the xxhash64 production alias, pinned against the registered md5
    // form ON THE SAME CORPUS: identical pair set, identical modalities,
    // identical quantized ASSET vectors (n1 per asset — the decode side
    // is hash-independent), and the text-side mass conservation Σtk =
    // n_tokens means n2 > 0 whenever the doc has tokens, whichever hash
    // buckets them. Only dot/n2's bucket distribution may differ.
    val corpus = documentsFixture(Seq(
      (2L, b0.mkString(" "), "en", "s"),   // video + caption
      (6L, "an image caption with words", "en", "s"), // png + caption
      (7L, "an audio transcript here", "en", "s")))   // wav + caption
    def byId(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("asset_id") ->
        ((r.getAs[String]("modality"), r.getAs[Long]("n1"),
          r.getAs[Long]("n2"))))
      .toMap
    val md5Form = byId(MultimodalOps.crossModalAlign(spark, corpus))
    val fastForm = byId(MultimodalOps.crossModalAlignFast(spark, corpus))
    assert(md5Form.keySet == Set(2L, 6L, 7L) &&
      fastForm.keySet == md5Form.keySet, "pair set must match across hashes")
    md5Form.foreach { case (id, (mod, n1, n2)) =>
      val (fMod, fN1, fN2) = fastForm(id)
      assert(fMod == mod && fN1 == n1,
        s"asset-side vector must be hash-independent: $id")
      assert(n2 > 0 && fN2 > 0, s"token mass must land in SOME bucket: $id")
    }
  }

  test("video frame decode: ImageIO output equals the generator arithmetic on both stss arms") {
    // same 80-char text at id 2 (single-chunk, NO stss → all-sync) and
    // id 11 (two-chunk, stss {1, n/2+1}): nsmp = 4, targets s = 0..3.
    // The DECODED stats (JDK Huffman+IDCT) must equal the closed-form
    // constant-gray arithmetic of the snapped sample's variant — the
    // independent-implementation gate the image/audio decoders have.
    val text = "v" * 80
    val dir = documentsFixture(Seq((2L, text, "en", "s"), (11L, text, "en", "s")))
    val v0 = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))(0) & 0xFF
    val vj = 144 + (v0 >> 4)
    // variant geometry/gray: A for even sample index, B for odd
    val A = (8L * (1 + v0 % 4), 8L * (1 + (v0 / 4) % 4), vj.toLong)
    val B = (8L * (1 + vj % 4), 8L * (1 + (vj / 4) % 4), (144 + v0 % 16).toLong)
    def expect(k: Long) = if (k % 2 == 0) A else B
    val got = graft.operators.MultimodalOps.videoFrames(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_id"), r.getAs[Long]("frame_idx")) ->
        ((r.getAs[Long]("sample_idx"), r.getAs[Long]("key_idx"),
          r.getAs[Long]("width"), r.getAs[Long]("height"),
          r.getAs[Long]("n_px"), r.getAs[Long]("px_min"),
          r.getAs[Long]("px_max"), r.getAs[Long]("px_sum"))))
      .toMap
    assert(got.size == 8, s"4 frames per video: ${got.keySet}")
    (0L until 4L).foreach { i =>
      // single-chunk: all-sync → key == target; two-chunk: snaps to 0 or 2
      val k2 = i
      val k11 = if (i >= 2) 2L else 0L
      val (w2, h2, g2) = expect(k2)
      assert(got((2L, i)) == ((i, k2, w2, h2, w2 * h2, g2, g2, w2 * h2 * g2)),
        s"single-chunk frame $i: ${got((2L, i))}")
      val (w11, h11, g11) = expect(k11)
      assert(got((11L, i)) == ((i, k11, w11, h11, w11 * h11, g11, g11, w11 * h11 * g11)),
        s"two-chunk frame $i: ${got((11L, i))}")
    }
  }

  test("video perceptual dedup catches the re-containered duplicate exact dedup misses") {
    val text = "w" * 80
    // ids 2 and 8: byte-identical single-chunk videos (same text, same
    // container) — exact dedup groups them. id 11: the SAME frames in a
    // DIFFERENT container (two-chunk layout, stss, slack bytes) — a
    // re-encode/re-mux twin whose payload digest differs, invisible to
    // exact dedup, caught here at Hamming 0. id 17: different text,
    // different frames — must NOT pair with the others.
    val dir = documentsFixture(Seq(
      (2L, text, "en", "s"), (8L, text, "en", "s"), (11L, text, "en", "s"),
      (17L, "z" * 99, "en", "s")))
    val pairs = graft.operators.MultimodalOps.videoDedup(spark, dir).collect()
      .map(r => (r.getAs[Long]("asset_a"), r.getAs[Long]("asset_b")) ->
        ((r.getAs[Long]("hamming"), r.getAs[Boolean]("same_bytes"))))
      .toMap
    assert(pairs.keySet == Set((2L, 8L), (2L, 11L), (8L, 11L)),
      s"pair set: $pairs")
    assert(pairs((2L, 8L)) == ((0L, true)), "byte-identical pair")
    assert(pairs((2L, 11L)) == ((0L, false)),
      "re-containered duplicate: same frames, different bytes")
    assert(pairs((8L, 11L)) == ((0L, false)))
    // and exact binary dedup provably misses the re-containered twin:
    // 2 and 8 share a digest group; 11 sits alone
    val groups = graft.operators.MultimodalOps.assetDedup(spark, dir)
      .where(col("modality") === "video").collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(groups(2L) == 2L && groups(11L) == 1L && groups(17L) == 1L,
      s"exact dedup groups: $groups")
  }

  test("asset validation: synthesized corpus is all-consistent; budget flags fire on planted cases") {
    // audio doc 1: 5 chars → 200 ms < one 400 ms window → short_clip;
    // video doc 2 (single-chunk): 500 chars → 21 samples > 16 → over_cap,
    //   zero slack; video doc 5 (≡5 mod 6, 1000 chars → 41 samples →
    //   TWO-chunk): over_cap too, and exactly the 4 inter-chunk slack
    //   bytes its tables don't cover → n_slack_bytes = 4;
    // image doc 3 and the rest: fully consistent, no flags
    val dir = documentsFixture(Seq(
      (1L, "abcde", "en", "src0"),
      (2L, "v" * 500, "en", "src0"),
      (3L, "some image body", "en", "src0"),
      (4L, "a" * 20, "en", "src0"),    // audio, 800 ms: no flag
      (5L, "w" * 1000, "en", "src0"))) // two-chunk video
    val got = MultimodalOps.assetValidate(spark, dir).collect()
      .map(r => r.getAs[String]("modality") ->
        ((r.getAs[Long]("n_assets"), r.getAs[Long]("n_format_ok"),
          r.getAs[Long]("n_fields_ok"), r.getAs[Long]("n_size_ok"),
          r.getAs[Long]("n_slack_bytes"),
          r.getAs[Long]("n_short_clips"), r.getAs[Long]("n_over_cap"))))
      .toMap
    assert(got("audio") == ((2L, 2L, 2L, 2L, 0L, 1L, 0L)), got("audio"))
    assert(got("video") == ((2L, 2L, 2L, 2L, 4L, 0L, 2L)), got("video"))
    assert(got("image") == ((1L, 1L, 1L, 1L, 0L, 0L, 0L)), got("image"))
  }

  test("header probe: malformed/truncated/foreign bytes quarantine as all-null, never throw") {
    import org.apache.spark.sql.graftext.GraftFunctions.mm_header_parse
    import spark.implicits._
    val junk = Seq(
      Array.empty[Byte],                          // empty
      "89504E47".getBytes,                        // PNG magic as TEXT, not bytes
      Array[Byte](0x89.toByte, 'P', 'N', 'G'),    // truncated signature
      "RIFFxxxxWAVE".getBytes,                    // RIFF but no fmt chunk
      ("x" * 200).getBytes)                       // plain text
    val out = junk.toDF("b")
      .select(mm_header_parse($"b").as("p")).select("p.*").collect()
    assert(out.length == junk.length)
    out.foreach { r => (0 until r.length).foreach { i =>
      assert(r.isNullAt(i), s"expected all-null quarantine row, got $r") } }
  }

  test("parsed header fields agree with the synthesis meta columns corpus-wide") {
    // the synthesis invariant behind feeding resizePlan from the PARSE:
    // what was written into the bytes is what the probe reads back
    val joined = MultimodalOps.headerParse(spark, sf0001).alias("p")
      .join(MultimodalOps.assets(spark, sf0001).alias("a"), "asset_id")
    val expectedImageFmt =
      when(col("asset_id") % 6 === 0, "png").otherwise("jpeg")
    assert(joined.where(
      (col("p.modality") === "image") && (col("format") =!= expectedImageFmt
        || col("p.width") =!= col("a.width")
        || col("p.height") =!= col("a.height"))).count() == 0)
    assert(joined.where(
      (col("p.modality") === "audio") && (col("format") =!= "wav"
        || col("p.sample_rate") =!= col("a.sample_rate"))).count() == 0)
    assert(joined.where(
      (col("p.modality") === "video") && (col("format") =!= "mp4"
        // the parsed sample table mirrors the synthesis: one sample per
        // second (+1), mdhd duration = catalog duration, and the mdat
        // payload starts after the box framing (232+4n single-chunk,
        // 272+4n two-chunk — the variant split at id ≡ 5 mod 6, n ≥ 3)
        || col("n_samples") =!= expr("a.duration_ms DIV 1000 + 1")
        || col("media_ms") =!= col("a.duration_ms")
        || col("body_bytes") =!=
          length(col("a.payload")).cast("long") -
            (when(col("asset_id") % 6 === 5 && col("n_samples") >= 3,
              lit(272L)).otherwise(lit(232L)) + lit(4L) * col("n_samples"))))
      .count() == 0)
    // header + body = total payload bytes, header sized by PARSED format
    // (mp4 has no constant header — its size story is the box framing
    // identity asserted above)
    val hdr = typedlit(Map(
      "png" -> MultimodalOps.PngHeaderBytes,
      "jpeg" -> MultimodalOps.JpegHeaderBytes,
      "wav" -> MultimodalOps.WavHeaderBytes))
    assert(joined.where(col("p.modality") =!= "video" && col("body_bytes")
      + element_at(hdr, col("format"))
      =!= length(col("a.payload")).cast("long")).count() == 0)
  }

  test("pii profile: planted emails/phones/IPs counted per category, traps excluded") {
    // the driver corpus is digit-free (oracle values trivially zero
    // there), so THIS fixture carries the operator's semantics — the
    // same rows were cross-checked against DuckDB's regexp_extract_all
    // during development (dialect-intersection patterns; MATCH)
    val dir = documentsFixture(Seq(
      (0L, "contact john.doe@example.com or jane@sub.example.org today", "en", "src0"),
      (1L, "call 555-123-4567 or 555.987.6543 now", "en", "src0"),
      // 999.1.1.1 must NOT count: 999 is no octet, and no \b-anchored
      // 4-quad suffix survives inside it
      (2L, "server 192.168.0.1 and 10.0.0.255 plus bogus 999.1.1.1", "en", "src1"),
      (3L, "mixed a@b.co at 1.2.3.4 phone 111 222 3333 end", "en", "src1"),
      (4L, "clean text with no pii at all", "en", "src1")))
    val got = TextOps.piiProfile(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq == Seq(
      (0L, 2L, 0L, 0L, 2L, true),
      (1L, 0L, 2L, 0L, 2L, true),
      (2L, 0L, 0L, 2L, 2L, true),
      (3L, 1L, 1L, 1L, 3L, true),
      (4L, 0L, 0L, 0L, 0L, false)))
  }

  test("fixed-ref bigram LM equals the registered form on an unreplicated corpus") {
    // every doc_id at a plain SF sits below the replica offset, so the
    // fixed-reference filter is a no-op there — the bench alias may
    // diverge ONLY on replicated corpora (where it trains on the
    // original reference slice alone, the production shape)
    val a = TextOps.bigramLm(spark, sf0001).collect().map(_.toSeq).toSeq
    val b = TextOps.bigramLmFixedRef(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }
}
