package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.CoreOps

/** ScalaCheck-generator-driven properties over micro-datasets (SURVEY §5.3).
  * Deterministic seeds (no scalatestplus bridge in the offline cache), 20
  * samples per property. */
class PropertiesSpec extends SparkTestBase {

  private def samples[A](gen: Gen[A], n: Int = 20): Seq[A] =
    (1 to n).flatMap(i => gen.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def eventsDf(rows: Seq[(String, Long, Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("dt", "user_id", "event_id", "event_type", "hr")
  }

  private val genEvents: Gen[Seq[(String, Long, Long, String, String)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      d <- Gen.oneOf("2024-01-01", "2024-01-02")
      u <- Gen.choose(0L, 9L)
      t <- Gen.oneOf("view", "click")
      h <- Gen.oneOf("00", "01")
    } yield (d, u, t, h))
  } yield rows.zipWithIndex.map { case ((d, u, t, h), i) => (d, u, i.toLong, t, h) }

  test("property: first-seen dedup is idempotent and keeps one row per key") {
    samples(genEvents).foreach { rows =>
      val df = eventsDf(rows)
      val once = CoreOps.firstSeenDf(df)
      assert(once.count() == df.select("dt", "user_id").distinct().count())
      val again = CoreOps.firstSeenDf(once.select(
        col("dt"), col("user_id"), col("first_event_id").as("event_id"),
        col("first_event_type").as("event_type"), col("first_hr").as("hr")))
      assert(again.count() == once.count())
      assert(once.select("dt", "user_id", "first_event_id")
        .except(again.select("dt", "user_id", "first_event_id")).count() == 0)
    }
  }

  test("property: inner join row count = sum over keys of |L_k|*|R_k|") {
    import spark.implicits._
    val gen = for {
      ls <- Gen.listOf(Gen.choose(0, 5))
      rs <- Gen.listOf(Gen.choose(0, 5))
    } yield (ls, rs)
    samples(gen).foreach { case (ls, rs) =>
      if (ls.nonEmpty && rs.nonEmpty) {
        val l = ls.zipWithIndex.toDF("k", "lv")
        val r = rs.zipWithIndex.toDF("k", "rv")
        val joined = l.join(r, "k").count()
        val expected = ls.groupBy(identity).map { case (k, g) =>
          g.size.toLong * rs.count(_ == k)
        }.sum
        assert(joined == expected)
      }
    }
  }

  test("property: aggregation results are invariant under repartitioning") {
    import spark.implicits._
    val gen = for {
      xs <- Gen.nonEmptyListOf(Gen.choose(-1000, 1000))
      p <- Gen.choose(1, 7)
    } yield (xs, p)
    samples(gen, 10).foreach { case (xs, parts) =>
      val df = xs.toDF("x")
      val a = df.agg(sum("x"), count(lit(1)), min("x"), max("x")).head()
      val b = df.repartition(parts).agg(sum("x"), count(lit(1)),
        min("x"), max("x")).head()
      assert(a == b)
    }
  }

  test("property: TopKByScore equals the window top-k on tie-heavy random data") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftext.GraftFunctions.topk_by
    val gen = for {
      n <- Gen.choose(5, 80)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, 3L)
        s <- Gen.oneOf(0.1, 0.5, 0.5, 0.9, 0.9, 0.9) // heavy ties
      } yield (g, s))
    } yield rows.zipWithIndex.map { case ((g, s), i) => (g, s, i.toLong) }
    samples(gen, 8).foreach { rows =>
      val df = rows.toDF("g", "score", "id")
      val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
      val win = df.withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3).select("g", "rk", "id", "score")
      val agg = df.groupBy("g").agg(topk_by(col("score"), col("id"), 3).as("t"))
        .select(col("g"), posexplode(col("t")))
        .select(col("g"), (col("pos") + 1).as("rk"), col("col.id").as("id"),
          col("col.score").as("score"))
      assert(agg.except(win).count() == 0 && win.except(agg).count() == 0,
        s"agg/window mismatch on ${rows.take(10)}...")
    }
  }

  test("property: exact dedup group sizes sum to input size") {
    val gen = Gen.nonEmptyListOf(
      Gen.oneOf("aaa bbb ccc", "ddd eee fff", "ggg hhh iii"))
    samples(gen, 5).foreach { texts =>
      val dir = documentsFixture(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
      val groups = graft.operators.DedupOps.dedupExact(spark, dir)
      val total = groups.agg(sum("n_copies")).head().getLong(0)
      assert(total == texts.size)
      assert(groups.count() == texts.distinct.size)
    }
  }

  test("property: asset card is the exact per-modality rollup of the dedup report") {
    // cross-op identity: q_mm_card's n_assets / n_payloads / dup_bytes
    // per modality must equal sums over q_mm_dedup's groups — two
    // independent dataflows over the same digest grain
    val gen = Gen.nonEmptyListOf(
      Gen.oneOf("aaa bbb", "c d e", "ffff", "gg hh ii jj", ""))
    samples(gen, 5).foreach { texts =>
      val dir = documentsFixture(
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en", "s") })
      val card = graft.operators.MultimodalOps.assetCard(spark, dir)
        .collect().map(r => r.getAs[String]("modality") ->
          ((r.getAs[Long]("n_assets"), r.getAs[Long]("n_payloads"),
            r.getAs[Long]("dup_bytes")))).toMap
      val fromDedup = graft.operators.MultimodalOps.assetDedup(spark, dir)
        .groupBy("modality")
        .agg(sum("n_copies").as("n_assets"),
          count(lit(1)).as("n_payloads"),
          sum("dup_bytes").as("dup_bytes"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(card == fromDedup, s"card=$card dedup-rollup=$fromDedup")
    }
  }

  test("property: chunking covers every token exactly; no chunk is contained in another") {
    import graft.operators.PipelineOps
    val genDoc = for {
      n <- Gen.choose(1, 140)
    } yield (0 until n).map(i => s"t$i").mkString(" ")
    samples(genDoc, 15).zipWithIndex.foreach { case (text, i) =>
      val n = text.split(" ").length
      val dir = documentsFixture(Seq((i.toLong, text, "en", "s")))
      val chunks = PipelineOps.chunkDocs(spark, dir).collect()
        .map(r => (r.getLong(2), r.getLong(3))) // (start, len)
      // coverage: max(start+len-1) == n and first start == 1
      assert(chunks.head._1 == 1L)
      assert(chunks.map { case (s, l) => s + l - 1 }.max == n.toLong,
        s"n=$n chunks=${chunks.toSeq}")
      // no containment: every chunk after the first adds new tokens
      chunks.sliding(2).foreach {
        case Array((s1, l1), (s2, l2)) =>
          assert(s2 + l2 - 1 > s1 + l1 - 1, s"contained chunk: ${chunks.toSeq}")
        case _ =>
      }
    }
  }

  test("property: vec_quantize matches an in-JVM BigDecimal reference on arbitrary finite floats") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftFunctions.vec_quantize
    // the reference: exactly RoundBase's DoubleType branch + (long) cast
    def ref(x: Float, scale: Double): Long =
      java.math.BigDecimal.valueOf(x.toDouble * scale)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
    val genRow = for {
      n <- Gen.choose(0, 12)
      // near-tie magnitudes included: k/2 ± small jitter over a wide range
      xs <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-4.0f, 4.0f),
        Gen.choose(-1000, 1000).map(_ / 2.0f),
        Gen.choose(-8, 8).map(k => k + 0.5f)))
    } yield xs
    val genBatch = Gen.listOfN(8, genRow)
    samples(genBatch, 10).foreach { batch =>
      val got = batch.toDF("a")
        .select(vec_quantize(col("a"), 2.0)).collect()
        .map(_.getSeq[Long](0)).toSeq
      val want = batch.map(_.map(ref(_, 2.0)))
      assert(got == want, s"batch=$batch")
    }
  }

  test("property: gram_moments equals a brute-force reference and is partitioning-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.graftext.GraftFunctions.gram_moments
    val genRow: Gen[Seq[Option[Long]]] = for {
      n <- Gen.choose(0, 6)
      xs <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(-3000000L, 3000000L).map(Some(_)),
        Gen.const(None: Option[Long])))
    } yield xs
    val genBatch = for {
      m <- Gen.choose(1, 25)
      rows <- Gen.listOfN(m, genRow)
    } yield rows
    samples(genBatch, 8).foreach { rows =>
      val d = (0 +: rows.map(_.size)).max
      // brute force in BigInt (the exactness contract)
      val n = Array.fill(d)(0L)
      val s1 = Array.fill(d)(Option.empty[BigInt])
      val s2 = collection.mutable.Map.empty[(Int, Int), BigInt]
      val seen = collection.mutable.Set.empty[(Int, Int)]
      rows.foreach { r =>
        r.indices.foreach { p =>
          n(p) += 1
          r(p).foreach(v => s1(p) = Some(s1(p).getOrElse(BigInt(0)) + v))
          (p until r.size).foreach { q =>
            seen += ((p, q))
            for (vp <- r(p); vq <- r(q))
              s2((p, q)) = s2.getOrElse((p, q), BigInt(0)) + BigInt(vp) * vq
          }
        }
      }
      def check(parts: Int): Unit = {
        val df0 = rows.toDF("qa")
        val df = if (parts > 1) df0.repartition(parts) else df0
        val g = df.agg(gram_moments(col("qa")).as("g"))
          .select(col("g.n"), col("g.s1"), col("g.s2")).head()
        assert(g.getSeq[Long](0) == n.toSeq, s"n parts=$parts rows=$rows")
        val gotS1 = g.getSeq[Any](1)
          .map(Option(_).map(v => BigInt(v.asInstanceOf[Long])))
        assert(gotS1 == s1.toSeq, s"s1 parts=$parts rows=$rows")
        val gotS2 = g.getSeq[org.apache.spark.sql.Row](2).map { r =>
          ((r.getInt(0), r.getInt(1)),
            Option(r.getDecimal(2)).map(d => BigInt(d.toBigInteger)))
        }.toMap
        // every p<=q<d cell is emitted; value null unless a non-null
        // product was observed
        assert(gotS2.keySet ==
          (for (p <- 0 until d; q <- p until d) yield (p, q)).toSet)
        gotS2.foreach { case (k, v) => assert(v == s2.get(k), s"$k parts=$parts") }
      }
      check(1); check(7)
    }
  }

  test("property: pair-mass rollups are lossless vs the doc-grain pair output") {
    import graft.operators.DedupOps
    // template-family corpora: few base texts × small mutations × random
    // sources → exact-dup cliques, near-dup pairs, and isolated docs all
    // occur; the fp-grain count arithmetic must reproduce the doc-grain
    // rollup for EVERY such corpus, not just the hand-built fixture
    val genDocs: Gen[Seq[(Long, String, String, String)]] = for {
      n <- Gen.choose(3, 14)
      rows <- Gen.listOfN(n, for {
        base <- Gen.oneOf("alpha beta gamma delta epsilon zeta",
          "one two three four five six seven")
        mut <- Gen.oneOf("", "", " extra", " tail tok")
        src <- Gen.oneOf("sA", "sB", "sC")
      } yield (base + mut, src))
    } yield rows.zipWithIndex.map { case ((t, s), i) =>
      (i.toLong, t, "en", s)
    }
    samples(genDocs, 6).foreach { rows =>
      val dir = documentsFixture(rows)
      val meta = rows.map { case (id, t, _, s) =>
        id -> (s, java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString)
      }.toMap
      val pairs = DedupOps.minhashLsh(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // source overlap
      val got = DedupOps.sourceOverlap(spark, dir).collect()
        .map(r => ((r.getString(0), r.getString(1)),
          (r.getLong(2), r.getLong(3), r.getAs[Double]("max_jaccard"))))
        .toMap
      val brute = docGrainRollup(pairs, meta(_)._1, meta(_)._2)
      assert(got == brute, s"rows=$rows\ngot=$got\nbrute=$brute")
      // tau sweep
      val sweep = DedupOps.dedupTauSweep(spark, dir).collect()
        .map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      sweep.foreach { case (tau, (np, nd, nk)) =>
        val qp = pairs.filter(_._3 >= tau)
        assert(np == qp.length.toLong, s"tau=$tau rows=$rows")
        assert(nd == qp.map(_._2).distinct.length.toLong, s"tau=$tau rows=$rows")
        assert(nk == rows.size.toLong - nd)
      }
    }
  }

  test("property: split assignment is a partition — every doc in exactly one split") {
    import graft.operators.PipelineOps
    val genTexts = for {
      n <- Gen.choose(1, 40)
      ts <- Gen.listOfN(n, Gen.alphaLowerStr.suchThat(_.nonEmpty))
    } yield ts
    samples(genTexts, 10).zipWithIndex.foreach { case (texts, i) =>
      val dir = documentsFixture(
        texts.zipWithIndex.map { case (t, j) => (j.toLong, s"$t doc $j", "en", "s") })
      val got = PipelineOps.splitAssign(spark, dir)
      assert(got.count() == texts.size)
      assert(got.select("doc_id").distinct().count() == texts.size)
      assert(got.where(!col("split").isin("train", "val", "test")).count() == 0)
    }
  }
}
