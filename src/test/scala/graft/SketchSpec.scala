package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreOps, DedupOps, TextOps}

/** Sketch-backed scale paths: bloom-prefiltered decontamination, count-min
  * heavy hitters, HLL sketch rollup. Each is pinned against its exact
  * counterpart — the sketch versions must be result-identical (bloom, whose
  * false positives are removed by the exact verify) or error-bounded
  * one-sided (CMS/HLL). */
class SketchSpec extends SparkTestBase {

  test("bloom-prefiltered contamination is result-identical to the exact path") {
    val exact = DedupOps.contamination(spark, sf0001).collect()
    val bloom = DedupOps.contaminationBloom(spark, sf0001).collect()
    assert(exact.length == bloom.length)
    exact.zip(bloom).foreach { case (e, b) =>
      assert(e == b, s"row mismatch: exact=$e bloom=$b")
    }
  }

  test("bloom probe passes every true member (no false negatives)") {
    import org.apache.spark.sql.graftext.GraftFunctions._
    import spark.implicits._
    val items = (0L until 5000L).map(i => s"item_$i").toDF("s")
    val bytes = items.agg(bloom_agg(col("s"), 5000L)).head().getAs[Array[Byte]](0)
    val misses = items.where(!bloom_might_contain(bytes, col("s"))).count()
    assert(misses == 0, "a bloom filter can never reject a true member")
    // and it rejects MOST non-members (the point of the prefilter): the
    // default sizing (8 bits/item) targets ~3% FP — allow generous slack
    val others = (0L until 5000L).map(i => s"other_$i").toDF("s")
    val fp = others.where(bloom_might_contain(bytes, col("s"))).count()
    assert(fp < 500, s"false-positive rate implausibly high: $fp/5000")
  }

  test("CMS estimates are one-sided and within eps*N of exact counts") {
    val exact = TextOps.heavyHitters(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val est = TextOps.heavyHittersCmsEstimate(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // total token count N bounds the CMS overestimate: est <= true + eps*N
    val n = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t")).count()
    val slack = (0.0001 * n).ceil.toLong max 1L
    est.foreach { case (tok, e) =>
      exact.get(tok).foreach { t =>
        assert(e >= t, s"CMS must never underestimate: $tok est=$e true=$t")
        assert(e <= t + slack, s"CMS overestimate beyond eps*N: $tok est=$e true=$t slack=$slack")
      }
    }
    // the exact top hitter must surface in the CMS top list
    val top = exact.maxBy { case (t, c) => (c, t) }
    assert(est.contains(top._1), s"top token ${top._1} missing from CMS top-50")
  }

  test("HLL day sketches and month union track exact distincts within 5%") {
    val got = CoreOps.dauSketchRollup(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ev = Tables.events(spark, sf0001)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("dt"), col("user_id"))
    val exactDays = ev.groupBy("dt").agg(countDistinct("user_id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exactDays.foreach { case (dt, n) =>
      val e = got(("day", dt))
      assert(math.abs(e - n) <= math.max(2, 0.05 * n),
        s"day $dt: sketch=$e exact=$n")
    }
    val monthKeys = got.keys.filter(_._1 == "month").toSeq
    assert(monthKeys.nonEmpty, "month grain missing")
    monthKeys.foreach { case k @ (_, m) =>
      val exact = ev.where(substring(col("dt"), 1, 7) === m)
        .agg(countDistinct("user_id")).head().getLong(0)
      assert(math.abs(got(k) - exact) <= math.max(2, 0.05 * exact),
        s"month $m: sketch=${got(k)} exact=$exact")
    }
  }
}
