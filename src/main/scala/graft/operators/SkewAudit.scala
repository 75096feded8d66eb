package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Shuffle-key skew audit (guide §2.5) over the dedup family's top
  * exchanges, at whatever SF dir it is pointed at (intended: the 100×
  * replica corpus). For each named exchange key it prints the bucket-size
  * histogram that decides whether salting / AQE skew handling is needed:
  * n_keys, max, p50, p99, and the max/p50 ratio (the guide's 5-10×
  * threshold). Lives in graft.operators for access to the same private
  * frame builders the queries shuffle — the audit measures the REAL keys,
  * not a reconstruction. `graft.operators.SkewAudit <sfDir>`. */
object SkewAudit {
  private def histo(spark: SparkSession, name: String, keyed: DataFrame): Unit = {
    val counts = keyed.groupBy("k").agg(count(lit(1)).as("n"))
    val row = counts.agg(
      count(lit(1)).as("n_keys"),
      max(col("n")).as("max_n"),
      expr("percentile(n, 0.5)").as("p50"),
      expr("percentile(n, 0.99)").as("p99")).head()
    val nKeys = row.getLong(0); val mx = row.getLong(1)
    val p50 = row.getDouble(2); val p99 = row.getDouble(3)
    println(f"$name%-28s keys=$nKeys%10d  max=$mx%8d  p50=$p50%8.1f  " +
      f"p99=$p99%8.1f  max/p50=${mx / math.max(p50, 1e-9)}%8.1f")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.GraftSession.build(s"local[$cpus]", "graft-skew-audit", cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir)

    // 1. fp expansion joins (every content-grain query): key = md5(text);
    //    bucket size = docs per fingerprint (replica clique size)
    histo(spark, "fp-join (docs per fp)",
      docs.select(md5(col("text")).as("k")))

    // 2. shingle-cardinality groupBy/join (containment/jaccard family):
    //    key = shingle at DISTINCT-TEXT grain (the grain the queries run)
    val distinctDocs = docs
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit("s").as("source"), col("text"))
    histo(spark, "shingle-card (fps/shingle)",
      DedupOps.shingles(distinctDocs).select(col("shingle").as("k")))

    // 3. minhash LSH band buckets (candidate generation): key =
    //    (band, 4-min tuple) at distinct-text grain — the bucket the
    //    pair combos expand inside
    val sigs = DedupOps.minhashSignatures(
      DedupOps.shingles(distinctDocs))
    val bandCols: Seq[Column] = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        struct((0 until 4).map(r =>
          col(s"m${b * 4 + r}").as(s"r$r")): _*).as("mins"))
    }
    histo(spark, "lsh-band buckets",
      sigs.select(explode(array(bandCols: _*)).as("k")))

    // 4. substring position join (Lee-style span detector): key = the
    //    k-gram rolling hash at distinct-text grain
    histo(spark, "substr positions (per hash)",
      distinctDocs
        .select(posexplode(graft.functions.VectorFunctions.kgram_hashes(
          split(col("text"), " "), DedupOps.SubstrK)))
        .select(col("col").as("k")))

    // 5. simhash Manku 3-block combo keys (Hamming candidate join)
    val sig64 = DedupOps.simhashSignatures(distinctDocs)
      .select(col("simhash").as("k"))
    histo(spark, "simhash distinct sigs", sig64)

    spark.stop()
  }
}
