package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession (built by [[GraftSession]], like every
  * main) + fixture helpers for all suites. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.build("local[4]", "graft-test", shufflePartitions = 4)

  val sf0001 = "/root/testdata/sf0.001"

  /** Write a documents-schema fixture (doc_id, text, lang, source, n_chars)
    * to a temp dir laid out like the testdata dirs; returns the dir. */
  def documentsFixture(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fix_").toString
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Write an embeddings-schema fixture (vec_id, embedding float[], label). */
  def embeddingsFixture(rows: Seq[(Long, Seq[Float], Int)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fix_").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** The ONE doc-grain reference rollup for the pair-mass audits
    * (q_source_overlap / x_source_overlap_fast / q_split_leakage and the
    * rollup property): group (doc_a, doc_b, jaccard) pairs by the
    * unordered group key, count distinct normalized fp pairs, total doc
    * pairs, max jaccard. Specs compare the fp-grain operators against
    * this definition — keep it single so a column change edits every pin
    * at once. */
  def docGrainRollup(pairs: Iterable[(Long, Long, Double)],
      groupOf: Long => String, fpOf: Long => String)
      : Map[(String, String), (Long, Long, Double)] =
    pairs.groupBy { case (a, b, _) =>
      val (ga, gb) = (groupOf(a), groupOf(b))
      if (ga <= gb) (ga, gb) else (gb, ga)
    }.map { case (k, ps) =>
      val fpPairs = ps.map { case (a, b, _) =>
        val (fa, fb) = (fpOf(a), fpOf(b))
        if (fa <= fb) (fa, fb) else (fb, fa)
      }.toSet
      k -> (fpPairs.size.toLong, ps.size.toLong, ps.map(_._3).max)
    }

  /** Assert the persisted-table scans in a frame's EXECUTED plan reach
    * their first join WITHOUT a ShuffleExchange on the way — the "the
    * corpus-sized persisted side never moves; bucketing is its
    * partitioning" claim of every persisted index here. The check runs
    * with AQE and broadcast disabled (concrete exchanges, shuffle-join
    * shapes) on `queryExecution.executedPlan`: `sparkPlan` predates
    * EnsureRequirements and contains NO exchanges at all, so an assert
    * there can never fail (the round-16 finding that re-armed this
    * check), and with AQE on the root is a childless
    * AdaptiveSparkPlanExec that `collect` cannot see through. Exchanges
    * ABOVE the first join (aggregations of the joined frame) are
    * legitimate and ignored — the property is scan-to-join. `mkDf` is
    * by-name so the plan is built under the disabled-AQE conf. Returns
    * the number of persisted scans found so callers can pin it. */
  def assertNoShuffleBeforePersistedJoin(mkDf: => DataFrame,
      tables: Set[String]): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = mkDf.queryExecution.executedPlan
      val scans = plan.collect {
        case s: FileSourceScanExec
            if s.tableIdentifier.exists(ti => tables(ti.table)) => s
      }
      assert(scans.nonEmpty, s"expected persisted scans of $tables in:\n$plan")
      val bad = scala.collection.mutable.Buffer[SparkPlan]()
      // true iff the subtree exposes a persisted scan not yet joined
      def walk(p: SparkPlan): Boolean = p match {
        case s: FileSourceScanExec =>
          s.tableIdentifier.exists(ti => tables(ti.table))
        case e: ShuffleExchangeExec =>
          if (walk(e.child)) bad += e
          false // sealed: report each offending path once
        case j: BaseJoinExec => j.children.foreach(walk); false
        case other => other.children.map(walk).exists(identity)
      }
      walk(plan)
      assert(bad.isEmpty,
        s"persisted index scans must not re-shuffle before their join:\n$plan")
      scans.size
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }
}
