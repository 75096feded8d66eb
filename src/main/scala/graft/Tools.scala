package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.GraftFunctions

import graft.operators.DedupOps

/** Offline inspection tools behind one main:
  *
  *  - `graft.Tools explain <query> [sfDir] [reps]` — the formatted
  *    physical plan and per-rep wall times of one query.
  *  - `graft.Tools plans [sfDir]` — the initial physical plan tree (no
  *    execution) of every registered query and bench alias, one
  *    `##### name` section each, for offline shape scans.
  *    `SPARK_GRAFT_PLAN_ADAPTIVE=false` turns AQE off, which renders the
  *    WholeStageCodegen spans (`*(n)`) — the codegen-coverage mode; the
  *    default (AQE on) is the shape Bench and Verify run.
  *  - `graft.Tools plans --digest [sfDir]` — writes `plans/digests.tsv`:
  *    per entry, a hash of its masked plan tree and its exchange, sort,
  *    broadcast-join and scan counts, under fixed settings (4 cores, AQE
  *    on) recorded in the file header. `plans --check [sfDir]` recomputes
  *    them, names every entry whose row moved and exits 1 if any did.
  *  - `graft.Tools skew [sfDir]` — the key-size histogram of the dedup
  *    family's top exchanges (below).
  *  - `graft.Tools registry` — the registry counts README and SURVEY
  *    quote (no Spark session); run via `tools/registry_counts.sh`.
  *
  * `sfDir` defaults to the sf0.1 testdata tables; the session runs
  * `local[$SPARK_GRAFT_CPUS]` (default 8). */
object Tools {
  private val usage =
    "usage: graft.Tools <explain|plans [--digest|--check]|skew|registry> ..."

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("explain") if args.length > 1 =>
      explain(args(1), sfDir(args, 2),
        if (args.length > 3) args(3).toInt else 3)
    case Some("plans") => args.lift(1) match {
      case Some("--digest") => writeDigests(sfDir(args, 2))
      case Some("--check") => if (!checkDigests(sfDir(args, 2))) sys.exit(1)
      case _ => plans(sfDir(args, 1))
    }
    case Some("skew") => skew(sfDir(args, 1))
    case Some("registry") => registry()
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  private def sfDir(args: Array[String], i: Int): String =
    if (args.length > i) args(i) else "/root/testdata/sf0.1"

  private def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    GraftSession.build(s"local[$cpus]", appName, cpus)
  }

  private def explain(name: String, sfDir: String, reps: Int): Unit = {
    val spark = session("graft-explain")
    val fn = (SparkEntry.queries ++ SparkEntry.benchExtras)(name)
    fn(spark, sfDir).explain("formatted")
    (1 to reps).foreach { r =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }

  private def plans(sfDir: String): Unit = {
    val spark = session("graft-plan-audit")
    spark.conf.set("spark.sql.adaptive.enabled",
      sys.env.getOrElse("SPARK_GRAFT_PLAN_ADAPTIVE", "true"))
    spark.sparkContext.setLogLevel("ERROR")
    planTrees(spark, sfDir).foreach { case (name, tree) =>
      println(s"##### $name")
      println(tree)
    }
    spark.stop()
  }

  /** Every entry's initial physical plan tree (no execution), by name. */
  private def planTrees(spark: SparkSession, sfDir: String): Iterator[(String, String)] =
    SparkEntry.entries.sortBy(_.name).iterator.map { case Entry(name, fn, _) =>
      name -> (try fn(spark, sfDir).queryExecution.executedPlan.treeString
        catch { case e: Throwable => s"(plan failed: ${e.getMessage})" })
    }

  private val DigestFile = "plans/digests.tsv"
  private val DigestCpus = 4

  /** Masks what differs between two plannings of the same query:
    * expression ids, plan ids, Scala lambda class names and identity-hash
    * suffixes. */
  private def maskPlan(tree: String): String = tree
    .replaceAll("#\\d+", "#")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("\\$\\$Lambda[^@\\s,)\\]]*", "\\$\\$Lambda")
    .replaceAll("@[0-9a-f]+\\b", "@")

  /** `name`, hash of the masked tree, then the exchange, sort,
    * broadcast-join and scan node counts, tab-separated. */
  private def digestRow(name: String, tree: String): String = {
    val masked = maskPlan(tree)
    val nodes = masked.linesIterator.map(_
      .replaceFirst("^[\\s:+|-]*(\\*\\(\\d+\\)\\s*)?", "")
      .takeWhile(c => c != ' ' && c != '(' && c != '[')).toSeq
    val hash = java.security.MessageDigest.getInstance("SHA-256")
      .digest(masked.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    Seq(name, hash,
      nodes.count(_.endsWith("Exchange")),
      nodes.count(_ == "Sort"),
      nodes.count(n => n.startsWith("Broadcast") && n.endsWith("Join")),
      nodes.count(_.endsWith("Scan"))).mkString("\t")
  }

  private def digestHeader(sfDir: String): Seq[String] = Seq(
    s"# graft.Tools plans --digest: SPARK_GRAFT_CPUS=$DigestCpus " +
      s"sf=${new java.io.File(sfDir).getName} adaptive=true",
    "name\tdigest\texchanges\tsorts\tbroadcast_joins\tscans")

  private def digestLines(sfDir: String): Seq[String] = {
    val spark = GraftSession.build(
      s"local[$DigestCpus]", "graft-plan-digest", DigestCpus)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sparkContext.setLogLevel("ERROR")
    val rows = planTrees(spark, sfDir).map { case (name, tree) => digestRow(name, tree) }.toList
    spark.stop()
    digestHeader(sfDir) ++ rows
  }

  private def writeDigests(sfDir: String): Unit = {
    val lines = digestLines(sfDir)
    java.nio.file.Files.write(java.nio.file.Paths.get(DigestFile),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    println(s"wrote $DigestFile: ${lines.size - 2} entries")
  }

  /** Compares a fresh digest run with the checked-in file; prints every
    * entry whose row moved, appeared or went. */
  private def checkDigests(sfDir: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val want = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(DigestFile)).asScala.toSeq
    val got = digestLines(sfDir)
    val header = digestHeader(sfDir)
    val sameHeader = want.take(2) == header
    if (!sameHeader) println(s"header differs: file ${want.take(2)}, run $header")
    def byName(ls: Seq[String]) =
      ls.drop(2).map(l => l.takeWhile(_ != '\t') -> l).toMap
    val (w, g) = (byName(want), byName(got))
    val moved = (w.keySet ++ g.keySet).toSeq.sorted.filter(n => w.get(n) != g.get(n))
    moved.foreach { n =>
      println(s"moved $n\n  file: ${w.getOrElse(n, "(absent)")}\n" +
        s"  run:  ${g.getOrElse(n, "(absent)")}")
    }
    println(s"plans --check: ${g.size - moved.count(g.contains)}/${g.size} " +
      s"unchanged, ${moved.size} moved")
    sameHeader && moved.isEmpty
  }

  private def registry(): Unit = {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val x = SparkEntry.benchExtras.keySet
    println(s"registry=${q.size} oracled=${(q & o).size} " +
      s"no_oracle=${(q -- o).size} bench_aliases=${x.size} " +
      s"bench_total=${q.size + x.size}")
    println("no_oracle: " + (q -- o).toSeq.sorted.mkString(", "))
    println("aliases:   " + x.toSeq.sorted.mkString(", "))
  }

  /** Prints one line of bucket sizes for exchange key `k` of `keyed`:
    * n_keys, max, p50, p99, and the max/p50 ratio (the guide's 5-10×
    * salting threshold). */
  private def histo(name: String, keyed: DataFrame): Unit = {
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

  /** Shuffle-key skew audit (guide §2.5) over the dedup family's top
    * exchanges, intended for the 100× replica corpus: it decides whether
    * salting or AQE skew handling is needed. It builds the keys with the
    * same frame builders the queries shuffle, so it measures the real
    * keys, not a reconstruction. */
  private def skew(sfDir: String): Unit = {
    val spark = session("graft-skew-audit")
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir)

    // 1. fp expansion joins (every content-grain query): key = md5(text);
    //    bucket size = docs per fingerprint (replica clique size)
    histo("fp-join (docs per fp)",
      docs.select(md5(col("text")).as("k")))

    // 2. shingle-cardinality groupBy/join (containment/jaccard family):
    //    key = shingle at DISTINCT-TEXT grain (the grain the queries run)
    val distinctDocs = docs
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), lit("s").as("source"), col("text"))
    histo("shingle-card (fps/shingle)",
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
    histo("lsh-band buckets",
      sigs.select(explode(array(bandCols: _*)).as("k")))

    // 4. substring position join (Lee-style span detector): key = the
    //    k-gram rolling hash at distinct-text grain
    histo("substr positions (per hash)",
      distinctDocs
        .select(posexplode(GraftFunctions.kgram_hashes(
          split(col("text"), " "), DedupOps.SubstrK)))
        .select(col("col").as("k")))

    // 5. simhash Manku 3-block combo keys (Hamming candidate join)
    histo("simhash distinct sigs",
      DedupOps.simhashSignatures(distinctDocs).select(col("simhash").as("k")))

    spark.stop()
  }
}
