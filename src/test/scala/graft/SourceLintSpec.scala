package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lints: each row names a call that only one file may make, and
  * only once, the directories where that holds, and a planted offender the
  * lint must catch.
  *
  *  - [[GraftSession]] is the ONE SparkSession factory. A second builder
  *    call under src/ is a session whose settings can drift apart from
  *    the verified and benchmarked ones.
  *  - [[Tables.read]] is the ONE table read of the operators and the
  *    serving daemon. A direct parquet read there would run Spark's
  *    schema-inference job on every call again, past the per-session memo.
  *  - [[operators.ContractSort.exchanged]] is the ONE pre-sort exchange:
  *    it records why and when a trailing `orderBy` gets a hash
  *    repartition in front of it.
  *  - the DuckDB rolling-hash fold (TextOps) and the DuckDB permutation
  *    mins (DedupOps) have ONE definition each: every oracle twin that
  *    replays the rolling hash or a MinHash signature builds on it, so a
  *    fix to the replay is made once.
  *  - GraftExtensions.scala is the ONE Expression-to-Column bridge of the
  *    native family: each native function is built from its arguments by
  *    its one GraftExtensions value, for SQL text and the Column API
  *    alike, so the two cannot drift apart.
  *  - no native function writes a loop as generated Java text: its kernel
  *    is one Scala method that eval and the generated code both call, so
  *    the interpreted fallback cannot drift from codegen.
  *  - [[serving.HttpDaemon]] is the ONE JDK HTTP server set-up: it sets
  *    `TCP_NODELAY` before the first server exists and gives each daemon
  *    its thread pool, so a second server cannot come up without them.
  *  - StreamingOps' micro-batch sink is the ONE `foreachBatch` of the
  *    program: every table-writing stream overwrites its partitions
  *    idempotently and releases each batch's caches through it, so a
  *    second copy cannot forget either.
  *
  * One row counts across files instead: each registered name is quoted
  * exactly once under src/main, in its family's `Entry`, so a copy cannot
  * drift from it. The allowed extra quotes are the [[SparkEntry.knownSlow]]
  * schedule and Bench's `q_dau_total` warm-up. */
class SourceLintSpec extends AnyFunSuite {

  /** `hits` counts the calls the rule restricts in the text of a file;
    * only `owner` (a file name) may make one, once. `planted` is a file
    * that commits the `offence`. */
  private case class Rule(title: String, dirs: Seq[String], owner: Option[String],
      hits: String => Int, hint: String, offence: String, planted: String)

  private def occurrences(needle: String)(text: String): Int =
    java.util.regex.Pattern.quote(needle).r.findAllIn(text).size

  // needles are split so this file does not match its own rows
  private val builder = "SparkSession" + ".builder("
  private val readParquet = "read" + ".parquet("
  private val presortTail =
    ("""\.repartition\((?:[^()]|\([^()]*\))*\)\s*""" + """\.orderBy\(""").r
  private val rollingFold = "(h * 31 + c)" + " % 1000000007"
  private val permMin = "min((h * " + "$"
  private val toColumn = "ExpressionUtils" + ".column("
  private val javaLoop = "for (" + "int"
  private val httpCreate = "HttpServer" + ".create("
  private val forEachBatch = "foreach" + "Batch"

  private val rules = Seq(
    Rule("only GraftSession.scala calls the SparkSession builder",
      Seq("src/main", "src/test"), Some("GraftSession.scala"),
      occurrences(builder), s"build sessions through GraftSession.build/builder, not $builder",
      "SparkSession builder call",
      s"object Planted { val s = org.apache.spark.sql.$builder) }\n"),
    Rule("operators and serving read tables only through Tables.read",
      Seq("src/main/scala/graft/operators", "src/main/scala/graft/serving"), None,
      occurrences(readParquet), s"read tables through Tables.read, not $readParquet",
      "direct read",
      s"object Planted { def f(s: org.apache.spark.sql.SparkSession) = s.$readParquet\"x\") }\n"),
    Rule("operators place the pre-sort exchange only through ContractSort",
      Seq("src/main/scala/graft/operators"), Some("ContractSort.scala"),
      presortTail.findAllIn(_).size,
      "sort through ContractSort.exchanged, not repartition(k).orderBy(k, ...)",
      "repartition(k).orderBy(k) tail",
      "object Planted {\n  def f(df: org.apache.spark.sql.DataFrame) = df\n" +
        "    .repartition(col(\"k\"))\n    .orderBy(\"k\", \"v\")\n}\n"),
    Rule("operators define the DuckDB rolling-hash fold once, in TextOps",
      Seq("src/main/scala/graft/operators"), Some("TextOps.scala"),
      occurrences(rollingFold),
      s"fold through TextOps.RollingHashFold, not a copy of $rollingFold",
      "second rolling-hash fold",
      "object Planted {\n  val fp = \"list_reduce(cs, (h, c) -> " + rollingFold + ")\"\n}\n"),
    Rule("operators build the DuckDB permutation mins once, in DedupOps",
      Seq("src/main/scala/graft/operators"), Some("DedupOps.scala"),
      occurrences(permMin),
      s"build signatures through DedupOps.minhashSigCtes, not a copy of $permMin",
      "second permutation-min builder",
      "object Planted {\n  def m(a: Long, b: Long, p: Long) = s\"" + permMin +
        "a + $b) % $p)\"\n}\n"),
    Rule("only GraftExtensions.scala turns a native expression into a Column",
      Seq("src/main", "src/test"), Some("GraftExtensions.scala"),
      occurrences(toColumn),
      s"add a GraftExtensions value and a GraftFunctions def, not a $toColumn call",
      "second Expression-to-Column bridge",
      "object Planted {\n  def c(e: org.apache.spark.sql.catalyst.expressions.Expression) =\n" +
        s"    org.apache.spark.sql.classic.$toColumn" + "e)\n}\n"),
    Rule("native functions write no loop as generated Java text",
      Seq("src/main/scala/org/apache/spark/sql/graftext"), None,
      occurrences(javaLoop),
      s"loop in the companion-object kernel and call it through KernelCall, not $javaLoop",
      "Java loop in generated code",
      "object Planted {\n  def gen(n: String) =\n" +
        "    s\"" + javaLoop + " i = 0; i < $n; i++) { }\"\n}\n"),
    Rule("only HttpDaemon.scala creates a JDK HttpServer",
      Seq("src/main", "src/test"), Some("HttpDaemon.scala"),
      occurrences(httpCreate),
      s"create servers through HttpDaemon.create, not $httpCreate",
      "second HttpServer set-up",
      "object Planted {\n  val s = com.sun.net.httpserver." + httpCreate +
        "new java.net.InetSocketAddress(0), 0)\n}\n"),
    Rule("only StreamingOps.scala writes a stream through foreachBatch",
      Seq("src/main"), Some("StreamingOps.scala"),
      occurrences(forEachBatch),
      s"write streams to tables through StreamingOps' one sink, not a second $forEachBatch",
      "second micro-batch sink",
      "object Planted {\n  def f(df: org.apache.spark.sql.DataFrame) = df.writeStream\n" +
        s"    .$forEachBatch" + " { (b: org.apache.spark.sql.DataFrame, _: Long) => b.count(); () }\n}\n"))

  /** The repository root: the nearest directory at or above the working
    * directory that holds build.sbt. */
  private def repoRoot: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail(s"no build.sbt at or above ${sys.props("user.dir")}"))

  /** The .scala files under `rule`'s dirs of `root`. */
  private def scalaFiles(root: Path, rule: Rule): Seq[Path] =
    rule.dirs.map(root.resolve).filter(Files.isDirectory(_)).flatMap { dir =>
      val files = Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }

  /** The files under `rule`'s dirs of `root` that break it: any file but
    * the owner with a hit, the owner with more than one. */
  private def offenders(root: Path, rule: Rule): Seq[Path] =
    scalaFiles(root, rule)
      .filter { p =>
        val allowed = if (rule.owner.contains(p.getFileName.toString)) 1 else 0
        rule.hits(Files.readString(p)) > allowed
      }
      .map(root.relativize)

  rules.foreach { rule =>
    test(rule.title) {
      val root = repoRoot
      assert(rule.dirs.forall(d => Files.isDirectory(root.resolve(d))))
      rule.owner.foreach { o =>
        assert(scalaFiles(root, rule).exists(_.getFileName.toString == o), s"no $o")
      }
      val found = offenders(root, rule)
      assert(found.isEmpty, s"${rule.hint}: $found")
    }

    test(s"the lint flags a planted ${rule.offence}") {
      val root = Files.createTempDirectory("graft_lint_")
      val planted = root.resolve(rule.dirs.head).resolve("Planted.scala")
      Files.createDirectories(planted.getParent)
      Files.writeString(planted, rule.planted)
      assert(offenders(root, rule) == Seq(root.relativize(planted)))
    }
  }

  /** Each of `names` quoted under `root`'s src/main a number of times other
    * than once plus its `allowed` extra quotes, with its count. */
  private def misquoted(root: Path, names: Set[String],
      allowed: Map[String, Int]): Map[String, Int] = {
    val dir = root.resolve("src/main")
    val files = Files.walk(dir)
    val texts =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => Files.readString(p)).toList
      finally files.close()
    names.map(n => n -> texts.map(occurrences("\"" + n + "\"")).sum)
      .filter { case (n, c) => c != 1 + allowed.getOrElse(n, 0) }.toMap
  }

  private val registryAllowed =
    SparkEntry.knownSlow.map(_ -> 1).toMap + ("q_dau_total" -> 1)

  test("each registered name is quoted once under src/main, in its Entry") {
    val names = SparkEntry.entries.map(_.name).toSet
    val found = misquoted(repoRoot, names, registryAllowed)
    assert(found.isEmpty,
      s"spell a registered name only in its Entry (derive the rest from SparkEntry): $found")
  }

  test("the lint flags a registered name quoted twice") {
    val root = Files.createTempDirectory("graft_lint_")
    val planted = root.resolve("src/main/scala/graft/Planted.scala")
    Files.createDirectories(planted.getParent)
    Files.writeString(planted, "object Planted {\n" +
      "  val es = Seq(Entry(\"q_a\", f), Entry(\"q_b\", f))\n" +
      "  val slow = Seq(\"q_b\")\n" +
      "  val oracle = Map(\"q_a\" -> \"SELECT 1\")\n}\n")
    assert(misquoted(root, Set("q_a", "q_b"), Map("q_b" -> 1)) == Map("q_a" -> 2))
  }
}
