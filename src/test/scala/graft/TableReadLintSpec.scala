package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: [[Tables.read]] is the ONE table read of the operators and
  * the serving daemon. A direct parquet read there would run Spark's
  * schema-inference job on every call again, past the per-session memo. */
class TableReadLintSpec extends AnyFunSuite {

  // split so this file does not match its own needle
  private val needle = "read" + ".parquet("

  private val linted = Seq(
    "src/main/scala/graft/operators", "src/main/scala/graft/serving")

  /** The repository root: the nearest directory at or above the working
    * directory that holds build.sbt. */
  private def repoRoot: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail(s"no build.sbt at or above ${sys.props("user.dir")}"))

  /** The .scala files under the linted dirs of `root` that call the needle. */
  private def offenders(root: Path): Seq[Path] =
    linted.map(root.resolve).filter(Files.isDirectory(_)).flatMap { dir =>
      val files = Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter(p => Files.readString(p).contains(needle)).map(root.relativize)

  test("operators and serving read tables only through Tables.read") {
    val root = repoRoot
    assert(linted.forall(d => Files.isDirectory(root.resolve(d))))
    val found = offenders(root)
    assert(found.isEmpty, s"read tables through Tables.read, not $needle: $found")
  }

  test("the lint flags a planted direct read") {
    val root = Files.createTempDirectory("graft_lint_")
    val planted = root.resolve("src/main/scala/graft/operators/Planted.scala")
    Files.createDirectories(planted.getParent)
    Files.writeString(planted,
      s"object Planted { def f(s: org.apache.spark.sql.SparkSession) = s.$needle\"x\") }\n")
    assert(offenders(root) == Seq(root.relativize(planted)))
  }
}
