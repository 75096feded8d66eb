package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: [[GraftSession]] is the ONE SparkSession factory. Every
  * main and the test base build through it, so a second builder call
  * anywhere under src/ is a session whose settings can drift apart from
  * the verified and benchmarked ones. */
class SessionFactorySpec extends AnyFunSuite {

  // split so this file does not match its own needle
  private val needle = "SparkSession" + ".builder("

  /** The repository root: the nearest directory at or above the working
    * directory that holds build.sbt. */
  private def repoRoot: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt")))
      .getOrElse(fail(s"no build.sbt at or above ${sys.props("user.dir")}"))

  test("only GraftSession.scala calls the SparkSession builder") {
    val root = repoRoot
    val scala = Seq("src/main", "src/test").map(root.resolve).flatMap { dir =>
      val files = Files.walk(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }
    assert(scala.exists(_.getFileName.toString == "GraftSession.scala"))
    val offenders = scala
      .filter(_.getFileName.toString != "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
      .map(root.relativize)
    assert(offenders.isEmpty,
      s"build sessions through GraftSession.build/builder, not $needle: $offenders")
  }
}
