package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** The driver keeps only the LAST 2000 chars of Bench's stdout and parses the
  * final line. Rounds 2 AND 5 both shipped a contract line longer than that
  * (82 queries × 3-decimal, then 121 queries × 1-decimal) and scored
  * `parsed: null` despite clean rc=0 runs. These specs pin the size budget and
  * the degradation order (precision first, then cheapest-query elision) so the
  * registry can keep growing without re-breaking the driver parse.
  */
class BenchContractSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()
  private def parse(line: String) = mapper.readTree(line)

  /** Realistic registry-shaped names: q_<12-or-so-char snake case>. */
  private def mkQueries(n: Int): Seq[(String, Double)] =
    (1 to n).map(i => (f"q_synthetic_name_$i%03d", i * 0.37))

  test("small registries keep every query at full precision") {
    val qs = mkQueries(20)
    val line = Bench.contractLine(qs, qs.map(_._2).sum, Nil, 0, "/root/testdata/sf0.1")
    assert(line.length <= 1900)
    val j = parse(line)
    assert(j.get("queries").size() === 20)
    assert(j.get("elided") === null)
    // 3-decimal precision survived
    assert(j.get("queries").get("q_synthetic_name_001").asDouble() === 0.37)
  }

  test("a 121-query registry fits the 1900-char budget and stays parseable") {
    val qs = mkQueries(121)
    val line = Bench.contractLine(qs, qs.map(_._2).sum, Nil, 0, "/root/testdata/sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val j = parse(line)
    assert(j.get("metric").asText() === "total")
    val kept = j.get("queries").size()
    val elided = Option(j.get("elided")).map(_.asInt()).getOrElse(0)
    assert(kept + elided === 121)
    // the EXPENSIVE queries survive elision — the cheapest are folded away
    assert(j.get("queries").has("q_synthetic_name_121"))
    if (elided > 0) {
      assert(!j.get("queries").has("q_synthetic_name_001"))
      // elided seconds stay accounted for so total ≈ sum(kept) + elided_sec
      val keptSum = (1 to 121).map(i => f"q_synthetic_name_$i%03d")
        .filter(j.get("queries").has(_)).map(j.get("queries").get(_).asDouble()).sum
      val total = j.get("value").asDouble()
      assert(math.abs(keptSum + j.get("elided_sec").asDouble() - total) < 0.1 * 121)
    }
  }

  test("even a 500-query registry cannot overflow the budget") {
    val qs = mkQueries(500)
    val line = Bench.contractLine(qs, qs.map(_._2).sum, Nil, 0, "/root/testdata/sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
    assert(parse(line).get("metric").asText() === "total")
  }

  test("failed-name list is capped but the failure count is exact") {
    val qs = mkQueries(30)
    val failed = (1 to 40).map(i => f"q_failed_$i%03d")
    val line = Bench.contractLine(qs, qs.map(_._2).sum, failed, 0, "/root/testdata/sf0.1")
    assert(line.length <= 1900)
    val j = parse(line)
    assert(j.get("failures").asInt() === 40)
    assert(j.get("failed").size() === 15)
  }

  test("failed (-1.0) markers survive elision: successful cheap queries fold first") {
    // 300 successful queries force heavy elision; 20 failures exceed the
    // 15-name failed-list cap, so per-query -1.0 markers are the ONLY
    // visibility for 5 of them. A by-value elision order would fold the
    // -1.0 entries FIRST (they sort cheapest); the fix elides them LAST.
    val qs = mkQueries(300) ++ (1 to 20).map(i => (f"q_broken_$i%02d", -1.0))
    val failed = (1 to 20).map(i => f"q_broken_$i%02d")
    val total = qs.map(_._2).filter(_ >= 0).sum
    val line = Bench.contractLine(qs, total, failed, 0, "/root/testdata/sf0.1")
    assert(line.length <= 1900, s"line is ${line.length} chars")
    val j = parse(line)
    assert(Option(j.get("elided")).map(_.asInt()).getOrElse(0) > 0,
      "fixture must actually trigger elision")
    failed.foreach { name =>
      assert(j.get("queries").has(name),
        s"failure marker $name must survive elision")
      assert(j.get("queries").get(name).asDouble() === -1.0)
    }
    // elided seconds never include the -1 markers
    assert(j.get("elided_sec").asDouble() >= 0)
  }

  test("failed queries report -1 per-query but never poison the total") {
    val qs = mkQueries(10) :+ ("q_broken" -> -1.0)
    val total = qs.map(_._2).filter(_ >= 0).sum
    val line = Bench.contractLine(qs, total, Seq("q_broken"), 0, "/root/testdata/sf0.1")
    val j = parse(line)
    assert(j.get("queries").get("q_broken").asDouble() === -1.0)
    assert(j.get("value").asDouble() >= 0)
  }

  test("an entry whose only rep was cut off by a kill reads as skipped, not failed") {
    // a SIGTERM lands mid-rep: Spark's shutdown hook stops the context
    // under the running query, which records a CutOff, not a Failed
    val reps = Map[String, Seq[Bench.Rep]](
      "q_fast" -> Seq(Bench.Timed(1.5), Bench.Timed(1.2)),
      "q_broken" -> Seq(Bench.Failed),
      "q_retried" -> Seq(Bench.Failed, Bench.Timed(2.0)),
      "q_cut" -> Seq(Bench.CutOff),
      "q_broken_then_cut" -> Seq(Bench.Failed, Bench.CutOff))
    val order = Seq("q_fast", "q_broken", "q_retried", "q_cut", "q_broken_then_cut", "q_unrun")
    val t = Bench.tally(order, reps.getOrElse(_, Nil))
    assert(t.mins == Seq("q_fast" -> 1.2, "q_broken" -> -1.0, "q_retried" -> 2.0,
      "q_broken_then_cut" -> -1.0))
    assert(t.failed == Seq("q_broken", "q_broken_then_cut"))
    assert(t.skipped == Seq("q_cut", "q_unrun"))
    assert(t.timed == Seq("q_fast" -> Seq(1.5, 1.2), "q_retried" -> Seq(2.0)))
  }

  test("a quote or backslash in the sf dir keeps the line parseable; plain paths are unchanged") {
    // the sf dir comes from SPARK_GRAFT_SF_DIR, outside the program
    val odd = "/data/sf\"0.1\\x"
    val qs = mkQueries(3)
    val j = parse(Bench.contractLine(qs, qs.map(_._2).sum, Nil, 0, odd))
    assert(j.get("sf").asText() === odd)
    // a plain path prints as it always did — the kill fallback's line is
    // this empty-run line, byte for byte
    assert(Bench.contractLine(Nil, 0.0, Nil, 201, "/data/sf0.1") ===
      """{"metric":"total","value":0.000,"unit":"sec","queries":{},"failures":0,"failed":[],"skipped":201,"sf":"/data/sf0.1"}""")
  }
}
