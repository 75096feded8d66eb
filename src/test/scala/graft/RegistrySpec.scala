package graft

import org.scalatest.funsuite.AnyFunSuite

/** Drift guards for the driver-contract registry. The failure modes these
  * pin are all SILENT at runtime: an oracle key that doesn't match its
  * query name simply never gets compared (the query demotes to a rows-only
  * check and the round's correctness credit quietly shrinks); a typo'd
  * knownSlow name silently stops affecting gate ordering.
  */
class RegistrySpec extends AnyFunSuite {

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("the rows-only set is exactly the documented engine-specific one") {
    // Every name here is engine-specific by NATURE (xxhash64/murmur
    // signatures, trained float quantizers, sketches) and carries
    // planted-fixture / recall / error-bound specs instead. Growing this
    // set is a deliberate decision — a new query missing its oracle should
    // fail HERE, not silently weaken the gate.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // Exactly ONE query remains oracle-less: the mergeable-sketch rollup,
    // whose whole point is answering the month grain WITHOUT rescanning
    // raw events — an in-query exact twin would re-scan exactly what the
    // pattern avoids (decision documented at CoreOps.dauSketchRollup; the
    // repo gate still 4σ-bound-checks it against DuckDB exact answers).
    // The other sketches (q_dau_approx, q_heavy_hitters_cms,
    // q_len_quantiles_approx) register SELF-CHECKING projections since
    // round 15: exact columns + in-bound booleans, fully hash-gated.
    val documented = Set("q_dau_sketch_rollup")
    assert(rowsOnly == documented,
      s"undocumented rows-only: ${rowsOnly -- documented}; " +
        s"stale documented: ${documented -- rowsOnly}")
  }

  test("knownSlow names are all real queries or bench aliases") {
    val ghosts = SparkEntry.knownSlow.toSet --
      SparkEntry.queries.keySet -- SparkEntry.benchExtras.keySet
    assert(ghosts.isEmpty, s"knownSlow ghosts: $ghosts")
  }

  test("query names are registry-safe (json/sort friendly)") {
    val bad = SparkEntry.queries.keySet.filterNot(_.matches("q_[a-z0-9_]+"))
    assert(bad.isEmpty, s"nonconforming names: $bad")
  }

  test("bench-only aliases stay outside the verify/oracle contract") {
    // benchExtras exists so the xxhash64 production fast paths get a
    // per-round Bench timing WITHOUT entering the driver's verify loop
    // (they have no DuckDB twin). A name collision with the registry
    // would make Bench time the wrong closure; an oracle entry for one
    // would make the driver run SQL against a result it never dumps.
    val extras = SparkEntry.benchExtras.keySet
    assert((extras & SparkEntry.queries.keySet).isEmpty,
      s"benchExtras collide with the registry: ${extras & SparkEntry.queries.keySet}")
    assert((extras & SparkEntry.oracleSql.keySet).isEmpty,
      s"benchExtras must not carry oracles: ${extras & SparkEntry.oracleSql.keySet}")
    val bad = extras.filterNot(_.matches("x_[a-z0-9_]+"))
    assert(bad.isEmpty, s"bench aliases must be x_-prefixed: $bad")
  }

  test("every entry is a q_ query or an x_ bench alias") {
    // the prefix is what sorts an entry into queries or benchExtras; any
    // other name would land in neither and silently never run
    val bad = SparkEntry.entries.map(_.name).filterNot(_.matches("[qx]_[a-z0-9_]+"))
    assert(bad.isEmpty, s"entries outside both prefixes: $bad")
  }

  test("a duplicate entry name is an error, not a silently dropped entry") {
    val run: SparkEntry.Run = (spark, _) => spark.emptyDataFrame
    val e = intercept[IllegalArgumentException](SparkEntry.byName(Seq(
      Entry("q_a", run, Some("SELECT 1 AS a")), Entry("x_b", run), Entry("q_a", run))))
    assert(e.getMessage.contains("duplicate entry names: q_a"))
    assert(SparkEntry.byName(SparkEntry.entries).size == SparkEntry.entries.size)
  }

  test("name selection trims and de-duplicates, and rejects an empty list or an unknown name") {
    // Bench and Verify share it: an empty or typo'd selection must fail
    // instead of running nothing and reading green
    val known = Set("q_a", "x_b")
    assert(SparkEntry.only("K", known, Map.empty).isEmpty)
    assert(SparkEntry.only("K", known, Map("K" -> " q_a, x_b,q_a,")).contains(known))
    Seq("", " , ", "q_a,q_typo").foreach { v =>
      intercept[IllegalArgumentException](SparkEntry.only("K", known, Map("K" -> v)))
    }
  }
}
