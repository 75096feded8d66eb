package graft

import java.net.{HttpURLConnection, URI}
import scala.io.Source

import graft.operators.ServingOps
import graft.serving.ServeMain

/** The publisher daemon actually serving: boot on an ephemeral port, hit
  * the endpoints over real HTTP, and pin every payload against a direct
  * evaluation of the same oracle-checked ServingOps query. */
class ServeMainSpec extends SparkTestBase {

  private def get(port: Int, path: String): (Int, String) = {
    val conn = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(60000)
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(stream, "UTF-8").mkString
    conn.disconnect()
    (status, body)
  }

  test("daemon serves realtime-total and realtime-hour matching the oracle-checked queries") {
    val server = ServeMain.start(spark, sf0001, 0)
    try {
      val port = server.getAddress.getPort
      val date = "2024-01-15"

      val (st, total) = get(port, s"/realtime-total?date=$date")
      assert(st == 200)
      val dau = ServingOps.realtimeTotal(spark, sf0001, date).head().getLong(0)
      // reference tile shape (ChartController.java:24-46): dau tile from
      // the query, new_mid tile the reference's own literal-2 mock
      assert(total ==
        s"""[{"id":"dau","name":"dau_total","value":$dau},""" +
        s"""{"id":"new_mid","name":"new_mid_total","value":2}]""", total)

      val (sh, hourly) = get(port, s"/realtime-hour?id=dau&date=$date")
      assert(sh == 200)
      def curve(d: String): String =
        ServingOps.realtimeHourly(spark, sf0001, d).collect()
          .map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
          .mkString("{", ",", "}")
      assert(hourly ==
        s"""{"yesterday":${curve("2024-01-14")},"today":${curve(date)}}""",
        hourly)

      // cache: the same date must NOT recompute (second call is served
      // from the memo — observable as byte-identical output and, for
      // this spec, no Spark job; we assert the former)
      assert(get(port, s"/realtime-total?date=$date")._2 == total)
    } finally server.stop(0)
  }

  test("daemon input handling: missing date, malformed date, unknown path") {
    val server = ServeMain.start(spark, sf0001, 0)
    try {
      val port = server.getAddress.getPort
      assert(get(port, "/realtime-total")._1 == 400)
      assert(get(port, "/realtime-total?date=15-01-2024")._1 == 400)
      // regex-shaped but impossible date: LocalDate.parse throws inside
      // the handler → the 500 path, with the message in the body
      val (s500, b500) = get(port, "/realtime-total?date=2024-02-31")
      assert(s500 == 500 && b500.contains("error"), s"$s500 $b500")
      val (s404, body) = get(port, "/nope")
      assert(s404 == 404 && body.contains("endpoints"))
    } finally server.stop(0)
  }

  test("json encoder escapes and nests correctly") {
    // control chars emit as \u00xx (assembled to dodge Scala's own
    // unicode-escape preprocessing in literals)
    val expected = "{\"a\\\"b\":\"c\\\\d\\" + "u000ae\"}"
    assert(ServeMain.toJson(Map("a\"b" -> "c\\d\ne")) == expected)
    assert(ServeMain.toJson(Seq(1L, 2)) == "[1,2]")
    assert(ServeMain.toJson(null) == "null")
    // numbers and booleans are JSON scalars, not quoted strings
    assert(ServeMain.toJson(2.5) == "2.5")
    assert(ServeMain.toJson(true) == "true")
    // unsupported payload types fail loudly instead of stringifying
    intercept[IllegalArgumentException] { ServeMain.toJson(BigDecimal(1)) }
    intercept[IllegalArgumentException] { ServeMain.toJson(Double.NaN) }
  }

  test("out-of-range dates answer known-empty without a Spark job per probe") {
    val server = ServeMain.start(spark, sf0001, 0)
    try {
      val port = server.getAddress.getPort
      // decades outside the 2024-01 corpus, closed and future both
      val (s1, b1) = get(port, "/realtime-total?date=1990-01-01")
      assert(s1 == 200 && b1 ==
        """[{"id":"dau","name":"dau_total","value":0},""" +
        """{"id":"new_mid","name":"new_mid_total","value":2}]""", b1)
      val (s2, b2) = get(port, "/realtime-hour?date=1990-01-01")
      assert(s2 == 200 && b2 == """{"yesterday":{},"today":{}}""", b2)
      // the clamp answer must be byte-identical to what the COMPUTE path
      // returns for an in-range day with no events — 2024-01-31 is
      // inside [min,max]? the sf0.001 corpus spans all of 2024-01, so
      // pick the shape check instead: an in-range day's payload parses
      // with the same tile structure
      val (s3, b3) = get(port, "/realtime-total?date=2024-01-15")
      assert(s3 == 200 && b3.startsWith("""[{"id":"dau","name":"dau_total","value":"""), b3)
    } finally server.stop(0)
  }

  test("closed-day /detail never nests the page memo and the total memo") {
    // A page's memo key and its page-independent total's key live in one
    // ConcurrentHashMap; computing the total INSIDE the page's
    // computeIfAbsent throws "Recursive update" (→ HTTP 500) whenever the
    // two keys share a bin. Craft keywords whose two keys agree in the
    // low 16 bits of CHM's spread hash, so they share a bin at every
    // table size the capped memo reaches; several of them, since a bin
    // another spec's entry already occupies hides the nesting.
    val date = "2024-01-15" // closed, in the sf0.001 range: both memos fire
    def spread(k: (String, String, String)): Int = {
      val h = k.##; (h ^ (h >>> 16)) & 0xffff
    }
    val tag = System.nanoTime().toString
    val keywords = Iterator.from(0).map(i => s"zq${tag}x$i")
      .filter(kw => spread((s"detail:1:10:$kw", sf0001, date)) ==
        spread((s"detail_total:$kw", sf0001, date)))
      .take(8).toSeq
    val server = ServeMain.start(spark, sf0001, 0)
    try {
      val port = server.getAddress.getPort
      keywords.foreach { kw =>
        val (st, body) = get(port, s"/detail?date=$date&page=1&size=10&keyword=$kw")
        assert(st == 200 && body == """{"total":0,"detail":[]}""", s"$kw: $st $body")
      }
    } finally server.stop(0)
  }

  test("closed-day answer memo evicts oldest entries past the cap") {
    // distinct dir component isolates this test's keys from other specs
    // sharing the JVM-wide memo
    val dir = s"evict-test-${System.nanoTime()}"
    var computes = 0
    val n = ServeMain.CacheCap + 64
    (0 until n).foreach { i =>
      val key = ("total", s"$dir-$i", "2020-01-01")
      ServeMain.cached(key) { computes += 1; s"answer-$i" }
    }
    assert(computes == n)
    // the memo stayed bounded (single-threaded here → exactly the cap)
    assert(ServeMain.cacheSize <= ServeMain.CacheCap, ServeMain.cacheSize)
    // an evicted key recomputes; a resident key doesn't
    ServeMain.cached(("total", s"$dir-0", "2020-01-01")) { computes += 1; "again" }
    assert(computes == n + 1)
    val before = computes
    ServeMain.cached(("total", s"$dir-${n - 1}", "2020-01-01")) { computes += 1; "x" }
    assert(computes == before)
  }
}
