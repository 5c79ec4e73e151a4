package graft

import graft.ops.{LinkGraph, TextAnalysis}
import org.apache.spark.sql.functions._

/** PageRank / degrees, C4 line dedup, linear classifier scoring, Unicode
  * normalization — the round-6 curation additions. */
class LinkGraphCurationSpec extends SparkSpec {

  import spark.implicits._

  /** Driver-side reference PageRank with the identical formulation and
    * per-iteration 12-decimal rounding. */
  private def refPageRank(nodes: Seq[Long], edges: Seq[(Long, Long)],
                          iters: Int, d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val out = e.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val n = nodes.size.toDouble
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(out.contains).map(r).sum
      val contrib = e.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) => r(s) / out(s) }.sum
      }
      r = nodes.map { v =>
        v -> BigDecimal((1 - d) / n + d * (contrib.getOrElse(v, 0.0) + dangling / n))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r.map { case (k, v) =>
      k -> BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble }
  }

  /** PageRank as (id → rank), on the local and the distributed path,
    * which must agree to within 1e-9. */
  private def ranks(pr: => org.apache.spark.sql.DataFrame): Map[Long, Double] =
    onBothPaths(pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap,
      (a: Map[Long, Double], b: Map[Long, Double]) =>
        a.keySet == b.keySet && a.forall { case (k, v) => math.abs(v - b(k)) <= 1e-9 })

  private val nodes = (0L to 6L).toSeq
  // 5 has no out-edges (dangling); 6 is isolated; 2->2 self-loop; 0->1 twice
  private val edges = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 2L), (2L, 2L),
    (3L, 0L), (3L, 4L), (4L, 5L))

  test("pageRank matches the reference formulation (dangling + isolated + self-loop + parallel edges)") {
    val got = ranks(LinkGraph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 5, damping = 0.85, nodes = Some(nodes.toDF("id"))))
    val want = refPageRank(nodes, edges, 5, 0.85)
    assert(got == want)
  }

  test("pageRank mass sums to ~1 and isolated nodes get teleport + dangling share") {
    val got = ranks(LinkGraph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 5, nodes = Some(nodes.toDF("id"))))
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    assert(got(6L) > (1 - 0.85) / 7.0) // more than bare teleport
  }

  test("pageRank without explicit nodes uses endpoint union") {
    val got = ranks(LinkGraph.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("s", "d"), "s", "d", iters = 3))
    assert(got.keySet == Set(1L, 2L))
    assert(math.abs(got(1L) - got(2L)) < 1e-12) // symmetric 2-cycle
  }

  test("pageRank over a node list that omits an endpoint: edges to it still count in the out-degree") {
    // 4 is no node: 3's mass split towards it leaks, and 3 is not dangling
    val got = ranks(LinkGraph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iters = 5, nodes = Some(Seq(0L, 1L, 2L, 3L).toDF("id"))))
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    assert(got.values.sum < 1.0 - 1e-3)
  }

  test("degrees reports in/out/dangling with parallel edges collapsed") {
    val got = LinkGraph.degrees(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got.contains((0L, 2L, 1L, false))) // 0->1 counted once
    assert(got.contains((5L, 0L, 1L, true)))  // dangling sink
    assert(got.contains((2L, 1L, 3L, false))) // self-loop counts both ways
  }

  test("lineDedup keeps the globally-first occurrence of each line, reassembles in order") {
    val docs = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\ngamma"),
      (3L, "  shared line  \ndelta\ndelta")).toDF("doc_id", "text")
    val got = TextAnalysis.lineDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == Set(
      (1L, 3, 3, "alpha\nshared line\nbeta"),
      (2L, 2, 1, "gamma"),                 // shared line first seen in doc 1
      (3L, 3, 1, "delta")))                // trim matches; in-doc dup also dropped
  }

  test("lineDedup drops blank lines and keeps empty docs") {
    val docs = Seq((1L, "\n  \n\n"), (2L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.lineDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    assert(got == Set((1L, 0, 0, ""), (2L, 1, 1, "x")))
  }

  test("linearScore: hand-checked sigmoid of mean bucket weight; empty doc gets bias-only score") {
    val w = TextAnalysis.pseudoWeights(spark, 512)
    val wMap = w.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val docs = Seq((1L, "hello world hello"), (2L, "???")).toDF("doc_id", "text")
    val got = TextAnalysis.linearScore(docs, "doc_id", "text", w, 512, bias = 0.1)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getBoolean(3)))).toMap
    def bucket(tok: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"lincls|$tok".getBytes("UTF-8"))
      java.lang.Long.parseLong(f"${h(0)}%02x${h(1)}%02x".take(4), 16) % 512
    }
    val m = Seq("hello", "world", "hello").map(t => wMap(bucket(t))).sum / 3.0
    val expScore = BigDecimal(1.0 / (1.0 + math.exp(-(0.1 + m))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3, expScore, expScore >= 0.5)))
    val biasOnly = BigDecimal(1.0 / (1.0 + math.exp(-0.1)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(2L) == ((0, biasOnly, biasOnly >= 0.5)))
  }

  test("hostCap: spelling variants group to one host, cap keeps lowest ids, under-cap bypasses") {
    val urls = Seq(
      (1L, "https://www.a.org/x"), (2L, "a.org/y"), (3L, "HTTP://a.org:80/z"),
      (4L, "https://b.org/1"), (5L, "https://b.org/2"),
      (6L, ":::garbage")).toDF("doc_id", "url")
    val got = graft.ops.Urls.hostCap(urls, "doc_id", "url", maxPerHost = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
    assert(got == Set(
      (1L, "a.org", true), (2L, "a.org", true), (3L, "a.org", false), // one host, cap 2
      (4L, "b.org", true), (5L, "b.org", true),          // under-cap path
      (6L, ":::garbage", true)))   // scheme-less garbage: literal self-group
                                   // (canonicalize's verbatim fallback)
  }

  test("scriptProfile: ratios per script, deterministic dominant ladder, whitespace-only is other") {
    val docs = Seq(
      (1L, "abc \u0433\u0434\u0435 123"), // 3 latin, 3 cyrillic, 3 digit over 9 chars → latin wins tie
      (2L, "   "),
      (3L, "!!! ???")).toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(6), r.getString(7)))).toMap
    assert(got(1L) == ((9, 0.333333, 0.333333, 0.333333, "latin")))
    assert(got(2L) == ((0, 0.0, 0.0, 0.0, "other")))
    assert(got(3L)._5 == "other") // punctuation counts in n_chars, no script hits
  }

  test("normalizeText NFC composes, NFKC folds compatibility chars, stripAccents removes marks") {
    val docs = Seq(
      (1L, "cafe\u0301"),     // decomposed
      (2L, "caf\u00e9"),      // precomposed
      (3L, "\ufb01ne \u2460") // fi-ligature + circled one (NFKC-only)
    ).toDF("doc_id", "text")
    val nfc = TextAnalysis.normalizeText(docs, "doc_id", "text", "NFC")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(nfc(1L) == (("caf\u00e9", true)))
    assert(nfc(2L) == (("caf\u00e9", false)))
    assert(nfc(3L) == (("\ufb01ne \u2460", false)))
    val nfkc = TextAnalysis.normalizeText(docs, "doc_id", "text", "NFKC")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nfkc(3L) == "fine 1")
    val strip = TextAnalysis.normalizeText(docs, "doc_id", "text", "NFC", stripAccents = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(strip(1L) == "cafe" && strip(2L) == "cafe")
  }
}
