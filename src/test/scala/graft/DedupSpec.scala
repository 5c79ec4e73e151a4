package graft

import org.apache.spark.sql.DataFrame
import graft.ops.Dedup

/** Dedup pipelines; the oracle gate covers the driver queries end-to-end,
  * these specs pin algorithm-level equivalences the gate can't see. */
class DedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$dir/documents.parquet")

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("prefix-filtered jaccard equals the inverted-index join exactly") {
    val t = 0.6
    val inv = pairSet(Dedup.jaccardPairs(docs, "doc_id", "text", t, shingleK = 3))
    val pre = pairSet(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", t, shingleK = 3))
    assert(pre == inv, s"prefix=${pre.size} inverted=${inv.size}")
    assert(inv.nonEmpty) // the corpus contains near-dups; empty would be vacuous
  }

  test("prefix band triangle chunking (skew cap) is result-identical at any chunk size") {
    // cap forced to 1 row per chunk → every band splits maximally and every
    // candidate pair must meet via a cross-chunk key; must equal the default
    // (unchunked at this scale) output exactly
    val base = pairSet(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 0.6, shingleK = 3))
    val old = sys.props.put("graft.jaccard.maxBandRows", "1")
    try {
      val split = pairSet(Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 0.6, shingleK = 3))
      assert(split == base, "chunked band join must be pair-complete and duplicate-free")
      assert(base.nonEmpty)
    } finally {
      old match {
        case Some(v) => sys.props.put("graft.jaccard.maxBandRows", v)
        case None => sys.props.remove("graft.jaccard.maxBandRows")
      }
    }
  }

  test("prefix filter is lossless at a tight threshold boundary") {
    import spark.implicits._
    // J(1,2) = 4/6 = 2/3 exactly at threshold 2/3 — the ⌈t·sz⌉ boundary
    // where a carelessly-rounded prefix length would drop the pair
    val df = Seq(
      (1L, "a b c d e"),
      (2L, "a b c d f"),
      (3L, "x y z q r")).toDF("doc_id", "text")
    val pre = pairSet(Dedup.jaccardPairsPrefix(df, "doc_id", "text", 2.0 / 3))
    val inv = pairSet(Dedup.jaccardPairs(df, "doc_id", "text", 2.0 / 3))
    assert(pre == inv)
    assert(pre.exists { case (a, b, j) => a == 1L && b == 2L && math.abs(j - 2.0 / 3) < 1e-5 })
  }

  test("minhash maxBucketSize drops degenerate buckets, keeps normal pairs") {
    import spark.implicits._
    // 40 identical docs (every band bucket holds all 40) + one honest
    // near-dup pair that shares buckets of size 2
    val template = (0 until 40).map(i => s"common stop word w$i").mkString(" ")
    val near = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = ((0 until 40).map(i => (i.toLong, template)) ++ Seq(
      (100L, near), (101L, near + " extra"))).toDF("doc_id", "text")
    val capped = Dedup.minhashLshPairs(df, "doc_id", "text", maxBucketSize = Some(8))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)),
      s"degenerate bucket must drop, honest pair must survive: $capped")
    // uncapped finds the degenerate clique too
    val full = Dedup.minhashLshPairs(df, "doc_id", "text")
    assert(full.count() == 40L * 39 / 2 + 1)
  }

  test("decontaminate flags exactly the train docs sharing a k-shingle with eval") {
    import spark.implicits._
    val train = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "completely unrelated content about turbines and wind"),
      (12L, "jumps over the lazy dog said nobody ever")).toDF("doc_id", "text")
    val eval0 = Seq(
      (1L, "a quick brown fox appeared"),
      (2L, "over the lazy dog")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, eval0, "doc_id", "text", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 10 shares "quick brown fox" with eval 1 and "over the lazy"/"the lazy dog" with eval 2
    // doc 12 shares "over the lazy"/"the lazy dog" with eval 2; doc 11 is clean
    assert(out == Set((10L, 2L, 3L, 1L), (12L, 1L, 2L, 2L)), out.toString)
  }

  test("decontaminate against an empty eval corpus flags nothing") {
    import spark.implicits._
    val train = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val eval0 = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.decontaminate(train, eval0, "doc_id", "text").isEmpty)
  }

  // ---- connected components / clustering (round 3) ----

  test("connectedComponents labels chains, cliques and singleton-free graphs") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (pair)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents handles long paths (pointer jumping converges)") {
    import spark.implicits._
    // one path 0-1-2-...-40: worst case for plain propagation; gate 0
    // forces the DISTRIBUTED loop (the small-graph local path is covered by
    // the differential test below, which runs both paths)
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = withProps(graft.ops.LocalGraph.MaxBytesProp -> "0") {
      Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
    }
    assert(cc.length == 41 && cc.forall(_.getLong(1) == 0L))
  }

  test("distributed loop and local union-find agree on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val es = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter(e => e._1 != e._2).toDF("id_a", "id_b").localCheckpoint()
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    onBothPaths(m(Dedup.connectedComponents(es, "id_a", "id_b")))
  }

  test("connectedComponents matches driver union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 200
    val es = Seq.fill(150)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(e => e._1 != e._2)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = es.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> {
        // canonical = min node id in the component, over touched nodes
        val r = find(v.toInt)
        es.flatMap(e => Seq(e._1, e._2)).distinct.filter(u => find(u.toInt) == r).min
      }).toMap
    val cc = Dedup.connectedComponents(es.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == expect)
  }

  test("clusters assigns singletons their own id") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((2L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 5L))
  }

  test("keepBest keeps the highest score per cluster, ties to lowest id") {
    import spark.implicits._
    val cl = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L)).toDF("doc_id", "cluster")
    val sc = Seq((1L, 10L), (2L, 99L), (3L, 7L), (4L, 7L), (5L, 1L)).toDF("doc_id", "n_chars")
    val out = Dedup.keepBest(cl, sc, "doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cluster 1: doc 2 wins on score; cluster 3: tie -> doc 3; singleton 5
    assert(out == Set((1L, 2L, 2L), (3L, 3L, 2L), (5L, 5L, 1L)))
  }

  test("stratifiedSample is deterministic, rate-respecting, and salt-sensitive") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    def ids(salt: String, rates: Map[String, Double]) =
      graft.ops.TextAnalysis.stratifiedSample(docs, "doc_id", "lang", rates, salt)
        .collect().map(_.getLong(0)).toSet
    val a = ids("s1", Map("en" -> 0.5, "de" -> 0.1))
    assert(a == ids("s1", Map("en" -> 0.5, "de" -> 0.1))) // deterministic
    assert(a != ids("s2", Map("en" -> 0.5, "de" -> 0.1))) // salt matters
    val en = a.count(_ % 2 == 0); val de = a.count(_ % 2 == 1)
    assert(math.abs(en - 500) < 80, s"en=$en")   // ~0.5 of 1000
    assert(math.abs(de - 100) < 50, s"de=$de")   // ~0.1 of 1000
    // a higher rate strictly extends the sample (nested samples property)
    val wider = ids("s1", Map("en" -> 0.8, "de" -> 0.1))
    assert(a.filter(_ % 2 == 0).subsetOf(wider))
  }
}
