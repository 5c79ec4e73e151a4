package graft

import org.apache.spark.sql.functions._
import graft.engine.Graft
import graft.model.{Iri, RdfQuad}
import graft.ops.{Dedup, Similarity, SkewSalt}

/** Losslessness of the output-amplification skew salting (ops.SkewSalt and
  * the closure stepJoin): salted and unsalted runs must produce identical
  * result bags on corpora engineered to trip the hot-bucket/hub paths. */
class SkewSaltSpec extends SparkSpec {

  test("selfJoinSides ≡ plain self-join on random buckets (incl. hot ones)") {
    import spark.implicits._
    // bucket sizes 1 (dropped-as-pairless), 2, 7, 40 (hot at threshold 8)
    val rows = Seq.tabulate(50) { i =>
      val bucket = if (i < 40) "hot" else if (i < 47) "mid" else if (i < 49) "duo" else s"solo$i"
      (i.toLong, bucket)
    }.toDF("id", "bk")
    val plain = rows.as("a").join(rows.as("b"), Seq("bk"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = withProps("graft.salt.hotBucket" -> "8", "graft.salt.factor" -> "5") {
      val (l, r, jc) = SkewSalt.selfJoinSides(rows, Seq("bk"), col("id"))
      val a = l.select(col("bk"), col("__salt"), col("id").as("id_a"))
      val b = r.select(col("bk"), col("__salt"), col("id").as("id_b"))
      a.join(b, jc).where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
    }
    assert(salted == plain, s"salted=${salted.size} plain=${plain.size}")
    assert(plain.size == 40 * 39 / 2 + 7 * 6 / 2 + 1)
  }

  test("salted MinHash-LSH and SimHash pairs ≡ unsalted on a hot corpus") {
    import spark.implicits._
    val template = (0 until 40).map(i => s"stop word w$i").mkString(" ")
    val docs = (0 until 300).map { i =>
      val t = if (i % 2 == 0) template
              else s"unique doc $i " + (0 until 20).map(j => s"t${i}_$j").mkString(" ")
      (i.toLong, t)
    }.toDF("doc_id", "text").localCheckpoint()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plainMh = pairs(Dedup.minhashLshPairs(docs, "doc_id", "text"))
    val plainSh = pairs(Dedup.simhashPairs(docs, "doc_id", "text"))
    val (saltMh, saltSh) =
      // minRows forced low: the pay-as-you-go gate would otherwise skip
      // salting entirely on this small corpus and the test would not
      // exercise the salted path at all
      withProps("graft.salt.hotBucket" -> "8", "graft.salt.factor" -> "5",
                "graft.salt.minRows" -> "10") {
        (pairs(Dedup.minhashLshPairs(docs, "doc_id", "text")),
         pairs(Dedup.simhashPairs(docs, "doc_id", "text")))
      }
    assert(saltMh == plainMh, s"mh salted=${saltMh.size} plain=${plainMh.size}")
    assert(saltSh == plainSh, s"sh salted=${saltSh.size} plain=${plainSh.size}")
    assert(plainMh.nonEmpty && plainSh.nonEmpty)
  }

  test("salted embedding near-dup ≡ unsalted when one signature bucket is hot") {
    import spark.implicits._
    // half the vectors identical → one hot LSH signature bucket
    val base = Array.tabulate(8)(d => 0.1f * (d + 1))
    val emb = (0 until 120).map { i =>
      val v = if (i % 2 == 0) base
              else Array.tabulate(8)(d => (((i * 31 + d * 7) % 13) - 6).toFloat)
      (i.toLong, v)
    }.toDF("emb_id", "v").localCheckpoint()
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(Similarity.nearDupPairs(emb, "emb_id", "v", 0.95))
    val salted = withProps("graft.salt.hotBucket" -> "8", "graft.salt.factor" -> "5",
                           "graft.salt.minRows" -> "10") {
      pairs(Similarity.nearDupPairs(emb, "emb_id", "v", 0.95))
    }
    assert(salted == plain, s"salted=${salted.size} plain=${plain.size}")
    assert(plain.size >= 60 * 59 / 2) // the identical half alone
  }

  test("pay-as-you-go gate: small knownRows skips the detection join, bag unchanged") {
    import spark.implicits._
    val rows = Seq.tabulate(30)(i => (i.toLong, s"b${i % 3}")).toDF("id", "bk")
    def pairSet(l: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame,
                jc: Seq[String]): Set[(Long, Long)] = {
      val a = l.select(col("bk"), col("__salt"), col("id").as("id_a"))
      val b = r.select(col("bk"), col("__salt"), col("id").as("id_b"))
      a.join(b, jc).where(col("id_a") < col("id_b"))
        .select("id_a", "id_b").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    }
    withProps("graft.salt.hotBucket" -> "4", "graft.salt.factor" -> "5") {
      // below minRows (default 100000): the sides must be plain projections —
      // no hot-set detection join anywhere in the plan
      val (l, r, jc) = SkewSalt.selfJoinSides(rows, Seq("bk"), col("id"),
        knownRows = Some(30L))
      assert(!l.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"),
        "gated side should not contain the hot-set detection join")
      assert(!r.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
      val gated = pairSet(l, r, jc)
      // above the gate (knownRows large): salted path engages, same bag
      val (l2, r2, jc2) = SkewSalt.selfJoinSides(rows, Seq("bk"), col("id"),
        knownRows = Some(1000000L))
      assert(l2.queryExecution.optimizedPlan.toString.toLowerCase.contains("join"))
      assert(pairSet(l2, r2, jc2) == gated)
      assert(gated.size == 3 * (10 * 9 / 2))
    }
  }

  test("salted closure ≡ analytic count on a hub graph") {
    val p = Iri("urn:e")
    val chainLen = 30
    val hubDeg = 50
    // two structurally DISTINCT node namespaces with identical topology:
    // the closure cache keys on the canonicalized input plan, so reusing one
    // graph would hand the salted run the unsalted cached result
    def quadsDF(ns: String) = graft.sources.Turtle.quadsToDF(spark,
      (0 until chainLen).map(i => RdfQuad(None, Iri(s"urn:$ns$i"), p, Iri(s"urn:$ns${i + 1}"))) ++
      (0 until hubDeg).map(i => RdfQuad(None, Iri(s"urn:${ns}in$i"), p, Iri(s"urn:${ns}hub"))) ++
      (0 until hubDeg).map(i => RdfQuad(None, Iri(s"urn:${ns}hub"), p, Iri(s"urn:${ns}out$i"))))
    // chain pairs + in→hub + hub→out + in→out
    val expected = chainLen * (chainLen + 1) / 2 + hubDeg + hubDeg + hubDeg * hubDeg
    def count(ns: String): Long = lex(Graft(quadsDF(ns))
      .select("SELECT (COUNT(?a) AS ?n) WHERE { ?a <urn:e>+ ?b }"), "n").head.toLong
    // both runs take the distributed closure (gate 0): below the gate the
    // closure never reaches the salted step join
    val plain = withProps(graft.ops.LocalGraph.MaxBytesProp -> "0") { count("c") }
    // force the salted path: every relation is "large", hub is "heavy"
    val salted = withProps(graft.ops.LocalGraph.MaxBytesProp -> "0",
      "graft.salt.hotBucket" -> "16", "graft.salt.factor" -> "5",
      "graft.salt.minRows" -> "10") { count("d") }
    assert(plain == expected)
    assert(salted == expected, s"salted=$salted expected=$expected")
  }
}
