package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}

/**
 * `pipeline`: one seeded corpus, rich in planted duplicates, with a text
 * and an embedding per document, pushed through the training-data
 * operators in pipeline order: exact dedup, MinHash-LSH pairs → clusters →
 * keep-best, SimHash pairs, quality, language id, heuristic filter, TF-IDF,
 * and batch IVF top-10. There is no SPARQL front end. IndexCache is cleared
 * before every pass, so stages of one pass share artifacts the way one
 * pipeline run does. Checks use the planted ground truth or driver-side
 * re-computations.
 */
object PipelineWorkload {

  val Markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "is"), "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "los", "y", "es"), "fr" -> Seq("le", "les", "et", "est"))
  val Langs: Seq[String] = Markers.keys.toSeq.sorted

  final case class Doc(id: Long, lang: String, family: Long, text: String)
  final case class Corpus(dir: String, docs: DataFrame, emb: DataFrame, queries: DataFrame,
                          rows: Seq[Doc], exactPairs: Set[(Long, Long)], nearPairs: Set[(Long, Long)],
                          annWant: Map[Long, Seq[(Long, Double)]])

  /** Pseudo-words that are never language markers. */
  private def vocab(r: scala.util.Random, n: Int): IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ter", "shu", "van", "pol", "rin", "dax", "qe", "zor", "bim", "ful", "gry")
    val all = Markers.values.flatten.toSet
    Iterator.continually((1 to 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString)
      .filterNot(all).distinct.take(n).toIndexedSeq
  }

  def generate(r: scala.util.Random, n: Int): (Seq[Doc], Set[(Long, Long)], Set[(Long, Long)]) = {
    val words = vocab(r, 1500)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val exact = mutable.Set.empty[(Long, Long)]
    val near = mutable.Set.empty[(Long, Long)]
    while (docs.size < n) {
      val id = docs.size.toLong
      val roll = r.nextDouble()
      if (docs.size > 10 && roll < 0.06) { // exact copy
        val src = docs(r.nextInt(docs.size))
        docs += src.copy(id = id)
        exact += ((src.id, id))
      } else if (docs.size > 10 && roll < 0.16) { // near copy: one or two words replaced
        val src = docs(r.nextInt(docs.size))
        val ws = src.text.split(" ")
        (1 to 1 + r.nextInt(2)).foreach(_ => ws(5 + r.nextInt(ws.length - 10)) = words(r.nextInt(words.size)))
        docs += Doc(id, src.lang, src.family, ws.mkString(" "))
        near += ((src.id, id))
      } else {
        val lang = Langs(r.nextInt(Langs.size))
        val body = Seq.fill(40 + r.nextInt(40))(words(r.nextInt(words.size))) ++
          Seq.fill(8)(Markers(lang)(r.nextInt(4)))
        docs += Doc(id, lang, id, r.shuffle(body).mkString(" "))
      }
    }
    (docs.toSeq, exact.toSet, near.toSet)
  }

  def setup(ctx: Ctx, rep: Int): Corpus = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.path(s"corpus-$rep")
    val r = Main.rng(ctx.seed, "corpus")
    val n = if (ctx.smoke) 300 else 4000
    val (docs, exact, near) = generate(r, n)
    docs.map(d => (d.id, d.text)).toDF("id", "text").repartition(ctx.cores)
      .write.mode("overwrite").parquet(s"$dir/docs")
    // embeddings: 16 blobs in 32 dimensions, one vector per document
    val centres = Array.fill(16, 32)(r.nextGaussian())
    val vecs = docs.map(d => (d.id, centres((d.family % 16).toInt).map(x => x + 0.3 * r.nextGaussian()).toSeq))
    vecs.toDF("id", "vec").repartition(ctx.cores).write.mode("overwrite").parquet(s"$dir/emb")
    val qids = r.shuffle(docs.map(_.id)).take(if (ctx.smoke) 20 else 100)
    val emb = spark.read.parquet(s"$dir/emb")
    val queries = qids.toDF("qid")
    Corpus(dir, spark.read.parquet(s"$dir/docs"), emb, queries, docs, exact, near, Map.empty)
  }

  def run(ctx: Ctx): Unit = {
    var rep = 0
    val c0 = ctx.repeatSetup[Corpus](3, c => Main.deleteTree(c.dir)) { rep += 1; setup(ctx, rep) }
    // exact top-10 by brute force, once, before timing
    val annWant = Similarity.cosineTopKAll(c0.emb, "id", "vec", c0.queries, "qid", 10).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(x => (x.getLong(1), x.getDouble(2))).toSeq }
    val c = c0.copy(annWant = annWant)
    ctx.sizes("documents") = c.rows.size.toDouble
    ctx.sizes("planted_exact_pairs") = c.exactPairs.size.toDouble
    ctx.sizes("planted_near_pairs") = c.nearPairs.size.toDouble
    ctx.sizes("ann_queries") = annWant.size.toDouble
    ctx.sizes("bytes_on_disk") = Main.du(c.dir).toDouble
    Main.passes(ctx, ops(ctx, c), shuffle = false, clearPerOp = false)
  }

  def ops(ctx: Ctx, c: Corpus): Seq[Op] = {
    val docs = c.docs
    val n = c.rows.size
    val family = c.rows.map(d => d.id -> d.family).toMap
    val lang = c.rows.map(d => d.id -> d.lang).toMap
    val planted = c.exactPairs ++ c.nearPairs // for the recall figure
    def sameFamily(a: Long, b: Long) = family(a) == family(b)
    def pairs(rows: Array[Row]) = rows.map(x => (x.getLong(0), x.getLong(1)))
    def stage(name: String, build: => DataFrame)(check: Array[Row] => Option[String]): Op =
      Op(name, "stage", () => Main.runDf(ctx, None)(build), res => check(res.asInstanceOf[Array[Row]]))

    val exactWant = c.rows.groupBy(_.text).values
      .map(ds => s"${ds.map(_.id).min}\u0001${ds.size}").toSeq.sorted
    val tfidfWant = tfIdfReplica(c.rows, 5)
    val minhashWant = minhashReplica(c.rows)
    val simhashWant = simhashReplica(c.rows)
    // the minhash pairs of the current pass, for the cluster check
    var lastPairs: Array[(Long, Long)] = Array.empty
    var lastClusters = 0
    // built inside each timed call: construction runs eager jobs
    def lsh = Dedup.minhashLshPairs(docs, "id", "text")
    def clusters = Dedup.clusters(docs, "id", lsh)
    def scores = TextAnalysis.qualityScore(docs, "id", "text").select(col("id"), col("score"))

    Seq(
      stage("exact", Dedup.exact(docs, "id", "text")) { rows =>
        Rows.diff(rows.map(x => s"${x.getLong(1)}\u0001${x.getLong(2)}").toSeq.sorted, exactWant)
      },
      stage("minhash", lsh) { rows =>
        val ps = pairs(rows)
        lastPairs = ps
        ctx.layer("ops.lsh_recall") = planted.count(ps.toSet).toDouble / planted.size
        val foreign = ps.count(p => !sameFamily(p._1, p._2))
        if (foreign > 0) Some(s"$foreign pairs join documents with no planted relation")
        else Rows.diff(ps.map(p => s"${p._1}\u0001${p._2}").toSeq.sorted, minhashWant)
      },
      stage("clusters", clusters) { rows =>
        val want = unionFind(lastPairs)
        lastClusters = rows.map(_.getLong(1)).distinct.length
        val bad = rows.count(x => want.getOrElse(x.getLong(0), x.getLong(0)) != x.getLong(1))
        if (rows.length == n && bad == 0) None else Some(s"${rows.length} rows, $bad labels differ from union-find")
      },
      stage("keep_best", Dedup.keepBest(clusters, scores, "id", "score")) { rows =>
        val total = rows.map(_.getLong(2)).sum
        if (rows.length == lastClusters && total == n) None
        else Some(s"${rows.length} kept over $total docs, expected $lastClusters over $n")
      },
      stage("simhash", Dedup.simhashPairs(docs, "id", "text")) { rows =>
        Rows.diff(pairs(rows).map(p => s"${p._1}\u0001${p._2}").toSeq.sorted, simhashWant)
      },
      stage("quality", TextAnalysis.quality(docs, "id", "text")) { rows =>
        if (rows.map(_.getLong(0)).distinct.length == n) None else Some(s"${rows.length} rows for $n docs")
      },
      stage("lang_id", TextAnalysis.langId(docs, "id", "text")) { rows =>
        val bad = rows.count(x => !lang.get(x.getLong(0)).contains(x.getString(1)))
        if (rows.length == n && bad == 0) None else Some(s"${rows.length} rows, $bad wrong languages")
      },
      stage("heuristic_filter", TextAnalysis.heuristicFilter(docs, "id", "text")) { rows =>
        if (rows.map(_.getLong(0)).distinct.length == n) None else Some(s"${rows.length} rows for $n docs")
      },
      stage("tfidf", TextAnalysis.tfIdf(docs, "id", "text")) { rows =>
        Rows.diff(Rows.canon(rows.map(x => Row(x.getLong(0), x.getString(1), x.getLong(2), x.getDouble(3)))), tfidfWant)
      },
      stage("ivf", Similarity.ivfTopKAll(c.emb, "id", "vec", c.queries, "qid", 10)) { rows =>
        val got = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(x => (x.getLong(1), x.getDouble(2))).toSeq }
        val hits = c.annWant.map { case (q, want) => got.getOrElse(q, Nil).map(_._1).toSet.intersect(want.map(_._1).toSet).size }.sum
        ctx.layer("ops.ann_recall_at_10") = hits.toDouble / c.annWant.values.map(_.size).sum
        val bad = c.annWant.count { case (q, want) =>
          val g = got.getOrElse(q, Nil).map(_._2).sorted
          g.size != want.size || g.zip(want.map(_._2).sorted).exists { case (a, b) => math.abs(a - b) > 1e-6 }
        }
        if (bad == 0) None else Some(s"$bad of ${c.annWant.size} queries differ from the exact top-10 similarities")
      })
  }

  private def tokens(text: String): Array[String] = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  /** The first 15 hex digits of md5 as a number: `Dedup.portableHash`. */
  private def portableHash(s: String): Long = java.lang.Long.parseLong(md5(s).substring(0, 15), 16)

  /** MinHash-LSH pairs as `Dedup.minhashLshPairs` documents them: 3-token
    * shingles, 32 affine hashes of the portable hash, 8 bands of 4 keyed by
    * md5, and candidates kept when at least half the minima agree. */
  def minhashReplica(docs: Seq[Doc]): Seq[String] = {
    val sigs = docs.flatMap { d =>
      val ts = tokens(d.text)
      if (ts.length < 3) None
      else {
        val hms = ts.sliding(3).map(_.mkString(" ")).toSeq.distinct.map(sh => portableHash(sh) % 1073741789L)
        Some(d.id -> (0 until 32).map { i =>
          val a = (1103515245L * (i + 1)) % 2147483629L
          val b = (12345L * (i + 1)) % 2147483647L
          hms.map(hm => (hm * a + b) % 2147483647L).min
        })
      }
    }.toMap
    val buckets = sigs.toSeq.flatMap { case (id, sig) =>
      (0 until 8).map(b => (b, md5(sig.slice(b * 4, b * 4 + 4).mkString(",") + "#" + b)) -> id)
    }.groupBy(_._1).values.map(_.map(_._2))
    val cand = buckets.flatMap(ids => for (a <- ids; b <- ids if a < b) yield (a, b)).toSet
    cand.filter { case (a, b) => sigs(a).zip(sigs(b)).count(x => x._1 == x._2) / 32.0 >= 0.5 }
      .map(p => s"${p._1}\u0001${p._2}").toSeq.sorted
  }

  /** SimHash pairs within Hamming distance 3 by brute force over the
    * 60-bit fingerprints `Dedup.simhash` documents: each token's portable
    * hash votes ±1 per bit, with repetition. */
  def simhashReplica(docs: Seq[Doc]): Seq[String] = {
    val fp = docs.map { d =>
      val hs = tokens(d.text).map(portableHash)
      d.id -> (0 until 60).foldLeft(0L) { (acc, i) =>
        if (hs.map(h => if ((h & (1L << i)) != 0) 1 else -1).sum > 0) acc | (1L << i) else acc
      }
    }.toArray
    (for (i <- fp.indices; j <- i + 1 until fp.length
          if java.lang.Long.bitCount(fp(i)._2 ^ fp(j)._2) <= 3)
      yield s"${math.min(fp(i)._1, fp(j)._1)}\u0001${math.max(fp(i)._1, fp(j)._1)}").sorted
  }

  def unionFind(ps: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    ps.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ps.flatMap(p => Seq(p._1, p._2)).distinct.map(x => x -> find(x)).toMap
  }

  /** Top-k terms per document by tf·(ln((N+1)/(df+1))+1), rounded to 6
    * decimals, ties by term. */
  def tfIdfReplica(docs: Seq[Doc], k: Int): Seq[String] = {
    val n = docs.size.toDouble
    val tf = docs.map(d => d.id -> d.text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong })
    val df = tf.flatMap(_._2.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toDouble }
    val rows = tf.flatMap { case (id, terms) =>
      terms.toSeq.map { case (t, c) =>
        val s = BigDecimal(c * (math.log((n + 1.0) / (df(t) + 1.0)) + 1.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, c, s)
      }.sortBy(x => (-x._3, x._1)).take(k).map { case (t, c, s) => Row(id, t, c, s) }
    }
    Rows.canon(rows.toArray)
  }
}
