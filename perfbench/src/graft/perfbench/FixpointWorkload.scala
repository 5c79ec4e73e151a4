package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.QuadStore
import graft.encoding.TermCols
import graft.engine.Graft
import graft.ops.{Dedup, LinkGraph, Similarity}
import graft.sources.RdbToRdf

/**
 * `fixpoint`: one closed-loop client running the iterative operators.
 * Over the TPC-H order chains (each customer's orders linked by
 * `urn:g:orders#next` in date order) it runs `p+`, a segment-seeded `p*`
 * and a DESCRIBE, all small. It runs the same `p+` over a seeded synthetic
 * chain graph at a data-bound size, and `Dedup.connectedComponents`,
 * `LinkGraph.pageRank` and `Similarity.kmeansAssign` over planted inputs.
 * Checks are closed forms from the generated shapes or a driver-side
 * re-computation, never the timed code path.
 */
object FixpointWorkload {

  final case class Inputs(dir: String, chains: Graft, chainGraph: Graft, chainLens: Seq[Int],
                          ccEdges: DataFrame, ccSizes: Seq[Int], prEdges: DataFrame,
                          prPairs: Seq[(Long, Long)], emb: DataFrame, embRows: Seq[(Long, Array[Double])])

  val Next = "urn:g:orders#next"

  def setup(ctx: Ctx, rep: Int): Inputs = {
    val spark = ctx.spark
    import spark.implicits._
    val dir = ctx.path(s"fix-$rep")
    val r = Main.rng(ctx.seed, "fixpoint inputs")
    val tables = Tpch.generate(spark, ctx.seed, 0.001, dir, Seq("customer", "orders"))
    Tpch.views(tables)
    val m = RdbToRdf.mapping(spark, dir, Seq("orders", "customer"))
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val next = tables("orders").select(col("o_orderkey"), lead("o_orderkey", 1).over(w).as("nxt"))
      .filter(col("nxt").isNotNull)
      .select(TermCols.nullTerm.as("graph"),
        RdbToRdf.subjectIri("orders", col("o_orderkey")).as("subject"),
        TermCols.iri(lit(Next)).as("predicate"),
        RdbToRdf.subjectIri("orders", col("nxt")).as("object"))
    val chains = Graft(m.quads.unionByName(next), m)

    // synthetic chains: chain c has nodes c*64 .. c*64+len
    val nChains = if (ctx.smoke) 40 else 1500
    val lens = Seq.fill(nChains)(5 + r.nextInt(26))
    val chainEdges = lens.zipWithIndex.flatMap { case (len, c) => (0 until len).map(j => (c * 64L + j, c * 64L + j + 1)) }
    val chainQuads = chainEdges.toDF("a", "b").repartition(ctx.cores)
      .select(TermCols.nullTerm.as("graph"), TermCols.iri(concat(lit("urn:c:n"), col("a"))).as("subject"),
        TermCols.iri(lit("urn:c:next")).as("predicate"),
        TermCols.iri(concat(lit("urn:c:n"), col("b"))).as("object"))
    QuadStore(chainQuads).save(s"$dir/chain")
    val chainGraph = Graft(QuadStore.load(spark, s"$dir/chain").quads)

    // planted components: component c is a path over ids c*32 .. c*32+size-1
    val nComps = if (ctx.smoke) 50 else 3000
    val sizes = Seq.fill(nComps)(2 + r.nextInt(19))
    val cc = r.shuffle(sizes.zipWithIndex.flatMap { case (s, c) => (0 until s - 1).map(j => (c * 32L + j + 1, c * 32L + j)) })
    val ccEdges = cc.toDF("a", "b").repartition(ctx.cores)
    ccEdges.write.mode("overwrite").parquet(s"$dir/cc")

    // link graph: seeded random directed edges
    val nNodes = if (ctx.smoke) 200 else 2000
    val pr = Seq.fill(nNodes * 5)((r.nextInt(nNodes).toLong, r.nextInt(nNodes).toLong)).filter(e => e._1 != e._2)
    pr.toDF("src", "dst").repartition(ctx.cores).write.mode("overwrite").parquet(s"$dir/links")

    // embeddings: 8 blobs in 16 dimensions
    val nVec = if (ctx.smoke) 400 else 8000
    val centres = Array.fill(8, 16)(r.nextGaussian() * 4)
    val vecs = (0 until nVec).map { i =>
      val c = centres(r.nextInt(8))
      (i.toLong, c.map(x => math.rint((x + r.nextGaussian()) * 1e6) / 1e6))
    }
    vecs.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec").repartition(ctx.cores)
      .write.mode("overwrite").parquet(s"$dir/emb")

    Inputs(dir, chains, chainGraph, lens, spark.read.parquet(s"$dir/cc"), sizes,
      spark.read.parquet(s"$dir/links"), pr, spark.read.parquet(s"$dir/emb"), vecs)
  }

  def run(ctx: Ctx): Unit = {
    var rep = 0
    val in = ctx.repeatSetup[Inputs](3, i => Main.deleteTree(i.dir)) { rep += 1; setup(ctx, rep) }
    ctx.sizes("chain_edges") = in.chainLens.sum.toDouble
    ctx.sizes("tpch_orders") = ctx.spark.table("orders").count().toDouble
    ctx.sizes("cc_edges") = (in.ccSizes.sum - in.ccSizes.size).toDouble
    ctx.sizes("link_edges") = in.prPairs.size.toDouble
    ctx.sizes("vectors") = in.embRows.size.toDouble
    ctx.sizes("bytes_on_disk") = Main.du(in.dir).toDouble
    Main.passes(ctx, ops(ctx, in))
  }

  private def q(ctx: Ctx, name: String, g: Graft, text: String, check: Array[Row] => Option[String]): Op =
    Op(name, "query", () => Main.runDf(ctx, Some(text))(g.query(text)),
      res => check(res.asInstanceOf[Array[Row]]))

  private def call(ctx: Ctx, name: String, build: => DataFrame, check: Array[Row] => Option[String]): Op =
    Op(name, "operator", () => Main.runDf(ctx, None)(build), res => check(res.asInstanceOf[Array[Row]]))

  def ops(ctx: Ctx, in: Inputs): Seq[Op] = {
    val spark = ctx.spark
    val r = Main.rng(ctx.seed, "fixpoint constants")
    val seg = Tpch.Segments(r.nextInt(Tpch.Segments.size))
    // closed forms from chain lengths: an n-order chain has C(n,2) p+ pairs
    // and n + C(n,2) p* pairs
    val perCust = spark.sql(
      """SELECT c_name, c_mktsegment, c_custkey, n FROM customer
        |JOIN (SELECT o_custkey, count(*) n FROM orders GROUP BY o_custkey) ON o_custkey = c_custkey""".stripMargin)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getLong(3)))
    val plusWant = perCust.filter(_._4 >= 2).map(x => s"${x._1}\u0001${x._4 * (x._4 - 1) / 2}").toSeq.sorted
    val starWant = perCust.filter(_._2 == seg).map(x => s"${x._1}\u0001${x._4 * (x._4 + 1) / 2}").toSeq.sorted
    val (descCust, descN) = {
      val c = perCust.sortBy(_._3).apply(r.nextInt(perCust.length))
      (c._3, c._4)
    }
    val chainWant = in.chainLens.map(l => l.toLong * (l + 1) / 2).sum
    val ccWant = in.ccSizes.zipWithIndex.flatMap { case (s, c) => (0 until s).map(j => s"${c * 32L + j}\u0001${c * 32L}") }.sorted
    val prWant = pageRankReplica(in.prPairs, 5, 0.85)
    val kmWant = kmeansReplica(in.embRows, 8, 3)
    val nOrder = 7 // 5 columns + ref_customer + next
    Seq(
      q(ctx, "path_plus_small", in.chains,
        s"""SELECT ?name (COUNT(?o2) AS ?reach) WHERE {
           |  ?c <urn:g:customer#c_name> ?name . ?o1 <urn:g:orders#ref_customer> ?c .
           |  ?o1 <$Next>+ ?o2 .
           |} GROUP BY ?name""".stripMargin,
        rows => Rows.diff(Rows.canon(rows), plusWant)),
      q(ctx, "path_star_seeded", in.chains,
        s"""SELECT ?name (COUNT(?o2) AS ?n) WHERE {
           |  ?c <urn:g:customer#c_mktsegment> "$seg" . ?c <urn:g:customer#c_name> ?name .
           |  ?o1 <urn:g:orders#ref_customer> ?c . ?o1 <$Next>* ?o2 .
           |} GROUP BY ?name""".stripMargin,
        rows => Rows.diff(Rows.canon(rows), starWant)),
      q(ctx, "describe", in.chains,
        s"""DESCRIBE ?o WHERE { ?o <urn:g:orders#ref_customer> <urn:g:customer/$descCust> }""",
        rows => {
          val want = nOrder * descN - 1
          val subjects = rows.map(x => Rows.cell(x.get(0))).distinct.length
          if (rows.length == want && subjects == descN) None
          else Some(s"${rows.length} triples over $subjects subjects, expected $want over $descN")
        }),
      q(ctx, "path_plus_large", in.chainGraph,
        """SELECT (COUNT(*) AS ?n) WHERE { ?a <urn:c:next>+ ?b }""",
        rows => Rows.diff(Rows.canon(rows), Seq(chainWant.toString))),
      call(ctx, "components", Dedup.connectedComponents(in.ccEdges, "a", "b"),
        rows => Rows.diff(Rows.canon(rows), ccWant)),
      call(ctx, "pagerank", LinkGraph.pageRank(in.prEdges, "src", "dst", iters = 5),
        rows => {
          val got = rows.map(x => x.getLong(0) -> x.getDouble(1)).toMap
          val bad = prWant.count { case (id, v) => got.get(id).forall(g => math.abs(g - v) > 1e-8) }
          if (got.size == prWant.size && bad == 0) None
          else Some(s"${got.size} ranks vs ${prWant.size}; $bad differ from the driver-side power iteration")
        }),
      call(ctx, "kmeans", Similarity.kmeansAssign(in.emb, "id", "vec", k = 8, iters = 3),
        rows => {
          val got = rows.map(x => x.getLong(0) -> x.getInt(1)).toMap
          val bad = kmWant.count { case (id, c) => !got.get(id).contains(c) }
          if (got.size == kmWant.size && bad == 0) None
          else Some(s"${got.size} assignments vs ${kmWant.size}; $bad differ from driver-side Lloyd's")
        }))
  }

  private def r12(x: Double): Double = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def r9(x: Double): Double = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Power iteration with dangling mass spread uniformly and ranks rounded
    * to 12 decimals per round, 9 at the end: the documented contract of
    * `LinkGraph.pageRank`. */
  def pageRankReplica(edges: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap(x => Seq(x._1, x._2)).distinct
    val n = nodes.size.toDouble
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    val in = e.groupBy(_._2)
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(deg.contains).map(rank).sum
      rank = nodes.map { v =>
        val c = in.getOrElse(v, Nil).map(x => rank(x._1) / deg(x._1)).sum
        v -> r12((1 - d) / n + d * (c + dangling / n))
      }.toMap
    }
    rank.map { case (k, v) => k -> r9(v) }
  }

  /** Lloyd's iterations seeded with the k lowest ids, nearest centre by
    * squared distance (ties to the lower centre), means rounded to 9
    * decimals, empty clusters keep their centre. */
  def kmeansReplica(rows: Seq[(Long, Array[Double])], k: Int, iters: Int): Map[Long, Int] = {
    var cents = rows.sortBy(_._1).take(k).map(_._2).toArray
    def assign(): Map[Long, Int] = rows.map { case (id, v) =>
      id -> cents.indices.minBy(c => (cents(c).zip(v).map { case (a, b) => (b - a) * (b - a) }.sum, c))
    }.toMap
    var a = assign()
    for (_ <- 2 to iters) {
      val byC = rows.groupBy(x => a(x._1))
      cents = cents.indices.map { c =>
        byC.get(c).map(ms => ms.head._2.indices.map(j => r9(ms.map(_._2(j)).sum / ms.size)).toArray)
          .getOrElse(cents(c))
      }.toArray
      a = assign()
    }
    a
  }
}
