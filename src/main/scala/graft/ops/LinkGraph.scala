package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Link-graph analytics for crawl curation: PageRank as the canonical
 * link-based quality signal (CommonCrawl-derived corpora rank hosts/pages
 * this way before sampling), plus degree statistics.
 *
 * Distribution posture: edges are the only large relation. When the
 * deduplicated edges (plus an explicit node list) pass the [[LocalGraph]]
 * byte gate, they are collected and the power iteration runs on the driver
 * over the interned adjacency — no Spark job per iteration. Above the gate
 * every iteration is one equi-join of edges against the (node, rank)
 * relation keyed by src, one groupBy(dst) aggregation, and one left join
 * back onto the node list — all key-partitioned shuffles AQE can split, no
 * driver-side materialisation of anything wider than a scalar. There the
 * rank relation is `localCheckpoint`ed per iteration so the logical plan
 * stays constant in the iteration count (the k-means lesson: an unrolled
 * lineage doubles the plan per round and Catalyst optimize time explodes).
 */
object LinkGraph {

  /**
   * PageRank with uniform teleport and dangling-mass redistribution:
   *
   *   r'(v) = (1-d)/N + d * ( sum_{u->v} r(u)/deg(u)  +  D/N )
   *
   * where D = total rank held by dangling nodes (no out-edges) — the
   * standard formulation, so ranks sum to 1 every iteration. Parallel
   * edges are collapsed (a page linking twice confers one endorsement —
   * the convention of the original formulation); self-loops count.
   *
   * `nodes` (one `id` column) fixes the vertex set; isolated vertices that
   * appear in no edge still receive teleport + dangling mass. When None,
   * the vertex set is the endpoints' union.
   *
   * Ranks are rounded to 12 decimals each iteration so independent
   * re-implementations (the DuckDB oracle) stay in numeric lockstep —
   * double-sum association differences (~1e-19 here, in-degrees are
   * small) cannot compound across iterations.
   *
   * Returns (id, rank) with rank rounded to 9 decimals.
   */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5, damping: Double = 0.85,
               nodes: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")).dropDuplicates("src", "dst")
      .localCheckpoint(eager = false)
    val given = nodes.map(ns => ns.select(col(ns.columns.head).cast(LongType).as("id"))
      .dropDuplicates().localCheckpoint(eager = false))
    val givenCount = given.map(_.count())
    if (LocalGraph.fitsBytes(LocalGraph.estimatedBytes(e.count(), e.schema) +
        givenCount.fold(0L)(LocalGraph.estimatedBytes(_, given.get.schema))))
      return localPageRank(e, given, iters, damping)
    val n = given.getOrElse(e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .dropDuplicates().localCheckpoint(eager = false))
    val nCount = givenCount.getOrElse(n.count()).toDouble
    require(nCount > 0, "pageRank over an empty vertex set")
    // out-degree AFTER parallel-edge collapse; broadcast-joined nowhere —
    // it is corpus-sized, so it rides the same keyed shuffles as edges
    val deg = e.groupBy("src").agg(count(lit(1)).cast(DoubleType).as("deg"))
    val teleport = (1.0 - damping) / nCount

    // The rank relation CARRIES its node's out-degree (null = dangling),
    // joined once up front instead of per iteration: the old loop paid a
    // full shuffled left_anti join (dangling mass) plus an extra deg
    // equi-join per iteration; now dangling mass is a filter+sum over the
    // node-sized rank relation and the contribution join needs no second
    // join (guide §2.4: remove shuffles outright). Numerics are unchanged:
    // the same per-node rank/deg terms are summed per dst, and ranks round
    // to 12 decimals per iteration as before.
    val nd = n.join(deg, n("id") === deg("src"), "left")
      .select(col("id"), col("deg")).localCheckpoint()
    var ranks = nd.withColumn("rank", lit(1.0 / nCount)).localCheckpoint()
    for (_ <- 1 to iters) {
      // dangling mass: one aggregation to a single scalar row (no join —
      // the dangling flag rides the rank relation as deg IS NULL)
      val dangling = ranks.where(col("deg").isNull)
        .agg(coalesce(sum(col("rank")), lit(0.0))).head.getDouble(0)
      val contribs = e.join(ranks, e("src") === ranks("id"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("c"))
      ranks = nd.join(contribs, nd("id") === contribs("dst"), "left")
        .select(col("id"), col("deg"),
          round(lit(teleport) + lit(damping) * (coalesce(col("c"), lit(0.0))
            + lit(dangling / nCount)), 12).as("rank"))
        .localCheckpoint() // k rows per executor partition; constant plan size
    }
    ranks.select(col("id"), round(col("rank"), 9).as("rank"))
  }

  /** [[pageRank]] on the driver over collected (src, dst) edges and node
    * ids. Matches the distributed loop's SQL semantics exactly: the nodes
    * are `n` (or every endpoint), an edge counts towards its source's
    * out-degree even when its target is not a node, and a null id joins
    * nothing — it is dangling and receives no contributions. */
  private def localPageRank(e: DataFrame, n: Option[DataFrame], iters: Int,
                            damping: Double): DataFrame = {
    def id(r: org.apache.spark.sql.Row): java.lang.Long = r.get(0).asInstanceOf[java.lang.Long]
    val preset = n.map(_.collect().toSeq.map(id)).getOrElse(Nil)
    val g = LocalGraph.build(e.collect().map(r => (id(r), r.get(1).asInstanceOf[java.lang.Long])), preset)
    // nodes are ids 0 until nn
    val nn = if (n.isDefined) preset.length else g.size
    require(nn > 0, "pageRank over an empty vertex set")
    // Spark's round(): HALF_UP on the double's decimal form
    def rnd(x: Double, scale: Int) = BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
    val teleport = (1.0 - damping) / nn
    var rank = Array.fill(nn)(1.0 / nn)
    for (_ <- 1 to iters) {
      var dangling = 0.0
      val c = new Array[Double](nn)
      for (u <- 0 until nn) {
        val deg = g.outDegree(u)
        if (deg == 0 || g.keys(u) == null) dangling += rank(u)
        else for (i <- g.offsets(u) until g.offsets(u + 1)) {
          val w = g.targets(i)
          if (w < nn && g.keys(w) != null) c(w) += rank(u) / deg
        }
      }
      rank = Array.tabulate(nn)(v => rnd(teleport + damping * (c(v) + dangling / nn), 12))
    }
    LocalGraph.toDF(e.sparkSession,
      (0 until nn).map(v => org.apache.spark.sql.Row(g.keys(v), rnd(rank(v), 9))),
      StructType(Seq(StructField("id", LongType), StructField("rank", DoubleType))))
  }

  /** In/out degree + dangling flag per node — the cheap structural report. */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")).dropDuplicates("src", "dst")
    val out = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full")
      .select(col("id"), coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("dangling", col("out_deg") === 0L)
  }
}
