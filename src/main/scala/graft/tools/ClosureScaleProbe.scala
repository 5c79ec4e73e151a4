package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.encoding.TermCols

/**
 * Closure at a DATA-BOUND scale (the sf0.1 gate closure is 750k pairs —
 * pure scheduling overhead, so core counts and algorithm changes are
 * invisible there). Synthesises N_CHAINS disjoint chains of CHAIN_LEN nodes
 * (deterministic), runs `?a <urn:next>+ ?b` through the engine, and reports
 * the closure wall time. Edges = N_CHAINS · (CHAIN_LEN − 1), closure size =
 * N_CHAINS · C(CHAIN_LEN, 2). Above about 117k edges the input exceeds the
 * [[graft.ops.LocalGraph]] gate and the closure runs distributed;
 * `-Dgraft.closure.debug=true` prints which path ran and each round.
 *
 * Run: SPARK_GRAFT_CPUS=32 graftrun.sh graft.tools.ClosureScaleProbe [chains] [len]
 * Defaults 100k × 30 → 2.9M edges, 43.5M reachability pairs.
 */
object ClosureScaleProbe {
  def main(args: Array[String]): Unit = {
    val nChains = args.headOption.map(_.toInt).getOrElse(100000)
    val len = args.lift(1).map(_.toInt).getOrElse(30)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    val nEdges = nChains.toLong * (len - 1)
    // edge i: chain c = i / (len-1), pos p = i % (len-1): n<c>_<p> -> n<c>_<p+1>
    val quads = spark.range(nEdges).select(
      TermCols.nullTerm.as("graph"),
      TermCols.iri(concat(lit("urn:n"), (col("id") / (len - 1)).cast("long"),
        lit("_"), pmod(col("id"), lit(len - 1)))).as("subject"),
      TermCols.iri(lit("urn:next")).as("predicate"),
      TermCols.iri(concat(lit("urn:n"), (col("id") / (len - 1)).cast("long"),
        lit("_"), pmod(col("id"), lit(len - 1)) + 1)).as("object"))
      .localCheckpoint()
    println(s"[scale] edges=${quads.count()} chains=$nChains len=$len cpus=$cpus")

    val g = graft.engine.Graft(quads)
    // one pass per JVM by default: localCheckpoint blocks from a previous
    // pass linger (async context cleaner) and skew pass-2 GC/memory numbers
    val passes = args.lift(2).map(_.toInt).getOrElse(1)
    for (pass <- 1 to passes) {
      graft.ops.IndexCache.clearAll()
      val t0 = System.nanoTime()
      val res = g.select("SELECT (COUNT(*) AS ?n) WHERE { ?a <urn:next>+ ?b }")
      val n = graft.engine.Graft.decode(res,
        Map("n" -> org.apache.spark.sql.types.LongType)).collect()(0).getLong(0)
      println(f"[scale] pass $pass closure pairs=$n wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.stop()
  }
}
