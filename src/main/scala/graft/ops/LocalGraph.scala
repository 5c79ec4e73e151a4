package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.reflect.ClassTag

/**
 * A small graph held on the driver: endpoints interned to dense int ids
 * (first-seen order) and the edges as a CSR adjacency (`offsets`,
 * `targets`). Iterative graph operators (transitive closure, connected
 * components, PageRank) run their loops over it instead of issuing a few
 * Spark jobs per round, when the edge relation passes [[LocalGraph.fits]].
 *
 * Serializable so it can ride a broadcast; the key → id index stays on the
 * driver.
 */
final class LocalGraph[K] private (val keys: Array[K], val offsets: Array[Int],
                                   val targets: Array[Int],
                                   @transient private val index: java.util.HashMap[K, Integer])
    extends Serializable {

  def size: Int = keys.length

  def outDegree(v: Int): Int = offsets(v + 1) - offsets(v)

  /** The id of a key, when it is a node of the graph (driver only). */
  def id(k: K): Option[Int] = Option(index.get(k)).map(_.intValue)

  /** A reusable traversal: [[LocalGraph.Walker#reach]] allocates nothing
    * per call, so one walker serves every source of a partition. */
  def walker(): LocalGraph.Walker = new LocalGraph.Walker(this)
}

object LocalGraph {

  /** System property holding the gate, a Spark byte string ("24m"); 0
    * disables every local path. */
  val MaxBytesProp = "graft.local.maxBytes"

  /** The gate: 24 MiB of estimated bytes, i.e. 1M (2^20) edges of two
    * longs, or about 117k edges of three RDF term structs. */
  def maxBytes: Long = sys.props.get(MaxBytesProp)
    .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes).getOrElse(24L << 20)

  /** Estimated bytes of `rows` rows of `schema`, costed the way Spark's
    * plan statistics cost a row: 8 bytes of header plus each field's
    * default size (strings at 20 bytes). */
  def estimatedBytes(rows: Long, schema: StructType): Long = rows * (8L + schema.defaultSize)

  /** Whether a relation of `rows` rows of `schema` is small enough to
    * collect to the driver or to broadcast. */
  def fits(rows: Long, schema: StructType): Boolean = fitsBytes(estimatedBytes(rows, schema))

  /** Whether `bytes` estimated bytes pass the gate. */
  def fitsBytes(bytes: Long): Boolean = {
    val m = maxBytes
    m > 0 && bytes <= m
  }

  /** Intern `preset` keys (in order: ids 0 until preset.length) and then
    * every edge endpoint, and build the CSR adjacency of `edges`. Parallel
    * edges are kept; callers dedup first when they must not count twice. */
  def build[K: ClassTag](edges: Array[(K, K)], preset: Seq[K] = Nil): LocalGraph[K] = {
    val index = new java.util.HashMap[K, Integer]()
    val keys = scala.collection.mutable.ArrayBuffer.empty[K]
    def intern(k: K): Int = {
      val have = index.get(k)
      if (have != null) have.intValue
      else { index.put(k, keys.length); keys += k; keys.length - 1 }
    }
    preset.foreach(intern)
    val src = new Array[Int](edges.length)
    val dst = new Array[Int](edges.length)
    var i = 0
    while (i < edges.length) {
      src(i) = intern(edges(i)._1)
      dst(i) = intern(edges(i)._2)
      i += 1
    }
    val offsets = new Array[Int](keys.length + 1)
    src.foreach(s => offsets(s + 1) += 1)
    for (v <- 0 until keys.length) offsets(v + 1) += offsets(v)
    val fill = offsets.clone()
    val targets = new Array[Int](edges.length)
    i = 0
    while (i < edges.length) {
      targets(fill(src(i))) = dst(i)
      fill(src(i)) += 1
      i += 1
    }
    new LocalGraph(keys.toArray, offsets, targets, index)
  }

  /** Depth-first reachability over one graph with its own scratch space. */
  final class Walker private[LocalGraph] (g: LocalGraph[_]) {
    private val mark = new Array[Int](g.size)
    private val stack = new Array[Int](g.size)
    private var stamp = 0

    /** Calls `f` once on every node reachable from `v` over one or more
      * edges — `v` itself only when it lies on a cycle. */
    def reach(v: Int)(f: Int => Unit): Unit = {
      stamp += 1
      var top = 0
      def expand(u: Int): Unit = {
        var i = g.offsets(u)
        val end = g.offsets(u + 1)
        while (i < end) {
          val t = g.targets(i)
          if (mark(t) != stamp) {
            mark(t) = stamp
            stack(top) = t
            top += 1
            f(t)
          }
          i += 1
        }
      }
      expand(v)
      while (top > 0) {
        top -= 1
        expand(stack(top))
      }
    }
  }

  /** A driver-built result as a DataFrame, spread over at most the
    * session's default parallelism. */
  def toDF(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val slices = math.max(1, math.min(rows.size, spark.sparkContext.defaultParallelism))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }
}
