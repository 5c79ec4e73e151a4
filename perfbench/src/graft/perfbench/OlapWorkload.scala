package graft.perfbench

import org.apache.spark.sql.Row
import graft.engine.Graft
import graft.sources.RdbToRdf

/**
 * `sparql_olap`: one closed-loop client running read-only, path-free
 * SPARQL queries over the direct mapping of seeded TPC-H-shaped tables.
 * The seed picks the tables' contents, every query constant and the query
 * order of each pass. Each result is checked against plain Spark SQL over
 * the raw parquet tables with the same constants.
 */
object OlapWorkload {

  /** A query: its SPARQL text, the SQL oracle, and an optional per-row
    * normalisation of the engine's cells (GROUP_CONCAT order is
    * implementation-defined). */
  final case class Q(name: String, sparql: String, oracle: String,
                     named: Boolean = false, norm: Seq[String] => Seq[String] = identity)

  private def p(t: String, c: String) = s"<urn:g:$t#$c>"

  def queries(seed: Long): Seq[Q] = {
    val r = Main.rng(seed, "olap constants")
    def any[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    val bal = 5000 + r.nextInt(4500)
    val seg = any(Tpch.Segments)
    val seg2 = any(Tpch.Segments)
    val status = any(Tpch.Statuses)
    val status2 = any(Tpch.Statuses)
    val tp = 200000 + r.nextInt(180000)
    val tp2 = 50000 + r.nextInt(300000)
    val qty = 1 + r.nextInt(40)
    val digits = f"${r.nextInt(100)}%02d"
    val year = 1993 + r.nextInt(5)
    val nk = r.nextInt(25)
    val regionPair = r.shuffle(Tpch.Regions).take(2)
    val askName = any(Tpch.Regions :+ "ATLANTIS")
    val letter = any(Seq("A", "E", "I", "N", "R", "U"))
    val k = 1 + r.nextInt(3)
    Seq(
      Q("region_nations",
        s"""SELECT ?rname (COUNT(?n) AS ?nations) WHERE {
           |  ?n ${p("nation", "ref_region")} ?r . ?r ${p("region", "r_name")} ?rname .
           |} GROUP BY ?rname ORDER BY ?rname""".stripMargin,
        "SELECT r_name, count(*) FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"),
      Q("filter_order",
        s"""SELECT ?name ?bal WHERE {
           |  ?c ${p("customer", "c_name")} ?name . ?c ${p("customer", "c_acctbal")} ?bal .
           |  FILTER(?bal > $bal)
           |} ORDER BY ?name""".stripMargin,
        s"SELECT c_name, c_acctbal FROM customer WHERE c_acctbal > $bal"),
      Q("optional_agg",
        s"""SELECT ?name (COUNT(?o) AS ?orders) WHERE {
           |  ?c ${p("customer", "c_mktsegment")} "$seg" . ?c ${p("customer", "c_name")} ?name .
           |  OPTIONAL { ?o ${p("orders", "ref_customer")} ?c }
           |} GROUP BY ?name ORDER BY ?name""".stripMargin,
        s"""SELECT c_name, count(o_orderkey) FROM customer LEFT JOIN orders ON o_custkey = c_custkey
           |WHERE c_mktsegment = '$seg' GROUP BY c_name""".stripMargin),
      Q("minus",
        s"""SELECT ?name WHERE {
           |  ?c ${p("customer", "c_mktsegment")} "$seg2" . ?c ${p("customer", "c_name")} ?name .
           |  MINUS { ?o ${p("orders", "ref_customer")} ?c . ?o ${p("orders", "o_orderstatus")} "$status" }
           |} ORDER BY ?name""".stripMargin,
        s"""SELECT c_name FROM customer c WHERE c_mktsegment = '$seg2' AND NOT EXISTS
           |(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = '$status')""".stripMargin),
      Q("not_exists",
        s"""SELECT ?name WHERE {
           |  ?c ${p("customer", "c_mktsegment")} "$seg" . ?c ${p("customer", "c_name")} ?name .
           |  FILTER NOT EXISTS { ?o ${p("orders", "ref_customer")} ?c . ?o ${p("orders", "o_orderstatus")} "$status2" }
           |}""".stripMargin,
        s"""SELECT c_name FROM customer c WHERE c_mktsegment = '$seg' AND NOT EXISTS
           |(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = '$status2')""".stripMargin),
      Q("union",
        s"""SELECT ?name WHERE {
           |  { ?x ${p("customer", "ref_nation")} <urn:g:nation/$nk> . ?x ${p("customer", "c_name")} ?name }
           |  UNION { ?x ${p("supplier", "s_name")} ?name }
           |} ORDER BY ?name""".stripMargin,
        s"SELECT c_name FROM customer WHERE c_nationkey = $nk UNION ALL SELECT s_name FROM supplier"),
      Q("exists",
        s"""SELECT ?name WHERE {
           |  ?c ${p("customer", "c_name")} ?name .
           |  FILTER EXISTS { ?o ${p("orders", "ref_customer")} ?c .
           |                  ?o ${p("orders", "o_totalprice")} ?tp . FILTER(?tp > $tp) }
           |} ORDER BY ?name""".stripMargin,
        s"""SELECT c_name FROM customer c WHERE EXISTS
           |(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > $tp)""".stripMargin),
      Q("bind_sum",
        s"""SELECT ?flag (SUM(?rev) AS ?revenue) WHERE {
           |  ?l ${p("lineitem", "l_returnflag")} ?flag . ?l ${p("lineitem", "l_extendedprice")} ?p .
           |  ?l ${p("lineitem", "l_discount")} ?d . ?l ${p("lineitem", "l_quantity")} ?q .
           |  FILTER(?q > $qty)
           |  BIND(?p * (1 - ?d) AS ?rev)
           |} GROUP BY ?flag ORDER BY ?flag""".stripMargin,
        s"""SELECT l_returnflag, sum(l_extendedprice * (1 - l_discount)) FROM lineitem
           |WHERE l_quantity > $qty GROUP BY l_returnflag""".stripMargin),
      Q("distinct_agg",
        s"""SELECT ?status (COUNT(DISTINCT ?c) AS ?custs) (COUNT(?o) AS ?orders) WHERE {
           |  ?o ${p("orders", "o_orderstatus")} ?status . ?o ${p("orders", "ref_customer")} ?c .
           |  ?o ${p("orders", "o_totalprice")} ?tp . FILTER(?tp > $tp2)
           |} GROUP BY ?status ORDER BY ?status""".stripMargin,
        s"""SELECT o_orderstatus, count(DISTINCT o_custkey), count(*) FROM orders
           |WHERE o_totalprice > $tp2 GROUP BY o_orderstatus""".stripMargin),
      Q("string_funcs",
        s"""SELECT ?name ?up ?sub ?len ?repl WHERE {
           |  ?c ${p("customer", "c_name")} ?name .
           |  BIND(UCASE(?name) AS ?up) BIND(SUBSTR(?name, 10, 5) AS ?sub)
           |  BIND(STRLEN(?name) AS ?len) BIND(REPLACE(?name, "Customer", "C") AS ?repl)
           |  FILTER(CONTAINS(?name, "$digits") && STRSTARTS(?name, "Customer"))
           |} ORDER BY ?name""".stripMargin,
        s"""SELECT c_name, upper(c_name), substring(c_name, 10, 5), length(c_name),
           |regexp_replace(c_name, 'Customer', 'C') FROM customer
           |WHERE instr(c_name, '$digits') > 0 AND startswith(c_name, 'Customer')""".stripMargin),
      Q("date_funcs",
        s"""SELECT ?y ?m (COUNT(?o) AS ?n) WHERE {
           |  ?o ${p("orders", "o_orderdate")} ?d .
           |  BIND(YEAR(?d) AS ?y) BIND(MONTH(?d) AS ?m)
           |  FILTER(?y >= $year)
           |} GROUP BY ?y ?m ORDER BY ?y ?m""".stripMargin,
        s"""SELECT year(o_orderdate), month(o_orderdate), count(*) FROM orders
           |WHERE year(o_orderdate) >= $year GROUP BY 1, 2""".stripMargin),
      Q("group_concat",
        s"""SELECT ?rname (GROUP_CONCAT(?nname; SEPARATOR=",") AS ?nations) WHERE {
           |  ?n ${p("nation", "ref_region")} ?r . ?n ${p("nation", "n_name")} ?nname .
           |  ?r ${p("region", "r_name")} ?rname .
           |} GROUP BY ?rname""".stripMargin,
        """SELECT r_name, array_join(sort_array(collect_list(n_name)), ',')
          |FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name""".stripMargin,
        norm = cells => cells.updated(1, cells(1).split(",").sorted.mkString(","))),
      Q("sample",
        s"""SELECT (SAMPLE(?nname) AS ?nname) (COUNT(?c) AS ?custs) WHERE {
           |  ?c ${p("customer", "ref_nation")} ?n . ?n ${p("nation", "n_name")} ?nname .
           |} GROUP BY ?n""".stripMargin,
        "SELECT n_name, count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"),
      Q("optional_chain",
        s"""SELECT ?nname (COUNT(?c) AS ?pairs) WHERE {
           |  { ?c ${p("customer", "c_name")} ?cn . ?c ${p("customer", "ref_nation")} ?cnat .
           |    OPTIONAL { ?cnat ${p("nation", "n_name")} ?nname } }
           |  { ?s ${p("supplier", "s_name")} ?sn . ?s ${p("supplier", "ref_nation")} ?snat .
           |    OPTIONAL { ?snat ${p("nation", "n_name")} ?nname } }
           |} GROUP BY ?nname ORDER BY ?nname""".stripMargin,
        """SELECT n_name, c.cnt * s.cnt FROM nation
          |JOIN (SELECT c_nationkey k, count(*) cnt FROM customer GROUP BY c_nationkey) c ON c.k = n_nationkey
          |JOIN (SELECT s_nationkey k, count(*) cnt FROM supplier GROUP BY s_nationkey) s ON s.k = n_nationkey""".stripMargin),
      Q("values_join",
        s"""SELECT ?rname ?nname WHERE {
           |  VALUES ?rname { "${regionPair(0)}" "${regionPair(1)}" }
           |  ?r ${p("region", "r_name")} ?rname . ?n ${p("nation", "ref_region")} ?r .
           |  ?n ${p("nation", "n_name")} ?nname .
           |} ORDER BY ?rname ?nname""".stripMargin,
        s"""SELECT r_name, n_name FROM nation JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name IN ('${regionPair(0)}', '${regionPair(1)}')""".stripMargin),
      Q("construct",
        s"""CONSTRUCT { ?r <urn:ex:hasNation> ?n } WHERE {
           |  ?n ${p("nation", "ref_region")} ?r . ?n ${p("nation", "n_name")} ?nm .
           |  FILTER(CONTAINS(?nm, "$letter"))
           |}""".stripMargin,
        s"""SELECT DISTINCT concat('urn:g:region/', n_regionkey), 'urn:ex:hasNation',
           |concat('urn:g:nation/', n_nationkey) FROM nation WHERE instr(n_name, '$letter') > 0""".stripMargin),
      Q("ask",
        s"""ASK { ?r ${p("region", "r_name")} "$askName" }""",
        s"SELECT count(*) > 0 FROM region WHERE r_name = '$askName'"),
      Q("lateral",
        s"""SELECT ?rname ?nname WHERE {
           |  ?r ${p("region", "r_name")} ?rname .
           |  LATERAL {
           |    SELECT ?r ?nname WHERE { ?n ${p("nation", "ref_region")} ?r . ?n ${p("nation", "n_name")} ?nname }
           |    ORDER BY ?nname LIMIT $k
           |  }
           |} ORDER BY ?rname ?nname""".stripMargin,
        s"""SELECT r_name, n_name FROM (SELECT r_name, n_name,
           |row_number() OVER (PARTITION BY r_regionkey ORDER BY n_name) rn
           |FROM nation JOIN region ON n_regionkey = r_regionkey) WHERE rn <= $k""".stripMargin),
      Q("graph",
        """SELECT ?g (COUNT(?s) AS ?n) WHERE { GRAPH ?g { ?s ?p ?o } } GROUP BY ?g ORDER BY ?g""",
        """SELECT 'urn:g:graph/region', count(*) * 2 FROM region
          |UNION ALL SELECT 'urn:g:graph/nation', count(*) * 4 FROM nation""".stripMargin,
        named = true),
      Q("join_agg",
        s"""SELECT ?nname (SUM(?p) AS ?rev) WHERE {
           |  ?l ${p("lineitem", "l_extendedprice")} ?p . ?l ${p("lineitem", "ref_orders")} ?o .
           |  ?o ${p("orders", "o_orderstatus")} "$status" . ?o ${p("orders", "ref_customer")} ?c .
           |  ?c ${p("customer", "ref_nation")} ?n . ?n ${p("nation", "n_name")} ?nname .
           |} GROUP BY ?nname ORDER BY ?nname""".stripMargin,
        s"""SELECT n_name, sum(l_extendedprice) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
           |WHERE o_orderstatus = '$status' GROUP BY n_name""".stripMargin))
  }

  final case class Store(dir: String, graft: Graft, namedGraft: Graft)

  /** Generate + persist the tables and map them to RDF; the mapping step is
    * timed as `sources.mapping_s`. */
  def setup(ctx: Ctx, sf: Double, rep: Int): Store = {
    val dir = ctx.path(s"tpch-$rep")
    val tables = Tpch.generate(ctx.spark, ctx.seed, sf, dir)
    val t0 = System.nanoTime()
    val m = RdbToRdf.mapping(ctx.spark, dir, Tpch.Tables)
    val g = Graft(m.quads, m)
    val named = Graft(RdbToRdf.mapping(ctx.spark, dir, Seq("region", "nation"), namedGraphs = true).quads)
    ctx.layer("sources.mapping_s") = (System.nanoTime() - t0) / 1e9
    Tpch.views(tables)
    Store(dir, g, named)
  }

  def scale(ctx: Ctx): Double = if (ctx.smoke) 0.001 else 0.01

  def run(ctx: Ctx): Unit = {
    val sf = scale(ctx)
    var rep = 0
    val mappings = scala.collection.mutable.ArrayBuffer.empty[Double]
    val store = ctx.repeatSetup[Store](3, s => Main.deleteTree(s.dir)) {
      rep += 1
      val s = setup(ctx, sf, rep)
      mappings += ctx.layer("sources.mapping_s")
      s
    }
    ctx.layer("sources.mapping_s") = mappings.sorted.apply(mappings.size / 2)
    val tables = Tpch.Tables.map(t => t -> ctx.spark.table(t)).toMap
    ctx.sizes("quads") = Tpch.quadCount(tables).toDouble
    ctx.sizes("rows") = tables.values.map(_.count()).sum.toDouble
    ctx.sizes("bytes_on_disk") = Main.du(store.dir).toDouble
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try Main.passes(ctx, ops(ctx, store, pool))
    finally pool.shutdown()
  }

  /** The oracles start at once on a pool of their own and overlap the
    * untimed warm pass; a check waits for its oracle. */
  def ops(ctx: Ctx, store: Store, pool: java.util.concurrent.ExecutorService): Seq[Op] =
    queries(ctx.seed).map { q =>
      val want = pool.submit(() => Rows.canon(ctx.spark.sql(q.oracle).collect()))
      val g = if (q.named) store.namedGraft else store.graft
      Op(q.name, "query",
        () => Main.runDf(ctx, Some(q.sparql))(g.query(q.sparql)),
        res => Rows.diff(canonEngine(res.asInstanceOf[Array[Row]], q.norm), want.get()))
    }

  def canonEngine(rows: Array[Row], norm: Seq[String] => Seq[String]): Seq[String] =
    rows.toSeq.map(r => norm((0 until r.length).map(i => Rows.cell(r.get(i)))).mkString("\u0001")).sorted
}
