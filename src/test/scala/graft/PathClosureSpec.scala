package graft

import graft.engine.Graft
import graft.sources.NTriples

/** Transitive-closure paths: seeded walks, cycles, deep chains, nested
  * EXISTS, custom function registry. Every closure case runs on both the
  * local and the distributed path ([[onBothPaths]]). */
class PathClosureSpec extends SparkSpec {

  private val EX = "http://ex.org/"

  test("bound-start p+ only explores reachable nodes (seeded closure)") {
    val g = Graft(NTriples.fromString(spark,
      (1 to 30).map(i => s"<${EX}n$i> <${EX}next> <${EX}n${i + 1}> .").mkString("\n") +
        s"\n<${EX}other1> <${EX}next> <${EX}other2> .\n"))
    val got = onBothPaths(lex(g.select(s"SELECT ?y WHERE { <${EX}n25> <${EX}next>+ ?y }"), "y"))
    assert(got == (26 to 31).map(i => s"${EX}n$i").sorted)
  }

  test("bound-end p+ walks backwards from the object") {
    val g = Graft(NTriples.fromString(spark,
      (1 to 10).map(i => s"<${EX}n$i> <${EX}next> <${EX}n${i + 1}> .").mkString("\n")))
    val got = onBothPaths(lex(g.select(s"SELECT ?x WHERE { ?x <${EX}next>+ <${EX}n3> }"), "x"))
    assert(got == Seq(s"${EX}n1", s"${EX}n2"))
  }

  test("bound-start p* includes the zero-length path") {
    val g = Graft(NTriples.fromString(spark,
      s"""<${EX}a> <${EX}p> <${EX}b> .
         |<${EX}b> <${EX}p> <${EX}c> .
         |""".stripMargin))
    val got = onBothPaths(lex(g.select(s"SELECT ?y WHERE { <${EX}a> <${EX}p>* ?y }"), "y"))
    assert(got == Seq(s"${EX}a", s"${EX}b", s"${EX}c"))
  }

  test("closure terminates on cycles") {
    val g = Graft(NTriples.fromString(spark,
      s"""<${EX}a> <${EX}p> <${EX}b> .
         |<${EX}b> <${EX}p> <${EX}c> .
         |<${EX}c> <${EX}p> <${EX}a> .
         |""".stripMargin))
    val got = onBothPaths(lex(g.select(s"SELECT ?y WHERE { <${EX}a> <${EX}p>+ ?y }"), "y"))
    assert(got == Seq(s"${EX}a", s"${EX}b", s"${EX}c"))
  }

  test("deep chain closure (120 hops) does not blow the lineage") {
    val n = 120
    val g = Graft(NTriples.fromString(spark,
      (1 to n).map(i => s"<${EX}c$i> <${EX}next> <${EX}c${i + 1}> .").mkString("\n")))
    val got = onBothPaths(
      lex(g.select(s"SELECT (COUNT(?y) AS ?c) WHERE { <${EX}c1> <${EX}next>+ ?y }"), "c"))
    assert(got == Seq(n.toString))
  }

  test("paths under GRAPH ?g stay within one graph and bind the graph var") {
    val g = Graft(NTriples.fromString(spark,
      s"""<${EX}a> <${EX}p> <${EX}b> <${EX}g1> .
         |<${EX}b> <${EX}p> <${EX}c> <${EX}g1> .
         |<${EX}b> <${EX}p> <${EX}d> <${EX}g2> .
         |""".stripMargin))
    // closure must not cross graphs: a→b (g1), b→d (g2) must NOT yield a→d
    val got = onBothPaths(
      rows(g.select(s"SELECT ?gr ?y WHERE { GRAPH ?gr { <${EX}a> <${EX}p>+ ?y } }"), "gr", "y"))
    assert(got == Set(Seq(s"${EX}g1", s"${EX}b"), Seq(s"${EX}g1", s"${EX}c")))
    // bound graph scoping
    val got2 = onBothPaths(
      lex(g.select(s"SELECT ?y WHERE { GRAPH <${EX}g2> { ?x <${EX}p>+ ?y } }"), "y"))
    assert(got2 == Seq(s"${EX}d"))
  }

  test("nested EXISTS inside expressions (marker path)") {
    val g = Graft(NTriples.fromString(spark,
      s"""<${EX}a> <${EX}name> "A" .
         |<${EX}a> <${EX}knows> <${EX}b> .
         |<${EX}b> <${EX}name> "B" .
         |""".stripMargin))
    val df = g.select(
      s"""SELECT ?n ?r WHERE { ?x <${EX}name> ?n .
         |BIND(IF(EXISTS { ?x <${EX}knows> ?y }, "yes", "no") AS ?r) } ORDER BY ?n""".stripMargin)
    assert(rows(df, "n", "r") == Set(Seq("A", "yes"), Seq("B", "no")))
  }

  test("closure cache never crosses same-schema stores (key collision regression)") {
    // Two stores with IDENTICAL schema and predicate but different edges: a
    // canonicalized-plan toString alone keys them identically (LogicalRDD
    // prints only its schema, LocalRelation omits its data) and the second
    // query would be served the first store's fixpoint. Guards
    // IndexCache.key's rdd-id + plan-hash components.
    val g1 = Graft(NTriples.fromString(spark,
      s"""<${EX}a> <${EX}e> <${EX}b> .
         |<${EX}b> <${EX}e> <${EX}c> .
         |""".stripMargin))
    val g2 = Graft(NTriples.fromString(spark,
      s"""<${EX}a> <${EX}e> <${EX}x> .
         |<${EX}x> <${EX}e> <${EX}y> .
         |""".stripMargin))
    val q = s"SELECT ?t WHERE { <${EX}a> <${EX}e>+ ?t }"
    val got = onBothPaths(Seq(g1, g2, g1).map(g => lex(g.select(q), "t")))
    // the same store twice is allowed to (and should) reuse its fixpoint
    assert(got == Seq(Seq(s"${EX}b", s"${EX}c"), Seq(s"${EX}x", s"${EX}y"),
      Seq(s"${EX}b", s"${EX}c")))
  }

  test("custom function registry by IRI") {
    import org.apache.spark.sql.functions._
    graft.engine.ExprCompiler.Registry.register(s"${EX}reverse",
      args => graft.encoding.TermCols.str(reverse(graft.encoding.TermCols.value(args(0)))))
    val g = Graft(NTriples.fromString(spark, s"""<${EX}a> <${EX}name> "abc" ."""))
    val df = g.select(
      s"""SELECT ?r WHERE { ?x <${EX}name> ?n . BIND(<${EX}reverse>(?n) AS ?r) }""")
    assert(lex(df, "r") == Seq("cba"))
  }
}
