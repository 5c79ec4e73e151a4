package graft

import graft.engine.Graft
import graft.model._
import graft.sources.Turtle

/**
 * Randomised property-path differential: random small graphs × random path
 * expressions (link, `^`, `/`, `|`, `!(…)`, `+`, `*`), evaluated by the
 * engine and by a naive driver-side evaluator implementing the SPARQL 1.1
 * path semantics directly — bag semantics for sequence/alternative, SET
 * (ALP) semantics for the closures, zero-length paths matching every graph
 * node. Complements the curated fixtures with unbiased nesting (closure of
 * a sequence, reversed negated sets, alternatives under `+`…). `p?` is left
 * to the curated tests (its cardinality rules are pinned there). Every
 * case runs on both the local and the distributed closure path. Seeds
 * fixed — reproducible.
 */
class RandomPathDifferentialSpec extends SparkSpec {

  private sealed trait P
  private case class PLink(p: Iri) extends P
  private case class PRev(e: P) extends P
  private case class PSeq(a: P, b: P) extends P
  private case class PAlt(a: P, b: P) extends P
  private case class PNeg(ps: Seq[Iri]) extends P
  private case class PPlus(e: P) extends P
  private case class PStar(e: P) extends P

  private def render(e: P): String = e match {
    case PLink(p) => s"<${p.value}>"
    case PRev(i) => s"^(${render(i)})"
    case PSeq(a, b) => s"(${render(a)}/${render(b)})"
    case PAlt(a, b) => s"(${render(a)}|${render(b)})"
    case PNeg(ps) => s"!(${ps.map(p => s"<${p.value}>").mkString("|")})"
    case PPlus(i) => s"(${render(i)})+"
    case PStar(i) => s"(${render(i)})*"
  }

  /** Naive path evaluation over a triple list: Seq = bag (multiplicities
    * preserved); the closures return distinct pairs (ALP). */
  private def evalP(t: Seq[(RdfTerm, Iri, RdfTerm)], e: P): Seq[(RdfTerm, RdfTerm)] = e match {
    case PLink(p) => t.filter(_._2 == p).map(x => (x._1, x._3))
    case PRev(i) => evalP(t, i).map(_.swap)
    case PSeq(a, b) =>
      val bs = evalP(t, b)
      for ((s, m) <- evalP(t, a); (m2, o) <- bs if m == m2) yield (s, o)
    case PAlt(a, b) => evalP(t, a) ++ evalP(t, b)
    case PNeg(ps) => t.filter(x => !ps.contains(x._2)).map(x => (x._1, x._3))
    case PPlus(i) =>
      val base = evalP(t, i).distinct
      var all = base.toSet
      var grew = true
      while (grew) {
        val next = for ((s, m) <- all; (m2, o) <- base if m == m2) yield (s, o)
        val n2 = all ++ next
        grew = n2.size > all.size
        all = n2
      }
      all.toSeq
    case PStar(i) =>
      val nodes: Seq[RdfTerm] = t.flatMap(x => Seq(x._1, x._3)).distinct
      (nodes.map(n => (n, n)) ++ evalP(t, PPlus(i))).distinct
  }

  /** Random path expression: depth-bounded, at most one closure operator
    * (the naive fixpoint stays cheap; nesting under the closure is free). */
  private def randomPath(rnd: scala.util.Random, preds: Seq[Iri],
                         depth: Int, closureBudget: Int): P = {
    val pick = rnd.nextInt(if (depth == 0) 3 else if (closureBudget > 0) 7 else 5)
    pick match {
      case 0 => PLink(preds(rnd.nextInt(preds.size)))
      case 1 => PNeg(Seq.fill(1 + rnd.nextInt(2))(preds(rnd.nextInt(preds.size))).distinct)
      case 2 if depth == 0 => PLink(preds(rnd.nextInt(preds.size)))
      case 2 => PRev(randomPath(rnd, preds, depth - 1, closureBudget))
      case 3 => PSeq(randomPath(rnd, preds, depth - 1, 0),
                     randomPath(rnd, preds, depth - 1, 0))
      case 4 => PAlt(randomPath(rnd, preds, depth - 1, 0),
                     randomPath(rnd, preds, depth - 1, 0))
      case 5 => PPlus(randomPath(rnd, preds, depth - 1, 0))
      case 6 => PStar(randomPath(rnd, preds, depth - 1, 0))
    }
  }

  private def randomCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val nodes = (0 until 5).map(i => Iri(s"urn:n$i"))
    val preds = (0 until 3).map(i => Iri(s"urn:p$i"))
    val triples: Seq[(RdfTerm, Iri, RdfTerm)] = Seq.fill(10 + rnd.nextInt(8))(
      (nodes(rnd.nextInt(nodes.size)): RdfTerm, preds(rnd.nextInt(preds.size)),
        nodes(rnd.nextInt(nodes.size)): RdfTerm)).distinct
    val quads = Turtle.quadsToDF(spark, triples.map(t => RdfQuad(None, t._1, t._2, t._3)))
    val path = randomPath(rnd, preds, depth = 2, closureBudget = 1)
    // endpoints: both vars / constant start / constant end
    val shape = rnd.nextInt(3)
    val start = nodes(rnd.nextInt(nodes.size))
    val end = nodes(rnd.nextInt(nodes.size))
    val (pat, sel) = shape match {
      case 0 => (s"?x ${render(path)} ?y", Seq("x", "y"))
      case 1 => (s"<${start.value}> ${render(path)} ?y", Seq("y"))
      case 2 => (s"?x ${render(path)} <${end.value}>", Seq("x"))
    }
    val q = s"SELECT ${sel.map("?" + _).mkString(" ")} WHERE { $pat }"

    val got = onBothPaths(Graft(quads).select(q).collect().toSeq.map { r =>
      sel.map { v =>
        val i = r.fieldIndex(v)
        if (r.isNullAt(i)) "∅" else r.getStruct(i).getString(1)
      }.mkString(" ")
    }.sorted)

    val pairs = evalP(triples, path)
    val expect = (shape match {
      case 0 => pairs.map { case (s, o) => Seq(s, o) }
      case 1 => pairs.collect { case (s, o) if s == start => Seq(o) }
      case 2 => pairs.collect { case (s, o) if o == end => Seq(s) }
    }).map(_.map { case Iri(x) => x; case o => o.toString }.mkString(" ")).sorted

    assert(got == expect,
      s"seed=$seed\nquery=$q\ntriples=${triples.mkString("; ")}\ngot=$got\nexpect=$expect")
  }

  test("engine matches naive path evaluator on 25 random path cases") {
    (500 to 524).foreach(randomCase)
  }

  /** GRAPH-scoped paths: closure must stay inside each named graph and the
    * graph var must bind — the per-graph scoping is the subtle half of the
    * closure operator (the reference keys its reachability sets by graph,
    * kleene_plus/physical.rs). */
  private def randomGraphPathCase(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val nodes = (0 until 4).map(i => Iri(s"urn:n$i"))
    val preds = (0 until 2).map(i => Iri(s"urn:p$i"))
    val graphs = Seq(Iri("urn:g1"), Iri("urn:g2"))
    val quadList = Seq.fill(12 + rnd.nextInt(6))(
      (graphs(rnd.nextInt(graphs.size)),
        nodes(rnd.nextInt(nodes.size)): RdfTerm, preds(rnd.nextInt(preds.size)),
        nodes(rnd.nextInt(nodes.size)): RdfTerm)).distinct
    val quads = Turtle.quadsToDF(spark,
      quadList.map(q => RdfQuad(Some(q._1), q._2, q._3, q._4)))
    val path = randomPath(rnd, preds, depth = 2, closureBudget = 1)
    val q = s"SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x ${render(path)} ?y } }"

    val got = onBothPaths(Graft(quads).select(q).collect().toSeq.map { r =>
      Seq("g", "x", "y").map { v =>
        val i = r.fieldIndex(v)
        if (r.isNullAt(i)) "∅" else r.getStruct(i).getString(1)
      }.mkString(" ")
    }.sorted)

    val expect = graphs.flatMap { g =>
      val t = quadList.collect { case (gg, s, p, o) if gg == g => (s, p, o) }
      evalP(t, path).map { case (s, o) =>
        Seq(g, s, o).map { case Iri(x) => x; case other => other.toString }.mkString(" ")
      }
    }.sorted
    assert(got == expect,
      s"seed=$seed\nquery=$q\nquads=${quadList.mkString("; ")}\ngot=$got\nexpect=$expect")
  }

  test("engine matches naive path evaluator on 15 random GRAPH-scoped path cases") {
    (600 to 614).foreach(randomGraphPathCase)
  }
}
