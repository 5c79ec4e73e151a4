package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.encoding.TermCols
import graft.model._
import graft.sparql.Algebra._

/**
 * SPARQL algebra → DataFrame rewriter.
 *
 * Mirrors the walk of the reference's GraphPatternRewriter
 * (/root/reference/lib/execution/src/sparql/rewriting/graph_pattern_rewriter.rs:63-236)
 * but emits Catalyst plans *directly* in lowered form — the reference keeps
 * custom logical nodes only so DataFusion's rules can see schemas before
 * lowering (join/rewrite.rs:15-26); we track per-variable nullability in
 * [[SPlan]] during the walk instead, so the fast equi-join path fires without
 * a separate rule pass.
 *
 * Scale notes: every BGP join is a plain equi-join on term-struct columns
 * (hash-partitionable, broadcast-able, AQE-eligible); the compat fallback
 * (nullable shared vars) only triggers where SPARQL semantics require it.
 * Pattern filters are field-level predicates (`subject.v = …`) so parquet
 * row-group pruning and pushdown apply.
 */
final class Rewriter(spark: SparkSession, quads: DataFrame,
                     fromNamed: Seq[String] = Nil,
                     star: Option[StarSource] = None,
                     fuseStars: Boolean = true,
                     quadStarFusion: Boolean = false,
                     compatUnion: Boolean = true,
                     hasDatasetClause: Boolean = false) {

  import GraphScope._

  /** Named graphs visible to GRAPH patterns (spec §13.2 dataset
    * construction): None = no dataset clause → the store's named graphs;
    * Some(list) = exactly the FROM NAMED list — which is EMPTY when the
    * query has FROM clauses but no FROM NAMED (a dataset description
    * replaces the store dataset wholesale, it does not extend it). */
  private val namedVisible: Option[Seq[String]] =
    if (fromNamed.nonEmpty) Some(fromNamed)
    else if (hasDatasetClause) Some(Nil)
    else None

  private var counter = 0
  private def fresh(p: String): String = { counter += 1; s"__${p}_$counter" }


  /** Project a compiled term expression as a column, materialising complex
    * sub-operands as intermediate columns first (see Env.bind) and dropping
    * them again. Returns the extended frame and the expression's static
    * kind, if derivable. */
  private def withTermColumn(df0: DataFrame, vars: Set[String], kinds: Map[String, Int],
                             name: String, e: Expr,
                             sol: Option[Column] = None): (DataFrame, Option[Int]) = {
    var bdf = df0
    var tmps = List.empty[String]
    val env = ExprCompiler.envOf(vars, kinds, { c =>
      val t = fresh("sub"); bdf = bdf.withColumn(t, c); tmps ::= t; col(t)
    }, sol)
    val compiled = ExprCompiler.term(e, env)
    (bdf.withColumn(name, compiled).drop(tmps: _*), ExprCompiler.bindKind(e, env))
  }

  /** One per-solution uuid column shared by a run of sequential BINDs /
    * select expressions / group-key+aggregate-arg sets, so labeled BNODEs
    * agree within a solution (spec §17.4.2.9). Scope is the RUN, not the
    * whole query: two BIND runs separated by a triple pattern (or a BIND vs
    * a select expression) get distinct nonces, so a labeled bnode is fresh
    * across solutions everywhere, but same-solution identity holds only
    * within one run — a documented approximation (tracking one nonce across
    * joins would force it through every operator's column bookkeeping).
    * Returns (df-with-column, Some(ref)) only when some expression in the
    * run uses the labeled form. */
  private def solNonce(df: DataFrame, exprs: Seq[Expr]): (DataFrame, Option[String]) =
    if (exprs.exists(ExprCompiler.usesLabeledBnode)) {
      val n = fresh("sol"); (df.withColumn(n, expr("uuid()")), Some(n))
    } else (df, None)

  // ================================================================ patterns

  def pattern(p: GraphPattern, scope: GraphScope): SPlan = p match {
    case BnodeScope(inner) => pattern(inner, scope) // validation marker only
    case Bgp(Nil) => unitPlan
    case Bgp(ps) =>
      // BGP self-joins over the quad relation: sides are similar-sized slices
      // of the same table, where Catalyst's static estimate (post-filter) is
      // unreliable and tends to broadcast half the table. Hint shuffle-hash;
      // genuinely small sides still end up broadcast via AQE when unhinted
      // joins surround this, and shuffle-hash on small data is near-free.
      // EXCEPT: a pattern whose scan partition- or branch-prunes to a
      // provably small relation (Rewriter.statSmall — predicate-partitioned
      // store directory, or one small mapped table) broadcasts instead:
      // the join then needs no exchange on EITHER side (r9, guide §3.1;
      // the 17-pattern wind-farm BGP had 25 exchanges for 14 16-KB
      // metadata predicates).
      bgpPlans(ps, scope).reduce { (a, b) =>
        // a structurally-tiny side broadcasts instead (see join) — don't
        // pre-commit it to a shuffle
        val b2 = if (a.tiny || b.tiny) b
                 else if (Rewriter.statSmall(b.df)) b.copy(df = broadcast(b.df))
                 else b.copy(df = b.df.hint("shuffle_hash"))
        join(a, b2, "inner", None, scope)
      }
    case PathPattern(s, path, o) => pathPattern(s, path, o, scope)
    case Join(l, r) => join(pattern(l, scope), pattern(r, scope), "inner", None, scope)
    case LeftJoin(l, r, f) => join(pattern(l, scope), pattern(r, scope), "left", f, scope)
    case Filter(e, i) => pushWholeExists(e, i) match {
      case Some(rewritten) => pattern(rewritten, scope)
      case None => filterPlan(pattern(i, scope), e, scope)
    }
    case Union(l, r) => union(pattern(l, scope), pattern(r, scope))
    case ext: Extend =>
      // Fold the maximal run of nested BINDs at once: they extend ONE
      // solution mapping sequentially, so labeled BNODEs across the run
      // must share the per-solution nonce.
      @annotation.tailrec
      def peel(p: GraphPattern, acc: List[(Var, Expr)]): (GraphPattern, List[(Var, Expr)]) =
        p match {
          case Extend(i, v, e) => peel(i, (v, e) :: acc)
          case other => (other, acc)
        }
      val (base, binds) = peel(ext, Nil)
      var cur = pattern(base, scope)
      val (df0, solName) = solNonce(cur.df, binds.map(_._2))
      cur = cur.copy(df = df0)
      binds.foreach { case (v, e) =>
        val in = cur
        val (expr2, plan2) = rewriteExists(e, in, scope)
        val (df, kind) = withTermColumn(plan2.df, plan2.vars.toSet, plan2.kinds,
          v.name, expr2, solName.map(col))
        cur = SPlan(df, in.vars :+ v.name, in.maybeUnbound + v.name,
          plan2.kinds ++ kind.map(v.name -> _), in.tiny)
      }
      solName.foreach(n => cur = cur.copy(df = cur.df.drop(n)))
      cur
    case Minus(l, r) => minus(pattern(l, scope), pattern(r, scope))
    case ValuesPattern(vars, rows) => values(vars, rows)
    case GraphGraph(name, inner) => name match {
      case TermPat(Iri(iri)) => pattern(inner, Named(iri))
      case TermPat(t) => throw new IllegalArgumentException(s"GRAPH needs an IRI or variable, got $t")
      case VarPat(v) => pattern(inner, NamedVar(v.name))
      case BNodePat(l) => pattern(inner, NamedVar("__bnode_" + l))
    }
    case Group(inner, keys, aggs) => group(pattern(inner, scope), keys, aggs, scope)
    case SubSelect(q) => select(q, scope)
    case Lateral(l, r) => lateral(pattern(l, scope), r, scope)
    case Service(ep, inner, silent) =>
      // Federation over the SPARQL protocol — beyond the reference (which
      // parses SERVICE but evaluates a lazily-erroring stream). BGP-bodied
      // blocks against a constant IRI endpoint execute remotely and land as
      // a broadcastable local relation (the VALUES shape); unsupported
      // bodies / variable endpoints keep the reference's observable
      // empty-relation behaviour; transport errors honour SILENT.
      def emptyService: SPlan = {
        val vars = inScopeVars(inner).map(_.name)
        SPlan(spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(vars.map(v => StructField(v, graft.encoding.TermCols.schema)))),
          vars, vars.toSet)
      }
      (ep, ServiceExecutor.render(inner)) match {
        case (TermPat(Iri(endpoint)), Some(queryText)) =>
          try {
            val (vars0, rows) = ServiceExecutor.execute(endpoint, queryText)
            // bnode-pattern placeholders joined remotely but are not in
            // scope — drop exactly the names the renderer generated, so a
            // genuine user variable that merely looks like one survives
            val placeholders = ServiceExecutor.bnodePlaceholders(inner)
            val vars = vars0.filterNot(placeholders.contains)
            values(vars.map(Var(_)),
              rows.map(m => vars.map(m.get)))
          } catch {
            case e: Throwable if silent => emptyService
          }
        case (TermPat(Iri(_)), None) if !silent =>
          // non-SILENT + unserialisable body on a REAL endpoint: erroring
          // beats silently returning nothing — the user is actively
          // federating and would otherwise lose solutions invisibly
          throw new UnsupportedOperationException(
            "SERVICE body contains constructs that cannot be serialised for federation; " +
            "use SERVICE SILENT to degrade to the empty relation")
        case _ =>
          // variable / non-IRI endpoints: the reference's SERVICE stream is
          // lazily-erroring, so branches never consumed behave as empty
          // (oxigraph-tests ask_{union,join}_error_* pin this observable)
          emptyService
      }
  }

  /** Single-row zero-variable relation — the join identity
    * (reference lib/logical/src/logical_plan_builder_context.rs:161-170). */
  private def unitPlan: SPlan = SPlan(spark.range(1).select(), Nil, Set.empty, tiny = true)

  // ---------------------------------------------------------------- scanning

  /** Quads scoped to the active graph: returns (df, graphVar bound?). */
  private def scopedQuads(scope: GraphScope): (DataFrame, Option[String]) = scope match {
    case DefaultGraph => (quads.filter(col("graph").isNull), None)
    case Named(iri) =>
      // with a dataset clause, GRAPH <iri> only matches listed graphs
      val ok = namedVisible.forall(_.contains(iri))
      (quads.filter(lit(ok) && col("graph.t") === TermType.Iri && col("graph.v") === iri), None)
    case NamedVar(v) =>
      val base = quads.filter(col("graph").isNotNull)
      val df = namedVisible match {
        case None => base
        case Some(Nil) => base.filter(lit(false)) // FROM-only: no named graphs
        case Some(l) => base.filter(col("graph.v").isin(l: _*))
      }
      (df, Some(v))
    case UnionOf(iris) =>
      // FROM merge semantics: triples from any listed graph, deduplicated.
      // UnionOf(Nil) = the EMPTY default graph (FROM NAMED / USING NAMED
      // without FROM/USING — §13.2 dataset construction).
      val member =
        if (iris.isEmpty) lit(false)
        else col("graph.t") === TermType.Iri && col("graph.v").isin(iris: _*)
      (quads.filter(member)
        .select(col("subject"), col("predicate"), col("object")).dropDuplicates()
        .withColumn("graph", TermCols.nullTerm), None)
  }

  /** Field-level equality predicate for a bound term in a pattern slot —
    * stays pushdown-friendly (subject.v = '…' reaches the parquet scan). */
  private def termFilter(c: Column, t: RdfTerm): Column = t match {
    case Iri(v) => c.getField("t") === TermType.Iri && c.getField("v") === v
    case BNode(v) => c.getField("t") === TermType.BlankNode && c.getField("v") === v
    case Lit(v, dt, lang) =>
      val dtCanon = if (lang.isEmpty && (dt == null || dt == Xsd.string)) null
                    else if (lang.isDefined) Rdf.langString else dt
      c.getField("t") === TermType.Literal && c.getField("v") === v &&
        c.getField("dt") <=> lit(dtCanon) && c.getField("lang") <=> lit(lang.orNull)
  }

  private def varName(tp: TermPattern): Option[String] = tp match {
    case VarPat(v) => Some(v.name)
    case BNodePat(l) => Some("__bnode_" + l)
    case TermPat(_) => None
  }

  /** One triple pattern → filters + projection
    * (reference lib/logical/src/patterns/rewrite.rs:29-196). */
  private def scanTriple(tp: TriplePattern, scope: GraphScope): SPlan = {
    val (df0, gvar) = scopedQuads(scope)
    val slots = Seq("subject" -> tp.s, "predicate" -> tp.p, "object" -> tp.o)
    var df = df0
    // bound terms → field-level filters
    slots.foreach { case (c, pat) =>
      pat match {
        case TermPat(t) => df = df.filter(termFilter(col(c), t))
        case _ =>
      }
    }
    // repeated variables (?a ?a ?b) → sameTerm filters
    val varSlots: Seq[(String, String)] =
      slots.flatMap { case (c, pat) => varName(pat).map(v => v -> c) } ++
        gvar.map(v => v -> "graph")
    varSlots.groupBy(_._1).foreach { case (_, occ) =>
      occ.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ =>
      }
    }
    val outVars = varSlots.map(_._1).distinct
    val proj = varSlots.groupBy(_._1).view.mapValues(_.head._2).toMap
    // static numeric kind of the object var, when the source can vouch for
    // every object of a bound predicate (relational mapping column type)
    val kinds = (tp.p, varName(tp.o)) match {
      case (TermPat(Iri(p)), Some(ov)) if varName(tp.s) != varName(tp.o) =>
        star.flatMap(_.predKind(p)).map(k => Map(ov -> k)).getOrElse(Map.empty)
      case _ => Map.empty[String, Int]
    }
    // a bound subject structurally bounds the scan (one node's out-degree) —
    // joins may broadcast it at any data scale
    val boundSubject = tp.s match { case TermPat(_) => true; case _ => false }
    SPlan(df.select(outVars.map(v => col(proj(v)).as(v)): _*), outVars, Set.empty, kinds,
      tiny = boundSubject)
  }

  // ------------------------------------------------------------- star fusion

  /**
   * BGP → per-pattern plans, with same-subject star fusion: patterns that
   * share a subject variable, have a bound IRI predicate, and whose
   * predicates co-locate in one base relation of the [[StarSource]] compile
   * to ONE scan of that relation instead of N quad scans + N−1 subject
   * joins. Output order preserves each pattern/group's first occurrence so
   * the surrounding join fold keeps its shape.
   *
   * Semantics: the star scan is exactly the inner same-subject join of the
   * group's patterns (StarSource contract), so fusing is join-associativity,
   * nothing more. Fusion only applies in the default graph — named-graph
   * scopes fall back to quad scans.
   */
  private def bgpPlans(ps: Seq[TriplePattern], scope: GraphScope): Seq[SPlan] = {
    if (!fuseStars || scope != DefaultGraph) return ps.map(scanTriple(_, scope))
    def fusible(tp: TriplePattern): Option[(String, String)] = (tp.p, varName(tp.s)) match {
      case (TermPat(Iri(p)), Some(sv)) => Some((sv, p))
      case _ => None
    }
    // group key: subject variable; groups of ≥2 fusible patterns become one
    // scan through the mapped property table when the StarSource answers the
    // star. The GENERIC quad-star aggregation (quadStarPlan) is opt-in only:
    // measured in both storage regimes it loses — on a pruned columnar
    // layout, N predicate-pushdown scans + codegen'd hash joins beat one
    // disjunction scan + a non-codegen object-hash aggregate (wind-farm
    // probe: every query faster unfused), and on an RDD-backed 20M-quad
    // store the collect-list aggregate is ~4× the join plan (ScaleProbe
    // star BGP 19.7s fused vs 4.5s unfused). It remains available for
    // stores where rescanning is catastrophically expensive (e.g. a remote
    // source read over the network).
    val groups: Map[String, Seq[TriplePattern]] =
      ps.flatMap(tp => fusible(tp).map { case (sv, _) => sv -> tp })
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val fused = scala.collection.mutable.Map.empty[String, SPlan]
    for ((sv, group) <- groups if group.size >= 2) {
      val preds = group.map(tp => fusible(tp).get._2)
      val viaMapped = star.filter(_ => scope == DefaultGraph)
        .flatMap(_.starScan(preds).map { case (df, names) => starPlan(df, names, sv, group) })
      viaMapped.orElse(
        if (quadStarFusion) Some(quadStarPlan(sv, group, scope)) else None
      ).foreach(fused(sv) = _)
    }
    // emit: fused plan at its group's first pattern, others individually
    val emitted = scala.collection.mutable.Set.empty[String]
    ps.flatMap { tp =>
      fusible(tp).map(_._1).filter(fused.contains) match {
        case Some(sv) =>
          if (emitted.add(sv)) Some(fused(sv)) else None
        case None => Some(scanTriple(tp, scope))
      }
    }
  }

  /**
   * Same-subject star over the raw quad relation — the property-table access
   * path for ANY quad store, not just the relational mapping: ONE
   * predicate-disjunction scan + one groupBy(subject) replaces N quad scans
   * + N−1 subject equi-joins. Each pattern becomes an aggregation arm:
   * variable objects collect their matches into a list (exploded afterwards,
   * so multi-valued predicates keep exact bag semantics — the cross product
   * of the group's lists IS the same-subject join), bound objects become a
   * match count (presence filter + a sequence-explode that replays the join
   * multiplicity, exact even if the dataset holds duplicate quads). Bound
   * object values stay in the scan disjunction, so selective patterns still
   * prune at the parquet level.
   *
   * Scale shape: shuffle volume = the matching quads, once (the join path
   * shuffles the same rows once per side plus every intermediate); the scan
   * is one pass with field-level pushdown instead of N.
   */
  private def quadStarPlan(subjVar: String, group0: Seq[TriplePattern],
                           scope: GraphScope): SPlan = {
    val group = group0.distinct // a duplicated pattern joins idempotently; fuse it once
    val (df0, _) = scopedQuads(scope)
    def predOf(tp: TriplePattern): String = tp.p match {
      case TermPat(Iri(p)) => p
      case other => throw new IllegalStateException(s"unfusible predicate $other")
    }
    // scan keeps only rows some pattern can match, with bound-object values
    // in the disjunction (pushdown-friendly field predicates)
    val patMatch: Seq[Column] = group.map { tp =>
      val pm = col("predicate.t") === TermType.Iri && col("predicate.v") === predOf(tp)
      tp.o match {
        case TermPat(t) => pm && termFilter(col("object"), t)
        case _ => pm
      }
    }
    val scan = df0.filter(patMatch.reduce(_ || _))
    val arms = group.zipWithIndex.map { case (tp, i) =>
      tp.o match {
        case TermPat(_) => sum(when(patMatch(i), 1L)).as(s"__c$i")
        case _ => collect_list(when(patMatch(i), col("object"))).as(s"__o${i}_l")
      }
    }
    var df = scan.groupBy(col("subject")).agg(arms.head, arms.tail: _*)
    group.zipWithIndex.foreach { case (tp, i) =>
      tp.o match {
        case TermPat(_) =>
          // presence + multiplicity (count of matching quads; 1 for a set)
          df = df.filter(col(s"__c$i") >= 1L)
          df = df.select(col("*"), explode(sequence(lit(1L), col(s"__c$i"))).as(s"__m$i"))
            .drop(s"__c$i", s"__m$i")
        case _ =>
          // empty list = pattern unmatched for this subject → explode drops it
          df = df.select(col("*"), explode(col(s"__o${i}_l")).as(s"__o$i"))
            .drop(s"__o${i}_l")
      }
    }
    val objSlots: Seq[(String, String)] = group.zipWithIndex.flatMap { case (tp, i) =>
      varName(tp.o).map(v => v -> s"__o$i")
    }
    val slots = (subjVar -> "subject") +: objSlots
    slots.groupBy(_._1).foreach { case (_, occ) =>
      occ.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ =>
      }
    }
    val outVars = slots.map(_._1).distinct
    val proj = slots.groupBy(_._1).view.mapValues(_.head._2).toMap
    val kinds = group.flatMap { tp =>
      varName(tp.o) match {
        case Some(ov) if ov != subjVar => star.flatMap(_.predKind(predOf(tp))).map(ov -> _)
        case _ => None
      }
    }.toMap
    SPlan(df.select(outVars.map(v => col(proj(v)).as(v)): _*), outVars, Set.empty, kinds)
  }

  /** Build the SPlan for one fused star group over the star-scan DataFrame
    * (columns: subject + one term column per predicate). Bound objects become
    * filters; repeated variables (incl. subject-as-object) become equality
    * filters — same treatment as scanTriple. */
  private def starPlan(df0: DataFrame, predCol: Map[String, String],
                       subjVar: String, group: Seq[TriplePattern]): SPlan = {
    var df = df0
    val kinds = scala.collection.mutable.Map.empty[String, Int]
    val objSlots: Seq[(String, String)] = group.flatMap { tp =>
      val (ocol, pred) = tp.p match {
        case TermPat(Iri(p)) => (predCol(p), p)
        case other => throw new IllegalStateException(s"unfusible pattern $other")
      }
      tp.o match {
        case TermPat(t) => df = df.filter(termFilter(col(ocol), t)); None
        case other => varName(other).filter(_ != subjVar).foreach { v =>
            star.flatMap(_.predKind(pred)).foreach(kinds(v) = _)
          }
          varName(other).map(v => v -> ocol)
      }
    }
    val slots = (subjVar -> "subject") +: objSlots
    slots.groupBy(_._1).foreach { case (_, occ) =>
      occ.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ =>
      }
    }
    val outVars = slots.map(_._1).distinct
    val proj = slots.groupBy(_._1).view.mapValues(_.head._2).toMap
    SPlan(df.select(outVars.map(v => col(proj(v)).as(v)): _*), outVars, Set.empty,
      kinds.toMap)
  }

  // ------------------------------------------------------------------- joins

  /** Static-kind merge across a join: a shared variable keeps its kind only
    * when both sides vouch for the same one (join compatibility makes the
    * values equal, so agreeing claims stay true); side-exclusive variables
    * keep their side's kind. */
  private def mergeKinds(l: SPlan, r: SPlan): Map[String, Int] = {
    val ks = (l.kinds.keySet ++ r.kinds.keySet).flatMap { v =>
      (l.kinds.get(v), r.kinds.get(v)) match {
        case (Some(a), Some(b)) => if (a == b) Some(v -> a) else None
        case (Some(a), None) => if (!r.vars.contains(v)) Some(v -> a) else None
        case (None, Some(b)) => if (!l.vars.contains(v)) Some(v -> b) else None
        case _ => None
      }
    }
    ks.toMap
  }

  /** SPARQL join (reference SparqlJoinLoweringRule,
    * lib/logical/src/join/rewrite.rs:23-361): equi-join when every shared
    * variable is definitely bound on both sides, compat join otherwise. */
  private def join(l: SPlan, r: SPlan, joinType: String, filter: Option[Expr],
                   scope: GraphScope, idKeys: Seq[String] = Nil): SPlan = {
    val shared = l.vars.filter(v => r.vars.contains(v) && !idKeys.contains(v))
    val rOnly = r.vars.filterNot(v => shared.contains(v) || idKeys.contains(v))
    val outVars = l.vars ++ rOnly

    val needCompat = shared.exists(v => l.isNullable(v) || r.isNullable(v))
    val outTiny = l.tiny && r.tiny
    // structurally-bounded sides broadcast: Catalyst can't see the bound
    // (post-filter estimates over the quad relation are unreliable), and for
    // variable-free joins this turns CartesianProduct — whose partition count
    // MULTIPLIES when BGP components chain — into a BroadcastNestedLoopJoin
    // that keeps the streamed side's partitioning. BuildLeft/left-outer is
    // an illegal combo, so a tiny left only broadcasts on inner joins.
    val rdf = if (r.tiny) broadcast(r.df) else r.df
    val ldf = if (l.tiny && !r.tiny && joinType == "inner") broadcast(l.df) else l.df

    if (idKeys.isEmpty) {
      if (shared.isEmpty && filter.isEmpty) {
        // Runtime-adaptive cartesian: CartesianProduct launches |left parts| ×
        // |right parts| tasks and multiplies through chained components
        // (BSBM BI-Q4's DISTINCT-subquery × pattern-block shape). An
        // aggregate/distinct-rooted side is usually small but Catalyst's
        // static stats can't see it — materialise such a side once (the
        // cross join would materialise it anyway) and broadcast if its
        // actual size permits, turning the cartesian into a
        // BroadcastNestedLoopJoin that preserves the streamed side's
        // partitioning. Counting a non-small side costs one pass over an
        // already-needed intermediate; sides without aggregation are left
        // alone (could be the whole corpus).
        var (ldf2, rdf2) = (ldf, rdf)
        if (!l.tiny && !r.tiny) {
          def aggRooted(df: DataFrame): Boolean =
            df.queryExecution.analyzed.find { n =>
              val c = n.getClass.getSimpleName
              c == "Aggregate" || c == "Deduplicate" || c == "Distinct"
            }.isDefined
          def adapt(df: DataFrame): DataFrame = {
            val mat = df.localCheckpoint()
            if (mat.count() <= Rewriter.CrossBroadcastRows) broadcast(mat) else mat
          }
          if (aggRooted(rdf2)) rdf2 = adapt(rdf2)
          else if (joinType == "inner" && aggRooted(ldf2)) ldf2 = adapt(ldf2)
        }
        val df = if (joinType == "inner") ldf2.crossJoin(rdf2)
                 else ldf2.join(rdf2, lit(true), "left")
        val mu = l.maybeUnbound ++ (if (joinType == "left") r.vars.toSet else r.maybeUnbound)
        return SPlan(df, outVars, mu, mergeKinds(l, r), outTiny)
      }
      if (!needCompat && filter.isEmpty) {
        // fast path: plain equi-join. A genuinely-small right side still
        // broadcasts (estimates for these shapes over-state, so a small
        // verdict is safe); anything else is hinted shuffle_hash — the
        // default preferSortMergeJoin would otherwise plan SMJ for the
        // mid-size checkpointed relations path/closure composition feeds
        // through here (same shuffle + two sorts; guide §3.1).
        val rdf2 = if (r.tiny) rdf else Rewriter.shuffleHashUnlessSmall(rdf)
        val df = ldf.join(rdf2, shared, joinType)
        val mu0 = l.maybeUnbound ++ r.maybeUnbound -- shared
        val mu = if (joinType == "left") mu0 ++ rOnly else mu0
        return SPlan(df, outVars, mu, mergeKinds(l, r), outTiny)
      }
    }

    // No-equi compat join: when idKeys is empty and EVERY shared variable is
    // nullable on some side, the condition below is pure isCompatible(...) —
    // Catalyst extracts no equi keys and plans a BroadcastNestedLoopJoin,
    // O(n·m) work with two large sides (the OPTIONAL-chain shape). Rewrite as
    // a union over null-pattern slices: slice pairs that share a bound
    // variable hash-join on it; pairs where every shared var is null on one
    // side are all-compatible, so their cross is proportional to the
    // operator's OUTPUT — inherent result size, not a plan defect. The
    // reference keeps the theta filter (lib/logical/src/join/rewrite.rs:
    // 183-221 + is_compatible.rs:18-100); this is exceed-the-reference work
    // per SURVEY §2.3.
    // (both-sides-tiny keeps the theta path: structurally bounded BNLJ work
    // beats the rewrite's fixed costs — measured crossover ~10k rows/side,
    // tools/CompatUnionProbe)
    // (branch count = 2^(nullable-left + nullable-right); compare EXPONENTS —
    // a shift product would overflow Long for ~63 nullable vars and bypass
    // the cap on a hostile query)
    if (compatUnion && !(l.tiny && r.tiny) && idKeys.isEmpty && shared.nonEmpty &&
        shared.forall(v => l.isNullable(v) || r.isNullable(v)) &&
        shared.count(l.isNullable) + shared.count(r.isNullable)
          <= Rewriter.CompatUnionMaxBranchBits)
      return compatUnionJoin(l, r, joinType, filter, shared, rOnly, outVars, outTiny)

    // general path: explicit condition (native-typed idKey equality + compat
    // per shared var + LeftJoin filter inside the condition, SPARQL
    // semantics), then coalesce shared columns
    thetaCompatJoin(l, r, joinType, filter, shared, rOnly, outVars, outTiny,
      idKeys, ldf, r.df, broadcastRight = r.tiny)
  }

  /** The explicit-condition (theta) compat join — the general fallback and
    * the measured-small-sides path of the compat-union rewrite (which hands
    * in its already-checkpointed inputs so the materialisation isn't paid
    * twice). */
  private def thetaCompatJoin(l: SPlan, r: SPlan, joinType: String,
                              filter: Option[Expr], shared: Seq[String],
                              rOnly: Seq[String], outVars: Seq[String],
                              outTiny: Boolean, idKeys: Seq[String],
                              ldf: DataFrame, rdfIn: DataFrame,
                              broadcastRight: Boolean): SPlan = {
    val rr0 = rdfIn.select(r.vars.map(v => col(v).as("__r_" + v)): _*)
    val rr = if (broadcastRight) broadcast(rr0) else rr0
    val idCond = idKeys.map(k => col(k) === col("__r_" + k))
    val compat = shared.map { v =>
      if (!l.isNullable(v) && !r.isNullable(v)) col(v) === col("__r_" + v)
      else TermCols.isCompatible(col(v), col("__r_" + v))
    }
    val filterCond = filter.map { f =>
      val env: ExprCompiler.Env = name =>
        if (shared.contains(name)) coalesce(col(name), col("__r_" + name))
        else if (l.vars.contains(name)) col(name)
        else if (r.vars.contains(name)) col("__r_" + name)
        else TermCols.nullTerm
      ExprCompiler.ebv(f, env)
    }
    val cond = (idCond ++ compat ++ filterCond).reduceOption(_ && _).getOrElse(lit(true))
    val joined = ldf.join(rr, cond, joinType)
    val out = outVars.map { v =>
      if (shared.contains(v)) coalesce(col(v), col("__r_" + v)).as(v)
      else if (l.vars.contains(v)) col(v)
      else col("__r_" + v).as(v)
    }
    val muShared = shared.filter(v =>
      if (joinType == "left") l.isNullable(v)
      else l.isNullable(v) && r.isNullable(v)).toSet
    val mu = (l.maybeUnbound -- shared) ++ muShared ++
      (if (joinType == "left") rOnly.toSet
       else r.maybeUnbound.filter(rOnly.contains))
    SPlan(joined.select(out: _*), outVars, mu, mergeKinds(l, r), outTiny)
  }

  /** All subsets of `vs` — the null patterns of a side's nullable shared
    * vars in the compat-union rewrites. */
  private def subsets(vs: Seq[String]): Seq[Set[String]] =
    vs.foldLeft(Seq(Set.empty[String]))((acc, v) => acc ++ acc.map(_ + v))

  /** Rows per null pattern of `vs` (one aggregation, tiny driver result). */
  private def nullPatternCounts(df: DataFrame, vs: Seq[String],
                                pre: String): Map[Set[String], Long] =
    if (vs.isEmpty) Map.empty
    else df.groupBy(vs.map(v => col(pre + v).isNull.as(v)): _*).count()
      .collect().map { row =>
        (vs.zipWithIndex.collect { case (v, i) if row.getBoolean(i) => v }.toSet,
          row.getLong(vs.size))
      }.toMap

  /** Compat join with no equi component, as a union of null-pattern equi-join
    * slices (see the call site in [[join]] for why). Each side splits by
    * which of its nullable shared vars are NULL; a (leftPattern,
    * rightPattern) pair equi-joins on the vars bound in BOTH patterns —
    * compatibility holds for free on the rest (null on ≥1 side). LeftJoin
    * decomposes as inner-matches ∪ (unmatched left rows, null-padded),
    * keyed by a stable per-row id so bag semantics survive. Both sides are
    * localCheckpoint'ed: each is scanned once per null-pattern, and the
    * row id must not be recomputed across plan subtrees. */
  private def compatUnionJoin(l: SPlan, r: SPlan, joinType: String,
                              filter: Option[Expr], shared: Seq[String],
                              rOnly: Seq[String], outVars: Seq[String],
                              outTiny: Boolean): SPlan = {
    val ln = shared.filter(l.isNullable)
    val rn = shared.filter(r.isNullable)
    val rowId = fresh("lrow")
    val ldf0 =
      if (joinType == "left") l.df.withColumn(rowId, monotonically_increasing_id())
      else l.df
    // both sides are scanned once per (leftPattern, rightPattern) branch —
    // 2^|ln| × 2^|rn| times — so both checkpoint unconditionally (the
    // trigger guarantees ≥2 branches); the row id additionally must not be
    // recomputed across plan subtrees
    val ldf = ldf0.localCheckpoint()
    val rdf0 = r.df.localCheckpoint()

    // Null-pattern histogram per side (one cheap aggregation over the
    // checkpointed relation): empty slices prune their branches from the
    // PLAN — on data where OPTIONAL always matched, every cross branch
    // vanishes and only hash joins remain — and tiny null slices broadcast
    // in the cross branches that survive.
    val lCounts = nullPatternCounts(ldf, ln, "")
    val rCounts0 = nullPatternCounts(rdf0, rn, "")

    // Measured-size gate (r6, ADVICE): the trigger is structural, but the
    // rewrite's fixed costs only pay off above a measured ~10k-rows/side
    // crossover (tools/CompatUnionProbe — at 5k/side theta wins 1.6 s vs
    // 3.3 s, at 20k/side the union wins 10×). The histograms give the
    // totals for free; both sides small → run the theta join ON THE
    // CHECKPOINTED inputs, so the one materialisation is reused, not wasted.
    val lTotal = if (ln.isEmpty) ldf.count() else lCounts.values.sum
    val rTotal = if (rn.isEmpty) rdf0.count() else rCounts0.values.sum
    if (lTotal <= Rewriter.CompatUnionMinRows && rTotal <= Rewriter.CompatUnionMinRows)
      return thetaCompatJoin(l, r, joinType, filter, shared, rOnly, outVars,
        outTiny, Nil, ldf.drop(rowId), rdf0,
        broadcastRight = r.tiny || rTotal <= Rewriter.CrossBroadcastRows)

    val rdf = rdf0.select(r.vars.map(v => col(v).as("__r_" + v)): _*)
    val rCounts = rCounts0
    def sliceRows(counts: Map[Set[String], Long], vs: Seq[String], nulls: Set[String]): Long =
      if (vs.isEmpty) Long.MaxValue else counts.getOrElse(nulls, 0L)
    val filterCond = filter.map { f =>
      val env: ExprCompiler.Env = name =>
        if (shared.contains(name)) coalesce(col(name), col("__r_" + name))
        else if (l.vars.contains(name)) col(name)
        else if (r.vars.contains(name)) col("__r_" + name)
        else TermCols.nullTerm
      ExprCompiler.ebv(f, env)
    }
    val branches = for {
      aNull <- subsets(ln)
      bNull <- subsets(rn)
      lRows = sliceRows(lCounts, ln, aNull)
      rRows = sliceRows(rCounts, rn, bNull)
      if lRows > 0 && rRows > 0
    } yield {
      val lslice = ln.foldLeft(ldf)((d, v) =>
        d.filter(if (aNull(v)) col(v).isNull else col(v).isNotNull))
      val rslice0 = rn.foldLeft(rdf)((d, v) =>
        d.filter(if (bNull(v)) col("__r_" + v).isNull else col("__r_" + v).isNotNull))
      val rslice = if (r.tiny) broadcast(rslice0) else rslice0
      val keys = shared.filterNot(v => aNull(v) || bNull(v))
      if (keys.nonEmpty) {
        val cond = (keys.map(k => col(k) === col("__r_" + k)) ++ filterCond).reduce(_ && _)
        lslice.join(Rewriter.shuffleHashUnlessSmall(rslice), cond, "inner")
      } else {
        // every shared var null on one side → all rows compatible; the cross
        // is the operator's actual output for these slices. Broadcast the
        // (measured) smaller slice when it fits.
        val j =
          if (rRows <= lRows && rRows <= Rewriter.CrossBroadcastRows)
            lslice.crossJoin(broadcast(rslice0))
          else if (lRows < rRows && lRows <= Rewriter.CrossBroadcastRows)
            broadcast(lslice).crossJoin(rslice)
          else lslice.crossJoin(rslice)
        filterCond.map(j.filter).getOrElse(j)
      }
    }
    val inner = branches.reduceOption(_ unionAll _)
      .getOrElse(ldf.limit(0).crossJoin(rdf.limit(0)))
    val out = outVars.map { v =>
      if (shared.contains(v)) coalesce(col(v), col("__r_" + v)).as(v)
      else if (l.vars.contains(v)) col(v)
      else col("__r_" + v).as(v)
    }
    val muShared = shared.filter(v =>
      if (joinType == "left") l.isNullable(v)
      else l.isNullable(v) && r.isNullable(v)).toSet
    val mu = (l.maybeUnbound -- shared) ++ muShared ++
      (if (joinType == "left") rOnly.toSet
       else r.maybeUnbound.filter(rOnly.contains))
    if (joinType == "inner")
      SPlan(inner.select(out: _*), outVars, mu, mergeKinds(l, r), outTiny)
    else {
      val matched = inner.select(col(rowId)).distinct()
      val unmatched = ldf.join(Rewriter.shuffleHashUnlessSmall(matched), Seq(rowId), "left_anti")
      val padded = unmatched.select(outVars.map(v =>
        if (l.vars.contains(v)) col(v) else TermCols.nullTerm.as(v)): _*)
      SPlan(inner.select(out: _*).unionAll(padded), outVars, mu, mergeKinds(l, r), outTiny)
    }
  }

  /** MINUS (reference lib/logical/src/minus/rewrite.rs:51-136): anti join on
    * compat over shared vars, requiring ≥1 shared var bound on both sides;
    * no shared vars → left unchanged. */
  private def minus(l: SPlan, r: SPlan): SPlan = {
    val shared = l.vars.filter(r.vars.contains(_))
    if (shared.isEmpty) return l
    // fast path: every shared var definitely bound on both sides →
    // compat ≡ equality and the ≥1-bound-both condition is always true →
    // plain equi anti-join (hash join, not the O(n·m) non-equi fallback)
    if (shared.forall(v => !l.isNullable(v) && !r.isNullable(v)))
      return SPlan(l.df.join(
          Rewriter.shuffleHashUnlessSmall(r.df.select(shared.map(col): _*)),
          shared, "left_anti"),
        l.vars, l.maybeUnbound, l.kinds, l.tiny)
    // Null-pattern union rewrite (same machinery as compatUnionJoin, anti
    // flavour): ANY nullable shared var makes the condition below pure
    // theta, which Spark plans as a BroadcastNestedLoopJoin. Split both
    // sides by which nullable shared vars are null; a (leftPattern,
    // rightPattern) pair can only drop left rows when some var is bound on
    // BOTH sides (the ≥1-bound-both rule) — exactly the pairs that
    // equi-join on those vars. Dropped = union of per-branch semi-join row
    // ids; result = left anti that id set (hash joins throughout).
    if (compatUnion && !(l.tiny && r.tiny) &&
        shared.count(l.isNullable) + shared.count(r.isNullable)
          <= Rewriter.CompatUnionMaxBranchBits) {
      val ln = shared.filter(l.isNullable)
      val rn = shared.filter(r.isNullable)
      val rowId = fresh("mrow")
      val ldf = l.df.withColumn(rowId, monotonically_increasing_id()).localCheckpoint()
      // scanned once per branch pair → checkpoint unconditionally
      val rdf = r.df.select(shared.map(v => col(v).as("__r_" + v)): _*).localCheckpoint()
      // empty slices prune their branches (same histogram as compatUnionJoin)
      val lCounts = nullPatternCounts(ldf, ln, "")
      val rCounts = nullPatternCounts(rdf, rn, "__r_")
      def rows(counts: Map[Set[String], Long], vs: Seq[String], nulls: Set[String]): Long =
        if (vs.isEmpty) Long.MaxValue else counts.getOrElse(nulls, 0L)
      val matchedPerBranch = for {
        aNull <- subsets(ln)
        bNull <- subsets(rn)
        keys = shared.filterNot(v => aNull(v) || bNull(v))
        if keys.nonEmpty // keys empty → anyBoth false → branch drops nothing
        if rows(lCounts, ln, aNull) > 0 && rows(rCounts, rn, bNull) > 0
      } yield {
        val lslice = ln.foldLeft(ldf)((d, v) =>
          d.filter(if (aNull(v)) col(v).isNull else col(v).isNotNull))
        val rslice = rn.foldLeft(rdf)((d, v) =>
          d.filter(if (bNull(v)) col("__r_" + v).isNull else col("__r_" + v).isNotNull))
        val cond = keys.map(k => col(k) === col("__r_" + k)).reduce(_ && _)
        lslice.join(Rewriter.shuffleHashUnlessSmall(rslice), cond, "left_semi")
          .select(col(rowId))
      }
      val out = matchedPerBranch.reduceOption(_ unionAll _) match {
        case Some(matched) =>
          ldf.join(Rewriter.shuffleHashUnlessSmall(matched.distinct()),
            Seq(rowId), "left_anti").drop(rowId)
        case None => l.df
      }
      return SPlan(out, l.vars, l.maybeUnbound, l.kinds, l.tiny)
    }
    val rr = r.df.select(shared.map(v => col(v).as("__r_" + v)): _*)
    val compat = shared.map(v => TermCols.isCompatible(col(v), col("__r_" + v)))
    val anyBoth = shared.map(v => col(v).isNotNull && col("__r_" + v).isNotNull)
    val cond = compat.reduce(_ && _) && anyBoth.reduce(_ || _)
    SPlan(l.df.join(rr, cond, "left_anti"), l.vars, l.maybeUnbound, l.kinds, l.tiny)
  }

  /** SPARQL UNION = bag union with null-padding of missing vars
    * (reference logical_plan_builder.rs:364-439). */
  private def union(l: SPlan, r: SPlan): SPlan = {
    val outVars = (l.vars ++ r.vars).distinct
    def pad(p: SPlan) = p.df.select(outVars.map(v =>
      if (p.vars.contains(v)) col(v) else TermCols.nullTerm.as(v)): _*)
    val mu = l.maybeUnbound ++ r.maybeUnbound ++
      outVars.filter(v => !l.vars.contains(v) || !r.vars.contains(v))
    val ks = outVars.flatMap { v =>
      (l.kinds.get(v), r.kinds.get(v)) match {
        case (Some(a), Some(b)) if a == b => Some(v -> a)
        case (Some(a), None) if !r.vars.contains(v) => Some(v -> a)
        case (None, Some(b)) if !l.vars.contains(v) => Some(v -> b)
        case _ => None
      }
    }.toMap
    SPlan(pad(l).unionAll(pad(r)), outVars, mu, ks, l.tiny && r.tiny)
  }

  private def values(vars: Seq[Var], rows: Seq[Seq[Option[RdfTerm]]]): SPlan = {
    val schema = StructType(vars.map(v => StructField(v.name, TermCols.schema, nullable = true)))
    val data = rows.map(r => Row(r.map(_.map(termRow).orNull): _*))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema)
    val mu = vars.zipWithIndex.filter { case (_, i) => rows.exists(r => r(i).isEmpty) }
      .map(_._1.name).toSet
    SPlan(df, vars.map(_.name), mu, tiny = true)
  }

  private def termRow(t: RdfTerm): Row = t match {
    case Iri(v) => Row(TermType.Iri, v, null, null, null)
    case BNode(v) => Row(TermType.BlankNode, v, null, null, null)
    case Lit(v, dt, lang) =>
      Row(TermType.Literal, v,
        if (dt == Xsd.string && lang.isEmpty) null
        else if (lang.isDefined) Rdf.langString else dt,
        lang.orNull,
        graft.sources.NTriples.numOf(v, dt))
  }

  // ------------------------------------------------------------------ filter

  private def filterPlan(in: SPlan, e: Expr, scope: GraphScope): SPlan = {
    // whole-filter EXISTS / NOT EXISTS → semi/anti join (the decorrelated
    // form the reference gets from DecorrelatePredicateSubquery,
    // lib/execution/src/sparql/optimizer.rs:77-84)
    e match {
      case EExists(p, neg) => return existsJoin(in, p, neg, scope)
      case ENot(EExists(p, neg)) => return existsJoin(in, p, !neg, scope)
      case _ =>
    }
    val (e2, plan2) = rewriteExists(e, in, scope)
    // binding env: complex comparison/call operands materialise as columns
    // (computed once, referenced by name in the dispatch ladders)
    var bdf = plan2.df
    var bound = false
    val env = ExprCompiler.envOf(plan2.vars.toSet, plan2.kinds, { c =>
      val t = fresh("sub"); bdf = bdf.withColumn(t, c); bound = true; col(t)
    })
    val cond = ExprCompiler.ebv(e2, env)
    val filtered = bdf.filter(cond)
    // drop any EXISTS marker / bound-operand columns again
    val df = if (!bound && plan2.vars == in.vars) filtered
             else filtered.select(in.vars.map(col): _*)
    SPlan(df, in.vars, in.maybeUnbound, in.kinds, in.tiny)
  }

  // ----------------------------------------------------- correlated patterns

  /**
   * Correlated (substitution-semantics) evaluation, shared by LATERAL and
   * EXISTS: tag the outer solutions with a row id, evaluate the inner
   * pattern with the outer bindings in scope, keep the id so outer rows can
   * be matched back exactly (no cross-row compat leakage through unbound
   * outer vars).
   *
   * The reference gets EXISTS correlation from DataFusion's
   * DecorrelatePredicateSubquery (lib/execution/src/sparql/optimizer.rs:77-84)
   * and LATERAL from spargebra's Lateral algebra node; here both decorrelate
   * into plain joins keyed on the synthetic id (hash-join friendly).
   */
  private def withRowId(in: SPlan, lid: String): SPlan =
    // localCheckpoint: the id column must be stable across the multiple
    // branches that reference it (monotonically_increasing_id is
    // deterministic only for a fixed partition layout)
    SPlan(in.df.withColumn(lid, monotonically_increasing_id()).localCheckpoint(),
      in.vars :+ lid, in.maybeUnbound, in.kinds)

  private def lateral(l: SPlan, rp: GraphPattern, scope: GraphScope): SPlan = {
    val lid = fresh("lid")
    val ctx = withRowId(l, lid)
    val r = lateralPattern(rp, ctx, lid, scope)
    SPlan(r.df.drop(lid), r.vars.filterNot(_ == lid), r.maybeUnbound)
  }

  /** Evaluate `p` correlated with ctx (which carries the `lid` row id).
    * Contract: the result contains lid + all ctx vars + p's vars. */
  private def lateralPattern(p: GraphPattern, ctx: SPlan, lid: String,
                             scope: GraphScope): SPlan = p match {
    case BnodeScope(inner) => lateralPattern(inner, ctx, lid, scope)
    case Bgp(Nil) => ctx
    case Bgp(ps) =>
      bgpPlans(ps, scope).foldLeft(ctx)((acc, p) => join(acc, p, "inner", None, scope))
    case PathPattern(s, pa, o) => join(ctx, pathPattern(s, pa, o, scope), "inner", None, scope)
    case ValuesPattern(vs, rows) => join(ctx, values(vs, rows), "inner", None, scope)
    case Service(_, inner, _) => join(ctx, pattern(Service(null, inner, silent = true), scope), "inner", None, scope)
    case Join(a, b) =>
      join(lateralPattern(a, ctx, lid, scope),
        lateralPattern(b, ctx, lid, scope), "inner", None, scope, idKeys = Seq(lid))
    case LeftJoin(a, b, f) =>
      join(lateralPattern(a, ctx, lid, scope),
        lateralPattern(b, ctx, lid, scope), "left", f, scope, idKeys = Seq(lid))
    case Filter(e, i) => filterPlan(lateralPattern(i, ctx, lid, scope), e, scope)
    case Union(a, b) =>
      union(lateralPattern(a, ctx, lid, scope), lateralPattern(b, ctx, lid, scope))
    case ext: Extend =>
      // Same BIND-run folding as the non-lateral case: one shared
      // per-solution nonce for labeled BNODEs across the run.
      @annotation.tailrec
      def peel(p: GraphPattern, acc: List[(Var, Expr)]): (GraphPattern, List[(Var, Expr)]) =
        p match {
          case Extend(i, v, e) => peel(i, (v, e) :: acc)
          case other => (other, acc)
        }
      val (base, binds) = peel(ext, Nil)
      var cur = lateralPattern(base, ctx, lid, scope)
      val (df0, solName) = solNonce(cur.df, binds.map(_._2))
      cur = cur.copy(df = df0)
      binds.foreach { case (v, e) =>
        val in = cur
        val (expr2, plan2) = rewriteExists(e, in, scope)
        val (df, kind) = withTermColumn(plan2.df, plan2.vars.toSet, plan2.kinds,
          v.name, expr2, solName.map(col))
        cur = SPlan(df, in.vars :+ v.name, in.maybeUnbound + v.name,
          plan2.kinds ++ kind.map(v.name -> _))
      }
      solName.foreach(n => cur = cur.copy(df = cur.df.drop(n)))
      cur
    case Minus(a, b) =>
      val A = lateralPattern(a, ctx, lid, scope)
      val B = lateralPattern(b, ctx, lid, scope)
      // per-outer-row MINUS: substituted outer vars are constants, so only
      // inner-introduced shared vars count for the ≥1-bound-both rule
      val shared = A.vars.filter(v => B.vars.contains(v) && v != lid && !ctx.vars.contains(v))
      if (shared.isEmpty) A
      else {
        val rr = B.df.select((lid +: shared).map(v => col(v).as("__r_" + v)): _*)
        val compat = shared.map(v => TermCols.isCompatible(col(v), col("__r_" + v)))
        val anyBoth = shared.map(v => col(v).isNotNull && col("__r_" + v).isNotNull)
        val cond = (col(lid) === col("__r_" + lid)) && compat.reduce(_ && _) && anyBoth.reduce(_ || _)
        SPlan(A.df.join(Rewriter.shuffleHashUnlessSmall(rr), cond, "left_anti"),
          A.vars, A.maybeUnbound, A.kinds)
      }
    case GraphGraph(name, inner) => name match {
      case TermPat(Iri(iri)) => lateralPattern(inner, ctx, lid, Named(iri))
      case TermPat(t) => throw new IllegalArgumentException(s"GRAPH needs an IRI or variable, got $t")
      case VarPat(v) => lateralPattern(inner, ctx, lid, NamedVar(v.name))
      case BNodePat(l) => lateralPattern(inner, ctx, lid, NamedVar("__bnode_" + l))
    }
    case Group(i, keys, aggs) => lateralGroup(lateralPattern(i, ctx, lid, scope), keys, aggs, ctx, lid)
    case SubSelect(q) => lateralSelect(q, ctx, lid, scope)
    case Lateral(a, b) => lateral(lateralPattern(a, ctx, lid, scope), b, scope)
  }

  /** GROUP BY per outer row: group on (lid, keys), then restore outer vars
    * from the ctx row. */
  private def lateralGroup(in: SPlan, keys: Seq[(Var, Option[Expr])],
                           aggs: Seq[(Var, Aggregate)], ctx: SPlan, lid: String): SPlan = {
    var df = in.df
    val env = ExprCompiler.envOf(in.vars.toSet, in.kinds)
    val (dfG, solG) = solNonce(df,
      keys.flatMap(_._2) ++ aggs.collect { case (_, Aggregate(_, _, Some(a), _)) => a })
    df = dfG
    keys.foreach {
      case (v, Some(e)) =>
        df = withTermColumn(df, in.vars.toSet, in.kinds, v.name, e, solG.map(col))._1
      case (v, None) if !in.vars.contains(v.name) =>
        df = df.withColumn(v.name, TermCols.nullTerm)
      case _ =>
    }
    val argKinds: Map[String, Int] = aggs.collect {
      case (v, Aggregate(_, _, Some(arg), _)) =>
        ExprCompiler.staticKind(arg, env).map(v.name -> _)
    }.flatten.toMap
    val recordKinds: Map[String, Int] = aggs.collect {
      case (v, a @ Aggregate(_, _, Some(arg), _)) =>
        aggRecordKind(a, arg, env).map(v.name -> _)
    }.flatten.toMap
    val argCols: Map[String, String] = aggs.collect {
      case (v, Aggregate(_, _, Some(arg), _)) =>
        val c = fresh("aggin")
        df = withTermColumn(df, in.vars.toSet, in.kinds, c, arg, solG.map(col))._1
        v.name -> c
    }.toMap
    solG.foreach(n => df = df.drop(n))
    val keyNames = lid +: keys.map(_._1.name)
    val grouped =
      if (aggs.isEmpty) df.select(keyNames.map(col): _*).dropDuplicates()
      else {
        val aggExprs = aggs.flatMap { case (v, a) =>
          aggCols(v.name, a, argCols.get(v.name), argKinds.get(v.name), in.vars) }
        val g = df.groupBy(keyNames.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)
        g.select(keyNames.map(col) ++ aggs.map { case (v, a) =>
          aggFinal(v.name, a, argKinds.get(v.name)).as(v.name) }: _*)
      }
    val groupVars = keyNames.drop(1) ++ aggs.map(_._1.name)
    // restore ctx vars not re-introduced as keys
    val restore = ctx.vars.filterNot(v => groupVars.contains(v) || v == lid)
    val ctxSide = ctx.df.select((lid +: restore).map(v => col(v).as("__c_" + v)): _*)
    val joined = grouped.join(ctxSide, col(lid) === col("__c_" + lid))
      .select((lid +: groupVars).map(col) ++ restore.map(v => col("__c_" + v).as(v)): _*)
    val mu = ctx.maybeUnbound ++ aggs.collect { case (v, a) if a.name != "COUNT" => v.name } ++
      keys.collect {
        case (v, Some(_)) => v.name
        case (v, None) if !in.vars.contains(v.name) => v.name
      }
    // kinds: restored ctx vars keep theirs; keys keep the input's (or the
    // computed expression's); aggregates contribute their result kinds
    val outKinds = ctx.kinds.filter { case (v, _) => restore.contains(v) } ++
      in.kinds.filter { case (v, _) => keyNames.drop(1).contains(v) } ++
      keys.collect { case (v, Some(e)) =>
        ExprCompiler.bindKind(e, env).map(v.name -> _) }.flatten ++
      // lateral groups key on (lid, keys): never empty, so no global guard
      aggs.flatMap { case (v, a) => aggResultKind(a, recordKinds.get(v.name)).map(v.name -> _) }
    SPlan(joined, (lid +: restore) ++ groupVars, mu, outKinds)
  }

  /** Sub-SELECT per outer row: modifiers (DISTINCT / ORDER / LIMIT / OFFSET)
    * apply within each outer row's partition — a window, not a global sort. */
  private def lateralSelect(q: SelectQuery, ctx: SPlan, lid: String, scope: GraphScope): SPlan = {
    import org.apache.spark.sql.expressions.Window
    val plan = lateralPattern(q.where, ctx, lid, scope)
    var df = plan.df
    val env = ExprCompiler.envOf(plan.vars.toSet, plan.kinds)
    val projItems = if (q.projection.nonEmpty) q.projection
                    else inScopeVars(q.where).map(v => ProjItem(v, None))
    val (dfL, solL) = solNonce(df, projItems.collect { case ProjItem(_, Some(e)) => e })
    df = dfL
    projItems.foreach {
      case ProjItem(v, Some(e)) =>
        df = withTermColumn(df, plan.vars.toSet, plan.kinds, v.name, e, solL.map(col))._1
      case _ =>
    }
    solL.foreach(n => df = df.drop(n))
    val projNames = projItems.map(_.v.name)
    val keep = (lid +: (ctx.vars.filterNot(_ == lid) ++ projNames).distinct)
    // kinds flow into the per-outer-row window sort (ctx kinds for restored
    // vars, bind kinds for computed projections)
    val keepKinds = (ctx.kinds ++ plan.kinds ++ projItems.flatMap {
      case ProjItem(v, Some(e)) => ExprCompiler.bindKind(e, env).map(v.name -> _)
      case _ => None
    }).filter { case (v, _) => keep.contains(v) }
    df = df.select(keep.map(col): _*)
    if (q.distinct || q.reduced) df = df.dropDuplicates(keep)
    if (q.orderBy.nonEmpty || q.limit.isDefined || q.offset.isDefined) {
      val kEnv = ExprCompiler.envOf(keep.toSet, keepKinds)
      var ordTmps = List.empty[String]
      val orderKeys =
        if (q.orderBy.nonEmpty) q.orderBy.map { c =>
          // computed keys materialise as columns first (see orderDf)
          val k = ExprCompiler.sortKeyStatic(c.expr, kEnv).getOrElse {
            val operand = c.expr match {
              case EVar(v) => ExprCompiler.term(c.expr, kEnv)
              case _ =>
                val tmp = fresh("ord")
                df = df.withColumn(tmp, ExprCompiler.term(c.expr, kEnv))
                ordTmps ::= tmp
                col(tmp)
            }
            TermCols.sortKey(operand)
          }
          if (c.ascending) k.asc_nulls_first else k.desc_nulls_last
        }
        else Seq(monotonically_increasing_id().asc)
      val w = Window.partitionBy(col(lid)).orderBy(orderKeys: _*)
      val rn = fresh("rn")
      df = df.withColumn(rn, row_number().over(w))
      val lo = q.offset.getOrElse(0L)
      df = df.filter(col(rn) > lo)
      q.limit.foreach(n => df = df.filter(col(rn) <= lo + n))
      df = df.drop(rn +: ordTmps: _*)
    }
    SPlan(df, keep, plan.maybeUnbound ++ projItems.collect { case ProjItem(v, Some(_)) => v.name },
      keepKinds)
  }

  /**
   * Algebra-level pushdown for a whole-filter EXISTS / NOT EXISTS over a
   * join: apply the semi/anti join at the smallest sub-plan that binds the
   * correlation variables, so its input is the correlation-key domain
   * rather than the full joined relation.
   *
   * The motivating shape is BSBM BI-Q4: `features ⨯ (product, offer,
   * price)` filtered by `NOT EXISTS { ?product :productFeature ?feature }`
   * anti-joins |offers| × |features| rows; after the rewrite the anti join
   * runs on |products| × |features| and the offers join back on product —
   * measured 11.5 s → ~2 s at 2000 BSBM products.
   *
   * Rules (applied recursively through `pattern` on the rewritten tree):
   *   - correlation vars all on one join side → classic filter pushdown;
   *   - else if one side is a BGP, move a minimal var-covering subset of
   *     its triple patterns into the filtered side (join reassociation —
   *     exact under bag semantics since the filter only drops rows and
   *     references only the covered vars).
   * Only the decorrelated fast-path EXISTS shape (no outer-var expression
   * references) is moved; substitution-semantics EXISTS stays put.
   */
  private def pushWholeExists(e: Expr, inner: GraphPattern): Option[GraphPattern] = {
    val ep = e match {
      case EExists(p, _) => p
      case ENot(EExists(p, _)) => p
      case _ => return None
    }
    if (!exprRefVars(ep).map(_.name).subsetOf(inScopeVars(ep).map(_.name).toSet)) return None
    val need = inScopeVars(ep).map(_.name).toSet
    def scopeOf(g: GraphPattern): Set[String] = inScopeVars(g).map(_.name).toSet
    inner match {
      case Join(a, b) =>
        val sa = scopeOf(a); val sb = scopeOf(b)
        val v = need.intersect(sa ++ sb)
        if (v.isEmpty) None
        else if (v.subsetOf(sa)) Some(Join(Filter(e, a), b))
        else if (v.subsetOf(sb)) Some(Join(a, Filter(e, b)))
        else (a, b) match {
          case (_, Bgp(ps)) => splitCover(v -- sa, ps).map { case (cover, rest) =>
            Join(Filter(e, Join(a, Bgp(cover))), Bgp(rest)) }
          case (Bgp(ps), _) => splitCover(v -- sb, ps).map { case (cover, rest) =>
            Join(Filter(e, Join(Bgp(cover), b)), Bgp(rest)) }
          case _ => None
        }
      case _ => None
    }
  }

  /** Greedy minimal subset of `ps` whose variables cover `need`; None when
    * impossible or when nothing would be left behind (no point). */
  private def splitCover(need: Set[String], ps: Seq[TriplePattern])
      : Option[(Seq[TriplePattern], Seq[TriplePattern])] = {
    def vs(t: TriplePattern): Set[String] =
      Seq(t.s, t.p, t.o).collect { case VarPat(v) => v.name }.toSet
    var uncovered = need
    val cover = Seq.newBuilder[TriplePattern]
    val rest = scala.collection.mutable.ArrayBuffer(ps: _*)
    while (uncovered.nonEmpty) {
      val pick = rest.filter(t => vs(t).intersect(uncovered).nonEmpty)
        .sortBy(t => -vs(t).intersect(uncovered).size).headOption
      pick match {
        case None => return None
        case Some(t) => cover += t; rest -= t; uncovered --= vs(t)
      }
    }
    val c = cover.result()
    if (rest.isEmpty || c.isEmpty) None else Some((c, rest.toSeq))
  }

  private def existsJoin(in: SPlan, p: GraphPattern, negated: Boolean, scope: GraphScope): SPlan = {
    val jt = if (negated) "left_anti" else "left_semi"
    // fast path: the pattern's expressions only use its own in-scope vars →
    // no substitution needed beyond the shared pattern vars → direct
    // semi/anti join (no row-id materialisation)
    if (exprRefVars(p).map(_.name).subsetOf(inScopeVars(p).map(_.name).toSet)) {
      val inner = pattern(p, scope)
      val shared = in.vars.filter(inner.vars.contains(_))
      if (shared.isEmpty)
        return SPlan(in.df.join(inner.df.limit(1), lit(true), jt), in.vars, in.maybeUnbound, in.kinds)
      if (shared.forall(v => !in.isNullable(v) && !inner.isNullable(v)))
        return SPlan(in.df.join(
            Rewriter.shuffleHashUnlessSmall(inner.df.select(shared.map(col): _*)), shared, jt),
          in.vars, in.maybeUnbound, in.kinds)
      // Null-pattern union rewrite (semi/anti flavour of compatUnionJoin):
      // nullable shared vars make the condition below pure isCompatible —
      // a BroadcastNestedLoopJoin. Branch pairs equi-join on the vars bound
      // on both sides; a pair with NO such var is all-compatible, so its
      // whole left slice matches iff the right slice is non-empty (checked
      // via the null-pattern histogram — no join at all).
      if (compatUnion && !(in.tiny && inner.tiny) &&
          shared.count(in.isNullable) + shared.count(inner.isNullable)
            <= Rewriter.CompatUnionMaxBranchBits) {
        val ln = shared.filter(in.isNullable)
        val rn = shared.filter(inner.isNullable)
        val rowId = fresh("erow")
        val ldf = in.df.withColumn(rowId, monotonically_increasing_id()).localCheckpoint()
        val rdf = inner.df.select(shared.map(v => col(v).as("__r_" + v)): _*).localCheckpoint()
        val rCounts = nullPatternCounts(rdf, rn, "__r_")
        lazy val rTotal = rdf.count()
        def rRows(bNull: Set[String]): Long =
          if (rn.isEmpty) rTotal else rCounts.getOrElse(bNull, 0L)
        val matchedPerBranch = for {
          aNull <- subsets(ln)
          bNull <- subsets(rn)
          if rRows(bNull) > 0
        } yield {
          val lslice = ln.foldLeft(ldf)((d, v) =>
            d.filter(if (aNull(v)) col(v).isNull else col(v).isNotNull))
          val keys = shared.filterNot(v => aNull(v) || bNull(v))
          if (keys.isEmpty) lslice.select(col(rowId))
          else {
            val rslice = rn.foldLeft(rdf)((d, v) =>
              d.filter(if (bNull(v)) col("__r_" + v).isNull else col("__r_" + v).isNotNull))
            val cond = keys.map(k => col(k) === col("__r_" + k)).reduce(_ && _)
            lslice.join(Rewriter.shuffleHashUnlessSmall(rslice), cond, "left_semi")
              .select(col(rowId))
          }
        }
        val out = matchedPerBranch.reduceOption(_ unionAll _) match {
          case Some(matched) =>
            ldf.join(Rewriter.shuffleHashUnlessSmall(matched.distinct()), Seq(rowId), jt)
              .drop(rowId)
          case None => // no compatible right rows at all
            if (negated) in.df else in.df.limit(0)
        }
        return SPlan(out, in.vars, in.maybeUnbound, in.kinds)
      }
      val rr = inner.df.select(shared.map(v => col(v).as("__r_" + v)): _*)
      val cond = shared.map(v => TermCols.isCompatible(col(v), col("__r_" + v))).reduce(_ && _)
      return SPlan(in.df.join(rr, cond, jt), in.vars, in.maybeUnbound, in.kinds)
    }
    val lid = fresh("lid")
    val ctx = withRowId(in, lid)
    val inner = lateralPattern(p, ctx, lid, scope)
    val lids = inner.df.select(col(lid).as("__x_" + lid)).dropDuplicates()
    SPlan(ctx.df.join(lids, col(lid) === col("__x_" + lid), jt).drop(lid),
      in.vars, in.maybeUnbound, in.kinds)
  }

  /** Replace nested EXISTS subexpressions with a boolean marker variable
    * computed via an outer join + group-back (exact under multi-matches). */
  private def rewriteExists(e: Expr, in: SPlan, scope: GraphScope): (Expr, SPlan) = {
    var plan = in
    def walk(x: Expr): Expr = x match {
      case EExists(p, neg) =>
        val m = fresh("exists")
        plan = existsMarker(plan, p, m, scope)
        if (neg) ENot(EVar(Var(m))) else EVar(Var(m))
      case EOr(l, r) => EOr(walk(l), walk(r))
      case EAnd(l, r) => EAnd(walk(l), walk(r))
      case ENot(i) => ENot(walk(i))
      case ECmp(op, l, r) => ECmp(op, walk(l), walk(r))
      case EIn(i, list, n) => EIn(walk(i), list.map(walk), n)
      case EArith(op, l, r) => EArith(op, walk(l), walk(r))
      case ENeg(i) => ENeg(walk(i))
      case EIf(c, t, f) => EIf(walk(c), walk(t), walk(f))
      case ECoalesce(args) => ECoalesce(args.map(walk))
      case ECall(n, args) => ECall(n, args.map(walk))
      case other => other
    }
    val e2 = walk(e)
    (e2, plan)
  }

  private def existsMarker(in: SPlan, p: GraphPattern, marker: String, scope: GraphScope): SPlan = {
    val lid = fresh("lid")
    val ctx = withRowId(in, lid)
    val inner = lateralPattern(p, ctx, lid, scope)
    val lids = inner.df.select(col(lid).as("__x_" + lid)).dropDuplicates()
      .withColumn("__m_" + lid, lit(true))
    val joined = ctx.df.join(lids, col(lid) === col("__x_" + lid), "left")
      .withColumn(marker, TermCols.fromBoolean(coalesce(col("__m_" + lid), lit(false))))
      .drop(lid, "__x_" + lid, "__m_" + lid)
    SPlan(joined, in.vars :+ marker, in.maybeUnbound, in.kinds)
  }

  // ------------------------------------------------------------- aggregation

  /** GROUP BY: keys grouped on PlainTerm structs (term identity — matching
    * the reference's forced PlainTerm/ObjectId key encoding,
    * lib/logical/src/logical_plan_builder.rs:235-263); aggregates follow the
    * reference's Accumulators (lib/functions/src/aggregates/). Partial
    * aggregation (map-side combine) applies — all are built-in aggregates. */
  private def group(in: SPlan, keys: Seq[(Var, Option[Expr])],
                    aggs: Seq[(Var, Aggregate)], scope: GraphScope): SPlan = {
    var df = in.df
    val env = ExprCompiler.envOf(in.vars.toSet, in.kinds)
    // per-solution nonce shared by computed keys + aggregate args (labeled
    // BNODEs evaluate pre-grouping, once per input solution)
    val (dfG, solG) = solNonce(df,
      keys.flatMap(_._2) ++ aggs.collect { case (_, Aggregate(_, _, Some(a), _)) => a })
    df = dfG
    // computed keys; a plain key not bound by the pattern is legal SPARQL
    // (GROUP BY over an unbound var — one NULL-keyed group)
    keys.foreach {
      case (v, Some(e)) =>
        df = withTermColumn(df, in.vars.toSet, in.kinds, v.name, e, solG.map(col))._1
      case (v, None) if !in.vars.contains(v.name) =>
        df = df.withColumn(v.name, TermCols.nullTerm)
      case _ =>
    }
    // aggregate inputs; static kinds let SUM/AVG skip the dynamic type ladder
    val argKinds: Map[String, Int] = aggs.collect {
      case (v, Aggregate(_, _, Some(arg), _)) =>
        ExprCompiler.staticKind(arg, env).map(v.name -> _)
    }.flatten.toMap
    // kinds safe to RECORD in the output kinds map: a recorded 3 means
    // canonical xsd:double, a recorded 6 canonical xsd:float (group-key
    // rebuild and narrow MIN/MAX buffers depend on the claim), while
    // staticKind's 3 is the whole double FAMILY — see aggRecordKind
    val recordKinds: Map[String, Int] = aggs.collect {
      case (v, a @ Aggregate(_, _, Some(arg), _)) =>
        aggRecordKind(a, arg, env).map(v.name -> _)
    }.flatten.toMap
    val argCols: Map[String, String] = aggs.collect {
      case (v, Aggregate(_, _, Some(arg), _)) =>
        val c = fresh("aggin")
        df = withTermColumn(df, in.vars.toSet, in.kinds, c, arg, solG.map(col))._1
        v.name -> c
    }.toMap
    solG.foreach(n => df = df.drop(n))

    val keyNames = keys.map(_._1.name)
    val mu = keys.collect {
      case (v, Some(_)) => v.name                       // computed key may error → NULL
      case (v, None) if in.isNullable(v.name) || !in.vars.contains(v.name) => v.name
    }.toSet ++ aggs.collect { case (v, a) if a.name != "COUNT" => v.name }
    val keyKinds = in.kinds.filter { case (v, _) => keyNames.contains(v) } ++
      keys.collect { case (v, Some(e)) =>
        ExprCompiler.bindKind(e, env).map(v.name -> _) }.flatten
    val aggKinds = aggs.flatMap { case (v, a) =>
      aggResultKind(a, recordKinds.get(v.name), globalGroup = keyNames.isEmpty)
        .map(v.name -> _) }.toMap
    if (aggs.isEmpty)
      return SPlan(df.select(keyNames.map(col): _*).dropDuplicates(), keyNames, mu, keyKinds,
        in.tiny)
    val aggExprs: Seq[Column] = aggs.flatMap { case (v, a) =>
      aggCols(v.name, a, argCols.get(v.name), argKinds.get(v.name), in.vars) }
    // statically-kinded keys group on one narrow native value instead of the
    // 5-field term struct (hash input shrinks, shuffle rows narrow); the
    // term is rebuilt after aggregation — sound because the kinds-map
    // invariant guarantees canonical rendering (see ExprCompiler.Env docs)
    val gbCols = keyNames.map { n =>
      keyKinds.get(n) match {
        case Some(k) => narrowKey(col(n), k).as(n)
        case None => col(n)
      }
    }
    val grouped = df.groupBy(gbCols: _*).agg(aggExprs.head, aggExprs.tail: _*)
    // final projection turns raw aggregate buffers / narrow keys into terms
    val finals = keyNames.map { n =>
      keyKinds.get(n) match {
        case Some(k) => rebuildKey(col(n), k).as(n)
        case None => col(n)
      }
    } ++ aggs.map { case (v, a) =>
      aggFinal(v.name, a, argKinds.get(v.name)).as(v.name) }
    val out = grouped.select(finals: _*)
    SPlan(out, keyNames ++ aggs.map(_._1.name), mu, keyKinds ++ aggKinds, in.tiny)
  }

  /** Narrow native grouping value of a statically-kinded term column
    * (canonical-render invariant makes this a bijection on bound values). */
  private def narrowKey(c: Column, k: Int): Column = {
    import TermCols._
    k match {
      case 1 => value(c).cast(LongType) // canonical integer lexical: exact
      case 2 => numDecimal(c)
      case 3 | 6 => numDouble(c)        // 6: canonical float — double num bijects
      case _ => value(c)                // 4/5: fixed-shape temporal lexical
    }
  }

  /** Rebuild the PlainTerm from a narrow grouping value (inverse of
    * [[narrowKey]] under the canonical-render invariant). */
  private def rebuildKey(c: Column, k: Int): Column = {
    import TermCols._
    k match {
      case 1 => fromLong(c)
      case 2 => fromDecimal(c)
      case 3 => fromDouble(c)
      case 4 => when(c.isNull, nullTerm).otherwise(typedLit(c, graft.model.Xsd.dateTime))
      case 5 => when(c.isNull, nullTerm).otherwise(typedLit(c, graft.model.Xsd.date))
      case 6 => fromFloat(c)
    }
  }

  /** Kind to RECORD for an aggregate's input: bindKind's canonical claims
    * pass through (incl. kind 6 = canonical xsd:float, e.g. a float-family
    * aggregate var); additionally a float-CAST input — whose own render is
    * double-lexical, so not bindKind-recordable — guarantees an all-float
    * group for SUM/AVG, which re-render via fromFloat, the canonical kind-6
    * rendering. MIN/MAX/SAMPLE return an original input term, so the cast
    * exception does not apply to them. */
  private def aggRecordKind(a: Aggregate, arg: Expr, env: ExprCompiler.Env): Option[Int] =
    ExprCompiler.bindKind(arg, env).orElse(arg match {
      case ECall(n, _) if (a.name == "SUM" || a.name == "AVG") && n == Xsd.float =>
        Some(6)
      case _ => None
    })

  /** Static kind of an aggregate result, when derivable from its input kind
    * (mirrors the type ladder of the buffers below). */
  private def aggResultKind(a: Aggregate, argKind: Option[Int],
                            globalGroup: Boolean = false): Option[Int] = a.name match {
    case "COUNT" => Some(1)
    // SUM/AVG of a temporal input is always an error (never bound), so only
    // numeric kinds carry over to the result. Kind 6 (canonical xsd:float)
    // carries through: the double-family buffers render all-float groups via
    // fromFloat, which IS the canonical kind-6 rendering. The empty GLOBAL
    // group renders SUM({}) = AVG({}) = "0"^^xsd:integer, which would break
    // a recorded double/float claim — so numeric claims need explicit keys
    // (grouped evaluation never sees an empty group).
    case "SUM" if !globalGroup => argKind.filter(k => k <= 3 || k == 6)
    case "AVG" if !globalGroup =>
      argKind.filter(k => k <= 3 || k == 6).map(k => if (k >= 3) k else 2)
    case "MIN" | "MAX" | "SAMPLE" => argKind // result is one of the inputs
    case _ => None
  }

  /** Raw aggregate buffer columns for one SPARQL aggregate. `argKind` is the
    * statically-known numeric kind of the input (see ExprCompiler.staticKind):
    * a known all-double input needs just a running double sum + a seen flag —
    * the 6-buffer dynamic type ladder (with its per-row datatype dispatch)
    * collapses. */
  private def aggCols(out: String, a: Aggregate, argCol: Option[String],
                      argKind: Option[Int] = None,
                      rowCols: Seq[String] = Nil): Seq[Column] = {
    import TermCols._
    val in = argCol.map(col)
    a.name match {
      case "COUNT" =>
        val c = in match {
          // COUNT(DISTINCT *) counts distinct SOLUTIONS (spec 18.5.1 Distinct
          // before Card): dedup on the struct of every in-scope column — a
          // struct is never NULL, so rows with unbound vars still count
          case None if a.distinct => count_distinct(struct(rowCols.map(col): _*))
          case None => count(lit(1))
          case Some(x) => if (a.distinct) count_distinct(x) else count(x)
        }
        Seq(c.as(s"__${out}_cnt"))
      case "SUM" if argKind.contains(3) =>
        val x = in.get
        val dbl = if (a.distinct) sum_distinct(numDouble(x)) else sum(numDouble(x))
        Seq(dbl.as(s"__${out}_dbl"),
          // float vs double is a RUNTIME property under static kind 3 (the
          // double FAMILY): all-float inputs must yield an xsd:float result
          max(when(isStrictDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_isd"),
          max(when(x.isNotNull, 1).otherwise(0)).as(s"__${out}_any"),
          // an unbound value in the group is an evaluation error → the whole
          // aggregate errs (ListEval, spec §18.5.1); empty implicit groups
          // stay 0 (max over zero rows is NULL, not 1)
          max(when(x.isNull, 1).otherwise(0)).as(s"__${out}_bad"))
      case "AVG" if argKind.contains(3) =>
        val x = in.get
        val dbl = if (a.distinct) sum_distinct(numDouble(x)) else sum(numDouble(x))
        val n = if (a.distinct) count_distinct(numDouble(x))
                else sum(when(x.isNotNull, 1L).otherwise(0L))
        Seq(dbl.as(s"__${out}_dbl"), n.as(s"__${out}_n"),
          max(when(isStrictDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_isd"),
          max(when(x.isNull, 1).otherwise(0)).as(s"__${out}_bad"))
      case "SUM" | "AVG" =>
        val x = in.get
        // the exact-decimal sum is only consulted when the group contains NO
        // double/float values (type ladder), so guard the expensive
        // string→decimal parse to non-double rows — all-double groups never
        // pay it (they use the pre-decoded num field via numDouble)
        val decIn = when(!isDoubleTyped(x), numDecimal(x))
        val dec = if (a.distinct) sum_distinct(decIn) else sum(decIn)
        val dbl = if (a.distinct) sum_distinct(numDouble(x)) else sum(numDouble(x))
        // AVG(DISTINCT) divides by the DISTINCT value cardinality. The key's
        // equivalence classes must match the dedup the sums perform:
        // double-typed values dedup by their exact double (sum_distinct over
        // numDouble), so key them by the double rendering FIRST — the
        // decimal(36,16) canonicalisation would merge doubles that differ
        // only beyond 16 fraction digits, counting once what was summed
        // twice. Non-double numerics keep the exact-decimal key (falling
        // back to double only outside decimal(36,16) range), matching the
        // decimal sum's dedup.
        val cntNum =
          if (a.distinct) count_distinct(when(isNumeric(x),
            coalesce(when(isDoubleTyped(x), numDouble(x).cast(StringType)),
              numDecimal(x).cast(StringType), numDouble(x).cast(StringType))))
          else sum(when(isNumeric(x), 1L).otherwise(0L))
        Seq(dec.as(s"__${out}_dec"), dbl.as(s"__${out}_dbl"),
          // poison on non-numeric AND on unbound: both are evaluation errors
          // per ListEval (spec §18.5.1); empty implicit groups stay 0
          max(when(x.isNull || !isNumeric(x), 1).otherwise(0)).as(s"__${out}_bad"),
          max(when(isDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_anydbl"),
          // float vs double within the double family is a render-time
          // distinction: all-float inputs must yield xsd:float
          max(when(isStrictDoubleTyped(x), 1).otherwise(0)).as(s"__${out}_isd"),
          max(when(isDecimalTyped(x), 1).otherwise(0)).as(s"__${out}_anydec"),
          cntNum.as(s"__${out}_n"))
      // INTENTIONAL divergence, pinned by the W3C-slice tests
      // agg_min_unbound_skips / agg_max_unbound_skips: MIN/MAX SKIP unbound
      // values (min/max over nulls), while the reference accumulators
      // (lib/functions/src/aggregates/min.rs on_new_value) poison the group
      // only when the FIRST decoded value errors — an order-dependent
      // behavior that is unreproducible on a distributed bag (partition
      // order is nondeterministic). Skipping is order-independent and
      // matches Jena/Virtuoso observable behavior.
      case "MIN" | "MAX" if argKind.isDefined =>
        // static kind: order by ONE narrow key instead of the sortable CASE
        // ladder — equal keys are the same value, hence (canonical-render
        // invariant) the same rendered term, so the tie-break can never
        // disagree with the sortable encoding. kind 3 keys on the
        // pre-decoded num; 1/2 on the exact lexical-derived numeric;
        // temporal kinds on the fixed-shape lexical (string order ≡
        // temporal order at equal lengths).
        val x = col(argCol.get)
        val key = argKind.get match {
          case 1 => value(x).cast(LongType)
          case 2 => numDecimal(x)
          case 3 => numDouble(x)
          case _ => value(x)
        }
        val buf = when(x.isNotNull, struct(key.as("k"), x.as("t")))
        Seq((if (a.name == "MIN") min(buf) else max(buf)).as(s"__${out}_mm"))
      case "MIN" =>
        Seq(min(when(col(argCol.get).isNotNull, struct(sortKey(col(argCol.get)).as("k"),
          col(argCol.get).as("t")))).as(s"__${out}_mm"))
      case "MAX" =>
        Seq(max(when(col(argCol.get).isNotNull, struct(sortKey(col(argCol.get)).as("k"),
          col(argCol.get).as("t")))).as(s"__${out}_mm"))
      case "SAMPLE" => Seq(first(col(argCol.get), ignoreNulls = true).as(s"__${out}_s"))
      case "GROUP_CONCAT" =>
        val x = col(argCol.get)
        // reference parity (lib/functions/src/aggregates/group_concat.rs:
        // 185-231): only STRING literals concatenate (simple / xsd:string /
        // lang-tagged); IRIs, bnodes, non-string literals AND unbound values
        // poison the aggregate (evaluation errors, ListEval §18.5.1 — same
        // rule SUM/AVG apply; the reference accumulator poisons on any
        // decode error). A language tag survives only when every value
        // carries the same one. DISTINCT dedups by TERM (value + tag):
        // "a"@en and "a"@fr are distinct RDF terms and both concatenate.
        val isStringLit = isLiteral(x) &&
          (datatypeRaw(x).isNull || datatypeRaw(x) === Xsd.string || langTag(x).isNotNull)
        val lang = when(isStringLit, coalesce(langTag(x), lit("")))
        val term = when(isStringLit, struct(value(x).as("v"), lang.as("l")))
        val lst = if (a.distinct) collect_set(term) else collect_list(term)
        Seq(lst.as(s"__${out}_lst"),
          max(when(x.isNull || !isStringLit, 1).otherwise(0)).as(s"__${out}_bad"),
          min(lang).as(s"__${out}_lmin"), max(lang).as(s"__${out}_lmax"))
      case other => throw new IllegalArgumentException(s"unknown aggregate $other")
    }
  }

  /** Buffer columns → final PlainTerm result (the reference's
    * evaluate + int64→term cast, graph_pattern_rewriter.rs:367-404). */
  private def aggFinal(out: String, a: Aggregate, argKind: Option[Int] = None): Column = {
    import TermCols._
    a.name match {
      case "COUNT" => fromLong(col(s"__${out}_cnt"))
      case "SUM" if argKind.contains(3) =>
        // double-family input: empty group → SUM({}) = 0; unbound poisons;
        // all-float inputs render xsd:float (promotion ladder)
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(col(s"__${out}_any") === 1,
            when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl")))
              .otherwise(fromFloat(col(s"__${out}_dbl"))))
          .otherwise(fromLong(lit(0L)))
      case "AVG" if argKind.contains(3) =>
        // coalesce: sum() over an empty implicit group is NULL, and
        // Avg({}) = 0 per spec §18.5.1.5 (as SUM already handles)
        val n = coalesce(col(s"__${out}_n"), lit(0L))
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(n === 0, fromLong(lit(0L)))
          .otherwise(when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl") / n))
            .otherwise(fromFloat(col(s"__${out}_dbl") / n)))
      case "SUM" =>
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(col(s"__${out}_anydbl") === 1,
            when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl")))
              .otherwise(fromFloat(col(s"__${out}_dbl"))))
          .when(col(s"__${out}_anydec") === 1, fromDecimal(col(s"__${out}_dec")))
          // empty group → 0; an i64-overflowing integer sum poisons
          // (try_cast null → nullTerm) instead of throwing under ANSI
          .when(col(s"__${out}_dec").isNull, fromLong(lit(0L)))
          .otherwise(fromLong(col(s"__${out}_dec").try_cast(LongType)))
      case "AVG" =>
        val n = coalesce(col(s"__${out}_n"), lit(0L))
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(n === 0, fromLong(lit(0L)))
          .when(col(s"__${out}_anydbl") === 1,
            when(col(s"__${out}_isd") === 1, fromDouble(col(s"__${out}_dbl") / n))
              .otherwise(fromFloat(col(s"__${out}_dbl") / n)))
          .otherwise(fromDecimal((col(s"__${out}_dec") / n).cast(DecimalType(36, 16))))
      case "MIN" | "MAX" => col(s"__${out}_mm").getField("t")
      case "SAMPLE" => col(s"__${out}_s")
      case "GROUP_CONCAT" =>
        val cat = concat_ws(a.separator.getOrElse(" "),
          transform(col(s"__${out}_lst"), _.getField("v")))
        when(col(s"__${out}_bad") === 1, nullTerm)
          .when(col(s"__${out}_lmin") === col(s"__${out}_lmax") &&
            col(s"__${out}_lmin") =!= "", langStr(cat, col(s"__${out}_lmin")))
          .otherwise(str(cat))
    }
  }

  // ------------------------------------------------------------------- paths

  /** Property-path pattern → (src, tgt) endpoints bound like a triple scan
    * (reference PropertyPathLoweringRule, paths/path_node/rewrite.rs:57-371). */
  private def pathPattern(s: TermPattern, path: PropertyPath, o: TermPattern,
                          scope: GraphScope): SPlan = {
    val (df0, gvar) = scopedQuads(scope)
    // bound-endpoint closures grow from the seed instead of materialising the
    // full transitive closure — the difference between O(reachable-from-x)
    // and O(all-paths) work at scale. A bound object seeds the reversed walk.
    val paths = (path, s, o) match {
      case (PathOneOrMore(i), TermPat(t), _) =>
        closure(pathDF(i, df0), Some(seedDF(df0, t)))
      case (PathOneOrMore(i), _, TermPat(t)) =>
        closure(pathDF(i, df0).select(col("g"), col("tgt").as("src"), col("src").as("tgt")),
            Some(seedDF(df0, t)))
          .select(col("g"), col("tgt").as("src"), col("src").as("tgt"))
      case (PathZeroOrMore(i), TermPat(t), _) =>
        val seed = seedDF(df0, t)
        val zero = seed.select(col("g"), col("n").as("src"), col("n").as("tgt"))
        zero.unionAll(closure(pathDF(i, df0), Some(seed))).dropDuplicates()
      case (PathZeroOrMore(i), _, TermPat(t)) =>
        val seed = seedDF(df0, t)
        val zero = seed.select(col("g"), col("n").as("src"), col("n").as("tgt"))
        zero.unionAll(
            closure(pathDF(i, df0).select(col("g"), col("tgt").as("src"), col("src").as("tgt")),
                Some(seed))
              .select(col("g"), col("tgt").as("src"), col("src").as("tgt")))
          .dropDuplicates()
      case _ => pathDF(path, df0)
    }
    var df = paths
    s match { case TermPat(t) => df = df.filter(termFilter(col("src"), t)); case _ => }
    o match { case TermPat(t) => df = df.filter(termFilter(col("tgt"), t)); case _ => }
    val slots = Seq(varName(s) -> "src", varName(o) -> "tgt").collect { case (Some(v), c) => v -> c } ++
      gvar.map(_ -> "g")
    slots.groupBy(_._1).foreach { case (_, occ) =>
      occ.map(_._2).sliding(2).foreach {
        case Seq(c1, c2) => df = df.filter(col(c1) === col(c2))
        case _ =>
      }
    }
    val outVars = slots.map(_._1).distinct
    val proj = slots.groupBy(_._1).view.mapValues(_.head._2).toMap
    SPlan(df.select(outVars.map(v => col(proj(v)).as(v)): _*), outVars, Set.empty)
  }

  /** Structural path forms over the scoped quads; returns cols (g, src, tgt).
    * g is the graph term (NULL in default graph) so closure stays per-graph
    * (reference disallow_cross_graph_paths, physical.rs:345-384). */
  private def pathDF(p: PropertyPath, q: DataFrame): DataFrame = p match {
    case PathLink(Iri(i)) =>
      q.filter(col("predicate.v") === i && col("predicate.t") === TermType.Iri)
        .select(col("graph").as("g"), col("subject").as("src"), col("object").as("tgt"))
    case PathNegated(fwd, rev) =>
      val f = if (fwd.nonEmpty)
        Some(q.filter(!col("predicate.v").isin(fwd.map(_.value): _*))
          .select(col("graph").as("g"), col("subject").as("src"), col("object").as("tgt")))
      else None
      val r = if (rev.nonEmpty)
        Some(q.filter(!col("predicate.v").isin(rev.map(_.value): _*))
          .select(col("graph").as("g"), col("object").as("src"), col("subject").as("tgt")))
      else None
      // bag semantics: !(…) is a predicate test on a single triple match
      (f, r) match {
        case (Some(a), Some(b)) => a.unionAll(b)
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case _ => throw new IllegalArgumentException("empty negated property set")
      }
    case PathReverse(i) =>
      pathDF(i, q).select(col("g"), col("tgt").as("src"), col("src").as("tgt"))
    case PathSequence(a, b) =>
      // rename-based self-join (aliases are unreliable when both sides are
      // the same checkpointed DataFrame)
      val l = pathDF(a, q).select(col("g").as("lg"), col("src").as("lsrc"), col("tgt").as("ltgt"))
      val r = pathDF(b, q)
      // bag semantics: p1/p2 ≡ { ?s p1 ?mid . ?mid p2 ?o } (one row per
      // intermediate witness, SPARQL 18.4 path translation) — no dedup,
      // and one less shuffle per step
      l.join(r, col("ltgt") === col("src") && (col("lg") <=> col("g")))
        .select(col("lg").as("g"), col("lsrc").as("src"), col("tgt"))
    case PathAlternative(a, b) => // bag semantics (UNION translation)
      pathDF(a, q).unionAll(pathDF(b, q))
    case PathZeroOrOne(i) => zeroLength(q).unionAll(pathDF(i, q)).dropDuplicates()
    case PathZeroOrMore(i) => zeroLength(q).unionAll(closure(pathDF(i, q))).dropDuplicates()
    case PathOneOrMore(i) => closure(pathDF(i, q))
  }

  /** Zero-length paths: every subject/object node paired with itself
    * (reference paths/path_node/rewrite.rs:250-266). */
  private def zeroLength(q: DataFrame): DataFrame = {
    q.select(col("graph").as("g"), col("subject").as("n"))
      .unionAll(q.select(col("graph").as("g"), col("object").as("n")))
      .dropDuplicates()
      .select(col("g"), col("n").as("src"), col("n").as("tgt"))
  }

  /** Seed nodes (g, n) for a bound-endpoint closure walk. */
  private def seedDF(scoped: DataFrame, t: RdfTerm): DataFrame =
    scoped.select(col("graph").as("g"), col("subject").as("n"))
      .unionAll(scoped.select(col("graph").as("g"), col("object").as("n")))
      .filter(termFilter(col("n"), t)).dropDuplicates()

  private def closure(edges0: DataFrame, seeds: Option[DataFrame] = None): DataFrame = {
    val key = Rewriter.closureKey(edges0, seeds)
    Rewriter.closureCache.synchronized {
      val hit = Rewriter.closureCache.get(key)
      if (hit != null) return hit
    }
    val result = closureCompute(edges0, seeds)
    Rewriter.closureCache.synchronized { Rewriter.closureCache.put(key, result) }
    result
  }

  /** Heavy (g, src) join keys of `rel` — nodes whose out-degree reaches
    * [[graft.ops.SkewSalt.hotThreshold]] — or None when `rel` is too small
    * for any key to qualify (gate/local scale pays zero extra jobs). A hub
    * key amplifies the closure step join's OUTPUT (frontier-in × edges-out
    * pairs in one task), which AQE's input-size-based skew splitting can
    * never see (measured: tools/SkewProbe); the converse case — a hub with
    * only IN-degree — is plain input skew on the delta side, which AQE does
    * split. */
  private def heavyKeys(rel: DataFrame, relCount: Long): Option[DataFrame] = {
    val hot = graft.ops.SkewSalt.hotThreshold
    val minRows = sys.props.get("graft.salt.minRows").map(_.toLong).getOrElse(100000L)
    if (relCount < math.max(hot.toLong, minRows)) None
    else {
      val h = rel.groupBy(col("g"), col("src")).agg(count(lit(1)).as("__n"))
        .where(col("__n") >= hot)
        .select(col("g").as("hg"), col("src").as("hk")).localCheckpoint()
      if (h.isEmpty) None else Some(h)
    }
  }

  /** One closure step: delta (dg, dsrc, dtgt) ∘ rel (g, src, tgt) →
    * (g, src, tgt). With `heavy` present the join is salted: delta rows
    * landing on a heavy key take a deterministic salt hashed from their
    * OTHER endpoint, heavy rel rows replicate once per salt — every
    * composed path still produced exactly once, but a hub's quadratic
    * output enumeration spreads across [[graft.ops.SkewSalt.salts]] tasks
    * instead of one. */
  private def stepJoin(delta: DataFrame, rel: DataFrame,
                       heavy: Option[DataFrame]): DataFrame = heavy match {
    case None =>
      // both sides are checkpointed (no stats) → hint shuffle_hash so the
      // per-round join skips SortMergeJoin's two sorts; the delta side is
      // hinted (= build side): the frontier shrinks round over round while
      // rel stays edge-sized
      delta.hint("shuffle_hash")
        .join(rel, col("dtgt") === col("src") && (col("dg") <=> col("g")))
        .select(col("dg").as("g"), col("dsrc").as("src"), col("tgt"))
    case Some(h) =>
      val s = graft.ops.SkewSalt.salts
      val hb = broadcast(h.withColumn("__hot", lit(1)))
      val d2 = delta
        .join(hb, col("dtgt") === col("hk") && (col("dg") <=> col("hg")), "left")
        .withColumn("__sa", when(col("__hot") === 1,
          pmod(xxhash64(col("dsrc")), lit(s)).cast("int")).otherwise(lit(0)))
        .select(col("dg"), col("dsrc"), col("dtgt"), col("__sa"))
      val r2 = rel
        .join(hb, col("src") === col("hk") && (col("g") <=> col("hg")), "left")
        .withColumn("__sb", explode(when(col("__hot") === 1,
          sequence(lit(0), lit(s - 1))).otherwise(array(lit(0)))))
        .select(col("g"), col("src"), col("tgt"), col("__sb"))
      d2.hint("shuffle_hash")
        .join(r2, col("dtgt") === col("src") && (col("dg") <=> col("g")) &&
          col("__sa") === col("__sb"))
        .select(col("dg").as("g"), col("dsrc").as("src"), col("tgt"))
  }

  /** [[heavyKeys]] over the long-encoded edge relation (s, t): hot source
    * ids whose out-degree reaches the salt threshold. */
  private def heavyIds(rel: DataFrame, relCount: Long): Option[DataFrame] = {
    val hot = graft.ops.SkewSalt.hotThreshold
    val minRows = sys.props.get("graft.salt.minRows").map(_.toLong).getOrElse(100000L)
    if (relCount < math.max(hot.toLong, minRows)) None
    else {
      val h = rel.groupBy(col("s")).agg(count(lit(1)).as("__n"))
        .where(col("__n") >= hot)
        .select(col("s").as("hk")).localCheckpoint()
      if (h.isEmpty) None else Some(h)
    }
  }

  /** [[stepJoin]] on the long-encoded relations: delta (s, t) ∘ rel (s, t)
    * joined on delta.t = rel.s → (s, t); salted identically when `heavy`
    * ids are present. `broadcastDelta` streams rel against the broadcast
    * delta instead — no exchange on the (big) rel side, no salting needed
    * (a broadcast join has no per-key partition to collapse; composition
    * output spreads across rel's existing blocks). */
  private def stepJoinL(delta: DataFrame, rel: DataFrame,
                        heavy: Option[DataFrame],
                        broadcastDelta: Boolean = false): DataFrame = {
    val d = delta.select(col("s").as("ds"), col("t").as("dt"))
    if (broadcastDelta)
      return broadcast(d).join(rel, col("dt") === col("s"))
        .select(col("ds").as("s"), col("t"))
    heavy match {
      case None =>
        d.hint("shuffle_hash").join(rel, col("dt") === col("s"))
          .select(col("ds").as("s"), col("t"))
      case Some(h) =>
        val ns = graft.ops.SkewSalt.salts
        val hb = broadcast(h.withColumn("__hot", lit(1)))
        val d2 = d.join(hb, col("dt") === col("hk"), "left")
          .withColumn("__sa", when(col("__hot") === 1,
            pmod(xxhash64(col("ds")), lit(ns)).cast("int")).otherwise(lit(0)))
          .select(col("ds"), col("dt"), col("__sa"))
        val r2 = rel.join(hb, col("s") === col("hk"), "left")
          .withColumn("__sb", explode(when(col("__hot") === 1,
            sequence(lit(0), lit(ns - 1))).otherwise(array(lit(0)))))
          .select(col("s"), col("t"), col("__sb"))
        d2.hint("shuffle_hash")
          .join(r2, col("dt") === col("s") && col("__sa") === col("__sb"))
          .select(col("ds").as("s"), col("t"))
    }
  }

  /** [[stepJoinL]] carrying the exact-distance column: `ex` (s, t, d) holds
    * pairs at ONE exact distance, `rel` (s, t, d) the full history with its
    * exact distances; output d = ex.d + rel.d (joined on ex.t = rel.s). */
  private def stepJoinD(ex: DataFrame, rel: DataFrame,
                        heavy: Option[DataFrame],
                        broadcastDelta: Boolean = false): DataFrame = {
    val d = ex.select(col("s").as("ds"), col("t").as("dt"), col("d").as("dd"))
    val out = Seq(col("ds").as("s"), col("t"), (col("dd") + col("d")).as("d"))
    if (broadcastDelta)
      return broadcast(d).join(rel, col("dt") === col("s")).select(out: _*)
    heavy match {
      case None =>
        d.hint("shuffle_hash").join(rel, col("dt") === col("s")).select(out: _*)
      case Some(h) =>
        val ns = graft.ops.SkewSalt.salts
        val hb = broadcast(h.withColumn("__hot", lit(1)))
        val d2 = d.join(hb, col("dt") === col("hk"), "left")
          .withColumn("__sa", when(col("__hot") === 1,
            pmod(xxhash64(col("ds")), lit(ns)).cast("int")).otherwise(lit(0)))
          .select(col("ds"), col("dt"), col("dd"), col("__sa"))
        val r2 = rel.join(hb, col("s") === col("hk"), "left")
          .withColumn("__sb", explode(when(col("__hot") === 1,
            sequence(lit(0), lit(ns - 1))).otherwise(array(lit(0)))))
          .select(col("s"), col("t"), col("d"), col("__sb"))
        d2.hint("shuffle_hash")
          .join(r2, col("dt") === col("s") && col("__sa") === col("__sb"))
          .select(out: _*)
    }
  }

  /** stderr per-round timing, local profiling only (-Dgraft.closure.debug=true). */
  private def dbg(label: => String, t0: Long): Unit =
    if (sys.props.get("graft.closure.debug").contains("true"))
      System.err.println(f"[closure] $label ${(System.nanoTime() - t0) / 1e9}%.3f s")

  /**
   * Transitive closure of `edges` (g, src, tgt), per graph; with `seeds`
   * (g, n) only the pairs whose src is a seed. The reference computes it
   * with a single-partition blocking KleenePlusClosureExec
   * (lib/physical/src/paths/kleene_plus/physical.rs:166-290). Two paths,
   * chosen by the [[graft.ops.LocalGraph]] byte gate on the deduplicated
   * edges:
   *
   *  - below the gate the edges are collected into a driver-side CSR
   *    adjacency over interned (graph, node) ids and broadcast; one
   *    `mapPartitions` stage runs a depth-first walk per source (every
   *    node, or the seeds) and emits term rows. A handful of jobs in all,
   *    where the loop below pays a few per round;
   *  - above it, distributed semi-naïve iteration over dictionary-encoded
   *    long ids: each round is a distributed hash join, localCheckpoint
   *    cuts lineage so plans stay flat, and the work scales with the
   *    cluster.
   *
   * Either way the result is checkpointed, in the edges' schema.
   */
  private def closureCompute(edges0: DataFrame, seeds: Option[DataFrame]): DataFrame = {
    val tE = System.nanoTime()
    val edges = edges0.dropDuplicates().localCheckpoint()
    val eCnt = edges.count()
    dbg("edges materialize", tE)
    if (graft.ops.LocalGraph.fits(eCnt, edges.schema)) {
      val tL = System.nanoTime()
      val out = localClosure(edges, seeds)
      dbg("local path", tL)
      return out
    }
    // The iteration below shuffles its working relation every round; on RDF
    // terms that is three 5-field structs per row. (graph, node) pairs are
    // dictionary-encoded to ONE long up front (ids are per-graph, so the
    // g <=> g same-graph constraint folds into plain id equality) and decoded
    // back to terms once at the end: O(|edges| + |closure|) encode/decode
    // replaces O(rounds × |closure|) struct-wide shuffles (guide §2.2,
    // shuffle fewer bytes / narrower types).
    val tD = System.nanoTime()
    val dict0 = edges.select(col("g"), col("src").as("n"))
      .unionAll(edges.select(col("g"), col("tgt").as("n")))
      .dropDuplicates()
      // ids are frozen by the checkpoint (assigned once, never recomputed)
      .withColumn("__id", monotonically_increasing_id())
      .localCheckpoint()
    // the dictionary is node-count-bounded (≤ 2·|edges| entries, usually far
    // fewer) while the pair relation it translates grows toward |closure| —
    // broadcast it when its estimated bytes pass the local gate, so the
    // encode/decode joins never shuffle the big side (guide §3.1); above
    // the gate, shuffled-hash
    val dict =
      if (graft.ops.LocalGraph.fits(dict0.count(), dict0.schema)) broadcast(dict0)
      else dict0.hint("shuffle_hash")
    val sDict = dict.select(col("g").as("__sg"), col("n").as("__sn"), col("__id").as("__sid"))
    val tDict = dict.select(col("g").as("__tg"), col("n").as("__tn"), col("__id").as("__tid"))
    val eL = edges
      .join(sDict, (col("g") <=> col("__sg")) && col("src") === col("__sn"))
      .join(tDict, (col("g") <=> col("__tg")) && col("tgt") === col("__tn"))
      .select(col("__sid").as("s"), col("__tid").as("t"))
      .localCheckpoint()
    dbg("dict encode", tD)
    def decode(pairs: DataFrame): DataFrame = pairs
      .join(sDict, col("s") === col("__sid"))
      .join(tDict, col("t") === col("__tid"))
      .select(col("__sg").as("g"), col("__sn").as("src"), col("__tn").as("tgt"))
    // subtract already-known pairs: next is distinct, so this anti join is
    // `except` minus except's redundant left-side re-dedup. The shuffle_hash
    // hint sits on the NEW-pairs side (bounded by one round's compositions),
    // never on the accumulated closure: a ShuffledHashJoin build side cannot
    // spill, and `all` grows toward |closure| — building on it would OOM at
    // scale exactly where except's SortMergeJoin spilled.
    def minusAll(next: DataFrame, all: DataFrame): DataFrame = next.hint("shuffle_hash").join(
      all.select(col("s").as("__as"), col("t").as("__at")),
      col("s") === col("__as") && col("t") === col("__at"), "left_anti")
    // One semi-naive round: compose delta ∘ rel, keep pairs not already in
    // `all`. A small frontier takes the BROADCAST path (guide §3.1): compose
    // streams rel against the broadcast delta, and the history check first
    // semi-filters `all` down to the broadcast candidate keys before a
    // broadcast anti join — the big sides (rel, all) are never shuffled.
    // The shuffle path otherwise pays two full exchanges of the accumulated
    // relation per round just to process a residual frontier; tail rounds
    // of the doubling loop and every round of a small seeded walk hit this.
    val tailRows = sys.props.get("graft.closure.tailBroadcastRows")
      .map(_.toLong).getOrElse(250000L)
    def subtractBcast(next: DataFrame, all: DataFrame): DataFrame = {
      val known = all.join(
          broadcast(next.select(col("s").as("__ns"), col("t").as("__nt"))),
          col("s") === col("__ns") && col("t") === col("__nt"), "left_semi")
        .select(col("s").as("__as"), col("t").as("__at")).localCheckpoint()
      next.join(broadcast(known),
        col("s") === col("__as") && col("t") === col("__at"), "left_anti")
    }
    // checkpoint `next`, count it, and subtract history by whichever side is
    // provably small enough to broadcast
    def subtract(next0: DataFrame, all: DataFrame, tail: Boolean): DataFrame =
      if (tail) {
        val next = next0.localCheckpoint()
        val nCnt = next.count()
        if (nCnt == 0) next
        else if (nCnt <= tailRows) subtractBcast(next, all).localCheckpoint()
        else minusAll(next, all).localCheckpoint()
      } else minusAll(next0, all).localCheckpoint()
    def round(delta: DataFrame, deltaCnt: Long, rel: DataFrame, all: DataFrame,
              heavy: => Option[DataFrame]): DataFrame = {
      val tail = deltaCnt <= tailRows
      subtract(
        stepJoinL(delta, rel, if (tail) None else heavy, broadcastDelta = tail)
          .dropDuplicates(),
        all, tail)
    }
    seeds match {
      case Some(sd) =>
        // seeded walk: the frontier only ever holds nodes reachable from the
        // seeds — rounds are linear in path depth but each round touches
        // O(frontier) data, not the whole graph
        val tS = System.nanoTime()
        val s = sd.select(col("g").as("sg"), col("n"))
        val seedL = s.join(sDict,
            (col("sg") <=> col("__sg")) && col("n") === col("__sn"))
          .select(col("__sid").as("sn")).localCheckpoint()
        var all = eL.join(seedL.hint("shuffle_hash"), col("s") === col("sn"), "left_semi")
          .localCheckpoint()
        dbg("seed frontier", tS)
        // dense seed set: the walk would touch most of the graph anyway, and
        // linear rounds pay fixed job overhead per hop — log-round full
        // doubling restricted back to the seeds is strictly fewer rounds
        val aCnt = all.count()
        if (aCnt * 8 >= eCnt)
          return closure(edges, None)
            .join(s.hint("shuffle_hash"),
              col("src") === col("n") && (col("g") <=> col("sg")), "left_semi")
        // hub out-degrees are static across rounds: detect once — and
        // lazily: only a shuffle-path round (frontier above the broadcast
        // tail gate) consults it; all-broadcast walks never pay the
        // detection job
        lazy val eHeavy = heavyIds(eL, eCnt)
        var delta = all
        var deltaCnt = aCnt
        var rounds = 0
        // linear BFS rounds are O(frontier) work but pay fixed driver/job
        // overhead per hop — right for shallow graphs; past maxLinear hops a
        // deep structure is cheaper to finish with one path-doubled closure
        // composed onto the reach so far (log(diameter) further rounds)
        val maxLinear = 16
        while (deltaCnt > 0 && rounds < maxLinear) {
          val tR = System.nanoTime()
          rounds += 1
          delta = round(delta, deltaCnt, eL, all, eHeavy)
          deltaCnt = delta.count()
          // `all` stays a lazy union of CHECKPOINTED deltas: every piece is
          // already materialized, so consumers scan the block union without
          // re-persisting the whole accumulated set each round (the old
          // checkpoint-of-union rewrote O(|closure|) blocks per round)
          if (deltaCnt > 0) all = all.unionAll(delta)
          dbg(s"seeded round $rounds += $deltaCnt", tR)
        }
        if (deltaCnt == 0) decode(all).localCheckpoint()
        else {
          // deep-graph escape: one composition onto the (cached, term-level)
          // full closure finishes the walk in a single round
          val full = closure(edges, None)
          val allT = decode(all)
          val a = allT.select(col("g").as("dg"), col("src").as("dsrc"), col("tgt").as("dtgt"))
          stepJoin(a, full, heavyKeys(edges, eCnt))
            .unionAll(allT).dropDuplicates().localCheckpoint()
        }
      case None =>
        // full closure: EXACT-DISTANCE path doubling, log(diameter) rounds
        // instead of the reference's single-partition linear loop
        // (lib/physical/src/paths/kleene_plus/physical.rs:246-290).
        // Every stored pair carries its exact shortest distance `d`. Round k
        // composes only the EXACT-2^k front (ex = delta filtered to d = 2^k)
        // against the full history: splitting a shortest path of length
        // d* ∈ (2^k, 2^k+1] at exactly 2^k steps shows this reaches double
        // the distance per round, and — unlike composing the whole band
        // delta, whose (2^k-1, 2^k] × (0, 2^k] splits emit every new pair
        // once per valid split point (measured 8× duplicate multiplicity on
        // a 43M-pair closure, round output 70M rows) — the exact-front
        // split is unique per shortest path, so compose output ≈ the new
        // pairs themselves. min(d) aggregation replaces dropDuplicates
        // (same shuffle), keeping stored distances exact (induction: a
        // produced d is 2^k + an exact suffix distance, minimised over
        // midpoints; the true midpoint realises the true distance and the
        // anti join protects already-stored, strictly smaller values).
        // Termination is new-empty: if any pair beyond 2^k existed, its
        // 2^k-prefix would be an exact-2^k pair in the current delta.
        // hub keys come from the BASE edges, detected once: re-detecting on
        // the evolving reachability relation costs O(|all|) extra per round
        // (measured 2× on a 16M-pair closure) for marginal coverage — the
        // base hub is the amplification epicenter; a node whose CLOSURE
        // degree alone is huge spreads its output across its many distinct
        // frontier rows, which is ordinary input skew AQE does split
        lazy val eHeavy = {
          val tH = System.nanoTime()
          val h = heavyIds(eL, eCnt)
          dbg("heavyKeys", tH)
          h
        }
        var all = eL.withColumn("d", lit(1L))
        var delta = all
        var deltaCnt = eCnt
        var span = 1L
        while (deltaCnt > 0) {
          val tR = System.nanoTime()
          val tail = deltaCnt <= tailRows
          val ex = delta.filter(col("d") === lit(span))
          val composed = stepJoinD(ex, all, if (tail) None else eHeavy,
            broadcastDelta = tail)
          delta = subtract(
            composed.groupBy(col("s"), col("t")).agg(min(col("d")).as("d")),
            all, tail)
          deltaCnt = delta.count()
          // `all` stays a lazy union of CHECKPOINTED deltas: every piece is
          // already materialized, so consumers scan the block union without
          // re-persisting the whole accumulated set each round (the old
          // checkpoint-of-union rewrote O(|closure|) blocks per round)
          if (deltaCnt > 0) all = all.unionAll(delta)
          span *= 2
          dbg(s"doubling round += $deltaCnt", tR)
        }
        decode(all).localCheckpoint()
    }
  }

  /** The closure below the gate: a depth-first walk from every source over
    * the broadcast adjacency of interned (g, n) ids, so same-graph paths
    * need no extra check. Emits (g, src, tgt) term rows in `edges`'
    * schema, checkpointed like the distributed result. */
  private def localClosure(edges: DataFrame, seeds: Option[DataFrame]): DataFrame = {
    val graph = graft.ops.LocalGraph.build(
      edges.collect().map(r => ((r.get(0), r.get(1)), (r.get(0), r.get(2)))))
    // seeds are one (g, n) row per graph holding the bound term
    val sources = seeds match {
      case Some(sd) =>
        sd.select(col("g"), col("n")).collect().flatMap(r => graph.id((r.get(0), r.get(1)))).distinct
      case None => Array.range(0, graph.size)
    }
    val sc = spark.sparkContext
    val bc = sc.broadcast(graph)
    val rows = sc.parallelize(sources.toSeq,
        math.max(1, math.min(sources.length, sc.defaultParallelism)))
      .mapPartitions { it =>
        val g = bc.value
        val walk = g.walker()
        it.flatMap { s =>
          val (gr, src) = g.keys(s)
          val out = scala.collection.mutable.ArrayBuffer.empty[Row]
          walk.reach(s)(t => out += Row(gr, src, g.keys(t)._2))
          out
        }
      }
    val result = spark.createDataFrame(rows, edges.schema).localCheckpoint()
    bc.destroy()
    result
  }

  // ===================================================================== query

  /** Compile a full SELECT (used for top level and sub-selects). */
  def select(q: SelectQuery, outerScope: GraphScope): SPlan = {
    val scope =
      if (q.fromDefault.nonEmpty) GraphScope.UnionOf(q.fromDefault.map(_.value))
      else outerScope
    var plan = pattern(q.where, scope)
    val env = ExprCompiler.envOf(plan.vars.toSet, plan.kinds)

    // computed projection items become columns first (visible to ORDER BY)
    val projItems = if (q.projection.nonEmpty) q.projection
                    else inScopeVars(q.where).map(v => ProjItem(v, None))
    var df = plan.df
    // select expressions evaluate SEQUENTIALLY (spec 18.2.4.4): each
    // (expr AS ?v) extends the solution, so a later expression sees the
    // earlier aliases — SELECT (1 AS ?a) (?a + 1 AS ?b) binds ?b = 2.
    // Tracked as an SPlan so EXISTS subexpressions rewrite to marker
    // columns here too (SELECT (EXISTS {…} AS ?b) is legal SPARQL).
    val (dfSol, selSol) = solNonce(df, projItems.collect { case ProjItem(_, Some(e)) => e })
    var cur = SPlan(dfSol, plan.vars, plan.maybeUnbound, plan.kinds)
    projItems.foreach {
      case ProjItem(v, Some(e)) =>
        val (e2, p2) = rewriteExists(e, cur, scope)
        val (d2, kind) = withTermColumn(p2.df, p2.vars.toSet, p2.kinds, v.name, e2,
          selSol.map(col))
        cur = SPlan(d2, p2.vars :+ v.name, p2.maybeUnbound + v.name,
          p2.kinds ++ kind.map(v.name -> _))
      case ProjItem(v, None) if !cur.vars.contains(v.name) =>
        // projecting a variable that never occurs in the pattern is legal
        // SPARQL — it is simply unbound in every solution
        cur = SPlan(cur.df.withColumn(v.name, TermCols.nullTerm),
          cur.vars :+ v.name, cur.maybeUnbound + v.name, cur.kinds)
      case _ =>
    }
    df = selSol.fold(cur.df)(cur.df.drop(_))
    val ksAcc = cur.kinds
    val projNames = projItems.map(_.v.name)
    val allVars = (plan.vars ++ projNames).distinct
    // kinds survive projection: plain vars keep theirs, computed items got
    // theirs during the sequential walk — computed EARLY so ORDER BY
    // compiles narrow sort keys over them
    val ks = projItems.flatMap {
      case ProjItem(v, None) => plan.kinds.get(v.name).map(v.name -> _)
      case ProjItem(v, Some(_)) => ksAcc.get(v.name).map(v.name -> _)
    }.toMap
    val env2 = ExprCompiler.envOf(allVars.toSet, plan.kinds ++ ks)

    if (q.distinct || q.reduced) {
      // project → dedup → order → slice (ordering keys must be projected)
      df = df.select(projNames.map(col): _*).dropDuplicates()
      if (q.orderBy.nonEmpty)
        df = orderDf(df, q.orderBy, ExprCompiler.envOf(projNames.toSet, ks))
    } else {
      if (q.orderBy.nonEmpty) df = orderDf(df, q.orderBy, env2)
      df = df.select(projNames.map(col): _*)
    }
    q.offset.foreach(o => df = df.offset(o.toInt))
    q.limit.foreach(l => df = df.limit(l.toInt))
    val mu = projItems.map(_.v.name).filter(v =>
      plan.isNullable(v) || !plan.vars.contains(v) ||
        projItems.exists(p => p.v.name == v && p.expr.isDefined)).toSet
    // a LIMIT-k sub-select is structurally bounded no matter the input size
    SPlan(df, projNames, mu, ks, plan.tiny || q.limit.exists(_ <= 10000))
  }

  private def orderDf(df: DataFrame, conds: Seq[OrderCond], env: ExprCompiler.Env): DataFrame = {
    // SPARQL total order via the sortable view; unbound sorts first on ASC
    // (reference graph_pattern_rewriter.rs:277-297 — nulls_first = true).
    // Statically-kinded keys collapse to one narrow native column.
    // A computed ORDER BY expression is materialised as a column FIRST: the
    // sortable-view CASE ladder references its operand ~50×, so inlining a
    // dynamic-kind expression tree multiplies its size (bi-q3's ORDER BY
    // DESC(float(?x)/?y) inlined to a 5.8M-char Sort node — megabytes of
    // codegen and minutes of driver CPU for a 10-row sort).
    var d = df
    var tmps = List.empty[String]
    val keys = conds.map { c =>
      val k = ExprCompiler.sortKeyStatic(c.expr, env).getOrElse {
        val operand = c.expr match {
          case EVar(v) => ExprCompiler.term(c.expr, env)
          case _ =>
            val tmp = fresh("ord")
            d = d.withColumn(tmp, ExprCompiler.term(c.expr, env))
            tmps ::= tmp
            col(tmp)
        }
        // ...and the LADDER is materialised too, so the Sort node orders by
        // a plain attribute: optimizer rules that walk sort expressions
        // (NestedColumnAliasing's pairwise semanticEquals over struct
        // extracts in particular) are superlinear in the ordering
        // expression's size, and the ladder inside Sort measurably took
        // bi-q8 from 1.6 s to minutes of pure driver plan time.
        val tmpK = fresh("ordk")
        d = d.withColumn(tmpK, TermCols.sortKey(operand))
        tmps ::= tmpK
        col(tmpK)
      }
      if (c.ascending) k.asc_nulls_first else k.desc_nulls_last
    }
    d.orderBy(keys: _*).drop(tmps: _*)
  }
}

object Rewriter {
  /** Row bound under which a materialised aggregate-rooted cross-join side
    * broadcasts (~100k term-struct rows ≈ tens of MB serialized). */
  private[engine] val CrossBroadcastRows: Long = 1L << 17

  /** Measured crossover below which the compat-union rewrite's fixed costs
    * (checkpoint + 2^bits branch scans) lose to the plain theta join
    * (tools/CompatUnionProbe: theta wins at 5k rows/side, the union wins
    * 10× at 20k/side). Both sides at or under this → theta on the
    * already-checkpointed inputs. */
  private[engine] val CompatUnionMinRows: Long = 10000L

  /** Cap on null-pattern slice pairs in the compat-union join rewrite,
    * expressed as the EXPONENT sum (branches = 2^(|nullable-left| +
    * |nullable-right|)). 4 → ≤16 branches, covering up to two nullable
    * shared vars per side; beyond that the branch fan-out costs more than
    * the theta join it replaces, so the general path keeps such (rare,
    * deeply-OPTIONAL) shapes. Comparing exponents (not a shift product)
    * cannot overflow on hostile queries with ~63 nullable shared vars. */
  private[engine] val CompatUnionMaxBranchBits: Int = 4

  /** Computed closures memoised per (session, edges plan, seeds plan) — a
    * transitive closure is a build-once/query-many artifact exactly like
    * the IVF index and MinHash signature caches (ops/IndexCache): repeated
    * `p+`/`p*` queries over the same (immutable-plan) edge relation reuse
    * the fixpoint instead of re-running log(diameter) join rounds. Lives on
    * the companion (a Rewriter is built per query), keyed by the FULL
    * canonicalized plans, so new data (a changed store union) is a cache
    * miss by construction. Bounded LRU; evicted checkpoints are freed by
    * the ContextCleaner. */
  private[engine] val closureCache = {
    val m = new java.util.LinkedHashMap[String, DataFrame](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, DataFrame]): Boolean =
        size() > 8
    }
    m
  }
  private[engine] def closureKey(edges: DataFrame, seeds: Option[DataFrame]): String =
    graft.ops.IndexCache.key(edges) + "||" +
      seeds.map(graft.ops.IndexCache.key(_)).getOrElse("")

  /** Drop all memoised closures (bench honesty: min-of-passes timing must
    * not report warm-artifact cost — see [[graft.ops.IndexCache.clearAll]]). */
  def clearClosureCache(): Unit = closureCache.synchronized { closureCache.clear() }

  /** Whether Catalyst's size estimate for this plan is both MEANINGFUL and
    * under the session's broadcast threshold (guide §3.1: pick the join
    * strategy deliberately; broadcast the side you KNOW is small).
    *
    * Meaningful: a pattern scan over a predicate-partitioned store
    * ([[graft.QuadStore#saveByPredicate]]) partition-prunes to one
    * directory, so `optimizedPlan.stats.sizeInBytes` is that directory's
    * real file size; a pattern over the relational mapping's union prunes
    * to the one per-column branch whose predicate matches, so the estimate
    * is that table scan's size. Both are trustworthy. NOT meaningful:
    * checkpointed RDD scans and filtered slices of a monolithic quad
    * relation — there sizeInBytes is the full-relation (or default ~8 EB)
    * figure, which simply fails the threshold, keeping today's behaviour.
    *
    * Estimates only ever OVER-state for these shapes (filters keep the
    * child's size when CBO can't refine), so a positive answer is safe at
    * any data scale; the threshold itself is the session's
    * `spark.sql.autoBroadcastJoinThreshold`, i.e. cluster-configurable,
    * not a local[32] constant. */
  private[engine] def statSmall(df: DataFrame): Boolean = {
    // Deliberately LOWER than spark.sql.autoBroadcastJoinThreshold: these
    // are columnar-compressed quad bytes, so 8 MB of parquet is ~2.4M term
    // rows — a hash relation that costs more to build + broadcast than the
    // shuffle it saves, and a broadcast chain keeps the streamed side's
    // (tiny) partitioning, so over-eager broadcasting collapses
    // parallelism (measured: wind-farm 5.9 s → 11.4 s with the 10 MB
    // threshold; metadata-only broadcasting is the win). 1 MB ≈ ≤300k
    // rows ≈ bounded-vocabulary metadata predicates. Conf-tunable for
    // other storage profiles.
    val conf = df.sparkSession.conf.getOption("graft.bgp.broadcastBytes")
      .orElse(sys.props.get("graft.bgp.broadcastBytes")).getOrElse("1m")
    val threshold =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
      catch { case _: Throwable => 1L << 20 }
    threshold > 0 && {
      val plan = df.queryExecution.optimizedPlan
      val size = prunedScanSize(plan).getOrElse(plan.stats.sizeInBytes)
      size >= 0 && size <= threshold
    }
  }

  /** See [[graft.ops.Joins.shuffleHashUnlessSmall]] — shared policy. */
  private[engine] def shuffleHashUnlessSmall(df: DataFrame): DataFrame =
    graft.ops.Joins.shuffleHashUnlessSmall(df)

  /** Partition-pruned byte size of a Project/Filter chain over ONE
    * partitioned parquet relation, or None when the shape doesn't match.
    * Spark only applies partition pruning to path-based reads at PHYSICAL
    * planning (FileSourceStrategy), so `optimizedPlan.stats` still reports
    * the FULL relation size for a `__pv = <iri>` slice of a
    * [[graft.QuadStore#saveByPredicate]] store; asking the relation's file
    * index with the plan's own partition-column predicates gives the real
    * post-pruning figure (the same one the scan node later reports as its
    * PartitionFilters size). In-memory listing — no Spark job, no I/O. */
  private def prunedScanSize(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Project => LProject}
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression => CExpr}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def split(e: CExpr): Seq[CExpr] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    @annotation.tailrec
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             conds: Seq[CExpr]): Option[(LogicalRelation, HadoopFsRelation, Seq[CExpr])] =
      p match {
        case LProject(_, child) => walk(child, conds)
        case LFilter(c, child) => walk(child, conds ++ split(c))
        case lr @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => Some((lr, fs, conds))
        case _ => None
      }
    try walk(plan, Nil).flatMap { case (lr, fs, conds) =>
      val partNames = fs.partitionSchema.fieldNames.toSet
      if (partNames.isEmpty) None
      else {
        val partAttrs = lr.output.filter(a => partNames.contains(a.name)).map(_.exprId).toSet
        val partConds = conds.filter(c =>
          c.references.nonEmpty && c.references.forall(a => partAttrs.contains(a.exprId)))
        // only a binding predicate actually prunes; anything else = full size
        if (!partConds.exists { case EqualTo(_, _) => true; case _ => false }) None
        else Some(BigInt(fs.location.listFiles(partConds, Nil)
          .iterator.flatMap(_.files).map(_.getLen).sum))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
