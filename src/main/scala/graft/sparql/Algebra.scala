package graft.sparql

import Ast._

/** Lowering from parsed graph patterns to the SPARQL algebra (W3C SPARQL 1.1 §18.2.2),
  * the same translation the reference performs over its AST
  * (`rdf/sparql/ast/eval/AST2BOpUtility.java:230`, join-group conversion :3113): group
  * elements fold left into joins, OPTIONAL → LeftJoin, MINUS → Minus, FILTERs collect to
  * the end of their group, BIND → Extend, GRAPH pushes a context onto each triple.
  */
object Algebra {

  /** Generalized triple: predicate is a path; graph context resolved. */
  final case class Triple(s: Node, p: Path, o: Node, g: Option[Node])

  sealed trait Op
  case object OpUnit extends Op
  final case class OpBgp(triples: Seq[Triple]) extends Op
  final case class OpJoin(l: Op, r: Op) extends Op
  final case class OpLeftJoin(l: Op, r: Op, cond: Seq[Expr]) extends Op
  final case class OpUnion(l: Op, r: Op) extends Op
  final case class OpMinus(l: Op, r: Op) extends Op
  final case class OpFilter(exprs: Seq[Expr], child: Op) extends Op
  final case class OpExtend(child: Op, name: String, expr: Expr) extends Op
  final case class OpValues(values: ValuesGP) extends Op
  final case class OpSubquery(q: SelectQuery) extends Op
  final case class OpService(iri: Node, inner: Op, silent: Boolean) extends Op
  final case class OpInclude(name: String) extends Op
  /** `GRAPH ?g {}` / `GRAPH <g> {}` — enumerate the named graphs (var form) or gate
    * on the graph's existence (IRI form); the reference's TestTCK trac709/trac429.
    */
  final case class OpGraphs(g: Node) extends Op

  def lower(gp: GP): Op = lower(gp, None)

  def lower(gp: GP, ctx: Option[Node]): Op = gp match {
    case t: TripleGP => OpBgp(Seq(Triple(t.s, t.p, t.o, ctx)))
    case GroupGP(elems) => lowerGroup(elems, ctx)
    case OptionalGP(inner) => // handled by lowerGroup; standalone OPTIONAL = LeftJoin(unit,…)
      OpLeftJoin(OpUnit, lower(inner, ctx), Nil)
    case UnionGP(alts) => alts.map(lower(_, ctx)).reduce(OpUnion(_, _))
    case MinusGP(inner) => OpMinus(OpUnit, lower(inner, ctx))
    case FilterGP(e) => OpFilter(Seq(ctxExpr(e, ctx)), OpUnit)
    case BindGP(e, v) => OpExtend(OpUnit, v.name, ctxExpr(e, ctx))
    case v: ValuesGP => OpValues(v)
    case GraphGP(g, inner) =>
      lower(inner, Some(g)) match {
        case OpUnit => OpGraphs(g) // empty GRAPH group: enumerate/probe named graphs
        case low => g match {
          // var label never used as a graph context inside (everything shadowed or
          // subqueries only): GRAPH ?g still ranges ?g over the named graphs and
          // joins any ?g the body binds (Test1892 subquery03-modified3)
          case v: VarNode if !usesGraphCtx(low, v.name) => OpJoin(low, OpGraphs(v))
          case _ => low
        }
      }
    case CtxGraphGP(g, inner) => // synthetic push: no membership join
      lower(inner, Some(g)) match {
        case OpUnit => OpGraphs(g)
        case low => low
      }
    case SubSelectGP(q) => OpSubquery(scopeSubquery(q, ctx))
    case ServiceGP(iri, inner, silent) => OpService(iri, lower(inner, ctx), silent)
    case IncludeGP(name) => OpInclude(name)
  }

  private def join(l: Op, r: Op): Op =
    if (l == OpUnit) r else if (r == OpUnit) l else (l, r) match {
      case (OpBgp(a), OpBgp(b)) => OpBgp(a ++ b)
      case _ => OpJoin(l, r)
    }

  private def lowerGroup(elems: Seq[GP], ctx: Option[Node]): Op = {
    var g: Op = OpUnit
    val filters = Seq.newBuilder[Expr]
    // A BIND whose expression references vars no preceding element binds is
    // DEFERRED until a later sibling supplies them (the reference's static
    // optimizer reorders AssignmentNodes the same way — its
    // simpleBindingsOptimizer tests put `BIND(2*?val AS ?d)` before the pattern
    // binding ?val). Conditional-bind semantics make the late placement
    // equivalent for anything that joined on the target in between.
    var deferred = Seq.empty[(Expr, String)]
    def flushReady(): Unit = {
      var progress = true
      while (progress) {
        progress = false
        deferred.find { case (e, _) => exprVars(e).subsetOf(vars(g)) }.foreach { b =>
          deferred = deferred.filterNot(_ eq b)
          g = OpExtend(g, b._2, b._1)
          progress = true
        }
      }
    }
    // Deferral must NOT move a BIND past a sibling that binds its TARGET var —
    // `BIND(?obj AS ?obj2) ?s <p> ?obj2` evaluates the bind in place (?obj
    // unbound → error → ?obj2 stays unbound, the pattern then binds it freely:
    // TestTickets bg1463b/d). Force-flush such binds before the sibling joins.
    def flushTargets(el: GP): Unit = {
      val elVars = gpVars(el, ctx)
      deferred.filter { case (_, v) => elVars(v) }.foreach { b =>
        deferred = deferred.filterNot(_ eq b)
        g = OpExtend(g, b._2, b._1)
      }
    }
    elems.foreach { el =>
      if (deferred.nonEmpty) el match {
        case _: BindGP | _: FilterGP => () // no pattern vars to race with
        case _ => flushTargets(el)
      }
      el match {
        case t: TripleGP => g = join(g, lower(t, ctx))
        case FilterGP(e) => filters += ctxExpr(e, ctx)
        case OptionalGP(inner) =>
          lower(inner, ctx) match {
            case OpFilter(fs, a) => g = OpLeftJoin(g, a, fs)
            case a => g = OpLeftJoin(g, a, Nil)
          }
        case MinusGP(inner) => g = OpMinus(g, lower(inner, ctx))
        case BindGP(e, v) =>
          // grammar note 12 (§10.1) makes a BIND target already in scope a syntax
          // error, but the reference ACCEPTS it with conditional-bind semantics
          // (bop/ConditionalBind.java, TestBindings bindingsWithSubquery03b-06) —
          // the Compiler's OpExtend handles the in-scope case
          val e2 = ctxExpr(e, ctx)
          if (exprVars(e2).subsetOf(vars(g))) g = OpExtend(g, v.name, e2)
          else deferred :+= ((e2, v.name))
        case other => g = join(g, lower(other, ctx))
      }
      flushReady()
    }
    // leftovers reference vars nothing binds: evaluate at group end (unbound refs
    // error → var stays unbound, the spec outcome)
    deferred.foreach { case (e, v) => g = OpExtend(g, v, e) }
    val fs = filters.result()
    if (fs.nonEmpty) OpFilter(fs, g) else g
  }

  /** Variable references in an expression (EXISTS bodies excluded — they evaluate
    * against their own pattern scope).
    */
  def exprVars(e: Expr): Set[String] = e match {
    case EVar(n) => Set(n)
    case EBinary(_, l, r) => exprVars(l) ++ exprVars(r)
    case EUnary(_, x) => exprVars(x)
    case ECall(_, args) => args.flatMap(exprVars).toSet
    case EIn(x, list, _) => exprVars(x) ++ list.flatMap(exprVars)
    case ESid(a, b, c) => exprVars(a) ++ exprVars(b) ++ exprVars(c)
    case EAgg(_, _, arg, _) => arg.map(exprVars).getOrElse(Set.empty)
    case _ => Set.empty
  }

  /** A subquery under GRAPH inherits the context the way the reference pushes it
    * (ASTGraphGroupOptimizer): a CONSTANT label scopes the body to that graph
    * (TestTicket832); a VARIABLE label is pushed BY NAME — the subquery's own
    * same-named variable becomes its graph context (so `?g a type1` inside means
    * "in the graph ?g names", Test1892 additional2), inner GRAPH labels shadow it,
    * and aggregation groups per active graph with a projection alias onto the
    * context var acting as a conditional bind (additional5).
    */
  private val renameCtr = new java.util.concurrent.atomic.AtomicInteger(0)

  private def scopeSubquery(q: SelectQuery, ctx: Option[Node]): SelectQuery = ctx match {
    case Some(i: IriNode) => q.copy(where = GroupGP(Seq(GraphGP(i, q.where))))
    case Some(v: VarNode) =>
      // bottom-up scoping first: a body variable spelled like the label that the
      // subquery does NOT project is a DIFFERENT variable (Test1892 additional3) —
      // rename it so the context push below cannot capture it
      val q1 =
        if (projectsVar(q, v.name)) q
        else {
          val rn = "-rn_" + v.name + "_" + renameCtr.incrementAndGet()
          q.copy(where = renameVar(q.where, v.name, rn),
            // a trailing VALUES block's same-named label is inside the subquery's
            // scope too (Test1892 additional6: `VALUES ?g` under `SELECT ?x`)
            values = q.values.map(vs => ValuesGP(
              vs.vars.map(x => if (x.name == v.name) VarNode(rn) else x), vs.rows)))
        }
      val wrapped = GroupGP(Seq(CtxGraphGP(v, q1.where)))
      val ctxBinds = vars(lower(wrapped)).contains(v.name)
      val aggregated = q1.groupBy.nonEmpty || (q1.projection match {
        case ProjVars(items) => items.exists(_._1.isInstanceOf[EAgg])
        case _ => false
      })
      val gb = if (ctxBinds && aggregated) q1.groupBy :+ ((EVar(v.name): Expr, None: Option[String]))
      else q1.groupBy
      // a context the body binds must survive the subquery's projection so the
      // enclosing group joins per ACTIVE graph — the subquery evaluates "within
      // ?g's graph", correlated, not once across all graphs (Test1892
      // additional3/6: the inner scope's solutions are keyed by the graph that
      // produced them even though the user projection drops ?g)
      val proj2 = (q1.projection, ctxBinds && !projectsVar(q1, v.name)) match {
        case (ProjVars(items), true) => ProjVars(items :+ ((EVar(v.name): Expr, None)))
        case (p, _) => p
      }
      q1.copy(where = wrapped, groupBy = gb, projection = proj2)
    case _ => q
  }

  private def projectsVar(q: SelectQuery, name: String): Boolean = q.projection match {
    case Star => true
    case ProjVars(items) => items.exists {
      case (EVar(n), None) => n == name
      case (_, Some(a)) => a == name
      case _ => false
    }
  }

  /** Rename every occurrence of variable `from` to `to` in a pattern, stopping at
    * nested subqueries that do not project `from` (their `from` is a fresh scope).
    */
  private def renameVar(gp: GP, from: String, to: String): GP = {
    def n(x: Node): Node = x match {
      case VarNode(`from`) => VarNode(to)
      case SidNode(s, p, o) => SidNode(n(s), n(p), n(o))
      case other => other
    }
    def p(path: Path): Path = path match {
      case PLink(i) => if (i == "?" + from) PLink("?" + to) else PLink(i)
      case PInv(x) => PInv(p(x))
      case PSeq(a, b) => PSeq(p(a), p(b))
      case PAlt(a, b) => PAlt(p(a), p(b))
      case PZeroOrOne(x) => PZeroOrOne(p(x))
      case PZero(x) => PZero(p(x))
      case PZeroOrMore(x) => PZeroOrMore(p(x))
      case POneOrMore(x) => POneOrMore(p(x))
      case neg: PNeg => neg
    }
    def e(x: Expr): Expr = x match {
      case EVar(`from`) => EVar(to)
      case ECall(fn, args) => ECall(fn, args.map(e))
      case EBinary(op, l, r) => EBinary(op, e(l), e(r))
      case EUnary(op, a) => EUnary(op, e(a))
      case EIn(a, list, not) => EIn(e(a), list.map(e), not)
      case EExists(g, not) => EExists(walk(g).asInstanceOf[GroupGP], not)
      case ESid(s, pp, o) => ESid(e(s), e(pp), e(o))
      case EAgg(fn, d, arg, sep) => EAgg(fn, d, arg.map(e), sep)
      case other => other
    }
    def walk(g: GP): GP = g match {
      case TripleGP(s, pp, o) => TripleGP(n(s), p(pp), n(o))
      case GroupGP(elems) => GroupGP(elems.map(walk))
      case OptionalGP(i) => OptionalGP(walk(i))
      case UnionGP(alts) => UnionGP(alts.map(walk))
      case MinusGP(i) => MinusGP(walk(i))
      case FilterGP(x) => FilterGP(e(x))
      case BindGP(x, v) => BindGP(e(x), n(v).asInstanceOf[VarNode])
      case ValuesGP(vs, rows) => ValuesGP(vs.map(v => n(v).asInstanceOf[VarNode]), rows)
      case GraphGP(lbl, i) => GraphGP(n(lbl), walk(i))
      case CtxGraphGP(lbl, i) => CtxGraphGP(n(lbl), walk(i))
      case SubSelectGP(sq) =>
        if (!projectsVar(sq, from)) SubSelectGP(sq) // fresh scope: stop
        else SubSelectGP(sq.copy(
          where = walk(sq.where),
          projection = sq.projection match {
            case Star => Star
            case ProjVars(items) => ProjVars(items.map {
              case (EVar(`from`), None) => (EVar(to): Expr, None: Option[String])
              case (ex, Some(`from`)) => (e(ex), Some(to): Option[String])
              case (ex, a) => (e(ex), a)
            })
          }))
      case ServiceGP(iri, i, s) => ServiceGP(n(iri), walk(i), s)
      case inc: IncludeGP => inc
    }
    walk(gp)
  }

  /** Does `op` contain a scan whose graph context is the variable `name`? */
  private def usesGraphCtx(op: Op, name: String): Boolean = op match {
    case OpBgp(ts) => ts.exists(_.g.contains(VarNode(name)))
    case OpJoin(l, r) => usesGraphCtx(l, name) || usesGraphCtx(r, name)
    case OpLeftJoin(l, r, _) => usesGraphCtx(l, name) || usesGraphCtx(r, name)
    case OpUnion(l, r) => usesGraphCtx(l, name) || usesGraphCtx(r, name)
    case OpMinus(l, r) => usesGraphCtx(l, name) || usesGraphCtx(r, name)
    case OpFilter(_, c) => usesGraphCtx(c, name)
    case OpExtend(c, _, _) => usesGraphCtx(c, name)
    case OpGraphs(g) => g == VarNode(name)
    case _ => false
  }

  /** Propagate the active GRAPH context into (NOT) EXISTS patterns inside filter /
    * BIND expressions — their group is lowered later (Compiler.applyFilter), after the
    * ctx parameter is gone, so a FILTER NOT EXISTS inside `GRAPH ?g { … }` would
    * otherwise match against the union default graph (the reference scopes it to the
    * active graph — TestNamedGraphs ticket 888).
    */
  private def ctxExpr(e: Expr, ctx: Option[Node]): Expr = ctx match {
    case None => e
    case Some(_) => e match {
      case EExists(gp, not) => EExists(GroupGP(Seq(GraphGP(ctx.get, gp))), not)
      case ECall(fn, args) => ECall(fn, args.map(ctxExpr(_, ctx)))
      case EBinary(op, l, r) => EBinary(op, ctxExpr(l, ctx), ctxExpr(r, ctx))
      case EUnary(op, x) => EUnary(op, ctxExpr(x, ctx))
      case EIn(x, list, not) => EIn(ctxExpr(x, ctx), list.map(ctxExpr(_, ctx)), not)
      case ESid(s, p, o) => ESid(ctxExpr(s, ctx), ctxExpr(p, ctx), ctxExpr(o, ctx))
      case other => other
    }
  }

  /** Variables a graph-pattern element can bind, computed SYNTACTICALLY —
    * flushTargets needs exactly `vars(lower(el, ctx))`, but lowering each
    * sibling a second time (result discarded) doubled lowering work per
    * nesting level and consumed renameCtr ids for plans that never ran.
    * Mirrors vars∘lower case-by-case: filters/MINUS right sides bind nothing,
    * BIND adds its target, GRAPH adds its var label, subqueries expose their
    * projection.
    */
  private def gpVars(gp: GP, ctx: Option[Node]): Set[String] = gp match {
    case TripleGP(s, p, o) => tripleVars(Triple(s, p, o, ctx)).toSet
    case GroupGP(elems) => elems.foldLeft(Set.empty[String]) { (acc, el) => el match {
      case _: FilterGP | _: MinusGP => acc
      case BindGP(_, v) => acc + v.name
      case other => acc ++ gpVars(other, ctx)
    }}
    case OptionalGP(inner) => gpVars(inner, ctx)
    case UnionGP(alts) => alts.flatMap(gpVars(_, ctx)).toSet
    case _: MinusGP | _: FilterGP | _: IncludeGP => Set.empty
    case BindGP(_, v) => Set(v.name)
    case v: ValuesGP => v.vars.map(_.name).toSet
    case GraphGP(g, inner) =>
      val gv = g match { case VarNode(n) => Set(n); case _ => Set.empty[String] }
      gpVars(inner, Some(g)) ++ gv
    case CtxGraphGP(g, inner) => gpVars(inner, Some(g))
    case SubSelectGP(q) =>
      val base = q.projection match {
        case Star => gpVars(q.where, ctx)
        case ProjVars(items) => items.flatMap {
          case (EVar(n), None) => Some(n)
          case (_, a) => a
        }.toSet
      }
      // mirror scopeSubquery's proj2: under GRAPH ?g a subquery whose body
      // binds ?g gets the context var appended to its projection, so it binds
      // ?g here too (over-approximates ctxBinds — extra flushes are safe)
      ctx match {
        case Some(VarNode(n)) if !base.contains(n) &&
            gpVars(q.where, ctx).contains(n) => base + n
        case _ => base
      }
    case ServiceGP(_, inner, _) => gpVars(inner, ctx)
  }

  /** Free variables an Op can bind (for join planning / projection *). */
  def vars(op: Op): Set[String] = op match {
    case OpUnit => Set.empty
    case OpBgp(ts) => ts.flatMap(tripleVars).toSet
    case OpJoin(l, r) => vars(l) ++ vars(r)
    case OpLeftJoin(l, r, _) => vars(l) ++ vars(r)
    case OpUnion(l, r) => vars(l) ++ vars(r)
    case OpMinus(l, _) => vars(l)
    case OpFilter(_, c) => vars(c)
    case OpExtend(c, n, _) => vars(c) + n
    case OpValues(v) => v.vars.map(_.name).toSet
    case OpSubquery(q) => q.projection match {
      case Star => vars(lower(q.where))
      case ProjVars(items) => items.flatMap {
        case (EVar(n), None) => Some(n)
        case (_, a) => a
      }.toSet
    }
    case OpService(_, inner, _) => vars(inner)
    case OpInclude(_) => Set.empty // resolved at compile time from the named set
    case OpGraphs(g) => g match { case VarNode(n) => Set(n); case _ => Set.empty }
  }

  /** Vars that may be UNBOUND in some solution of `op` (StaticAnalysis's
    * "maybe produced" vs "definitely produced" distinction,
    * `rdf/sparql/ast/StaticAnalysis.java`). Drives the solution-compatibility join:
    * SPARQL joins rows when shared vars are equal OR unbound on either side; the fast
    * equi-join is only sound for definitely-bound vars. Conservative (over-approximate).
    */
  def maybeUnbound(op: Op): Set[String] = maybeUnbound(op, _ => Set.empty)

  /** As above with a resolver for INCLUDE %name — the compiler passes the
    * maybe-unbound set it computed when the named subquery was registered (a
    * WITH {…OPTIONAL…} AS %ns body can leave projected vars unbound, and the
    * consuming join must go through the compatibility path: TestPropertyPaths
    * someSharedVars joins `?type1 subClassOf* ?type2` against an INCLUDE whose
    * ?type1 is optional).
    */
  def maybeUnbound(op: Op, include: String => Set[String]): Set[String] = {
    def mu(op: Op): Set[String] = op match {
      case OpUnit => Set.empty
      case OpBgp(_) => Set.empty // triple patterns bind their vars in every row
      case OpJoin(l, r) =>
        (mu(l) ++ mu(r)) -- ((vars(l) -- mu(l)) ++ (vars(r) -- mu(r)))
      case OpLeftJoin(l, r, _) => mu(l) ++ (vars(r) -- (vars(l) -- mu(l)))
      case OpUnion(l, r) =>
        mu(l) ++ mu(r) ++ (vars(l) diff vars(r)) ++ (vars(r) diff vars(l))
      case OpMinus(l, _) => mu(l)
      case OpFilter(_, c) => mu(c)
      case OpExtend(c, n, e) =>
        // a constant BIND cannot error → definitely bound; anything else may
        e match {
          case EConst(_) => mu(c)
          case _ => mu(c) + n
        }
      case OpValues(v) =>
        v.vars.map(_.name).zipWithIndex.collect {
          case (n, i) if v.rows.exists(r => r.lift(i).flatten.isEmpty) => n
        }.toSet
      case OpSubquery(q) => q.projection match {
        case Star => mu(lower(q.where))
        case ProjVars(items) =>
          val inner = mu(lower(q.where))
          items.flatMap {
            case (EVar(n), None) => if (inner(n)) Some(n) else None
            case (EVar(n), Some(a)) => if (inner(n)) Some(a) else None
            case (_, Some(a)) => Some(a) // computed projection may error
            case _ => None
          }.toSet
      }
      case OpService(_, inner, _) => mu(inner)
      case OpInclude(n) => include(n)
      case OpGraphs(_) => Set.empty
    }
    mu(op)
  }

  def tripleVars(t: Triple): Seq[String] = {
    val sv = t.s match { case VarNode(n) => Seq(n); case _ => Nil }
    val pv = t.p match { case PLink(i) if i.startsWith("?") => Seq(i.substring(1)); case _ => Nil }
    val ov = t.o match { case VarNode(n) => Seq(n); case _ => Nil }
    val gv = t.g match { case Some(VarNode(n)) => Seq(n); case _ => Nil }
    sv ++ pv ++ ov ++ gv
  }

  /** Collect aggregate sub-expressions (left-to-right). */
  def collectAggs(e: Expr): Seq[EAgg] = e match {
    case a: EAgg => Seq(a)
    case EBinary(_, l, r) => collectAggs(l) ++ collectAggs(r)
    case EUnary(_, x) => collectAggs(x)
    case ECall(_, args) => args.flatMap(collectAggs)
    case EIn(x, list, _) => collectAggs(x) ++ list.flatMap(collectAggs)
    case ESid(a, b, c) => collectAggs(a) ++ collectAggs(b) ++ collectAggs(c)
    case _ => Nil
  }

  /** Substitute variable references by expression (SELECT-alias resolution in HAVING). */
  def substVars(e: Expr, m: Map[String, Expr]): Expr = e match {
    case EVar(n) if m.contains(n) => m(n)
    case EBinary(op, l, r) => EBinary(op, substVars(l, m), substVars(r, m))
    case EUnary(op, x) => EUnary(op, substVars(x, m))
    case ECall(f, args) => ECall(f, args.map(substVars(_, m)))
    case EIn(x, list, not) => EIn(substVars(x, m), list.map(substVars(_, m)), not)
    case ESid(a, b, c) => ESid(substVars(a, m), substVars(b, m), substVars(c, m))
    case other => other
  }

  /** Replace aggregate sub-expressions with variable references (post-grouping eval). */
  def replaceAggs(e: Expr, mapping: Map[EAgg, String]): Expr = e match {
    case a: EAgg => EVar(mapping(a))
    case EBinary(op, l, r) => EBinary(op, replaceAggs(l, mapping), replaceAggs(r, mapping))
    case EUnary(op, x) => EUnary(op, replaceAggs(x, mapping))
    case ECall(f, args) => ECall(f, args.map(replaceAggs(_, mapping)))
    case EIn(x, list, not) => EIn(replaceAggs(x, mapping), list.map(replaceAggs(_, mapping)), not)
    case ESid(a, b, c) => ESid(replaceAggs(a, mapping), replaceAggs(b, mapping), replaceAggs(c, mapping))
    case other => other
  }
}
