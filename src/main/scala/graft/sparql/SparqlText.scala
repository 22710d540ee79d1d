package graft.sparql

import Ast._
import graft.sparql.Algebra.{Op, OpBgp, OpExtend, OpFilter, OpInclude, OpJoin,
  OpLeftJoin, OpMinus, OpService, OpSubquery, OpUnion, OpUnit, OpValues, Triple}

/** Serialize algebra back to SPARQL surface syntax — the federation wire format
  * (the reference ships the original AST over HTTP the same way,
  * `bop/controller/ServiceCallJoin.java` via openrdf's SPARQLProtocolSession).
  * Round-trips everything the remote side needs: BGPs incl. paths and GRAPH
  * contexts, OPTIONAL/UNION/MINUS/FILTER/BIND/VALUES, EXISTS, nested SERVICE,
  * and subselects.
  */
object SparqlText {

  def escape(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c => c.toString
  }

  def node(n: Node): String = n match {
    // parser-generated bnode placeholders (`[…]`/`(…)`/`_:label` → VarNode
    // "-g_N"/"-bnl_X") are not legal variable syntax on the wire — print them
    // as plain variables with a sanitized name (a bnode in a query pattern is
    // semantically a fresh variable, SPARQL 1.1 §4.1.4)
    case VarNode(v) if v.startsWith("-") =>
      "?graftbn_" + v.stripPrefix("-").replaceAll("[^A-Za-z0-9_]", "_")
    case VarNode(v) => s"?$v"
    case IriNode(i) => s"<$i>"
    case LitNode(lex, Some(dt), _) => s""""${escape(lex)}"^^<$dt>"""
    case LitNode(lex, _, Some(lang)) => s""""${escape(lex)}"@$lang"""
    case LitNode(lex, _, _) => s""""${escape(lex)}""""
    case SidNode(s, p, o) => s"<< ${node(s)} ${node(p)} ${node(o)} >>"
  }

  def path(p: Path): String = p match {
    case PLink(i) if i.startsWith("?") => i // var predicate marker
    case PLink(i) => s"<$i>"
    case PInv(q) => s"^(${path(q)})"
    case PSeq(a, b) => s"(${path(a)}/${path(b)})"
    case PAlt(a, b) => s"(${path(a)}|${path(b)})"
    case PZeroOrOne(q) => s"(${path(q)})?"
    case PZero(q) => s"(${path(q)}){0}"
    case PZeroOrMore(q) => s"(${path(q)})*"
    case POneOrMore(q) => s"(${path(q)})+"
    case PNeg(set) => set.map { case (i, inv) => (if (inv) "^" else "") + s"<$i>" }
      .mkString("!(", "|", ")")
  }

  def expr(e: Expr): String = e match {
    case EVar(v) => s"?$v"
    case EConst(n) => node(n)
    case ECall(fn, args) =>
      val name = if (fn.contains("://")) s"<$fn>" else fn
      s"$name(${args.map(expr).mkString(", ")})"
    case EBinary(op, l, r) => s"(${expr(l)} $op ${expr(r)})"
    case EUnary(op, x) => s"$op(${expr(x)})"
    case EIn(x, list, not) =>
      s"(${expr(x)} ${if (not) "NOT IN" else "IN"} (${list.map(expr).mkString(", ")}))"
    case EExists(gp, not) =>
      s"${if (not) "NOT " else ""}EXISTS ${group(Algebra.lower(gp))}"
    case EAgg(fn, distinct, arg, sep) =>
      val a = arg.map(expr).getOrElse("*")
      val d = if (distinct) "DISTINCT " else ""
      val s = sep.map(x => s"""; SEPARATOR="${escape(x)}"""").getOrElse("")
      s"$fn($d$a$s)"
  }

  private def triple(t: Triple): String = {
    val core = s"${node(t.s)} ${path(t.p)} ${node(t.o)} ."
    t.g match {
      case Some(g) => s"GRAPH ${node(g)} { $core }"
      case None => core
    }
  }

  def values(v: ValuesGP): String = {
    val hdr = v.vars.map(x => s"?${x.name}").mkString(" ")
    val rows = v.rows.map(_.map {
      case Some(n) => node(n)
      case None => "UNDEF"
    }.mkString("(", " ", ")")).mkString(" ")
    s"VALUES ($hdr) { $rows }"
  }

  def body(op: Op): String = op match {
    case OpUnit => ""
    case OpBgp(ts) => ts.map(triple).mkString(" ")
    case OpJoin(l, r) => s"${body(l)} ${body(r)}"
    case OpLeftJoin(l, r, cond) =>
      val f = cond.map(c => s" FILTER(${expr(c)})").mkString
      s"${body(l)} OPTIONAL { ${body(r)}$f }"
    case OpUnion(l, r) => s"{ ${body(l)} } UNION { ${body(r)} }"
    case OpMinus(l, r) => s"${body(l)} MINUS { ${body(r)} }"
    case OpFilter(es, c) => body(c) + es.map(e => s" FILTER(${expr(e)})").mkString
    case OpExtend(c, n, e) => s"${body(c)} BIND(${expr(e)} AS ?$n)"
    case OpValues(v) => values(v)
    case OpService(iri, inner, silent) =>
      s"SERVICE ${if (silent) "SILENT " else ""}${node(iri)} ${group(inner)}"
    case OpSubquery(q) => s"{ ${select(q)} }"
    case OpInclude(name) =>
      throw new UnsupportedOperationException(s"INCLUDE %$name cannot federate")
  }

  def group(op: Op): String = s"{ ${body(op)} }"

  def select(q: SelectQuery): String = {
    val proj = q.projection match {
      case Star => "*"
      case ProjVars(items) => items.map {
        case (EVar(n), None) => s"?$n"
        case (e, Some(a)) => s"(${expr(e)} AS ?$a)"
        case (e, None) => s"(${expr(e)})"
      }.mkString(" ")
    }
    val mods = if (q.distinct) "DISTINCT " else if (q.reduced) "REDUCED " else ""
    val gb = if (q.groupBy.isEmpty) "" else " GROUP BY " + q.groupBy.map {
      case (EVar(n), None) => s"?$n"
      case (e, Some(a)) => s"(${expr(e)} AS ?$a)"
      case (e, None) => s"(${expr(e)})"
    }.mkString(" ")
    val hv = if (q.having.isEmpty) "" else
      " HAVING " + q.having.map(e => s"(${expr(e)})").mkString(" ")
    val ob = if (q.orderBy.isEmpty) "" else " ORDER BY " + q.orderBy.map {
      case (e, true) => s"ASC(${expr(e)})"
      case (e, false) => s"DESC(${expr(e)})"
    }.mkString(" ")
    val lim = q.limit.map(l => s" LIMIT $l").getOrElse("")
    val off = q.offset.map(o => s" OFFSET $o").getOrElse("")
    s"SELECT $mods$proj WHERE ${group(Algebra.lower(q.where))}$gb$hv$ob$lim$off"
  }
}
