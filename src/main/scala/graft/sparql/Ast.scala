package graft.sparql

/** SPARQL 1.1 abstract syntax.
  *
  * Mirrors the shape of the reference's AST layer
  * (`bigdata-core/bigdata-rdf/src/java/com/bigdata/rdf/sparql/ast/QueryRoot.java`,
  * `GraphPatternGroup`, `StatementPatternNode`, `FilterNode`, …) reduced to the nodes the
  * Spark compiler consumes; produced by [[Parser]], lowered to algebra by [[Algebra]].
  */
object Ast {

  // ---- terms / nodes -------------------------------------------------------
  sealed trait Node
  final case class VarNode(name: String) extends Node
  final case class IriNode(iri: String) extends Node
  /** Embedded statement term `<< s p o >>` (RDF* / SIDs, ground form in data). */
  final case class SidNode(s: Node, p: Node, o: Node) extends Node
  /** dt/lang already resolved; integer/double datatypes pre-normalized by the parser. */
  final case class LitNode(lex: String, dt: Option[String] = None,
                           lang: Option[String] = None) extends Node

  // ---- property paths (rdf/sparql/ast/PathNode.java:18-54) -----------------
  sealed trait Path
  final case class PLink(iri: String) extends Path
  final case class PInv(p: Path) extends Path
  final case class PSeq(a: Path, b: Path) extends Path
  final case class PAlt(a: Path, b: Path) extends Path
  final case class PZeroOrOne(p: Path) extends Path
  /** `p{0}`: the zero-length path only (the node-domain self pairs of `p`). */
  final case class PZero(p: Path) extends Path
  final case class PZeroOrMore(p: Path) extends Path
  final case class POneOrMore(p: Path) extends Path
  /** Negated property set !(iri|^iri|…): (iri, inverted). */
  final case class PNeg(set: Seq[(String, Boolean)]) extends Path

  // ---- expressions ---------------------------------------------------------
  sealed trait Expr
  final case class EVar(name: String) extends Expr
  final case class EConst(node: Node) extends Expr
  /** Built-in or cast function call, fn uppercased (casts keep full IRI). */
  final case class ECall(fn: String, args: Seq[Expr]) extends Expr
  final case class EBinary(op: String, l: Expr, r: Expr) extends Expr
  final case class EUnary(op: String, e: Expr) extends Expr
  final case class EIn(e: Expr, list: Seq[Expr], not: Boolean) extends Expr
  final case class EExists(gp: GroupGP, not: Boolean) extends Expr
  /** RDR sid in expression position: BIND(<< ?s ?p ?o >> AS ?sid) (Blazegraph RDR). */
  final case class ESid(s: Expr, p: Expr, o: Expr) extends Expr
  final case class EAgg(fn: String, distinct: Boolean, arg: Option[Expr],
                        sep: Option[String] = None) extends Expr

  // ---- graph patterns ------------------------------------------------------
  sealed trait GP
  /** One triples-block entry; p is a path (PLink = plain predicate). */
  final case class TripleGP(s: Node, p: Path, o: Node) extends GP
  final case class GroupGP(elems: Seq[GP]) extends GP
  final case class OptionalGP(inner: GP) extends GP
  final case class UnionGP(alts: Seq[GP]) extends GP
  final case class MinusGP(inner: GP) extends GP
  final case class FilterGP(expr: Expr) extends GP
  final case class BindGP(expr: Expr, v: VarNode) extends GP
  final case class ValuesGP(vars: Seq[VarNode], rows: Seq[Seq[Option[Node]]]) extends GP
  final case class GraphGP(g: Node, inner: GP) extends GP
  /** Synthetic graph-context wrapper the algebra uses to push an enclosing GRAPH
    * into a subquery — lowers exactly like GraphGP minus the named-graph
    * membership join (the enclosing GRAPH already supplies it).
    */
  final case class CtxGraphGP(g: Node, inner: GP) extends GP
  final case class SubSelectGP(q: SelectQuery) extends GP
  final case class ServiceGP(iri: Node, inner: GP, silent: Boolean) extends GP
  /** INCLUDE %name — named-subquery solution-set reuse (NamedSubqueryInclude). */
  final case class IncludeGP(name: String) extends GP

  // ---- query forms ---------------------------------------------------------
  sealed trait Projection
  case object Star extends Projection
  final case class ProjVars(items: Seq[(Expr, Option[String])]) extends Projection

  final case class SelectQuery(
      distinct: Boolean, reduced: Boolean, projection: Projection, where: GP,
      groupBy: Seq[(Expr, Option[String])], having: Seq[Expr],
      orderBy: Seq[(Expr, Boolean)], // (key, ascending)
      offset: Option[Long], limit: Option[Long],
      values: Option[ValuesGP] = None,
      /** WITH { subselect } AS %name — evaluated once (HTreeNamedSubqueryOp). */
      withSubqueries: Seq[(String, SelectQuery)] = Nil) extends Query

  final case class AskQuery(where: GP) extends Query
  final case class ConstructQuery(template: Seq[TripleGP], where: GP,
      offset: Option[Long], limit: Option[Long]) extends Query
  final case class DescribeQuery(targets: Seq[Node], where: Option[GP]) extends Query

  sealed trait Query {
    var datasets: Seq[(String, Boolean)] = Nil // (graph iri, isNamed)
  }

  /** Prefix marking a dataset entry as `FROM [NAMED] VIRTUAL GRAPH <iri>` — the
    * engine expands it to the member graphs declared via bd:virtualGraph triples.
    * (A prefix keeps the `datasets` shape stable; no IRI scheme collides with it.)
    */
  val VirtualGraphMarker = "virtual-graph!"

  // ---- SPARQL Update (rdf/sparql/ast/eval/AST2BOpUpdate.java:400-450) ------
  sealed trait UpdateOp
  final case class InsertData(quads: Seq[QuadData]) extends UpdateOp
  final case class DeleteData(quads: Seq[QuadData]) extends UpdateOp
  /** DELETE/INSERT … WHERE. `withGraph` = `WITH <g>` (default graph for the WHERE
    * clause unless `using` overrides, and the target graph of bare template quads);
    * `using` = `USING (NAMED)? IRIref` dataset entries, (iri, isNamed) — same shape
    * as Query.datasets (AST2BOpUpdate.java:474-512).
    */
  final case class Modify(delete: Seq[QuadData], insert: Seq[QuadData], where: GP,
                          withGraph: Option[String] = None,
                          using: Seq[(String, Boolean)] = Nil) extends UpdateOp
  final case class ClearGraph(graph: Option[String]) extends UpdateOp // None = ALL
  case object ClearDefault extends UpdateOp // default-graph (g IS NULL) triples only
  case object ClearNamed extends UpdateOp   // every named graph, default kept
  // graph-management ops (rdf/sparql/ast/eval/AST2BOpUpdate.java Create/Add/Copy/Move/Load)
  sealed trait GraphRef
  case object DefaultRef extends GraphRef
  final case class NamedRef(iri: String) extends GraphRef
  final case class LoadGraph(src: String, into: Option[String], silent: Boolean = false) extends UpdateOp
  final case class AddGraph(from: GraphRef, to: GraphRef) extends UpdateOp
  final case class CopyGraph(from: GraphRef, to: GraphRef) extends UpdateOp
  final case class MoveGraph(from: GraphRef, to: GraphRef) extends UpdateOp
  final case class CreateGraph(iri: String) extends UpdateOp // no-op on a schemaless store
  /** Solution-set update extension (`INSERT INTO %set SELECT … WHERE` /
    * `DELETE FROM %set SELECT … [INSERT INTO %set SELECT …] WHERE` — the
    * reference's SPARQL UPDATE extension for named solution sets,
    * `sail/tck/BigdataSPARQLUpdateTest2.java:456-870`, ast/ssets): WHERE is
    * evaluated once; each clause projects its own variable list (Nil = `*`);
    * DELETE removes matching solutions from the set, INSERT appends.
    */
  final case class SolutionsUpdate(delete: Option[(String, Seq[String])],
                                   insert: Option[(String, Seq[String])],
                                   where: GP) extends UpdateOp
  final case class QuadData(s: Node, p: Node, o: Node, g: Option[Node])
}
