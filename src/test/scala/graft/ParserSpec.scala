package graft

import graft.sparql.{Ast, Parser}
import graft.sparql.Ast._
import org.scalatest.funsuite.AnyFunSuite

class ParserSpec extends AnyFunSuite {

  private def sel(q: String): SelectQuery =
    Parser.parseQuery(q).asInstanceOf[SelectQuery]

  test("basic select with prefixes and 'a'") {
    val q = sel("PREFIX t: <urn:c:> SELECT ?x WHERE { ?x a t:Customer . }")
    val GroupGP(Seq(TripleGP(VarNode("x"), PLink(p), IriNode(cls)))) = q.where: @unchecked
    assert(p == graft.model.Term.RDF_TYPE)
    assert(cls == "urn:c:Customer")
  }

  test("predicate-object lists and object lists") {
    val q = sel("SELECT * WHERE { ?s <urn:p:a> ?x , ?y ; <urn:p:b> ?z . }")
    val GroupGP(ts) = q.where: @unchecked
    assert(ts.length == 3)
  }

  test("numeric literal normalization") {
    assert(Parser.numLit("42") == LitNode("42", Some(graft.model.Term.XSD_INTEGER)))
    // SPARQL §19.8: dot without exponent is xsd:decimal; exponent form is double
    assert(Parser.numLit("4.5") == LitNode("4.5", Some(graft.model.Term.XSD_DECIMAL)))
    assert(Parser.numLit("4.50") == LitNode("4.5", Some(graft.model.Term.XSD_DECIMAL)))
    assert(Parser.numLit("1e3") == LitNode("1000.0", Some(graft.model.Term.XSD_DOUBLE)))
  }

  test("typed and lang literals") {
    val q = sel("""SELECT * WHERE { ?s <urn:p:x> "5"^^<http://www.w3.org/2001/XMLSchema#int> ; <urn:p:y> "hi"@EN . }""")
    val GroupGP(Seq(TripleGP(_, _, five), TripleGP(_, _, hi))) = q.where: @unchecked
    // the authored int-family datatype is PRESERVED (the reference's inline
    // XSDNumericIVs carry the DTE: "5"^^xsd:int and "5"^^xsd:integer are
    // distinct terms — TestTicket1007 number1); lexical still canonicalizes
    assert(five == LitNode("5", Some(graft.model.Term.XSD + "int")))
    assert(hi == LitNode("hi", None, Some("en")))
  }

  test("filters, optional, union, minus, bind, values") {
    val q = sel(
      """SELECT ?x WHERE {
        |  ?x <urn:p:a> ?v . FILTER(?v > 5 && ?v < 10)
        |  OPTIONAL { ?x <urn:p:b> ?w }
        |  { ?x <urn:p:c> 1 } UNION { ?x <urn:p:c> 2 }
        |  MINUS { ?x <urn:p:d> ?z }
        |  BIND(?v * 2 AS ?dbl)
        |  VALUES ?m { 1 2 3 }
        |}""".stripMargin)
    val GroupGP(elems) = q.where: @unchecked
    assert(elems.exists(_.isInstanceOf[FilterGP]))
    assert(elems.exists(_.isInstanceOf[OptionalGP]))
    assert(elems.exists(_.isInstanceOf[UnionGP]))
    assert(elems.exists(_.isInstanceOf[MinusGP]))
    assert(elems.exists(_.isInstanceOf[BindGP]))
    assert(elems.exists(_.isInstanceOf[ValuesGP]))
  }

  test("property path operators") {
    val q = sel("SELECT * WHERE { ?a (<urn:p:x>/<urn:p:y>)|^<urn:p:z> ?b . ?c <urn:p:w>+ ?d . ?e !(<urn:p:q>) ?f }")
    val GroupGP(Seq(t1, t2, t3)) = q.where: @unchecked
    assert(t1.asInstanceOf[TripleGP].p.isInstanceOf[PAlt])
    assert(t2.asInstanceOf[TripleGP].p.isInstanceOf[POneOrMore])
    assert(t3.asInstanceOf[TripleGP].p.isInstanceOf[PNeg])
  }

  test("bounded path quantifiers: {0} is the zero-length path only") {
    def path(q: String): Path = {
      val GroupGP(Seq(t)) = sel(s"SELECT * WHERE { ?a <urn:p:x>$q ?b }").where: @unchecked
      t.asInstanceOf[TripleGP].p
    }
    val x = PLink("urn:p:x")
    assert(path("{0}") == PZero(x))
    assert(path("{0,0}") == PZero(x))
    assert(path("{0,1}") == PZeroOrOne(x))
    assert(path("{0,2}") == PZeroOrOne(PAlt(x, PSeq(x, x))))
    assert(path("{1}") == x)
    // a reversed range is a syntax error, not an empty alternation
    for (q <- Seq("{1,0}", "{2,0}", "{3,1}")) {
      val e = intercept[Parser.ParseError](path(q))
      assert(e.msg.contains("upper bound below lower bound"), q)
    }
  }

  test("aggregates and modifiers") {
    val q = sel(
      """SELECT ?g (COUNT(DISTINCT ?x) AS ?c) (GROUP_CONCAT(?n; SEPARATOR="|") AS ?ns)
        |WHERE { ?x <urn:p:g> ?g ; <urn:p:n> ?n }
        |GROUP BY ?g HAVING (COUNT(*) > 2) ORDER BY DESC(?c) LIMIT 5 OFFSET 2""".stripMargin)
    assert(q.groupBy.nonEmpty && q.having.nonEmpty)
    assert(q.orderBy.head._2 == false)
    assert(q.limit.contains(5L) && q.offset.contains(2L))
    val ProjVars(items) = q.projection: @unchecked
    assert(items(1)._1 == EAgg("COUNT", distinct = true, Some(EVar("x"))))
    assert(items(2)._1 == EAgg("GROUP_CONCAT", distinct = false, Some(EVar("n")), Some("|")))
  }

  test("subselect, graph, exists") {
    val q = sel(
      """SELECT ?x WHERE {
        |  GRAPH <urn:g:t> { ?x <urn:p:a> ?y }
        |  { SELECT ?x WHERE { ?x <urn:p:b> ?z } }
        |  FILTER NOT EXISTS { ?x <urn:p:c> ?w }
        |}""".stripMargin)
    val GroupGP(elems) = q.where: @unchecked
    assert(elems.exists(_.isInstanceOf[GraphGP]))
    assert(elems.exists(_.isInstanceOf[GroupGP]))
  }

  test("ask construct describe forms") {
    assert(Parser.parseQuery("ASK { ?s ?p ?o }").isInstanceOf[AskQuery])
    val c = Parser.parseQuery("CONSTRUCT { ?s <urn:p:x> ?o } WHERE { ?s <urn:p:y> ?o }")
      .asInstanceOf[ConstructQuery]
    assert(c.template.length == 1)
    assert(Parser.parseQuery("DESCRIBE <urn:t:r:1>").isInstanceOf[DescribeQuery])
    // SPARQL 1.1 shorthand: CONSTRUCT WHERE { TriplesTemplate } — template = pattern
    val sh = Parser.parseQuery(
      "CONSTRUCT WHERE { ?s <urn:p:y> ?o . ?s <urn:p:z> ?z }")
      .asInstanceOf[ConstructQuery]
    assert(sh.template.length == 2)
    assert(sh.where == GroupGP(sh.template))
    val shLim = Parser.parseQuery("CONSTRUCT WHERE { ?s ?p ?o } LIMIT 5")
      .asInstanceOf[ConstructQuery]
    assert(shLim.limit.contains(5L))
  }

  test("quads accept an optional dot after GRAPH blocks; LOAD carries SILENT") {
    // Quads ::= TriplesTemplate? ( QuadsNotTriples '.'? TriplesTemplate? )*
    val ops = Parser.parseUpdate(
      """INSERT DATA { <urn:a:1> <urn:p:x> 1 . GRAPH <urn:g:a> { <urn:w:1> <urn:p:m> 1 } . <urn:a:2> <urn:p:x> 2 }""")
    assert(ops.head.asInstanceOf[InsertData].quads.length == 3)
    val load = Parser.parseUpdate("LOAD SILENT <file:///missing.nt> INTO GRAPH <urn:g:l>").head
    assert(load == LoadGraph("file:///missing.nt", Some("urn:g:l"), silent = true))
    assert(Parser.parseUpdate("LOAD <file:///x.nt>").head ==
      LoadGraph("file:///x.nt", None, silent = false))
  }

  test("update forms") {
    val ops = Parser.parseUpdate(
      """INSERT DATA { <urn:s:1> <urn:p:a> 5 . GRAPH <urn:g:x> { <urn:s:2> <urn:p:b> "v" } } ;
        |DELETE { ?s <urn:p:old> ?o } INSERT { ?s <urn:p:new> ?o } WHERE { ?s <urn:p:old> ?o } ;
        |CLEAR GRAPH <urn:g:x>""".stripMargin)
    assert(ops.length == 3)
    assert(ops(0).asInstanceOf[InsertData].quads.length == 2)
    assert(ops(1).isInstanceOf[Modify])
    assert(ops(2) == ClearGraph(Some("urn:g:x")))
  }

  test("comments and strings with escapes") {
    val q = sel("SELECT ?x # trailing comment\nWHERE { ?x <urn:p:a> \"a\\\"b\\nc\" }")
    val GroupGP(Seq(TripleGP(_, _, LitNode(s, _, _)))) = q.where: @unchecked
    assert(s == "a\"b\nc")
  }

  test("parse errors are clean") {
    val e = intercept[Parser.ParseError](Parser.parseQuery("SELECT ?x WHERE { ?x"))
    assert(e.getMessage.nonEmpty)
  }

  // SPARQL 1.1 grammar note 12 makes a BIND target already in scope a syntax
  // error, but the reference accepts it with conditional-bind semantics
  // (ConditionalBind.java; TestBindings) — lowering must not reject it.
  test("BIND onto an in-scope variable lowers to a conditional extend") {
    val q = sel("SELECT * WHERE { ?s <urn:p:a> ?x . BIND(2 AS ?x) }")
    val op = graft.sparql.Algebra.lower(q.where)
    assert(op.isInstanceOf[graft.sparql.Algebra.OpExtend])
  }
}
