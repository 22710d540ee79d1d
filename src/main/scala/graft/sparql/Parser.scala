package graft.sparql

import Ast._
import scala.collection.mutable.ArrayBuffer

/** Hand-rolled SPARQL 1.1 tokenizer + recursive-descent parser.
  *
  * Follows the grammar productions of the reference's JavaCC grammar
  * (`sparql-grammar/src/main/java/com/bigdata/rdf/sail/sparql/ast/sparql.jjt`, itself the
  * W3C SPARQL 1.1 grammar) for the query/update subset the engine evaluates. Blank nodes
  * in patterns become non-distinguished variables (standard semantics).
  */
object Parser {

  final case class ParseError(msg: String, pos: Int)
      extends RuntimeException(s"$msg (at char $pos)")

  // ======== tokenizer ========
  sealed trait Tok { def pos: Int }
  final case class TIri(v: String, pos: Int) extends Tok
  final case class TPName(prefix: String, local: String, pos: Int) extends Tok
  final case class TVar(name: String, pos: Int) extends Tok
  final case class TStr(v: String, pos: Int) extends Tok
  final case class TLang(v: String, pos: Int) extends Tok
  final case class TNum(text: String, pos: Int) extends Tok
  final case class TWord(upper: String, raw: String, pos: Int) extends Tok
  final case class TBNode(label: String, pos: Int) extends Tok
  final case class TPct(name: String, pos: Int) extends Tok
  final case class TPunct(s: String, pos: Int) extends Tok
  final case class TEof(pos: Int) extends Tok

  private val puncts = Seq("<<", ">>", "{|", "|}", "^^", "&&", "||", "!=", "<=", ">=", "{", "}", "(", ")",
    "[", "]", ",", ";", "=", "<", ">", "!", "+", "-", "*", "/", "|", "^", "?", ".")

  def tokenize(q: String): IndexedSeq[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val n = q.length
    def isWS(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    def nameStart(c: Char) = c.isLetter || c == '_' || c.isDigit
    def nameChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '-'
    // VARNAME is stricter than PN_LOCAL: no '-' (sparql.jj VARNAME production —
    // `?countTotal-?countF` is a subtraction, not one hyphenated variable)
    def varChar(c: Char) = c.isLetterOrDigit || c == '_'
    while (i < n) {
      val c = q(i)
      if (isWS(c)) i += 1
      else if (c == '#') { while (i < n && q(i) != '\n') i += 1 }
      else if (c == '<' && i + 1 < n && (q(i + 1).isLetter || "_:/#>.%".contains(q(i + 1)))) {
        // IRIREF — only when it looks like <scheme…> or a (possibly empty) relative
        // reference (<>, <../x>, <%40x>), else '<' is an operator
        val j = q.indexOf('>', i)
        if (j < 0) throw ParseError("unterminated IRI", i)
        val body = q.substring(i + 1, j)
        if (body.exists(ch => isWS(ch))) { out += TPunct("<", i); i += 1 }
        else { out += TIri(body, i); i = j + 1 }
      } else if (c == '"' || c == '\'') {
        val (s, ni) = lexString(q, i)
        out += TStr(s, i); i = ni
      } else if (c == '?' && i + 1 < n && nameStart(q(i + 1))) {
        var j = i + 1; while (j < n && varChar(q(j))) j += 1
        out += TVar(q.substring(i + 1, j), i); i = j
      } else if (c == '$' && i + 1 < n && nameStart(q(i + 1))) {
        var j = i + 1; while (j < n && varChar(q(j))) j += 1
        out += TVar(q.substring(i + 1, j), i); i = j
      } else if (c == '@' ) {
        var j = i + 1; while (j < n && (q(j).isLetterOrDigit || q(j) == '-')) j += 1
        out += TLang(q.substring(i + 1, j), i); i = j
      } else if (c == '%' && i + 1 < n && nameStart(q(i + 1))) {
        var j = i + 1; while (j < n && nameChar(q(j))) j += 1
        out += TPct(q.substring(i + 1, j), i); i = j
      } else if (c == '_' && i + 1 < n && q(i + 1) == ':') {
        var j = i + 2; while (j < n && nameChar(q(j))) j += 1
        out += TBNode(q.substring(i + 2, j), i); i = j
      } else if (c.isDigit || (c == '.' && i + 1 < n && q(i + 1).isDigit)) {
        var j = i
        while (j < n && q(j).isDigit) j += 1
        if (j < n && q(j) == '.' && j + 1 < n && q(j + 1).isDigit) {
          j += 1; while (j < n && q(j).isDigit) j += 1
        }
        if (j < n && (q(j) == 'e' || q(j) == 'E')) {
          var k = j + 1
          if (k < n && (q(k) == '+' || q(k) == '-')) k += 1
          if (k < n && q(k).isDigit) { j = k; while (j < n && q(j).isDigit) j += 1 }
        }
        out += TNum(q.substring(i, j), i); i = j
      } else if (c.isLetter) {
        var j = i; while (j < n && (q(j).isLetterOrDigit || q(j) == '_' || q(j) == '-')) j += 1
        // prefixed name? word directly followed by ':'
        if (j < n && q(j) == ':') {
          val prefix = q.substring(i, j)
          var k = j + 1
          var last = k
          while (k < n && (q(k).isLetterOrDigit || q(k) == '_' || q(k) == '-' || q(k) == ':' ||
            (q(k) == '.' && k + 1 < n && (q(k + 1).isLetterOrDigit || q(k + 1) == '_')))) { k += 1; last = k }
          out += TPName(prefix, q.substring(j + 1, last), i); i = last
        } else { val w = q.substring(i, j); out += TWord(w.toUpperCase, w, i); i = j }
      } else if (c == ':') { // default-prefix pname
        var k = i + 1
        while (k < n && (q(k).isLetterOrDigit || q(k) == '_' || q(k) == '-' ||
          (q(k) == '.' && k + 1 < n && (q(k + 1).isLetterOrDigit || q(k + 1) == '_')))) k += 1
        out += TPName("", q.substring(i + 1, k), i); i = k
      } else {
        puncts.find(p => q.startsWith(p, i)) match {
          case Some(p) => out += TPunct(p, i); i += p.length
          case None => throw ParseError(s"unexpected char '$c'", i)
        }
      }
    }
    out += TEof(n)
    out.toIndexedSeq
  }

  private def lexString(q: String, start: Int): (String, Int) = {
    val quote = q(start)
    val long = q.startsWith(quote.toString * 3, start)
    val (open, close) = if (long) (3, quote.toString * 3) else (1, quote.toString)
    val sb = new StringBuilder
    var i = start + open
    while (i < q.length) {
      if (q.startsWith(close, i)) return (sb.toString, i + close.length)
      val c = q(i)
      if (c == '\\' && i + 1 < q.length) {
        q(i + 1) match {
          case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
          case 'b' => sb += '\b'; case 'f' => sb += '\f'
          case '"' => sb += '"'; case '\'' => sb += '\''; case '\\' => sb += '\\'
          case 'u' => sb += Integer.parseInt(q.substring(i + 2, i + 6), 16).toChar; i += 4
          case other => sb += other
        }
        i += 2
      } else { sb += c; i += 1 }
    }
    throw ParseError("unterminated string", start)
  }

  // ======== canonicalization (must match graft.model.Term constructors) ========
  private val intDts = Set("integer", "int", "long", "short", "byte", "nonNegativeInteger",
    "nonPositiveInteger", "negativeInteger", "positiveInteger", "unsignedLong",
    "unsignedInt", "unsignedShort", "unsignedByte")
  private val dblDts = Set("double", "float")

  /** Canonical xsd:decimal lexical form: plain notation, trailing fraction zeros
    * trimmed — must match Term.decimalLit's scale-18 render + trim.
    */
  def canonicalDecimal(lex: String): String = {
    val plain = new java.math.BigDecimal(lex.trim).toPlainString
    if (plain.contains('.')) plain.reverse.dropWhile(_ == '0').stripPrefix(".").reverse
    else plain
  }

  def canonicalLit(lex: String, dt: Option[String], lang: Option[String]): LitNode = {
    // An ILL-TYPED literal ("xyz"^^xsd:integer) is still a valid RDF term — keep it
    // as an opaque typed literal instead of failing the parse (the reference stores
    // them too; its open-eq-12 TCK data depends on it). Value semantics see a
    // non-numeric term, which is exactly the spec's treatment.
    try canonicalLit0(lex, dt, lang)
    catch {
      case _: NumberFormatException | _: java.time.format.DateTimeParseException =>
        LitNode(lex, dt, lang.map(_.toLowerCase))
    }
  }

  private def canonicalLit0(lex: String, dt: Option[String], lang: Option[String]): LitNode = {
    dt match {
      case Some(d) if d.startsWith(graft.model.Term.XSD) =>
        val local = d.substring(graft.model.Term.XSD.length)
        // integer family: canonical digits (strip plus/leading zeros, arbitrary
        // precision) but KEEP the authored datatype — the reference's inline
        // XSDNumericIVs carry the DTE, so "10"^^xsd:int and "10"^^xsd:integer
        // are DISTINCT terms (TestTicket1007 number1); inline num/lng still
        // make them value-equal under `=`
        if (intDts(local)) LitNode(new java.math.BigInteger(lex.trim).toString, Some(d))
        else if (local == "decimal")
          LitNode(canonicalDecimal(lex), Some(graft.model.Term.XSD_DECIMAL))
        else if (dblDts(local)) LitNode(java.lang.Double.toString(java.lang.Double.parseDouble(lex.trim)),
          Some(graft.model.Term.XSD_DOUBLE))
        else if (local == "boolean") LitNode(lex.trim.toLowerCase, Some(graft.model.Term.XSD_BOOLEAN))
        else if (local == "dateTime") {
          val inst = parseDateTime(lex.trim)
          LitNode(inst, Some(graft.model.Term.XSD_DATETIME))
        } else if (local == "date") LitNode(lex.trim, Some(graft.model.Term.XSD_DATE))
        else if (local == "string") LitNode(lex, None)
        else LitNode(lex, dt)
      case _ => LitNode(lex, dt, lang.map(_.toLowerCase))
    }
  }

  /** Canonicalize a dateTime/date lexical — the local fields and fraction go to
    * the reference's milli form (≥3 fractional digits, trailing zeros stripped
    * past micro precision — see Term.tsLit), but the AUTHORED zone token is
    * preserved verbatim: "Z", "±hh:mm", or absent. The zone is part of the
    * literal's identity (sameTerm distinguishes "…Z" from "…+00:00" — the
    * lexical term model the reference keeps when dateTime inlining is off), and
    * fn:TZ/fn:TIMEZONE read it back from this lexical. Value-space operations
    * (=, <, ORDER BY, YEAR…) use the `ts` instant and are unaffected; zoneless
    * lexicals are interpreted as UTC instants (documented trade).
    */
  def parseDateTime(lex0: String): String = {
    val lex = lex0.trim
    // explicit zone = trailing Z or ±hh:mm (a bare contains("+")/("-") test would
    // trip on the date part)
    val zone = if (lex.endsWith("Z")) "Z"
      else "[+-]\\d{2}:\\d{2}$".r.findFirstIn(lex).getOrElse("")
    val core0 = lex.stripSuffix(zone)
    val core = if (core0.length == 10) core0 + "T00:00:00" else core0
    // OffsetDateTime validates; the authored offset does not shift the local part
    val odt = java.time.OffsetDateTime.parse(core + (if (zone.isEmpty) "Z" else zone))
    val full = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .format(odt.toLocalDateTime.truncatedTo(java.time.temporal.ChronoUnit.MICROS))
    full.replaceAll("(\\.\\d{3}(?:\\d*[1-9])?)0*$", "$1") + zone
  }

  /** SPARQL grammar numeric literal typing: INTEGER → xsd:integer, DECIMAL (dot, no
    * exponent) → xsd:decimal, DOUBLE (exponent) → xsd:double (SPARQL 1.1 §19.8).
    */
  def numLit(text: String): LitNode =
    if (text.toLowerCase.contains('e'))
      LitNode(java.lang.Double.toString(text.toDouble), Some(graft.model.Term.XSD_DOUBLE))
    else if (text.contains('.'))
      LitNode(canonicalDecimal(text), Some(graft.model.Term.XSD_DECIMAL))
    else LitNode(new java.math.BigInteger(text).toString,
      Some(graft.model.Term.XSD_INTEGER)) // beyond-long integers keep exact digits

  // ======== parser ========
  def parseQuery(q: String): Query = new P(tokenize(q)).parseQueryTop()
  def parseUpdate(q: String): Seq[UpdateOp] = new P(tokenize(q)).parseUpdateTop()

  /** Pre-declared prefixes, matching the reference's `PrefixDeclProcessor.java:88-98`
    * default decls (rdf/rdfs/sesame/owl/xsd/fn/foaf/dc/hint/bd/bds) plus the service
    * vocabularies; an explicit PREFIX in the query shadows these.
    */
  private val builtinPrefixes = Map(
    "rdf" -> graft.model.Term.RDF, "rdfs" -> graft.model.Term.RDFS,
    "xsd" -> graft.model.Term.XSD, "owl" -> "http://www.w3.org/2002/07/owl#",
    "sesame" -> "http://www.openrdf.org/schema/sesame#",
    "fn" -> "http://www.w3.org/2005/xpath-functions#",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "dc" -> "http://purl.org/dc/elements/1.1/",
    "hint" -> "http://www.bigdata.com/queryHints#",
    "bd" -> "http://www.bigdata.com/rdf#",
    "bds" -> "http://www.bigdata.com/rdf/search#",
    "geo" -> "http://www.bigdata.com/rdf/geospatial#",
    "gas" -> "http://www.bigdata.com/rdf/gas#")

  private final class P(toks: IndexedSeq[Tok]) {
    private var i = 0
    private var prefixes: Map[String, String] = builtinPrefixes
    private var baseIri: Option[String] = None
    private var bnodeCtr = 0

    private def cur: Tok = toks(i)
    private def advance(): Tok = { val t = toks(i); i += 1; t }
    private def fail(msg: String): Nothing = throw ParseError(s"$msg but found $cur", cur.pos)
    private def isWord(w: String): Boolean = cur match {
      case TWord(u, _, _) => u == w; case _ => false }
    private def acceptWord(w: String): Boolean = if (isWord(w)) { i += 1; true } else false
    private def expectWord(w: String): Unit = if (!acceptWord(w)) fail(s"expected $w")
    private def isPunct(s: String): Boolean = cur match {
      case TPunct(p, _) => p == s; case _ => false }
    private def acceptPunct(s: String): Boolean = if (isPunct(s)) { i += 1; true } else false
    private def expectPunct(s: String): Unit = if (!acceptPunct(s)) fail(s"expected '$s'")

    private def freshBNodeVar(): VarNode = { bnodeCtr += 1; VarNode(s"-bn$bnodeCtr") }

    private def resolvePName(p: String, l: String, pos: Int): String =
      prefixes.get(p) match {
        case Some(ns) => ns + l
        case None => throw ParseError(s"unknown prefix '$p:'", pos)
      }

    def parseQueryTop(): Query = {
      parsePrologue()
      val q = cur match {
        case TWord("SELECT", _, _) => parseSelect()
        case TWord("ASK", _, _) => parseAsk()
        case TWord("CONSTRUCT", _, _) => parseConstruct()
        case TWord("DESCRIBE", _, _) => parseDescribe()
        case _ => fail("expected SELECT/ASK/CONSTRUCT/DESCRIBE")
      }
      cur match { case TEof(_) => q; case _ => fail("trailing tokens") }
    }

    private def parsePrologue(): Unit = {
      var go = true
      while (go) {
        if (acceptWord("PREFIX")) {
          val (p, pos) = cur match {
            case TPName(pr, "", po) => i += 1; (pr, po)
            case TPName(pr, l, po) => i += 1; (pr + ":" + l, po) // e.g. odd empty-local
            case TPunct(":", po) => i += 1; ("", po)
            case TWord(_, orig, po) => // `@prefix name : <…>` with a space before ':'
              i += 1
              cur match {
                case TPName("", "", _) | TPunct(":", _) => i += 1
                case _ => fail("expected ':' after prefix name")
              }
              (orig, po)
            case _ => fail("expected prefix name")
          }
          val iri = cur match { case TIri(v, _) => i += 1; resolveIri(v); case _ => fail("expected IRI") }
          prefixes += (p.stripSuffix(":") -> iri)
          val _ = pos
        } else if (acceptWord("BASE")) {
          cur match { case TIri(v, _) => i += 1; baseIri = Some(v); case _ => fail("expected IRI") }
        } else go = false
      }
    }

    private def parseDatasets(): Seq[(String, Boolean)] = {
      val out = ArrayBuffer.empty[(String, Boolean)]
      while (acceptWord("FROM")) {
        val named = acceptWord("NAMED")
        // reference extension (TestVirtualGraphs, BD.VIRTUAL_GRAPH): FROM [NAMED]
        // VIRTUAL GRAPH <vg> names a graph-set declared by `?vg bd:virtualGraph ?g`
        // membership triples; Engine.query expands it against the store
        if (acceptWord("VIRTUAL")) {
          expectWord("GRAPH")
          out += ((Ast.VirtualGraphMarker + parseIri(), named))
        } else out += ((parseIri(), named))
      }
      out.toSeq
    }

    private def parseIri(): String = cur match {
      case TIri(v, _) => i += 1; resolveIri(v)
      case TPName(p, l, pos) => i += 1; resolvePName(p, l, pos)
      case _ => fail("expected IRI")
    }

    /** Resolve a relative IRIREF against the declared BASE (no-op when absolute or no
      * BASE is in effect — absolute = a ':' appears before any '/', '#' or '?').
      */
    private def resolveIri(v: String): String = {
      val absolute = v.takeWhile(c => c != '/' && c != '#' && c != '?').contains(':')
      if (absolute || baseIri.isEmpty) v
      else try java.net.URI.create(baseIri.get).resolve(v).toString
      catch { case _: IllegalArgumentException => v }
    }

    private def parseSelect(): SelectQuery = {
      expectWord("SELECT")
      val distinct = acceptWord("DISTINCT")
      val reduced = !distinct && acceptWord("REDUCED")
      val proj: Projection =
        if (acceptPunct("*")) Star
        else {
          val items = ArrayBuffer.empty[(Expr, Option[String])]
          var go = true
          while (go) cur match {
            case TVar(n, _) => i += 1; items += ((EVar(n), None))
            case TPunct("(", _) =>
              i += 1
              val e = parseExpr()
              expectWord("AS")
              val v = parseVar()
              expectPunct(")")
              items += ((e, Some(v.name)))
            case _ => go = false
          }
          if (items.isEmpty) fail("empty projection")
          ProjVars(items.toSeq)
        }
      val ds = parseDatasets()
      val withs = ArrayBuffer.empty[(String, SelectQuery)]
      while (acceptWord("WITH")) {
        expectPunct("{")
        val sub = parseSelect()
        expectPunct("}")
        expectWord("AS")
        val name = cur match {
          case TPct(nm, _) => i += 1; nm
          case _ => fail("expected %name")
        }
        withs += ((name, sub))
      }
      val where = parseWhere()
      val (groupBy, having, orderBy, offset, limit, values) = parseModifiers()
      val q = SelectQuery(distinct, reduced, proj, where, groupBy, having, orderBy,
        offset, limit, values, withSubqueries = withs.toSeq)
      q.datasets = ds
      q
    }

    private def parseAsk(): AskQuery = {
      expectWord("ASK")
      val ds = parseDatasets()
      val q = AskQuery(parseWhere())
      // the reference's grammar tolerates solution modifiers on ASK (TestTicket618
      // runs ASK … GROUP BY … ORDER BY …): grouping/ordering cannot change
      // non-emptiness, so parse and discard — but HAVING could, so reject it
      val (_, having, _, _, _, _) = parseModifiers()
      if (having.nonEmpty) fail("ASK with HAVING is not supported")
      q.datasets = ds
      q
    }

    private def parseConstruct(): ConstructQuery = {
      expectWord("CONSTRUCT")
      // SPARQL 1.1 shorthand: CONSTRUCT DatasetClause* WHERE { TriplesTemplate? }
      // — the template IS the where pattern (grammar rule [10], second alternative)
      if (!isPunct("{")) {
        val ds = parseDatasets()
        expectWord("WHERE")
        expectPunct("{")
        val buf = ArrayBuffer.empty[GP]
        while (!isPunct("}")) {
          parseTriplesSameSubject(buf)
          if (!acceptPunct(".")) { if (!isPunct("}")) fail("expected '.' or '}'") }
        }
        expectPunct("}")
        val (_, _, _, offset, limit, _) = parseModifiers()
        val triples = buf.toSeq.collect { case t: TripleGP => t }
        val q = ConstructQuery(triples, GroupGP(triples), offset, limit)
        q.datasets = ds
        return q
      }
      expectPunct("{")
      val buf = ArrayBuffer.empty[GP]
      while (!isPunct("}")) {
        parseTriplesSameSubject(buf)
        if (!acceptPunct(".")) { if (!isPunct("}")) fail("expected '.' or '}'") }
      }
      expectPunct("}")
      val ds = parseDatasets()
      val where = parseWhere()
      val (_, _, _, offset, limit, _) = parseModifiers()
      val q = ConstructQuery(buf.toSeq.collect { case t: TripleGP => t }, where, offset, limit)
      q.datasets = ds
      q
    }

    private def parseDescribe(): DescribeQuery = {
      expectWord("DESCRIBE")
      val targets = ArrayBuffer.empty[Node]
      var go = true
      while (go) cur match {
        case TVar(n, _) => i += 1; targets += VarNode(n)
        case TIri(_, _) | TPName(_, _, _) => targets += IriNode(parseIri())
        case _ => go = false
      }
      val where = if (isWord("WHERE") || isPunct("{")) Some(parseWhere()) else None
      val q = DescribeQuery(targets.toSeq, where)
      q
    }

    private def parseWhere(): GP = { acceptWord("WHERE"); parseGroupGP() }

    private def parseModifiers(): (Seq[(Expr, Option[String])], Seq[Expr],
        Seq[(Expr, Boolean)], Option[Long], Option[Long], Option[ValuesGP]) = {
      var groupBy = Seq.empty[(Expr, Option[String])]
      var having = Seq.empty[Expr]
      var orderBy = Seq.empty[(Expr, Boolean)]
      var offset: Option[Long] = None
      var limit: Option[Long] = None
      var values: Option[ValuesGP] = None
      if (acceptWord("GROUP")) {
        expectWord("BY")
        val items = ArrayBuffer.empty[(Expr, Option[String])]
        var go = true
        while (go) cur match {
          case TVar(n, _) => i += 1; items += ((EVar(n), None))
          case TPunct("(", _) =>
            i += 1
            val e = parseExpr()
            val alias = if (acceptWord("AS")) Some(parseVar().name) else None
            expectPunct(")")
            items += ((e, alias))
          case TWord(_, _, _) if isBuiltinStart => items += ((parsePrimaryExpr(), None))
          case _ => go = false
        }
        groupBy = items.toSeq
      }
      if (acceptWord("HAVING")) {
        val hs = ArrayBuffer.empty[Expr]
        while (isPunct("(") || isBuiltinStart) hs += parseConstraint()
        having = hs.toSeq
      }
      if (acceptWord("ORDER")) {
        expectWord("BY")
        val keys = ArrayBuffer.empty[(Expr, Boolean)]
        var go = true
        while (go) cur match {
          case TWord("ASC", _, _) => i += 1; keys += ((parseBracketted(), true))
          case TWord("DESC", _, _) => i += 1; keys += ((parseBracketted(), false))
          case TVar(n, _) => i += 1; keys += ((EVar(n), true))
          case TPunct("(", _) => keys += ((parseBracketted(), true))
          case TWord(_, _, _) if isBuiltinStart => keys += ((parsePrimaryExpr(), true))
          case TIri(_, _) | TPName(_, _, _)
            if toks.lift(i + 1).exists { case TPunct("(", _) => true; case _ => false } =>
            // OrderCondition ::= … | FunctionCall (`ORDER BY xsd:double(str(?price))`,
            // BSBM explore query10)
            keys += ((parsePrimaryExpr(), true))
          case _ => go = false
        }
        orderBy = keys.toSeq
      }
      var go2 = true
      while (go2) {
        if (acceptWord("LIMIT")) limit = Some(parseLong())
        else if (acceptWord("OFFSET")) offset = Some(parseLong())
        else go2 = false
      }
      if (isWord("VALUES")) values = Some(parseValues())
      else if (isWord("BINDINGS")) values = Some(parseBindingsLegacy())
      (groupBy, having, orderBy, offset, limit, values)
    }

    /** Legacy SPARQL 1.1 *draft* trailer `BINDINGS ?x ?y { (v1 v2) … }` — accepted by
      * the reference's grammar alongside VALUES; rows are always parenthesized.
      */
    private def parseBindingsLegacy(): ValuesGP = {
      expectWord("BINDINGS")
      val vars = ArrayBuffer.empty[VarNode]
      while (!isPunct("{")) vars += parseVar()
      expectPunct("{")
      val rows = ArrayBuffer.empty[Seq[Option[Node]]]
      while (acceptPunct("(")) {
        val row = ArrayBuffer.empty[Option[Node]]
        while (!isPunct(")")) row += parseDataValue()
        expectPunct(")")
        rows += row.toSeq
      }
      expectPunct("}")
      ValuesGP(vars.toSeq, rows.toSeq)
    }

    private def parseBracketted(): Expr = { expectPunct("("); val e = parseExpr(); expectPunct(")"); e }

    private def parseLong(): Long = cur match {
      case TNum(t, _) => i += 1; t.toLong
      case _ => fail("expected integer")
    }

    private def parseVar(): VarNode = cur match {
      case TVar(n, _) => i += 1; VarNode(n)
      case _ => fail("expected variable")
    }

    // ---- group graph pattern ----
    private def parseGroupGP(): GP = {
      expectPunct("{")
      if (isWord("SELECT")) {
        val sub = parseSelect()
        expectPunct("}")
        return GroupGP(Seq(SubSelectGP(sub)))
      }
      val elems = ArrayBuffer.empty[GP]
      while (!isPunct("}")) {
        cur match {
          case TWord("OPTIONAL", _, _) => i += 1; elems += OptionalGP(parseGroupGP())
          case TWord("MINUS", _, _) => i += 1; elems += MinusGP(parseGroupGP())
          case TWord("FILTER", _, _) => i += 1; elems += FilterGP(parseConstraint())
          case TWord("BIND", _, _) =>
            i += 1; expectPunct("(")
            val e = parseExpr(); expectWord("AS"); val v = parseVar(); expectPunct(")")
            elems ++= desugarSidBind(e, v).getOrElse(Seq(BindGP(e, v)))
          case TWord("LET", _, _) =>
            // legacy assignment syntax `LET (?v := expr)` — the reference's
            // sparql.jj AssignmentNode production, equivalent to BIND(expr AS ?v)
            i += 1; expectPunct("(")
            val v = parseVar()
            cur match {
              case TPName("", "", _) => i += 1; expectPunct("=") // ':=' lexes as ':'+'='
              case _ => fail("expected ':=' in LET")
            }
            val e = parseExpr(); expectPunct(")")
            elems ++= desugarSidBind(e, v).getOrElse(Seq(BindGP(e, v)))
          case TWord("VALUES", _, _) => elems += parseValues()
          case TWord("GRAPH", _, _) =>
            i += 1
            val g: Node = cur match {
              case TVar(n, _) => i += 1; VarNode(n)
              case _ => IriNode(parseIri())
            }
            elems += GraphGP(g, parseGroupGP())
          case TWord("INCLUDE", _, _) =>
            i += 1
            cur match {
              case TPct(nm, _) => i += 1; elems += IncludeGP(nm)
              case _ => fail("expected %name after INCLUDE")
            }
          case TWord("SERVICE", _, _) =>
            i += 1
            val silent = acceptWord("SILENT")
            val g: Node = cur match {
              case TVar(n, _) => i += 1; VarNode(n)
              case _ => IriNode(parseIri())
            }
            elems += ServiceGP(g, parseGroupGP(), silent)
          case TPunct("{", _) =>
            // group or union chain
            var g: GP = parseGroupGP()
            if (isWord("UNION")) {
              val alts = ArrayBuffer[GP](g)
              while (acceptWord("UNION")) alts += parseGroupGP()
              g = UnionGP(alts.toSeq)
            }
            elems += g
          case _ =>
            parseTriplesSameSubject(elems)
            if (!isPunct("}")) {
              if (!acceptPunct(".")) {
                // allow next pattern keyword without '.'
                cur match {
                  case TWord("OPTIONAL" | "MINUS" | "FILTER" | "BIND" | "LET" | "VALUES" |
                    "GRAPH" | "SERVICE" | "INCLUDE", _, _) | TPunct("{", _) => ()
                  case _ => fail("expected '.' or '}'")
                }
              }
            }
        }
        acceptPunct(".") // tolerate stray dots between elements
      }
      expectPunct("}")
      GroupGP(elems.toSeq)
    }

    private def parseValues(): ValuesGP = {
      expectWord("VALUES")
      if (acceptPunct("(")) {
        val vars = ArrayBuffer.empty[VarNode]
        while (!isPunct(")")) vars += parseVar()
        expectPunct(")")
        expectPunct("{")
        val rows = ArrayBuffer.empty[Seq[Option[Node]]]
        while (acceptPunct("(")) {
          val row = ArrayBuffer.empty[Option[Node]]
          while (!isPunct(")")) row += parseDataValue()
          expectPunct(")")
          rows += row.toSeq
        }
        expectPunct("}")
        ValuesGP(vars.toSeq, rows.toSeq)
      } else {
        val v = parseVar()
        expectPunct("{")
        val rows = ArrayBuffer.empty[Seq[Option[Node]]]
        while (!isPunct("}")) rows += Seq(parseDataValue())
        expectPunct("}")
        ValuesGP(Seq(v), rows.toSeq)
      }
    }

    private def parseDataValue(): Option[Node] = cur match {
      case TWord("UNDEF", _, _) => i += 1; None
      case _ => Some(parseGraphTerm())
    }

    // ---- triples ----
    private def parseTriplesSameSubject(out: ArrayBuffer[GP]): Unit = {
      val s: Node = cur match {
        case TPunct("[", _) =>
          i += 1
          val v = freshBNodeVar()
          if (!isPunct("]")) parsePropertyList(v, out)
          expectPunct("]")
          v
        case TPunct("(", _) => parseCollectionGP(out)
        case TPunct("<<", _) => parseEmbeddedGP(out)
        case _ => parseVarOrTerm()
      }
      parsePropertyList(s, out)
    }

    /** SPARQL* embedded triple pattern `<< s p o >>` → reification-property joins on
      * a fresh sid variable (the SID decomposition, `rdf/internal/impl/bnode/SidIV`).
      */
    private def parseEmbeddedGP(out: ArrayBuffer[GP]): Node = {
      expectPunct("<<")
      def part(): Node = cur match {
        case TPunct("<<", _) => parseEmbeddedGP(out)
        case _ => parseVarOrTerm()
      }
      val s = part(); val p = part(); val o = part()
      expectPunct(">>")
      val sid = freshBNodeVar()
      out += TripleGP(sid, PLink(graft.model.Term.RDF_SUBJECT), s)
      out += TripleGP(sid, PLink(graft.model.Term.RDF_PREDICATE), p)
      out += TripleGP(sid, PLink(graft.model.Term.RDF_OBJECT), o)
      sid
    }

    /** `BIND(<< s p o >> AS ?sid)` is a statement-pattern MATCH in the reference's
      * RDR semantics, not a constructor: it binds ?sid (and any unbound inner
      * variables) from statements that EXIST — the sid lookup form
      * (TestReificationDoneRightEval.java rdr-02a/03/03a; a sid exists only for
      * an asserted statement, so the inner triple pattern joins too — rdr-03a
      * expects only the reification whose base statement is present). Pattern
      * position `<< s p o >>` stays decomposition-only (no inner-assertion join):
      * the history service addresses sids of RETRACTED statements through it.
      * Only a bare ESid over vars/constants desugars; nested or computed forms
      * keep expression (constructor) semantics.
      */
    private def desugarSidBind(e: Expr, v: VarNode): Option[Seq[GP]] = e match {
      case ESid(s, p, o) =>
        def node(x: Expr): Option[Node] = x match {
          case EVar(n) => Some(VarNode(n))
          case EConst(n) => Some(n)
          case _ => None
        }
        def pred(x: Expr): Option[Path] = x match {
          case EVar(n) => Some(PLink("?" + n)) // var-predicate marker
          case EConst(IriNode(i)) => Some(PLink(i))
          case _ => None
        }
        for (sN <- node(s); pP <- pred(p); oN <- node(o)) yield Seq(
          TripleGP(sN, pP, oN),
          TripleGP(v, PLink(graft.model.Term.RDF_SUBJECT), sN),
          TripleGP(v, PLink(graft.model.Term.RDF_PREDICATE), node(p).get),
          TripleGP(v, PLink(graft.model.Term.RDF_OBJECT), oN))
      case _ => None
    }

    /** RDF collection `(e1 e2 …)` → rdf:first/rdf:rest chain on fresh bnodes. */
    private def parseCollectionGP(out: ArrayBuffer[GP]): Node = {
      expectPunct("(")
      if (acceptPunct(")")) return IriNode(graft.model.Term.RDF_NIL)
      val items = ArrayBuffer.empty[Node]
      while (!isPunct(")")) {
        items += (cur match {
          case TPunct("[", _) =>
            i += 1
            val v = freshBNodeVar()
            if (!isPunct("]")) parsePropertyList(v, out)
            expectPunct("]")
            v
          case TPunct("(", _) => parseCollectionGP(out)
          case _ => parseVarOrTerm()
        })
      }
      expectPunct(")")
      val cells = items.map(_ => freshBNodeVar())
      items.indices.foreach { idx =>
        out += TripleGP(cells(idx), PLink(graft.model.Term.RDF_FIRST), items(idx))
        out += TripleGP(cells(idx), PLink(graft.model.Term.RDF_REST),
          if (idx == items.size - 1) IriNode(graft.model.Term.RDF_NIL) else cells(idx + 1))
      }
      cells.head
    }

    private def parsePropertyList(s: Node, out: ArrayBuffer[GP]): Unit = {
      var go = true
      while (go) {
        if (isPunct("]") || isPunct("}") || isPunct(".") || isPunct("|}") ||
            cur.isInstanceOf[TEof]) { go = false }
        else {
          val p: Either[Path, VarNode] = cur match {
            case TVar(n, _) => i += 1; Right(VarNode(n))
            case _ => Left(parsePath())
          }
          // object list
          var more = true
          while (more) {
            val o: Node = cur match {
              case TPunct("[", _) =>
                i += 1
                val v = freshBNodeVar()
                if (!isPunct("]")) parsePropertyList(v, out)
                expectPunct("]")
                v
              case TPunct("(", _) => parseCollectionGP(out)
              case TPunct("<<", _) => parseEmbeddedGP(out)
              case _ => parseVarOrTerm()
            }
            p match {
              case Left(path) => out += TripleGP(s, path, o)
              case Right(v) => out += TripleGP(s, PLink("?" + v.name), o) // var predicate marker
            }
            // SPARQL-star annotation pattern: `s p o {| … |}` matches the sid term
            if (isPunct("{|")) {
              i += 1
              val sid = freshBNodeVar()
              out += TripleGP(sid, PLink(graft.model.Term.RDF_SUBJECT), s)
              p match {
                case Left(PLink(iri)) if !iri.startsWith("?") =>
                  out += TripleGP(sid, PLink(graft.model.Term.RDF_PREDICATE), IriNode(iri))
                case Right(v) => // variable predicate: sid rdf:predicate ?p
                  out += TripleGP(sid, PLink(graft.model.Term.RDF_PREDICATE), VarNode(v.name))
                case _ => throw ParseError("annotation on a complex path", cur.pos)
              }
              out += TripleGP(sid, PLink(graft.model.Term.RDF_OBJECT), o)
              parsePropertyList(sid, out)
              expectPunct("|}")
            }
            more = acceptPunct(",")
          }
          go = acceptPunct(";")
          if (go && (isPunct("]") || isPunct("}") || isPunct(".") || isPunct("|}"))) go = false
        }
      }
    }

    private def parseVarOrTerm(): Node = cur match {
      case TVar(n, _) => i += 1; VarNode(n)
      case TBNode(l, _) => i += 1; VarNode("-bnl_" + l)
      case _ => parseGraphTerm()
    }

    private def parseGraphTerm(): Node = cur match {
      case TIri(v, _) => i += 1; IriNode(resolveIri(v))
      case TPName(p, l, pos) => i += 1; IriNode(resolvePName(p, l, pos))
      case TWord("A", "a", _) => i += 1; IriNode(graft.model.Term.RDF_TYPE)
      case TWord("TRUE", _, _) => i += 1; LitNode("true", Some(graft.model.Term.XSD_BOOLEAN))
      case TWord("FALSE", _, _) => i += 1; LitNode("false", Some(graft.model.Term.XSD_BOOLEAN))
      case TNum(t, _) => i += 1; numLit(t)
      case TPunct("-", _) if toks(i + 1).isInstanceOf[TNum] =>
        i += 1
        val TNum(t, _) = advance(): @unchecked
        numLit("-" + t)
      case TStr(s, _) =>
        i += 1
        cur match {
          case TLang(lg, _) => i += 1; canonicalLit(s, None, Some(lg))
          case TPunct("^^", _) => i += 1; canonicalLit(s, Some(parseIri()), None)
          case _ => LitNode(s, None)
        }
      case _ => fail("expected RDF term")
    }

    // ---- property paths ----
    private def parsePath(): Path = parsePathAlt()
    private def parsePathAlt(): Path = {
      var p = parsePathSeq()
      while (acceptPunct("|")) p = PAlt(p, parsePathSeq())
      p
    }
    private def parsePathSeq(): Path = {
      var p = parsePathEltOrInverse()
      while (acceptPunct("/")) p = PSeq(p, parsePathEltOrInverse())
      p
    }
    private def parsePathEltOrInverse(): Path =
      if (acceptPunct("^")) PInv(parsePathElt()) else parsePathElt()
    private def parsePathElt(): Path = {
      val prim = parsePathPrimary()
      if (acceptPunct("*")) PZeroOrMore(prim)
      else if (acceptPunct("+")) POneOrMore(prim)
      else if (acceptPunct("?")) PZeroOrOne(prim)
      else if (isPunct("{")) { // {n}, {n,}, {n,m} bounded repetition (Blazegraph extension)
        val at = cur.pos
        i += 1
        val lo = parseLong().toInt
        val hi: Option[Int] =
          if (acceptPunct(",")) { if (isPunct("}")) None else Some(parseLong().toInt) }
          else Some(lo)
        expectPunct("}")
        hi.filter(_ < lo).foreach(m => throw ParseError(s"path quantifier {$lo,$m}: upper bound below lower bound", at))
        expandRange(prim, lo, hi)
      }
      else prim
    }

    /** Rewrite {n,m} into seq/alt/closure combinations of the core path algebra. */
    private def expandRange(q: Path, lo: Int, hi: Option[Int]): Path = {
      def rep(k: Int): Path = Seq.fill(k)(q).reduce(PSeq(_, _))
      hi match {
        case None =>
          if (lo == 0) PZeroOrMore(q)
          else if (lo == 1) POneOrMore(q)
          else PSeq(rep(lo - 1), POneOrMore(q))
        case Some(0) if lo == 0 => PZero(q)
        case Some(m) =>
          val alts = (math.max(lo, 1) to m).map(rep).reduce(PAlt(_, _))
          if (lo == 0) PZeroOrOne(alts) else alts
      }
    }
    private def parsePathPrimary(): Path = cur match {
      case TWord("A", "a", _) => i += 1; PLink(graft.model.Term.RDF_TYPE)
      case TPunct("(", _) => i += 1; val p = parsePath(); expectPunct(")"); p
      case TPunct("!", _) =>
        i += 1
        val set = ArrayBuffer.empty[(String, Boolean)]
        if (acceptPunct("(")) {
          var go = true
          while (go) {
            val inv = acceptPunct("^")
            set += ((if (isWord("A")) { i += 1; graft.model.Term.RDF_TYPE } else parseIri(), inv))
            go = acceptPunct("|")
          }
          expectPunct(")")
        } else {
          val inv = acceptPunct("^")
          set += ((parseIri(), inv))
        }
        PNeg(set.toSeq)
      case _ => PLink(parseIri())
    }

    // ---- expressions ----
    def parseConstraint(): Expr = cur match {
      case TWord("EXISTS", _, _) => i += 1; EExists(parseGroupGP().asInstanceOf[GroupGP], not = false)
      case TWord("NOT", _, _) =>
        i += 1; expectWord("EXISTS"); EExists(parseGroupGP().asInstanceOf[GroupGP], not = true)
      case TPunct("(", _) => parseBracketted()
      case _ => parsePrimaryExpr()
    }

    private def isBuiltinStart: Boolean = cur match {
      case TWord(w, _, _) => w != "UNION" && w != "OPTIONAL" && w != "MINUS" &&
        w != "FILTER" && w != "BIND" && w != "VALUES" && w != "GRAPH" && w != "LIMIT" &&
        w != "OFFSET" && w != "ORDER" && w != "GROUP" && w != "HAVING" && w != "ASC" && w != "DESC"
      case _ => false
    }

    def parseExpr(): Expr = parseOr()
    private def parseOr(): Expr = {
      var e = parseAnd()
      while (acceptPunct("||")) e = EBinary("||", e, parseAnd())
      e
    }
    private def parseAnd(): Expr = {
      var e = parseRelational()
      while (acceptPunct("&&")) e = EBinary("&&", e, parseRelational())
      e
    }
    private def parseRelational(): Expr = {
      val e = parseAdditive()
      cur match {
        case TPunct(op @ ("=" | "!=" | "<" | "<=" | ">" | ">="), _) =>
          i += 1; EBinary(op, e, parseAdditive())
        case TWord("IN", _, _) => i += 1; EIn(e, parseExprList(), not = false)
        case TWord("NOT", _, _) => i += 1; expectWord("IN"); EIn(e, parseExprList(), not = true)
        case _ => e
      }
    }
    private def parseExprList(): Seq[Expr] = {
      expectPunct("(")
      val out = ArrayBuffer.empty[Expr]
      if (!isPunct(")")) { out += parseExpr(); while (acceptPunct(",")) out += parseExpr() }
      expectPunct(")")
      out.toSeq
    }
    private def parseAdditive(): Expr = {
      var e = parseMultiplicative()
      var go = true
      while (go) {
        if (acceptPunct("+")) e = EBinary("+", e, parseMultiplicative())
        else if (acceptPunct("-")) e = EBinary("-", e, parseMultiplicative())
        else go = false
      }
      e
    }
    private def parseMultiplicative(): Expr = {
      var e = parseUnary()
      var go = true
      while (go) {
        if (acceptPunct("*")) e = EBinary("*", e, parseUnary())
        else if (acceptPunct("/")) e = EBinary("/", e, parseUnary())
        else go = false
      }
      e
    }
    private def parseUnary(): Expr =
      if (acceptPunct("!")) EUnary("!", parseUnary())
      else if (acceptPunct("-")) EUnary("-", parseUnary())
      else if (acceptPunct("+")) parseUnary()
      else parsePrimaryExpr()

    private val aggNames = Set("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT")

    private def parsePrimaryExpr(): Expr = cur match {
      case TPunct("(", _) => parseBracketted()
      case TPunct("<<", _) =>
        // RDR sid construction in expressions: BIND(<< ?s ?p ?o >> AS ?sid)
        i += 1
        def operand(): Expr = cur match {
          case TVar(n, _) => i += 1; EVar(n)
          case TPunct("<<", _) => parsePrimaryExpr()
          case _ => EConst(parseGraphTerm())
        }
        val s = operand(); val p = operand(); val o = operand()
        expectPunct(">>")
        ESid(s, p, o)
      case TVar(n, _) => i += 1; EVar(n)
      case TNum(t, _) => i += 1; EConst(numLit(t))
      case TStr(_, _) => EConst(parseGraphTerm())
      case TWord("TRUE", _, _) => i += 1; EConst(LitNode("true", Some(graft.model.Term.XSD_BOOLEAN)))
      case TWord("FALSE", _, _) => i += 1; EConst(LitNode("false", Some(graft.model.Term.XSD_BOOLEAN)))
      case TWord("EXISTS", _, _) | TWord("NOT", _, _) => parseConstraint()
      case TWord(up, _, _) if aggNames(up) =>
        i += 1
        expectPunct("(")
        val distinct = acceptWord("DISTINCT")
        if (acceptPunct("*")) {
          expectPunct(")")
          EAgg(up, distinct, None)
        } else {
          val arg = parseExpr()
          var sep: Option[String] = None
          if (acceptPunct(";")) {
            expectWord("SEPARATOR")
            expectPunct("=")
            cur match { case TStr(s, _) => i += 1; sep = Some(s); case _ => fail("expected string") }
          }
          expectPunct(")")
          EAgg(up, distinct, Some(arg), sep)
        }
      case TWord(up, _, _) =>
        i += 1
        if (isPunct("(")) ECall(up, parseArgs())
        else fail(s"unexpected word $up in expression")
      case TIri(_, _) | TPName(_, _, _) =>
        val iri = parseIri()
        if (isPunct("(")) {
          // SPARQL ArgList allows DISTINCT inside custom-IRI calls — that marks a
          // custom aggregate call (the scalar/aggregate split resolves at compile)
          expectPunct("(")
          val distinct = acceptWord("DISTINCT")
          val args = ArrayBuffer.empty[Expr]
          if (!isPunct(")")) { args += parseExpr(); while (acceptPunct(",")) args += parseExpr() }
          expectPunct(")")
          if (distinct) EAgg("CUSTOM:" + iri, distinct = true, args.headOption)
          else ECall("CAST:" + iri, args.toSeq)
        } else EConst(IriNode(iri))
      case _ => fail("expected expression")
    }

    private def parseArgs(): Seq[Expr] = {
      expectPunct("(")
      val out = ArrayBuffer.empty[Expr]
      if (!isPunct(")")) {
        if (acceptPunct("*")) () // e.g. COUNT(*) handled above; ignore here
        else { out += parseExpr(); while (acceptPunct(",")) out += parseExpr() }
      }
      expectPunct(")")
      out.toSeq
    }

    // ---- update ----
    def parseUpdateTop(): Seq[UpdateOp] = {
      parsePrologue()
      val ops = ArrayBuffer.empty[UpdateOp]
      var go = true
      def parseUsing(): Seq[(String, Boolean)] = {
        val out = ArrayBuffer.empty[(String, Boolean)]
        while (acceptWord("USING")) {
          val named = acceptWord("NAMED")
          out += ((parseIri(), named))
        }
        out.toSeq
      }
      while (go) {
        // `WITH <g>` prefixes a DELETE/INSERT…WHERE (AST2BOpUpdate.java:474-512)
        val withG = if (acceptWord("WITH")) Some(parseIri()) else None
        if (withG.isDefined && !(isWord("DELETE") || isWord("INSERT")))
          fail("WITH must be followed by DELETE or INSERT")
        cur match {
          case TWord("INSERT", _, _) =>
            i += 1
            if (isWord("INTO")) { // INSERT INTO %set SELECT … WHERE (solution sets)
              if (withG.isDefined) fail("WITH is not allowed with INSERT INTO")
              acceptWord("INTO")
              val tgt = parseSsetClause()
              expectWord("WHERE")
              ops += SolutionsUpdate(None, Some(tgt), parseGroupGP())
            } else if (acceptWord("DATA")) {
              if (withG.isDefined) fail("WITH is not allowed with INSERT DATA")
              ops += InsertData(parseQuadData(assertInner = true))
            } else { // INSERT {} WHERE {}
              val ins = parseQuadPatterns(assertInner = true)
              val using = parseUsing()
              expectWord("WHERE")
              ops += Modify(Nil, ins, parseGroupGP(), withG, using)
            }
          case TWord("DELETE", _, _) =>
            i += 1
            if (isWord("FROM")) {
              // DELETE FROM %set SELECT … [INSERT INTO %set SELECT …] WHERE
              if (withG.isDefined) fail("WITH is not allowed with DELETE FROM")
              acceptWord("FROM")
              val del = parseSsetClause()
              val ins = if (acceptWord("INSERT")) {
                expectWord("INTO"); Some(parseSsetClause())
              } else None
              expectWord("WHERE")
              ops += SolutionsUpdate(Some(del), ins, parseGroupGP())
            } else if (acceptWord("DATA")) {
              if (withG.isDefined) fail("WITH is not allowed with DELETE DATA")
              ops += DeleteData(parseQuadData(assertInner = false))
            } else if (acceptWord("WHERE")) {
              // `DELETE WHERE { quads }` shorthand: the quad pattern is BOTH the
              // delete template and the WHERE clause. The SPARQL 1.1 grammar only
              // allows WITH on the full Modify form (DeleteClause/InsertClause).
              if (withG.isDefined) fail("WITH is not allowed with DELETE WHERE")
              val del = parseQuadPatterns(assertInner = false)
              ops += Modify(del, Nil, quadsToGP(del), None, Nil)
            } else {
              val del = parseQuadPatterns(assertInner = false)
              val ins = if (acceptWord("INSERT")) parseQuadPatterns(assertInner = true) else Nil
              val using = parseUsing()
              expectWord("WHERE")
              ops += Modify(del, ins, parseGroupGP(), withG, using)
            }
          case TWord("CLEAR", _, _) | TWord("DROP", _, _) =>
            // DROP == CLEAR on a schemaless quad store (no graph registry to remove)
            i += 1
            acceptWord("SILENT")
            if (acceptWord("ALL")) ops += ClearGraph(None)
            else if (acceptWord("DEFAULT")) ops += ClearDefault
            else if (acceptWord("NAMED")) ops += ClearNamed
            else { expectWord("GRAPH"); ops += ClearGraph(Some(parseIri())) }
          case TWord("CREATE", _, _) =>
            i += 1
            acceptWord("SILENT")
            expectWord("GRAPH")
            ops += CreateGraph(parseIri())
          case TWord("LOAD", _, _) =>
            i += 1
            val silent = acceptWord("SILENT")
            val src = parseIri()
            val into = if (acceptWord("INTO")) { expectWord("GRAPH"); Some(parseIri()) }
                       else None
            ops += LoadGraph(src, into, silent)
          case TWord("ADD", _, _) | TWord("COPY", _, _) | TWord("MOVE", _, _) =>
            val kind = cur.asInstanceOf[TWord].upper
            i += 1
            acceptWord("SILENT")
            def ref(): GraphRef =
              if (acceptWord("DEFAULT")) DefaultRef
              else { acceptWord("GRAPH"); NamedRef(parseIri()) }
            val from = ref()
            expectWord("TO")
            val to = ref()
            ops += (kind match {
              case "ADD" => AddGraph(from, to)
              case "COPY" => CopyGraph(from, to)
              case _ => MoveGraph(from, to)
            })
          case _ => go = false
        }
        if (!acceptPunct(";")) go = false
      }
      cur match { case TEof(_) => ops.toSeq; case _ => fail("trailing tokens in update") }
    }

    private def parseQuadData(assertInner: Boolean): Seq[QuadData] =
      parseQuadPatterns(assertInner)

    /** `%set SELECT ?a ?b …` or `%set SELECT *` (solution-set update clause);
      * Nil projection = `*`.
      */
    private def parseSsetClause(): (String, Seq[String]) = {
      val name = cur match {
        case TPct(nm, _) => i += 1; nm
        case _ => fail("expected %name")
      }
      expectWord("SELECT")
      if (acceptPunct("*")) (name, Nil)
      else {
        val vars = ArrayBuffer.empty[String]
        while (cur.isInstanceOf[TVar]) { vars += cur.asInstanceOf[TVar].name; i += 1 }
        if (vars.isEmpty) fail("expected projection after SELECT")
        (name, vars.toSeq)
      }
    }

    /** DELETE WHERE shorthand: re-read the quad template as the WHERE pattern. */
    private def quadsToGP(quads: Seq[QuadData]): GP = {
      def path(p: Node): Path = p match {
        case IriNode(iri) => PLink(iri)
        case VarNode(v) => PLink("?" + v) // var-predicate marker
        case other => fail(s"illegal predicate $other in DELETE WHERE")
      }
      GroupGP(quads.map { q =>
        val t = TripleGP(q.s, path(q.p), q.o)
        q.g match { case Some(g) => GraphGP(g, t); case None => t }
      })
    }

    /** `assertInner`: whether `<< s p o >>` terms and `{| … |}` annotations also emit
      * the inner statement + reification decomposition. True for INSERT contexts;
      * false for DELETE, where an embedded-triple term must only REFERENCE the sid —
      * deleting an annotation must not delete the annotated statement.
      */
    private def parseQuadPatterns(assertInner: Boolean = true): Seq[QuadData] = {
      expectPunct("{")
      val out = ArrayBuffer.empty[QuadData]
      def graphBlock(g: Node): Unit = {
        expectPunct("{")
        while (!isPunct("}")) { parseQuadTriple(out, Some(g), assertInner); acceptPunct(".") }
        expectPunct("}")
      }
      while (!isPunct("}")) {
        // TriG-style blocks: `GRAPH <g> { … }` or bare `<g> { … }`; the grammar
        // allows an optional '.' after each block (Quads ::= … QuadsNotTriples '.'? …)
        if (acceptWord("GRAPH")) { graphBlock(IriNode(parseIri())); acceptPunct(".") }
        else if ((cur.isInstanceOf[TIri] || cur.isInstanceOf[TPName]) &&
                 (toks.lift(i + 1) match {
                   case Some(TPunct("{", _)) => true
                   case _ => false
                 })) {
          graphBlock(IriNode(parseIri())); acceptPunct(".")
        } else { parseQuadTriple(out, None, assertInner); acceptPunct(".") }
      }
      expectPunct("}")
      out.toSeq
    }

    /** Subject/object node inside quad data: term, labeled bnode, `[…]` property
      * list, or `(…)` collection (Turtle's triples production — shared by
      * INSERT/DELETE DATA and the Turtle/TriG loader).
      */
    private def parseQuadNode(out: ArrayBuffer[QuadData], g: Option[Node],
                              assertInner: Boolean): Node = cur match {
      case TPunct("<<", _) =>
        // SIDs mode: << s p o >> in INSERT data ASSERTS the inner statement and binds
        // its sid term via the reification decomposition (queryable from SPARQL*);
        // in DELETE data it only references the sid term
        i += 1
        val s = parseQuadNode(out, g, assertInner)
        val p = parseQuadNode(out, g, assertInner)
        val o = parseQuadNode(out, g, assertInner)
        expectPunct(">>")
        val sid = SidNode(s, p, o)
        if (assertInner) {
          out += QuadData(s, p, o, g)
          out += QuadData(sid, IriNode(graft.model.Term.RDF_SUBJECT), s, g)
          out += QuadData(sid, IriNode(graft.model.Term.RDF_PREDICATE), p, g)
          out += QuadData(sid, IriNode(graft.model.Term.RDF_OBJECT), o, g)
        }
        sid
      case TPunct("[", _) =>
        i += 1
        val v = freshBNodeVar()
        if (!isPunct("]")) parseQuadPropertyList(v, out, g, assertInner)
        expectPunct("]")
        v
      case TPunct("(", _) =>
        i += 1
        if (acceptPunct(")")) IriNode(graft.model.Term.RDF_NIL)
        else {
          val items = ArrayBuffer.empty[Node]
          while (!isPunct(")")) items += parseQuadNode(out, g, assertInner)
          expectPunct(")")
          val cells = items.map(_ => freshBNodeVar())
          items.indices.foreach { idx =>
            out += QuadData(cells(idx), IriNode(graft.model.Term.RDF_FIRST), items(idx), g)
            out += QuadData(cells(idx), IriNode(graft.model.Term.RDF_REST),
              if (idx == items.size - 1) IriNode(graft.model.Term.RDF_NIL)
              else cells(idx + 1), g)
          }
          cells.head
        }
      case _ => parseVarOrTerm()
    }

    private def parseQuadPropertyList(s: Node, out: ArrayBuffer[QuadData],
                                      g: Option[Node], assertInner: Boolean): Unit = {
      var go = true
      while (go) {
        val p = cur match {
          case TVar(n, _) => i += 1; VarNode(n)
          case TWord("A", "a", _) => i += 1; IriNode(graft.model.Term.RDF_TYPE)
          case _ => IriNode(parseIri())
        }
        var more = true
        while (more) {
          val o = parseQuadNode(out, g, assertInner)
          out += QuadData(s, p, o, g)
          // RDF-star annotation syntax: `s p o {| p2 o2 ; … |}` asserts the base
          // triple and annotates its sid term (reification only on the insert side)
          if (isPunct("{|")) {
            i += 1
            val sid = SidNode(s, p, o)
            if (assertInner) {
              out += QuadData(sid, IriNode(graft.model.Term.RDF_SUBJECT), s, g)
              out += QuadData(sid, IriNode(graft.model.Term.RDF_PREDICATE), p, g)
              out += QuadData(sid, IriNode(graft.model.Term.RDF_OBJECT), o, g)
            }
            parseQuadPropertyList(sid, out, g, assertInner)
            expectPunct("|}")
          }
          more = acceptPunct(",")
        }
        go = acceptPunct(";") && !isPunct("}") && !isPunct(".") &&
          !isPunct("]") && !isPunct("|}")
      }
    }

    private def parseQuadTriple(out: ArrayBuffer[QuadData], g: Option[Node],
                                assertInner: Boolean): Unit = {
      val s = parseQuadNode(out, g, assertInner)
      if (isPunct(".") || isPunct("}")) () // bare [ … ] / ( … ) subject with no more props
      else parseQuadPropertyList(s, out, g, assertInner)
    }
  }
}
