package graft

import graft.engine.Engine
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

/** SPARQL function-library semantics, evaluated end-to-end through the engine on the
  * unit solution (the per-function IVValueExpression test analog).
  */
class ExprSpec extends GraftSuite {

  private def eval1(bindExpr: String): Row = {
    val df = Engine.query(store, s"SELECT ?x WHERE { BIND($bindExpr AS ?x) }")
    val r = df.first()
    if (r.isNullAt(0)) null else r.getStruct(0)
  }
  private def str1(e: String): String = eval1(e).getAs[String]("str")
  private def lng1(e: String): Long = eval1(e).getAs[Long]("lng")
  private def dbl1(e: String): Double = eval1(e).getAs[Double]("num")

  test("string functions") {
    assert(str1("""REPLACE("abcabc", "b", "X")""") == "aXcaXc")
    assert(str1("""STRBEFORE("hello-world", "-")""") == "hello")
    assert(str1("""STRAFTER("hello-world", "-")""") == "world")
    assert(str1("""STRBEFORE("nodash", "-")""") == "")
    assert(str1("""CONCAT("a", "b", "c")""") == "abc")
    // fn:concat argument compatibility: shared lang kept, mixed drops to plain
    assert(eval1("""CONCAT("a"@en, "b"@en)""").getAs[String]("lang") == "en")
    assert(eval1("""CONCAT("a"@en, "b")""").getAs[String]("lang") == null)
    assert(eval1("""CONCAT("a"@en, "b"@de)""").getAs[String]("lang") == null)
    assert(str1("""UCASE(SUBSTR("hello", 2, 3))""") == "ELL")
    assert(lng1("""STRLEN("héllo")""") == 5L)
    assert(str1("""ENCODE_FOR_URI("a b/c")""") == "a%20b%2Fc")
    assert(str1("""MD5("abc")""") == "900150983cd24fb0d6963f7d28e17f72")
  }

  test("boolean / conditional") {
    assert(str1("""IF(1 < 2, "yes", "no")""") == "yes")
    assert(str1("""COALESCE(?unbound, "fallback")""") == "fallback")
    assert(str1("""IF(LANGMATCHES(LANG("chat"@fr), "FR"), "m", "n")""") == "m")
    assert(str1("""IF("x" IN ("x", "y"), "in", "out")""") == "in")
    assert(str1("""IF(sameTerm(5, 5), "same", "diff")""") == "same")
    // type error in IF condition → whole expression errors → unbound
    assert(eval1("""IF(<urn:x> > 3, "a", "b")""") == null)
  }

  test("numeric promotion and errors") {
    assert(lng1("2 + 3") == 5L)
    assert(eval1("2 + 3").getAs[String]("dt").endsWith("integer"))
    assert(dbl1("2 + 3.5") == 5.5)
    assert(dbl1("7 / 2") == 3.5) // int/int → non-integer division
    assert(dbl1("ABS(-4.25)") == 4.25)
    assert(lng1("FLOOR(3.9)") == 3L || dbl1("FLOOR(3.9)") == 3.0)
    assert(eval1("""5 + "abc"""") == null) // type error → unbound
    assert(eval1("5 / 0") == null) // division by zero → error
  }

  test("exact decimal arithmetic") {
    // xsd:decimal computes exactly (BigDecimal promotion, MathUtility analog):
    // 0.1 + 0.2 is EXACTLY 0.3 — the double path would give 0.30000000000000004
    assert(str1("0.1 + 0.2") == "0.3")
    assert(eval1("0.1 + 0.2").getAs[String]("dt").endsWith("decimal"))
    // integer + decimal promotes to decimal; canonical form trims trailing zeros
    assert(str1("1 + 0.50") == "1.5")
    assert(eval1("1 + 0.5").getAs[String]("dt").endsWith("decimal"))
    // int/int division is xsd:decimal per XPath op:numeric-divide
    assert(eval1("7 / 2").getAs[String]("dt").endsWith("decimal"))
    assert(str1("7 / 2") == "3.5")
    // any float-family operand demotes to double
    assert(eval1("0.1e0 + 0.2").getAs[String]("dt").endsWith("double"))
    // exact compare beyond double precision: 2^53 and 2^53+1 are distinct decimals
    assert(str1("""IF(9007199254740993.0 = 9007199254740992.0, "eq", "ne")""") == "ne")
    assert(str1("""IF(9007199254740993.0 > 9007199254740992.0, "gt", "le")""") == "gt")
    // exact integer compare (would collide through double)
    assert(str1("""IF(9007199254740993 != 9007199254740992, "ne", "eq")""") == "ne")
    // decimal ÷ 0 is a type error, not INF
    assert(eval1("1.5 / 0.0") == null)
    assert(str1("ABS(-4.25)") == "4.25")
    assert(str1("FLOOR(3.9)") == "3")
    assert(str1("CEIL(3.1)") == "4")
    assert(str1("-(2.5)") == "-2.5")
    // xsd:decimal cast parses strings exactly
    assert(str1("""<http://www.w3.org/2001/XMLSchema#decimal>("0.30000000000000004")""")
      == "0.30000000000000004")
  }

  test("casts") {
    assert(lng1("""<http://www.w3.org/2001/XMLSchema#integer>("42")""") == 42L)
    assert(dbl1("""<http://www.w3.org/2001/XMLSchema#double>("4.5")""") == 4.5)
    assert(eval1("""<http://www.w3.org/2001/XMLSchema#integer>("nope")""") == null)
    assert(str1("""STR(42)""") == "42")
    assert(str1("""STRDT("7", <http://www.w3.org/2001/XMLSchema#integer>)""") == "7")
    assert(lng1("""STRDT("7", <http://www.w3.org/2001/XMLSchema#integer>)""") == 7L)
  }

  test("term inspection") {
    // SPARQL 1.1 §19.8: dot-no-exponent literals are xsd:decimal, exponent = double
    assert(str1("""DATATYPE(3.5)""").endsWith("decimal"))
    assert(str1("""DATATYPE(3.5e0)""").endsWith("double"))
    assert(str1("""DATATYPE("plain")""").endsWith("string"))
    assert(str1("""LANG("chat"@fr)""") == "fr")
    assert(str1("""IF(isIRI(<urn:a>), "iri", "no")""") == "iri")
    assert(str1("""IF(isNumeric(5), "n", "no")""") == "n")
    assert(str1("""IF(isLiteral("x"), "lit", "no")""") == "lit")
    assert(str1("""IF(BOUND(?nope), "b", "ub")""") == "ub")
  }

  test("datetime functions") {
    assert(lng1("""YEAR("2024-03-05T10:20:30Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>)""") == 2024L)
    assert(lng1("""MONTH("2024-03-05T10:20:30Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>)""") == 3L)
    assert(str1("""SECONDS("2024-03-05T10:20:30Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>)""") == "30")
    // explicit ±hh:mm offsets parse and normalize to the UTC instant (a bare
    // contains("+") zone test once missed negative offsets and crashed)
    assert(lng1("""HOURS("2011-01-10T14:45:13.815-05:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>)""") == 19L)
    assert(lng1("""HOURS("2011-01-10T14:45:13+02:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>)""") == 12L)
  }

  test("hash functions") {
    assert(str1("""MD5("abc")""") == "900150983cd24fb0d6963f7d28e17f72")
    assert(str1("""SHA1("abc")""") == "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(str1("""SHA224("abc")""") ==
      "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7")
    assert(str1("""SHA256("abc")""") ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("TZ and TIMEZONE over UTC-normalized datetimes") {
    val dt = """"2024-03-05T10:20:30Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>"""
    assert(str1(s"TZ($dt)") == "Z")
    val t = eval1(s"TIMEZONE($dt)")
    assert(t.getAs[String]("str") == "PT0S")
    assert(t.getAs[String]("dt") == "http://www.w3.org/2001/XMLSchema#dayTimeDuration")
    // non-datetime argument: type error → unbound
    assert(eval1("""TIMEZONE("abc")""") == null)
  }

  test("fn argument compatibility and simple-literal guards (§17.4.3.1.1)") {
    // second arg's lang must match the first's; (simple, lang) is also an error
    assert(str1("""STRBEFORE("abc"@en, "b")""") == "a")
    assert(eval1("""STRBEFORE("abc"@en, "b")""").getAs[String]("lang") == "en")
    assert(eval1("""STRAFTER("abc"@en, "b"@cy)""") == null)
    assert(eval1("""STRSTARTS("foo"@en, "f"@cy)""") == null)
    assert(eval1("""CONTAINS("foo", "o"@en)""") == null)
    // no-match yields the SIMPLE empty literal even for lang-tagged input;
    // empty-pattern match keeps the input's lang
    val noMatch = eval1("""STRBEFORE("abc"@en, "xyz")""")
    assert(noMatch.getAs[String]("str") == "" && noMatch.getAs[String]("lang") == null)
    val emptyPat = eval1("""STRAFTER("abc"@en, ""@en)""")
    assert(emptyPat.getAs[String]("str") == "abc" && emptyPat.getAs[String]("lang") == "en")
    // STRDT/STRLANG require a simple literal
    assert(eval1("""STRDT("x"@en, <http://www.w3.org/2001/XMLSchema#string>)""") == null)
    assert(eval1("""STRLANG("x"@en, "de")""") == null)
    assert(str1("""STRDT("5", <http://www.w3.org/2001/XMLSchema#integer>)""") == "5")
  }

  test("SECONDS returns xsd:decimal with the fractional part") {
    val r = eval1("""SECONDS("2024-01-01T01:02:03.5Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>)""")
    assert(r.getAs[String]("str") == "3.5")
    assert(r.getAs[String]("dt").endsWith("decimal"))
    assert(str1("""SECONDS("2024-01-01T01:02:03Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>)""") == "3")
  }

  test("comparison edge semantics") {
    // numeric cross-type comparison
    assert(str1("""IF(2 < 2.5, "y", "n")""") == "y")
    // string vs number: type error, not false → IF errors → unbound
    assert(eval1("""IF("2" < 3, "y", "n")""") == null)
    // dateTime comparison
    assert(str1("""IF("2020-01-01T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> <
      "2021-01-01T00:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime>, "y", "n")""") == "y")
    // boolean EBV of plain strings
    assert(str1("""IF("nonempty", "t", "f")""") == "t")
    assert(str1("""IF("", "t", "f")""") == "f")
  }

  // ---- differential probes: each query with its expected result rows ----

  /** Result rows as ` | `-joined terms (xsd datatypes abbreviated, "" unbound). */
  private def rows(q: String, st: graft.model.GraftStore = store): Seq[String] =
    graft.engine.SparqlResults.toTsv(Engine.query(st, q)).split("\n", -1).toSeq.tail.init
      .map(_.replaceAll("\\^\\^<http://www.w3.org/2001/XMLSchema#(\\w+)>", "^^xsd:$1")
        .replace("\t", " | "))

  /** Runs each (label, query, expected rows) probe — `ordered` compares row
    * order too — and reports every mismatch at once.
    */
  private def probes(cases: Seq[(String, String, Seq[String])], ordered: Set[String] = Set()): Unit = {
    val bad = cases.flatMap { case (label, q, want) =>
      val got = rows(q)
      val ok = if (ordered(label)) got == want else got.sorted == want.sorted
      if (ok) None else Some(s"$label: got $got, want $want")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private val I = "^^xsd:integer"
  private val T = "\"true\"^^xsd:boolean"

  test("probes: aggregates, modifiers, scoping and templates") {
    probes(Seq(
      ("SUM-PROMOTE", "SELECT (SUM(?v) AS ?s) WHERE { VALUES ?v { 1 2.5 } }",
        Seq("\"3.5\"^^xsd:decimal")),
      ("SUM-DBL-MIX", "SELECT (SUM(?v) AS ?s) WHERE { VALUES ?v { 1 1.5e0 } }",
        Seq("\"2.5\"^^xsd:double")),
      ("GROUP-UNBOUND", "SELECT ?g (COUNT(*) AS ?c) WHERE { { BIND(1 AS ?x) } UNION { BIND(1 AS ?g) } } GROUP BY ?g",
        Seq(s""" | "1"$I""", s""""1"$I | "1"$I""")),
      ("ORDER-UNBOUND", "SELECT ?v WHERE { { BIND(2 AS ?v) } UNION { BIND(1 AS ?x) } } ORDER BY ?v",
        Seq("", s""""2"$I""")),
      ("OFFSET-BEYOND", "SELECT ?v WHERE { VALUES ?v { 1 2 } } OFFSET 10", Seq()),
      ("HAVING-NOGRP", "SELECT (SUM(?v) AS ?s) WHERE { VALUES ?v { 1 2 } } HAVING (SUM(?v) > 2)",
        Seq(s""""3"$I""")),
      ("HAVING-NOGRP2", "SELECT (SUM(?v) AS ?s) WHERE { VALUES ?v { 1 2 } } HAVING (SUM(?v) > 5)", Seq()),
      ("COUNT-DIST-*", "SELECT (COUNT(DISTINCT *) AS ?c) WHERE { { BIND(1 AS ?x) } UNION { BIND(1 AS ?x) } }",
        Seq(s""""1"$I""")),
      // an unbound template variable or a literal subject drops the triple
      ("CONSTRUCT-UNB", "CONSTRUCT { ?s <urn:p:x> ?nope } WHERE { VALUES ?s { <urn:a> } }", Seq()),
      ("CONSTRUCT-LIT", "CONSTRUCT { ?lit <urn:p:x> 1 } WHERE { VALUES ?lit { \"str\" } }", Seq()),
      // language tags compare case-insensitively
      ("LANG-CASE", "SELECT (sameTerm(\"x\"@EN, \"x\"@en) AS ?s) ((\"x\"@EN = \"x\"@en) AS ?e) WHERE {}",
        Seq(s"$T | $T")),
      ("MINUS-NOSHARE", "SELECT ?v WHERE { VALUES ?v { 1 } MINUS { VALUES ?w { 1 } } }", Seq(s""""1"$I""")),
      // the inner ?w is not projected, so nothing joins on it
      ("SUBQ-SCOPE", "SELECT ?v ?w WHERE { VALUES ?w { 9 } { SELECT ?v WHERE { VALUES (?v ?w) { (1 2) } } } }",
        Seq(s""""1"$I | "9"$I""")),
      ("AGG-CONSTANT", "SELECT (1 + COUNT(*) AS ?c) WHERE { VALUES ?v { 7 8 } }", Seq(s""""3"$I""")),
      ("SAMPLE-DET", "SELECT (SAMPLE(?v) AS ?s) WHERE { VALUES ?v { 4 } }", Seq(s""""4"$I""")),
      // a second BIND of a bound variable acts as a join condition
      // (the reference's ConditionalBind): unequal values drop the solution
      ("BIND-AFTER", "SELECT ?x WHERE { BIND(1 AS ?x) BIND(2 AS ?x) }", Seq()),
      ("BIND-AFTER-EQ", "SELECT ?x WHERE { BIND(1 AS ?x) BIND(1 AS ?x) }", Seq(s""""1"$I""")),
      ("UNION-SCOPE", "SELECT ?a WHERE { { BIND(1 AS ?a) } UNION { BIND(2 AS ?a) } FILTER(?a = 1) }",
        Seq(s""""1"$I""")),
      ("SUM-EMPTY", "SELECT (SUM(?v) AS ?s) (COUNT(?v) AS ?c) (GROUP_CONCAT(?v) AS ?g) WHERE { VALUES ?v { 1 } FILTER(false) }",
        Seq(s""""0"$I | "0"$I | """"")),
      // MIN over no rows is an error (unbound); AVG over no rows is 0
      ("MINMAX-EMPTY", "SELECT (MIN(?v) AS ?a) (AVG(?v) AS ?b) WHERE { VALUES ?v { 1 } FILTER(false) }",
        Seq(s""" | "0"$I""")),
      ("COUNT-VAR", "SELECT (COUNT(?y) AS ?c) (COUNT(*) AS ?a) WHERE { { BIND(1 AS ?x) } UNION { BIND(2 AS ?y) } }",
        Seq(s""""1"$I | "2"$I""")),
      ("VALUES-UNDEF", "SELECT ?x ?y WHERE { VALUES (?x ?y) { (1 UNDEF) } BIND(7 AS ?z) }", Seq(s""""1"$I | """)),
      ("UNDEF-JOIN", "SELECT ?a ?b WHERE { VALUES (?a ?b) { (1 2) (2 9) } VALUES (?a ?b) { (1 UNDEF) } }",
        Seq(s""""1"$I | "2"$I""")),
      ("NOTEX-CORR", "SELECT ?v WHERE { VALUES ?v { 1 2 } FILTER NOT EXISTS { VALUES ?v { 1 } } }",
        Seq(s""""2"$I""")),
      ("ORDER-TYPES", "SELECT ?v WHERE { VALUES ?v { \"lit\" <urn:iri> } } ORDER BY ?v",
        Seq("<urn:iri>", "\"lit\"")),
      // the ends MIN/MAX pick over the same values (fixture agg-minmax-mixed-kinds):
      // plain and lang literals sort before numerics (IVComparator)
      ("ORDER-MIXED", "SELECT ?v WHERE { VALUES ?v { 5 \"a\" \"bigdata\"@en 3 } } ORDER BY ?v",
        Seq("\"a\"", "\"bigdata\"@en", s""""3"$I""", s""""5"$I""")),
      ("BNODE-PERSOL", "SELECT (COUNT(DISTINCT ?b) AS ?c) WHERE { { BIND(1 AS ?x) } UNION { BIND(2 AS ?x) } BIND(BNODE() AS ?b) }",
        Seq(s""""2"$I""")),
      ("NOW-CONST", "SELECT (COUNT(DISTINCT ?n) AS ?c) WHERE { { BIND(1 AS ?x) } UNION { BIND(2 AS ?x) } BIND(NOW() AS ?n) }",
        Seq(s""""1"$I"""))
    ), ordered = Set("ORDER-UNBOUND", "ORDER-TYPES", "ORDER-MIXED"))
    intercept[Exception](rows("SELECT (SUM(COUNT(*)) AS ?x) WHERE { VALUES ?v { 1 } }")) // nested aggregate
    assert(Set(Seq("\"a|b\""), Seq("\"b|a\"")).contains(
      rows("SELECT (GROUP_CONCAT(?v; SEPARATOR=\"|\") AS ?g) WHERE { VALUES ?v { \"a\" \"b\" } }")))
    // exact decimals: a typed, a bare and an integer value
    val ds = graft.engine.Update(store,
      """INSERT DATA { <urn:acct:1> <urn:p:delta> "0.10"^^<http://www.w3.org/2001/XMLSchema#decimal> .
        |  <urn:acct:2> <urn:p:delta> 0.2 .
        |  <urn:acct:3> <urn:p:delta> 1 . }""".stripMargin)
    assert(rows("SELECT (SUM(?d) AS ?s) (AVG(?d) AS ?a) (SUM(?d)*10 AS ?s10) WHERE { ?x <urn:p:delta> ?d }", ds) ==
      Seq("\"1.3\"^^xsd:decimal | \"0.433333333333333333\"^^xsd:decimal | \"13\"^^xsd:decimal"))
  }

  test("probes: functions, EBV and property paths") {
    probes(Seq(
      ("DT-CMP-DATE", "SELECT ((\"2024-01-02\"^^<http://www.w3.org/2001/XMLSchema#date> > \"2024-01-01\"^^<http://www.w3.org/2001/XMLSchema#date>) AS ?r) WHERE {}",
        Seq(T)),
      ("STR-IRI", "SELECT (STR(<urn:ab>) AS ?r) WHERE {}", Seq("\"urn:ab\"")),
      ("ISNUM-STRLIT", "SELECT (isNumeric(\"5\") AS ?r) (isNumeric(5) AS ?t) WHERE {}",
        Seq(s""""false"^^xsd:boolean | $T""")),
      ("SUBSTR-1BASED", "SELECT (SUBSTR(\"foobar\", 4) AS ?a) (SUBSTR(\"foobar\", 4, 1) AS ?b) WHERE {}",
        Seq("\"bar\" | \"b\"")),
      ("SUBSTR-LANG", "SELECT (SUBSTR(\"foobar\"@en, 4) AS ?a) WHERE {}", Seq("\"bar\"@en")),
      ("STRBEFORE", "SELECT (STRBEFORE(\"abc\",\"b\") AS ?a) (STRBEFORE(\"abc\",\"xyz\") AS ?b) (STRAFTER(\"abc\",\"\") AS ?c) WHERE {}",
        Seq("\"a\" | \"\" | \"abc\"")),
      // incompatible language tags are an error: unbound
      ("STRBEFORE-LANG", "SELECT (STRBEFORE(\"abc\"@en,\"b\") AS ?a) (STRAFTER(\"abc\"@en,\"b\"@cy) AS ?b) WHERE {}",
        Seq("\"a\"@en | ")),
      ("STRSTARTS-LANG", "SELECT (STRSTARTS(\"foobar\"@en,\"foo\"@en) AS ?a) (STRSTARTS(\"foo\"@en,\"f\"@cy) AS ?b) WHERE {}",
        Seq(s"$T | ")),
      ("REPLACE-GRP", "SELECT (REPLACE(\"abcd\",\"(b)(c)\",\"$2$1\") AS ?r) WHERE {}", Seq("\"acbd\"")),
      ("ENCODE-URI", "SELECT (ENCODE_FOR_URI(\"Los Angeles\") AS ?r) WHERE {}", Seq("\"Los%20Angeles\"")),
      ("STRDT-LANG", "SELECT (STRDT(\"x\"@en, <http://www.w3.org/2001/XMLSchema#string>) AS ?a) (STRLANG(\"chat\",\"en\") AS ?b) WHERE {}",
        Seq(" | \"chat\"@en")),
      ("UCASE-LANG", "SELECT (UCASE(\"ab\"@en) AS ?a) WHERE {}", Seq("\"AB\"@en")),
      // integer / integer is xsd:decimal
      ("INT-DIVIDE", "SELECT (1/2 AS ?a) (datatype(1/2) AS ?dt) WHERE {}",
        Seq("\"0.5\"^^xsd:decimal | <http://www.w3.org/2001/XMLSchema#decimal>")),
      ("UNARY-MINUS", "SELECT (-(\"5\"^^<http://www.w3.org/2001/XMLSchema#integer>) AS ?a) WHERE {}",
        Seq(s""""-5"$I""")),
      ("SECONDS-FRAC", "SELECT (SECONDS(\"2024-01-01T01:02:03.5Z\"^^<http://www.w3.org/2001/XMLSchema#dateTime>) AS ?s) WHERE {}",
        Seq("\"3.5\"^^xsd:decimal")),
      // dateTimes are stored normalized to UTC, as the reference stores them
      ("TZ-FN", "SELECT (TZ(\"2024-01-01T00:00:00Z\"^^<http://www.w3.org/2001/XMLSchema#dateTime>) AS ?a) (TZ(\"2024-01-01T00:00:00\"^^<http://www.w3.org/2001/XMLSchema#dateTime>) AS ?b) WHERE {}",
        Seq("\"Z\" | \"Z\"")),
      ("IRI-IDEMP", "SELECT (IRI(<urn:x>) AS ?a) WHERE {}", Seq("<urn:x>")),
      ("COALESCE-MIX", "SELECT (COALESCE(?nope, 1/0, 5) AS ?a) WHERE {}", Seq(s""""5"$I""")),
      ("IF-ERR-COND", "SELECT (IF(1/0, 1, 2) AS ?a) WHERE {}", Seq("")),
      ("EBV-STRINGS", "SELECT (IF(\"\", 1, 0) AS ?a) (IF(\"0\", 1, 0) AS ?b) (IF(\"false\", 1, 0) AS ?c) WHERE {}",
        Seq(s""""0"$I | "1"$I | "1"$I""")),
      ("EBV-NAN", "SELECT (IF(\"NaN\"^^<http://www.w3.org/2001/XMLSchema#double>, 1, 0) AS ?a) WHERE {}",
        Seq(s""""0"$I"""))
    ))
    // nation 3's region, from the raw table: the paths below must agree with it
    val inRegion3 = table("nation")
      .filter(col("n_nationkey") === 3).select("n_regionkey").first().getAs[Number](0).intValue == 3
    assert(rows("ASK { <urn:t:nation:3> (<urn:fk:n_regionkey>)+ <urn:t:region:3> }") == Seq(inRegion3.toString))
    // `/` binds tighter than `|`
    assert(rows("ASK { <urn:t:nation:3> <urn:p:none>/<urn:p:none>|<urn:fk:n_regionkey> <urn:t:region:3> }") ==
      Seq(inRegion3.toString))
    // zero-length match of a negated property set, plus one neighbour
    val neg0 = rows("SELECT ?o WHERE { <urn:t:nation:3> !(<urn:p:none>)? ?o } LIMIT 2")
    assert(neg0.size == 2 && neg0.contains("<urn:t:nation:3>"), neg0)
    // r ^fk/fk r round-trips for a region r
    val inv = rows("SELECT ?x WHERE { ?x ^<urn:fk:n_regionkey>/<urn:fk:n_regionkey> ?x } LIMIT 1")
    assert(inv.size == 1 && inv.head.matches("<urn:t:region:\\d+>"), inv)
  }
}
