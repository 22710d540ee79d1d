package graft.perfbench

import graft.model.{Term, Tpch}
import org.apache.spark.sql.types._
import scala.util.Random

/** One request: a query shape instantiated with constants drawn from the
  * workload's seeded pools. `params` feed the shape's oracle.
  */
final case class Req(rid: Long, shape: String, text: String, params: Seq[Any])

/** A parameterized read. `oracle` is Spark SQL over the raw tables joined with
  * a `params` view (one row per request: `rid` plus the shape's parameters); it
  * returns `rid` followed by the expected row's columns. `limit` marks an
  * unordered LIMIT, whose answer is any `limit`-row sub-multiset of the full
  * answer; every other shape is checked for multiset equality.
  */
final case class Shape(name: String, paramSchema: Seq[(String, DataType)],
                       draw: Random => Seq[Any], text: Seq[Any] => String,
                       oracle: String, limit: Option[Int] = None)

object Shapes {
  private val Xsd = "http://www.w3.org/2001/XMLSchema#"
  private val Bds = "http://www.bigdata.com/rdf/search#"
  private val Gas = "http://www.bigdata.com/rdf/gas#"

  def dateTime(day: Long): String =
    s""""${java.time.LocalDate.ofEpochDay(day)}T00:00:00Z"^^<${Xsd}dateTime>"""
  def ts(day: Long): java.sql.Timestamp = new java.sql.Timestamp(day * Data.DayMs)

  /** Oracle SQL for every (p, o) of the rows of `table` selected by `join`
    * (a join/filter clause over `params p` and the table), through the
    * table→triples mapping: the type triple, one literal per column and one
    * link per foreign key. Columns: rid, subject, predicate, object.
    */
  def triplesSql(table: String, join: String): String = {
    val t = Tpch.tables.find(_.name == table).get
    val subj =
      if (table == "lineitem") "concat('urn:t:lineitem:', l_orderkey, '-', l_linenumber, '-1')"
      else s"concat('urn:t:$table:', ${t.pk.head})"
    def lit(c: Tpch.Col): String = c.enc match {
      case Tpch.DblE => s"cast(${c.name} AS STRING)"
      case Tpch.TsE => s"cast(unix_seconds(${c.name}) AS STRING)"
      case _ => s"cast(${c.name} AS STRING)"
    }
    val pos = (s"'${Term.RDF_TYPE}'", s"'${t.cls}'") +:
      (t.cols.map(c => (s"'urn:p:${c.name}'", lit(c))) ++
        t.cols.filter(_.fkTable != null).map(c =>
          (s"'urn:fk:${c.name}'", s"concat('urn:t:${c.fkTable}:', ${c.name})")))
    pos.map { case (p, o) => s"SELECT p.rid, $subj AS s, $p AS p, $o AS o FROM params p $join" }
      .mkString(" UNION ALL ")
  }

  private def topK(k: Int, inner: String, order: String, cols: String): String =
    s"""SELECT rid, $cols FROM (SELECT x.*, row_number() OVER (PARTITION BY rid ORDER BY $order)
       | AS rn FROM ($inner) x) WHERE rn <= $k""".stripMargin

  /** The 11 BSBM-explore-analog shapes of `graft.tools.Concurrency`, with
    * constants drawn per request.
    */
  def explore(z: Data.Sizes): Seq[Shape] = {
    def cust(r: Random): Long = 1L + r.nextInt(z.customers)
    def order(r: Random): Long = 1L + r.nextInt(z.orders)
    def seg(r: Random): String = Data.Segments(r.nextInt(Data.Segments.size))
    def bal(r: Random): Double = 1000.0 + r.nextInt(7000)
    Seq(
      Shape("q1_filtered_scan", Seq("seg" -> StringType, "bal" -> DoubleType),
        r => Seq(seg(r), bal(r)), {
          case Seq(seg, bal) =>
            s"""SELECT ?c ?name ?bal WHERE { ?c a <urn:c:Customer> ;
               |  <urn:p:c_mktsegment> "$seg" ; <urn:p:c_name> ?name ;
               |  <urn:p:c_acctbal> ?bal . FILTER(?bal > $bal) }
               |ORDER BY DESC(?bal) ?name LIMIT 10""".stripMargin
        },
        topK(10, """SELECT p.rid, concat('urn:t:customer:', c_custkey) AS c, c_name, c_acctbal
                   | FROM params p JOIN customer ON c_mktsegment = p.seg AND c_acctbal > p.bal""".stripMargin,
          "c_acctbal DESC, c_name", "c, c_name, c_acctbal")),
      Shape("q2_wide_star", Seq("c" -> LongType), r => Seq(cust(r)), {
        case Seq(c) =>
          s"""SELECT ?name ?bal ?seg ?okey ?tp WHERE {
             |  <urn:t:customer:$c> <urn:p:c_name> ?name ; <urn:p:c_acctbal> ?bal .
             |  OPTIONAL { <urn:t:customer:$c> <urn:p:c_mktsegment> ?seg }
             |  OPTIONAL { ?o <urn:fk:o_custkey> <urn:t:customer:$c> ;
             |    <urn:p:o_orderkey> ?okey ; <urn:p:o_totalprice> ?tp } }""".stripMargin
      },
        """SELECT p.rid, cu.c_name, cu.c_acctbal, cu.c_mktsegment, o.o_orderkey, o.o_totalprice
          | FROM params p JOIN customer cu ON cu.c_custkey = p.c
          | LEFT JOIN orders o ON o.o_custkey = p.c""".stripMargin),
      // about 10 order-less customers per segment, balances over [-1000, 10000):
      // an 8000-wide band holds about 7 of them, so answers are rarely empty
      Shape("q3_negation", Seq("seg" -> StringType, "bal" -> DoubleType),
        r => Seq(seg(r), -1000.0 + r.nextInt(3000)), {
          case Seq(seg, bal: Double) =>
            s"""SELECT ?c ?name WHERE { ?c a <urn:c:Customer> ;
               |  <urn:p:c_mktsegment> "$seg" ; <urn:p:c_name> ?name ;
               |  <urn:p:c_acctbal> ?bal . FILTER(?bal > $bal && ?bal < ${bal + 8000})
               |  FILTER NOT EXISTS { ?o <urn:fk:o_custkey> ?c } } LIMIT 10""".stripMargin
        },
        """SELECT p.rid, concat('urn:t:customer:', c_custkey), c_name
          | FROM params p JOIN customer ON c_mktsegment = p.seg
          |   AND c_acctbal > p.bal AND c_acctbal < p.bal + 8000
          | LEFT ANTI JOIN orders ON o_custkey = c_custkey""".stripMargin, Some(10)),
      // thresholds (bal + 4000) below 6000 leave at least about 20 of the two segments' 60 customers
      Shape("q4_union", Seq("seg" -> StringType, "seg2" -> StringType, "bal" -> DoubleType),
        r => { val i = r.nextInt(Data.Segments.size)
          Seq(Data.Segments(i), Data.Segments((i + 1) % Data.Segments.size), -4000.0 + r.nextInt(6000)) }, {
          case Seq(seg, seg2, bal: Double) =>
            s"""SELECT ?c ?name WHERE {
               |  { ?c <urn:p:c_mktsegment> "$seg" ; <urn:p:c_name> ?name ;
               |      <urn:p:c_acctbal> ?bal . FILTER(?bal > ${bal + 4000}) }
               |  UNION
               |  { ?c <urn:p:c_mktsegment> "$seg2" ;
               |      <urn:p:c_name> ?name ; <urn:p:c_acctbal> ?bal2 .
               |      FILTER(?bal2 > ${bal + 4000}) } } LIMIT 20""".stripMargin
        },
        """SELECT p.rid, concat('urn:t:customer:', c_custkey), c_name FROM params p
          | JOIN customer ON c_mktsegment = p.seg AND c_acctbal > p.bal + 4000
          |UNION ALL SELECT p.rid, concat('urn:t:customer:', c_custkey), c_name FROM params p
          | JOIN customer ON c_mktsegment = p.seg2 AND c_acctbal > p.bal + 4000""".stripMargin,
        Some(20)),
      // a brand has about 8 of the 200 parts, priced over about 400: a ±150 band holds about 5
      Shape("q5_similar", Seq("p" -> LongType), r => Seq(1L + r.nextInt(z.parts)), {
        case Seq(p) =>
          s"""SELECT ?p2 ?price WHERE {
             |  <urn:t:part:$p> <urn:p:p_brand> ?b ; <urn:p:p_retailprice> ?rp .
             |  ?p2 <urn:p:p_brand> ?b ; <urn:p:p_retailprice> ?price .
             |  FILTER(?p2 != <urn:t:part:$p> && ?price > ?rp - 150.0 && ?price < ?rp + 150.0) }
             |ORDER BY ?price ?p2 LIMIT 10""".stripMargin
      },
        topK(10, """SELECT p.rid, concat('urn:t:part:', b.p_partkey) AS p2, b.p_retailprice AS price
                   | FROM params p JOIN part a ON a.p_partkey = p.p
                   | JOIN part b ON b.p_brand = a.p_brand AND b.p_partkey <> a.p_partkey
                   |  AND b.p_retailprice > a.p_retailprice - 150.0
                   |  AND b.p_retailprice < a.p_retailprice + 150.0""".stripMargin,
          "price, p2", "p2, price")),
      Shape("q7_join_chain", Seq("o" -> LongType), r => Seq(order(r)), {
        case Seq(o) =>
          s"""SELECT ?ln ?qty ?name WHERE {
             |  <urn:t:orders:$o> <urn:fk:o_custkey> ?c .
             |  ?c <urn:p:c_name> ?name .
             |  OPTIONAL { ?l <urn:p:l_orderkey> $o ; <urn:p:l_linenumber> ?ln ;
             |    <urn:p:l_quantity> ?qty } }""".stripMargin
      },
        """SELECT p.rid, l.l_linenumber, l.l_quantity, cu.c_name FROM params p
          | JOIN orders o ON o.o_orderkey = p.o JOIN customer cu ON cu.c_custkey = o.o_custkey
          | LEFT JOIN lineitem l ON l.l_orderkey = p.o""".stripMargin),
      Shape("q8_text_filter", Seq("lang" -> StringType, "w" -> StringType),
        r => Seq(Data.Langs(r.nextInt(Data.Langs.size)), Data.Words(r.nextInt(Data.Words.size))), {
          case Seq(lang, w) =>
            s"""SELECT ?d ?t WHERE { ?d <urn:p:lang> "$lang" ; <urn:p:text> ?t .
               |  FILTER(CONTAINS(?t, "$w")) } LIMIT 10""".stripMargin
        },
        """SELECT p.rid, concat('urn:t:documents:', d.doc_id), d.text FROM params p
          | JOIN documents d ON d.lang = p.lang AND instr(d.text, p.w) > 0""".stripMargin, Some(10)),
      Shape("q9_describe", Seq("c" -> LongType), r => Seq(cust(r)),
        { case Seq(c) => s"DESCRIBE <urn:t:customer:$c>" },
        triplesSql("customer", "JOIN customer ON c_custkey = p.c")),
      Shape("q10_range_order", Seq("tp" -> DoubleType),
        r => Seq(100000.0 + r.nextInt(50000)), {
          case Seq(tp) =>
            s"""SELECT ?o ?tp WHERE { ?o a <urn:c:Orders> ; <urn:p:o_totalprice> ?tp ;
               |  <urn:p:o_orderstatus> "O" . FILTER(?tp > $tp) }
               |ORDER BY DESC(?tp) ?o LIMIT 10""".stripMargin
        },
        topK(10, """SELECT p.rid, concat('urn:t:orders:', o_orderkey) AS o, o_totalprice AS tp
                   | FROM params p JOIN orders ON o_orderstatus = 'O' AND o_totalprice > p.tp""".stripMargin,
          "tp DESC, o", "o, tp")),
      Shape("q11_detail_star", Seq("o" -> LongType), r => Seq(order(r)),
        { case Seq(o) => s"""SELECT ?pr ?v WHERE { ?l <urn:p:l_orderkey> $o ; ?pr ?v } LIMIT 50""" },
        s"SELECT rid, p, o FROM (${triplesSql("lineitem", "JOIN lineitem ON l_orderkey = p.o")})",
        Some(50)),
      Shape("q12_construct", Seq("o" -> LongType), r => Seq(order(r)), {
        case Seq(o) =>
          s"""CONSTRUCT { <urn:t:orders:$o> <urn:ex:summary> ?tp .
             |  <urn:t:orders:$o> <urn:ex:buyer> ?c }
             |WHERE { <urn:t:orders:$o> <urn:p:o_totalprice> ?tp ;
             |  <urn:fk:o_custkey> ?c }""".stripMargin
      },
        """SELECT p.rid, concat('urn:t:orders:', o_orderkey), 'urn:ex:summary',
          |   cast(o_totalprice AS STRING) FROM params p JOIN orders ON o_orderkey = p.o
          |UNION ALL SELECT p.rid, concat('urn:t:orders:', o_orderkey), 'urn:ex:buyer',
          |   concat('urn:t:customer:', o_custkey) FROM params p JOIN orders ON o_orderkey = p.o""".stripMargin)
    )
  }

  /** BI shapes: an aggregate under a date bound, a four-way revenue join,
    * top-k per segment, OPTIONAL with NOT EXISTS over a date window, and a
    * COUNT DISTINCT subquery; with `special` they make the analytic mix.
    */
  def analytic(z: Data.Sizes): Seq[Shape] = {
    def day(r: Random, span: Int): Long = Data.FirstDay + r.nextInt((Data.LastDay - Data.FirstDay).toInt - span)
    def lit(d: java.sql.Timestamp): String = dateTime(d.getTime / Data.DayMs)
    Seq(
      Shape("a1_agg_flag_status", Seq("d" -> TimestampType), r => Seq(ts(day(r, 0))), {
        case Seq(d: java.sql.Timestamp) =>
          s"""SELECT ?rf ?ls (SUM(?qty) AS ?sq) (SUM(?ep) AS ?se) (COUNT(*) AS ?n) WHERE {
             |  ?l <urn:p:l_returnflag> ?rf ; <urn:p:l_linestatus> ?ls ;
             |     <urn:p:l_quantity> ?qty ; <urn:p:l_extendedprice> ?ep ;
             |     <urn:p:l_shipdate> ?d .
             |  FILTER(?d <= ${lit(d)}) }
             |GROUP BY ?rf ?ls""".stripMargin
      },
        """SELECT p.rid, l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), count(*)
          | FROM params p JOIN lineitem ON l_shipdate <= p.d
          | GROUP BY p.rid, l_returnflag, l_linestatus""".stripMargin),
      Shape("a2_revenue_join", Seq("prio" -> StringType, "d1" -> TimestampType, "d2" -> TimestampType),
        r => { val d = day(r, 365); Seq(Data.Priorities(r.nextInt(Data.Priorities.size)), ts(d), ts(d + 365)) }, {
          case Seq(prio, d1: java.sql.Timestamp, d2: java.sql.Timestamp) =>
            s"""SELECT ?nname (SUM(?ep * (1 - ?disc)) AS ?rev) WHERE {
               |  ?l <urn:fk:l_orderkey> ?o ; <urn:p:l_extendedprice> ?ep ; <urn:p:l_discount> ?disc .
               |  ?o <urn:p:o_orderpriority> "$prio" ; <urn:p:o_orderdate> ?od ; <urn:fk:o_custkey> ?c .
               |  FILTER(?od >= ${lit(d1)} && ?od < ${lit(d2)})
               |  ?c <urn:fk:c_nationkey> ?n . ?n <urn:p:n_name> ?nname }
               |GROUP BY ?nname""".stripMargin
        },
        """SELECT p.rid, n_name, sum(l_extendedprice * (1 - l_discount)) FROM params p
          | JOIN orders ON o_orderpriority = p.prio AND o_orderdate >= p.d1 AND o_orderdate < p.d2
          | JOIN lineitem ON l_orderkey = o_orderkey JOIN customer ON c_custkey = o_custkey
          | JOIN nation ON n_nationkey = c_nationkey GROUP BY p.rid, n_name""".stripMargin),
      Shape("a3_topk_customers", Seq("seg" -> StringType, "d" -> TimestampType),
        r => Seq(Data.Segments(r.nextInt(Data.Segments.size)), ts(day(r, 730))), {
          case Seq(seg, d: java.sql.Timestamp) =>
            s"""SELECT ?c (SUM(?tp) AS ?tot) WHERE {
               |  ?o <urn:fk:o_custkey> ?c ; <urn:p:o_totalprice> ?tp ; <urn:p:o_orderdate> ?od .
               |  FILTER(?od >= ${lit(d)})
               |  ?c <urn:p:c_mktsegment> "$seg" }
               |GROUP BY ?c ORDER BY DESC(?tot) ?c LIMIT 10""".stripMargin
        },
        topK(10, """SELECT p.rid, concat('urn:t:customer:', c_custkey) AS c, sum(o_totalprice) AS tot
                   | FROM params p JOIN orders ON o_orderdate >= p.d
                   | JOIN customer ON c_custkey = o_custkey AND c_mktsegment = p.seg
                   | GROUP BY p.rid, c_custkey""".stripMargin, "tot DESC, c", "c, tot")),
      Shape("a4_window_negation", Seq("d1" -> TimestampType, "d2" -> TimestampType),
        r => { val d = day(r, 90); Seq(ts(d), ts(d + 90)) }, {
          case Seq(d1: java.sql.Timestamp, d2: java.sql.Timestamp) =>
            s"""SELECT ?o (COUNT(?l) AS ?na) WHERE {
               |  ?o <urn:p:o_orderdate> ?od .
               |  FILTER(?od >= ${lit(d1)} && ?od < ${lit(d2)})
               |  OPTIONAL { ?l <urn:fk:l_orderkey> ?o ; <urn:p:l_returnflag> "A" }
               |  FILTER NOT EXISTS { ?l2 <urn:fk:l_orderkey> ?o ; <urn:p:l_returnflag> "R" } }
               |GROUP BY ?o""".stripMargin
        },
        """SELECT x.rid, concat('urn:t:orders:', x.o_orderkey), count(a.l_orderkey) FROM
          | (SELECT p.rid, o_orderkey FROM params p JOIN orders
          |    ON o_orderdate >= p.d1 AND o_orderdate < p.d2
          |  LEFT ANTI JOIN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R') r
          |    ON r.l_orderkey = o_orderkey) x
          | LEFT JOIN lineitem a ON a.l_orderkey = x.o_orderkey AND a.l_returnflag = 'A'
          | GROUP BY x.rid, x.o_orderkey""".stripMargin),
      Shape("a5_count_distinct_sub", Seq("st" -> StringType, "x" -> DoubleType),
        r => Seq(Seq("O", "F", "P")(r.nextInt(3)), 50000.0 + r.nextInt(200000)), {
          case Seq(st, x) =>
            s"""SELECT (COUNT(DISTINCT ?c) AS ?nc) WHERE { {
               |  SELECT ?c WHERE { ?o <urn:fk:o_custkey> ?c ; <urn:p:o_orderstatus> "$st" ;
               |    <urn:p:o_totalprice> ?tp . FILTER(?tp > $x) } } }""".stripMargin
        },
        """SELECT p.rid, count(DISTINCT o_custkey) FROM params p
          | LEFT JOIN orders ON o_orderstatus = p.st AND o_totalprice > p.x
          | GROUP BY p.rid""".stripMargin)) ++ special(z)
  }

  /** The engine's special access paths, served through the same endpoint:
    * a property-path fixpoint, full-text search (`bds:search`) and a GAS
    * breadth-first traversal (`SERVICE gas:service`).
    */
  def special(z: Data.Sizes): Seq[Shape] = {
    Seq(
      // customers whose key is a multiple of 3 have no orders (`Data.generate`); draw the others
      Shape("a6_fk_path", Seq("c" -> LongType), r => Seq(3L * r.nextInt(z.customers / 3) + 1 + r.nextInt(2)), {
        case Seq(c) =>
          s"""SELECT ?x WHERE {
             |  <urn:t:customer:$c> (^<urn:fk:o_custkey>|^<urn:fk:l_orderkey>)+ ?x }""".stripMargin
      },
        """SELECT p.rid, concat('urn:t:orders:', o_orderkey) FROM params p
          | JOIN orders ON o_custkey = p.c
          |UNION ALL SELECT p.rid, concat('urn:t:lineitem:', l_orderkey, '-', l_linenumber, '-1')
          | FROM params p JOIN orders ON o_custkey = p.c
          | JOIN lineitem ON l_orderkey = o_orderkey""".stripMargin),
      Shape("a7_text_search", Seq("w1" -> StringType, "w2" -> StringType),
        r => { val ws = r.shuffle(Data.Words).take(2); Seq(ws(0), ws(1)) }, {
          case Seq(w1, w2) =>
            s"""SELECT ?d WHERE { ?lit <${Bds}search> "$w1 $w2" ;
               |    <${Bds}matchAllTerms> "true" .
               |  ?doc <urn:p:text> ?lit ; <urn:p:doc_id> ?d }""".stripMargin
        },
        """SELECT p.rid, doc_id FROM params p JOIN documents
          | ON array_contains(split(text, ' '), p.w1) AND array_contains(split(text, ' '), p.w2)""".stripMargin),
      Shape("a8_gas_bfs", Seq("o" -> LongType), r => Seq(1L + r.nextInt(z.orders)), {
        case Seq(o) =>
          s"""SELECT ?v ?lvl WHERE {
             |  SERVICE <${Gas}service> {
             |    ?x <${Gas}program> "BFS" ;
             |       <${Gas}linkType> <urn:fk:o_custkey> ;
             |       <${Gas}in> <urn:t:orders:$o> ;
             |       <${Gas}out> ?v ;
             |       <${Gas}out1> ?lvl } }""".stripMargin
      },
        """SELECT p.rid, concat('urn:t:orders:', p.o), 0 FROM params p
          |UNION ALL SELECT p.rid, concat('urn:t:customer:', o_custkey), 1 FROM params p
          | JOIN orders ON o_orderkey = p.o
          |UNION ALL SELECT p.rid, concat('urn:t:orders:', o2.o_orderkey), 2 FROM params p
          | JOIN orders o1 ON o1.o_orderkey = p.o
          | JOIN orders o2 ON o2.o_custkey = o1.o_custkey AND o2.o_orderkey <> p.o""".stripMargin)
    )
  }
}
