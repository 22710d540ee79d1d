package graft

import graft.engine.Engine
import graft.model.Tpch
import graft.pipeline.{Dedup, Events, Similarity, TextStats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator from SURVEY.md §2,
  * each with a DuckDB-equivalent oracle in `oracleSql` (the t2 correctness gate).
  *
  * SPARQL entries run the full stack (parse → algebra → Catalyst) over the
  * table→triples mapping of FIXTURES.md §4, then project typed columns whose names match
  * the oracle SQL aliases. Pipeline entries (dedup / similarity / text stats) run the
  * DataFrame operators directly over the documents/embeddings tables; the ones whose
  * semantics aren't SQL-expressible omit the oracle (driver records rows-only).
  */
object SparkEntry {

  // ---- typed projection helpers (term struct → native columns) ----
  private def oStr(v: String): Column = col(v)("str").as(v)
  private def oDbl(v: String): Column = col(v)("num").as(v)
  private def oLng(v: String): Column = col(v)("lng").as(v)
  private def oTs(v: String): Column = col(v)("ts").as(v)

  private def sq(sparql: String, outs: Column*)(spark: SparkSession, dir: String): DataFrame = {
    val df = Engine.query(Tpch.store(spark, dir), sparql)
    if (outs.isEmpty) df else df.select(outs: _*)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    sq("""SELECT ?nname (COUNT(*) AS ?cnt) (SUM(?qty) AS ?sum_qty) WHERE {
         |  ?l <urn:fk:l_orderkey>/<urn:fk:o_custkey>/<urn:fk:c_nationkey> ?n ;
         |     <urn:p:l_quantity> ?qty .
         |  ?n <urn:p:n_name> ?nname .
         |} GROUP BY ?nname ORDER BY DESC(?cnt) ?nname""".stripMargin,
      oStr("nname"), oLng("cnt"), oDbl("sum_qty"))(spark, "/root/testdata/sf0.001")

  private type Q = (SparkSession, String) => DataFrame

  /** AT-REST closed store for `dir`: the RDFS closure saved ONCE as
    * p_id-partitioned parquet under /tmp and reopened — the 100 TB posture,
    * where entailments are computed at load time and live in storage
    * alongside the explicit statements. Version-keyed on both the store
    * encoding (Tpch.storePath) and the closure semantics
    * (Rdfs.CLOSURE_VERSION) so a stale materialization is never reused.
    */
  private val closedRegistry =
    scala.collection.concurrent.TrieMap.empty[String, graft.model.GraftStore]
  /** Content fingerprint of the SOURCE parquet tables (name/mtime/size over the
    * dir tree) — keyed into the closed-store cache path so in-place changes to
    * the source data invalidate the cached closure instead of silently serving
    * a stale one.
    */
  private def srcFingerprint(dir: String): String = {
    def walk(f: java.io.File): String =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).map(walk).mkString
      else s"${f.getName}:${f.lastModified}:${f.length};"
    Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(
      walk(new java.io.File(dir))))
  }
  def closedStore(s: SparkSession, dir: String): graft.model.GraftStore = {
    val fp = srcFingerprint(dir)
    closedRegistry.getOrElseUpdate(s"$dir#$fp", {
      val path = Tpch.storePath(dir) +
        "-closed-c" + graft.inference.Rdfs.CLOSURE_VERSION + "-f" + fp
      if (!new java.io.File(path + "/_SUCCESS").exists())
        graft.model.GraftStore.save(
          graft.inference.Rdfs.closure(Tpch.store(s, dir)).statements, path)
      graft.model.GraftStore.load(s, path)
    })
  }

  /** Untimed SESSION warmup, entry-agnostic: compile/JIT the heavy
    * infrastructure families once over a TINY store with DIFFERENT constants,
    * so JVM class loading and JIT are not charged to the first timed entry
    * (the r12-r14 A/Bs showed 2-6 s first-iteration tax on the
    * geo/search/TM/RIO/federation entries, all of it store-independent).
    * Nothing here reads the real store or runs an entry's own plan, so an
    * entry's first timed run still pays its first-run cost over the store.
    */
  def warmup(s: SparkSession): Unit = {
    def safe(tag: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        System.err.println(s"[warmup] $tag: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    import graft.model.GraftStore
    val tiny = new GraftStore(s, graft.sources.Rio.readTrig(s,
      """@prefix : <urn:w:> .
        |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
        |:g { :B rdfs:subClassOf :A . :u1 a :B . :u2 a :B .
        |     :u1 :name "warm alpha" . :u2 :name "warm beta gamma" .
        |     :u1 :next :u2 . :u2 :next :u3 . :u1 :val 7 . }""".stripMargin)
      .localCheckpoint())
    // closure + at-rest TM delta pass (vocab collect, deltaDerive/rederive arms)
    safe("closure-tm") {
      val closed = new GraftStore(s,
        graft.inference.Rdfs.closure(tiny).statements.localCheckpoint())
      graft.engine.Update.withTruthMaintenance(closed,
        "DELETE DATA { GRAPH <urn:w:g> { <urn:w:u2> a <urn:w:B> . } }")
        .statements.count()
    }
    // property-path fixpoint (seeded BFS loop shapes)
    safe("path")(Engine.query(tiny,
      "SELECT ?x WHERE { <urn:w:u1> <urn:w:next>+ ?x }").count())
    // geo magic service: insert packed literals then an inCircle probe
    safe("geo") {
      val withLoc = graft.engine.Update(tiny,
        """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
          |INSERT { ?e <urn:w:loc> ?loc } WHERE {
          |  ?e <urn:w:val> ?id .
          |  BIND(STRDT(CONCAT(STR(?id), "#", STR(?id)), geo:geoSpatialLiteral) AS ?loc) }""".stripMargin)
      Engine.query(withLoc,
        """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
          |SELECT ?r WHERE { ?r geo:search "inCircle" ;
          |  geo:predicate <urn:w:loc> ;
          |  geo:spatialCircleCenter "7#7" ; geo:spatialCircleRadius "5" }""".stripMargin)
        .count()
    }
    // full-text postings build + search + searchInSearch shapes
    safe("bds") {
      Engine.query(tiny,
        """SELECT ?o WHERE { ?o <http://www.bigdata.com/rdf/search#search> "alpha" }""")
        .count()
      Engine.query(tiny,
        """SELECT (COUNT(*) AS ?c) WHERE { ?x a <urn:w:B> .
          |  SERVICE <http://www.bigdata.com/rdf/search#searchInSearch> {
          |    ?x <http://www.bigdata.com/rdf/search#searchInSearch> "beta" . } }""".stripMargin)
        .count()
    }
    // RIO serialize + reparse
    safe("rio") {
      import s.implicits._
      graft.sources.Rio.statementsFromLines(
        graft.sources.Rio.toNQuadLines(tiny.statements).as[String]).count()
    }
    // SPARQL protocol loopback: server start + SERVICE join + JSON results
    safe("federation") {
      val srv = new graft.server.SparqlServer(tiny).start()
      try Engine.query(tiny,
        s"""SELECT ?n WHERE { ?x a <urn:w:B> .
           |  SERVICE <http://127.0.0.1:${srv.boundPort}/sparql> {
           |    ?x <urn:w:name> ?n } }""".stripMargin).count()
      finally srv.stop()
    }
    // result-sink round trip (JSON serializer + protocol parser)
    safe("results") {
      val df = Engine.query(tiny, "SELECT ?n WHERE { ?x <urn:w:name> ?n }")
      graft.engine.RemoteService.parseResults(s,
        graft.engine.SparqlResults.toJson(df)).count()
    }
    // JSON-LD parse + statement mint
    safe("jsonld") {
      val quads = graft.sources.JsonLd.parse(
        """{"@context":{"nm":"urn:w:name"},"@id":"urn:w:j1","nm":"warm"}""")
      require(quads.nonEmpty)
    }
    // UPDATE insert capture on a store handle (novelty anti-join shapes)
    safe("update")(graft.engine.Update(tiny,
      "INSERT DATA { GRAPH <urn:w:g> { <urn:w:u9> a <urn:w:B> . } }")
      .statements.count())
  }

  // ======== SPARQL operator battery ========
  private val sparqlQueries: Seq[(String, Q, Option[String])] = Seq(

    ("q_scan_filter", sq(
      """SELECT ?name ?bal WHERE { ?c a <urn:c:Customer> ; <urn:p:c_name> ?name ;
        |  <urn:p:c_acctbal> ?bal . FILTER(?bal > 5000.0) }""".stripMargin,
      oStr("name"), oDbl("bal")) _,
      Some("SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal > 5000.0")),

    ("q_range_count", sq(
      "SELECT (COUNT(*) AS ?cnt) WHERE { ?s a <urn:c:Lineitem> }", oLng("cnt")) _,
      Some("SELECT COUNT(*) AS cnt FROM lineitem")),

    ("q_distinct_term", sq(
      "SELECT DISTINCT ?seg WHERE { ?c <urn:p:c_mktsegment> ?seg }", oStr("seg")) _,
      Some("SELECT DISTINCT c_mktsegment AS seg FROM customer")),

    ("q_join3", sq(
      """SELECT ?cname ?nname ?rname WHERE {
        |  ?c a <urn:c:Customer> ; <urn:p:c_name> ?cname ; <urn:fk:c_nationkey> ?n .
        |  ?n <urn:p:n_name> ?nname ; <urn:fk:n_regionkey> ?r .
        |  ?r <urn:p:r_name> ?rname }""".stripMargin,
      oStr("cname"), oStr("nname"), oStr("rname")) _,
      Some("""SELECT c_name AS cname, n_name AS nname, r_name AS rname FROM customer
             | JOIN nation ON c_nationkey=n_nationkey
             | JOIN region ON n_regionkey=r_regionkey""".stripMargin)),

    ("q_optional", sq(
      """SELECT ?ckey ?okey WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
        |  OPTIONAL { ?o <urn:fk:o_custkey> ?c ; <urn:p:o_orderkey> ?okey } }""".stripMargin,
      oLng("ckey"), oLng("okey")) _,
      Some("SELECT c_custkey AS ckey, o_orderkey AS okey FROM customer LEFT JOIN orders ON o_custkey=c_custkey")),

    ("q_optional_filter", sq(
      """SELECT ?ckey ?tp WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
        |  OPTIONAL { ?o <urn:fk:o_custkey> ?c ; <urn:p:o_totalprice> ?tp .
        |             FILTER(?tp > 200000.0) } }""".stripMargin,
      oLng("ckey"), oDbl("tp")) _,
      Some("""SELECT c_custkey AS ckey, o_totalprice AS tp FROM customer
             | LEFT JOIN orders ON o_custkey=c_custkey AND o_totalprice > 200000.0""".stripMargin)),

    ("q_union", sq(
      """SELECT ?name WHERE {
        |  { ?c a <urn:c:Customer> ; <urn:p:c_name> ?name }
        |  UNION { ?s a <urn:c:Supplier> ; <urn:p:s_name> ?name } }""".stripMargin,
      oStr("name")) _,
      Some("SELECT c_name AS name FROM customer UNION ALL SELECT s_name AS name FROM supplier")),

    ("q_minus", sq(
      """SELECT ?ckey WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
        |  MINUS { ?o <urn:fk:o_custkey> ?c . } }""".stripMargin,
      oLng("ckey")) _,
      Some("SELECT c_custkey AS ckey FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)")),

    ("q_not_exists", sq(
      """SELECT ?ckey WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
        |  FILTER NOT EXISTS { ?o <urn:fk:o_custkey> ?c } }""".stripMargin,
      oLng("ckey")) _,
      Some("SELECT c_custkey AS ckey FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey=c.c_custkey)")),

    ("q_exists", sq(
      """SELECT ?ckey WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
        |  FILTER EXISTS { ?o <urn:fk:o_custkey> ?c } }""".stripMargin,
      oLng("ckey")) _,
      Some("SELECT c_custkey AS ckey FROM customer c WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey=c.c_custkey)")),

    ("q_agg_group", sq(
      """SELECT ?rf ?ls (COUNT(*) AS ?cnt) (SUM(?qty) AS ?sum_qty) (AVG(?qty) AS ?avg_qty)
        |WHERE { ?l a <urn:c:Lineitem> ; <urn:p:l_returnflag> ?rf ;
        |  <urn:p:l_linestatus> ?ls ; <urn:p:l_quantity> ?qty }
        |GROUP BY ?rf ?ls""".stripMargin,
      oStr("rf"), oStr("ls"), oLng("cnt"), oDbl("sum_qty"), oDbl("avg_qty")) _,
      Some("""SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS cnt,
             | SUM(l_quantity) AS sum_qty, AVG(l_quantity) AS avg_qty
             | FROM lineitem GROUP BY 1, 2""".stripMargin)),

    ("q_custom_agg", ((s: SparkSession, dir: String) => {
      // IAggregate extension surface: IRI-registered median runs through SPARQL
      graft.engine.Aggregates.register("urn:agg:median",
        (t, _) => graft.model.Term.doubleLit(
          call_function("percentile", graft.engine.Exprs.fNum(t), lit(0.5))))
      sq("""SELECT ?rf (<urn:agg:median>(?qty) AS ?med) WHERE {
           |  ?l a <urn:c:Lineitem> ; <urn:p:l_returnflag> ?rf ;
           |     <urn:p:l_quantity> ?qty }
           |GROUP BY ?rf""".stripMargin,
        oStr("rf"), oDbl("med"))(s, dir)
    }): Q,
      Some("SELECT l_returnflag AS rf, median(l_quantity) AS med FROM lineitem GROUP BY 1")),

    ("q_having", sq(
      """SELECT ?nname (COUNT(*) AS ?cnt) WHERE {
        |  ?c a <urn:c:Customer> ; <urn:fk:c_nationkey> ?n . ?n <urn:p:n_name> ?nname }
        |GROUP BY ?nname HAVING (COUNT(*) > 20)""".stripMargin,
      oStr("nname"), oLng("cnt")) _,
      Some("""SELECT n_name AS nname, COUNT(*) AS cnt FROM customer
             | JOIN nation ON c_nationkey=n_nationkey GROUP BY 1 HAVING COUNT(*) > 20""".stripMargin)),

    ("q_count_distinct", sq(
      "SELECT (COUNT(DISTINCT ?seg) AS ?nseg) WHERE { ?c <urn:p:c_mktsegment> ?seg }",
      oLng("nseg")) _,
      Some("SELECT COUNT(DISTINCT c_mktsegment) AS nseg FROM customer")),

    ("q_orderby_limit", sq(
      """SELECT ?okey ?tp WHERE { ?o a <urn:c:Orders> ; <urn:p:o_orderkey> ?okey ;
        |  <urn:p:o_totalprice> ?tp } ORDER BY DESC(?tp) ?okey LIMIT 10""".stripMargin,
      oLng("okey"), oDbl("tp")) _,
      Some("SELECT o_orderkey AS okey, o_totalprice AS tp FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")),

    ("q_offset", sq(
      """SELECT ?okey ?tp WHERE { ?o a <urn:c:Orders> ; <urn:p:o_orderkey> ?okey ;
        |  <urn:p:o_totalprice> ?tp } ORDER BY DESC(?tp) ?okey OFFSET 10 LIMIT 10""".stripMargin,
      oLng("okey"), oDbl("tp")) _,
      Some("SELECT o_orderkey AS okey, o_totalprice AS tp FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10")),

    ("q_distinct_pairs", sq(
      """SELECT DISTINCT ?nname ?seg WHERE { ?c <urn:fk:c_nationkey> ?n ;
        |  <urn:p:c_mktsegment> ?seg . ?n <urn:p:n_name> ?nname }""".stripMargin,
      oStr("nname"), oStr("seg")) _,
      Some("SELECT DISTINCT n_name AS nname, c_mktsegment AS seg FROM customer JOIN nation ON c_nationkey=n_nationkey")),

    ("q_bind", sq(
      """SELECT ?lkey ?ln ?rev WHERE { ?l a <urn:c:Lineitem> ; <urn:p:l_orderkey> ?lkey ;
        |  <urn:p:l_linenumber> ?ln ; <urn:p:l_extendedprice> ?p ; <urn:p:l_discount> ?d .
        |  BIND(?p * (1 - ?d) AS ?rev) }""".stripMargin,
      oLng("lkey"), oLng("ln"), oDbl("rev")) _,
      Some("SELECT l_orderkey AS lkey, l_linenumber AS ln, l_extendedprice * (1 - l_discount) AS rev FROM lineitem")),

    ("q_values", sq(
      """SELECT ?name ?seg WHERE { VALUES ?seg { "BUILDING" "MACHINERY" }
        |  ?c <urn:p:c_mktsegment> ?seg ; <urn:p:c_name> ?name }""".stripMargin,
      oStr("name"), oStr("seg")) _,
      Some("SELECT c_name AS name, c_mktsegment AS seg FROM customer WHERE c_mktsegment IN ('BUILDING','MACHINERY')")),

    ("q_subquery", sq(
      """SELECT ?nname ?avgbal WHERE {
        |  ?n <urn:p:n_name> ?nname .
        |  { SELECT ?n (AVG(xsd:double(ROUND(?bal * 100))) AS ?avgbal) WHERE {
        |      ?c <urn:fk:c_nationkey> ?n ; <urn:p:c_acctbal> ?bal } GROUP BY ?n } }""".stripMargin,
      oStr("nname"), oDbl("avgbal")) _,
      Some("""SELECT n_name AS nname, avgbal FROM nation JOIN
             | (SELECT c_nationkey, AVG(ROUND(c_acctbal*100, 0)) AS avgbal
             |  FROM customer GROUP BY c_nationkey) sub ON n_nationkey=c_nationkey""".stripMargin)),

    ("q_path_seq", sq(
      """SELECT ?nname (COUNT(*) AS ?cnt) WHERE {
        |  ?l <urn:fk:l_orderkey>/<urn:fk:o_custkey>/<urn:fk:c_nationkey> ?n .
        |  ?n <urn:p:n_name> ?nname } GROUP BY ?nname""".stripMargin,
      oStr("nname"), oLng("cnt")) _,
      Some("""SELECT n_name AS nname, COUNT(*) AS cnt FROM lineitem
             | JOIN orders ON l_orderkey=o_orderkey JOIN customer ON o_custkey=c_custkey
             | JOIN nation ON c_nationkey=n_nationkey GROUP BY 1""".stripMargin)),

    ("q_path_alt", sq(
      """SELECT ?nname (COUNT(*) AS ?cnt) WHERE {
        |  ?x (<urn:fk:c_nationkey>|<urn:fk:s_nationkey>) ?n . ?n <urn:p:n_name> ?nname }
        |GROUP BY ?nname""".stripMargin,
      oStr("nname"), oLng("cnt")) _,
      Some("""SELECT n_name AS nname, COUNT(*) AS cnt FROM
             | (SELECT c_nationkey AS nk FROM customer UNION ALL SELECT s_nationkey FROM supplier) u
             | JOIN nation ON nk=n_nationkey GROUP BY 1""".stripMargin)),

    ("q_path_inv", sq(
      """SELECT ?ckey (COUNT(*) AS ?cnt) WHERE {
        |  ?c ^<urn:fk:o_custkey> ?o ; <urn:p:c_custkey> ?ckey } GROUP BY ?ckey""".stripMargin,
      oLng("ckey"), oLng("cnt")) _,
      Some("SELECT c_custkey AS ckey, COUNT(*) AS cnt FROM customer JOIN orders ON o_custkey=c_custkey GROUP BY 1")),

    ("q_path_plus", sq(
      """SELECT ?s ?t WHERE { ?s a <urn:c:Lineitem> .
        |  ?s (<urn:fk:l_orderkey>|<urn:fk:o_custkey>)+ ?t . }""".stripMargin,
      oStr("s"), oStr("t")) _,
      Some("""WITH li AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
             |  ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount,
             |           l_tax, l_returnflag, l_linestatus, l_shipdate) AS seq FROM lineitem)
             |SELECT 'urn:t:lineitem:'||l_orderkey||'-'||l_linenumber||'-'||seq AS s,
             |  'urn:t:orders:'||l_orderkey AS t FROM li
             |UNION
             |SELECT 'urn:t:lineitem:'||l_orderkey||'-'||l_linenumber||'-'||seq AS s,
             |  'urn:t:customer:'||o_custkey AS t FROM li JOIN orders ON l_orderkey=o_orderkey""".stripMargin)),

    ("q_path_range", sq(
      """SELECT ?s ?t WHERE { ?s a <urn:c:Lineitem> .
        |  ?s (<urn:fk:l_orderkey>|<urn:fk:o_custkey>){2,2} ?t . }""".stripMargin,
      oStr("s"), oStr("t")) _,
      Some("""WITH li AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_linenumber
             |  ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount,
             |           l_tax, l_returnflag, l_linestatus, l_shipdate) AS seq FROM lineitem)
             |SELECT 'urn:t:lineitem:'||l_orderkey||'-'||l_linenumber||'-'||seq AS s,
             |  'urn:t:customer:'||o_custkey AS t FROM li JOIN orders ON l_orderkey=o_orderkey""".stripMargin)),

    ("q_named_subquery", sq(
      """SELECT ?nname ?cnt
        |WITH { SELECT ?n (COUNT(*) AS ?cnt) WHERE {
        |         ?c <urn:fk:c_nationkey> ?n } GROUP BY ?n } AS %counts
        |WHERE { INCLUDE %counts . ?n <urn:p:n_name> ?nname }""".stripMargin,
      oStr("nname"), oLng("cnt")) _,
      Some("""SELECT n_name AS nname, COUNT(*) AS cnt FROM customer
             | JOIN nation ON c_nationkey=n_nationkey GROUP BY 1""".stripMargin)),

    ("q_named_graph", sq(
      """SELECT ?seg (COUNT(*) AS ?cnt) WHERE {
        |  GRAPH <urn:g:customer> { ?c <urn:p:c_mktsegment> ?seg } } GROUP BY ?seg""".stripMargin,
      oStr("seg"), oLng("cnt")) _,
      Some("SELECT c_mktsegment AS seg, COUNT(*) AS cnt FROM customer GROUP BY 1")),

    ("q_graph_var", sq(
      """SELECT ?g (COUNT(*) AS ?cnt) WHERE { GRAPH ?g { ?s a ?cls } } GROUP BY ?g""".stripMargin,
      oStr("g"), oLng("cnt")) _,
      Some("""SELECT 'urn:g:region' AS g, COUNT(*) AS cnt FROM region GROUP BY 1
             |UNION ALL SELECT 'urn:g:nation', COUNT(*) FROM nation
             |UNION ALL SELECT 'urn:g:customer', COUNT(*) FROM customer
             |UNION ALL SELECT 'urn:g:supplier', COUNT(*) FROM supplier
             |UNION ALL SELECT 'urn:g:part', COUNT(*) FROM part
             |UNION ALL SELECT 'urn:g:orders', COUNT(*) FROM orders
             |UNION ALL SELECT 'urn:g:lineitem', COUNT(*) FROM lineitem
             |UNION ALL SELECT 'urn:g:events', COUNT(*) FROM events
             |UNION ALL SELECT 'urn:g:documents', COUNT(*) FROM documents""".stripMargin)),

    ("q_from_dataset", sq(
      """SELECT (COUNT(*) AS ?cnt) FROM <urn:g:nation> WHERE { ?s <urn:p:n_name> ?o }""",
      oLng("cnt")) _,
      Some("SELECT COUNT(*) AS cnt FROM nation")),

    ("q_ask", sq(
      """ASK { ?c <urn:p:c_acctbal> ?b . FILTER(?b > 9990.0) }""") _,
      Some("SELECT EXISTS(SELECT 1 FROM customer WHERE c_acctbal > 9990.0) AS ask")),

    ("q_construct", ((s: SparkSession, dir: String) =>
      sq("""CONSTRUCT { ?c <urn:p:rich> ?b } WHERE {
           |  ?c <urn:p:c_acctbal> ?b . FILTER(?b > 9000.0) }""".stripMargin)(s, dir)
        .select(col("s")("str").as("s"), col("p")("str").as("p"), col("o")("num").as("o"))): Q,
      Some("SELECT 'urn:t:customer:'||c_custkey AS s, 'urn:p:rich' AS p, c_acctbal AS o FROM customer WHERE c_acctbal > 9000.0")),

    ("q_describe", ((s: SparkSession, dir: String) =>
      sq("DESCRIBE <urn:t:region:0>")(s, dir)
        .select(col("s")("str").as("s"), col("p")("str").as("p"), col("o")("str").as("o"))): Q,
      Some("""SELECT 'urn:t:region:0' AS s, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p, 'urn:c:Region' AS o
             |UNION ALL SELECT 'urn:t:region:0', 'urn:p:r_regionkey', '0'
             |UNION ALL SELECT 'urn:t:region:0', 'urn:p:r_name', r_name FROM region WHERE r_regionkey=0""".stripMargin)),

    // bound-subject / unbound-predicate star (BSBM Q11 / entity-fetch shape):
    // pattern 1 binds ?l from a predicate-pruned probe, the ?pr wildcard then
    // rides the SEEDED subject access path (SubjectIndex sidecar — bucket-dir
    // pruning + pushed s.id In filter) instead of scanning every partition's
    // s-column (r15 CONCURRENCY finding 4: 8.2 s solo at sf0.1 unrouted)
    ("q_subject_star", sq(
      """SELECT ?pr (COUNT(*) AS ?n) WHERE { ?l <urn:p:l_orderkey> 1 ; ?pr ?v }
        |GROUP BY ?pr""".stripMargin,
      oStr("pr"), oLng("n")) _,
      Some("""WITH l AS (SELECT * FROM lineitem WHERE l_orderkey = 1)
             |SELECT pr, n FROM (
             |  SELECT 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pr, count(*) AS n FROM l
             |  UNION ALL SELECT 'urn:p:l_orderkey', count(l_orderkey) FROM l
             |  UNION ALL SELECT 'urn:fk:l_orderkey', count(l_orderkey) FROM l
             |  UNION ALL SELECT 'urn:p:l_partkey', count(l_partkey) FROM l
             |  UNION ALL SELECT 'urn:fk:l_partkey', count(l_partkey) FROM l
             |  UNION ALL SELECT 'urn:p:l_suppkey', count(l_suppkey) FROM l
             |  UNION ALL SELECT 'urn:fk:l_suppkey', count(l_suppkey) FROM l
             |  UNION ALL SELECT 'urn:p:l_linenumber', count(l_linenumber) FROM l
             |  UNION ALL SELECT 'urn:p:l_quantity', count(l_quantity) FROM l
             |  UNION ALL SELECT 'urn:p:l_extendedprice', count(l_extendedprice) FROM l
             |  UNION ALL SELECT 'urn:p:l_discount', count(l_discount) FROM l
             |  UNION ALL SELECT 'urn:p:l_tax', count(l_tax) FROM l
             |  UNION ALL SELECT 'urn:p:l_returnflag', count(l_returnflag) FROM l
             |  UNION ALL SELECT 'urn:p:l_linestatus', count(l_linestatus) FROM l
             |  UNION ALL SELECT 'urn:p:l_shipdate', count(l_shipdate) FROM l
             |) t WHERE n > 0""".stripMargin)),

    ("q_expr_str", sq(
      """SELECT ?ckey ?up ?l ?pre WHERE { ?c <urn:p:c_custkey> ?ckey ; <urn:p:c_name> ?name .
        |  BIND(UCASE(?name) AS ?up) BIND(STRLEN(?name) AS ?l)
        |  BIND(SUBSTR(?name, 1, 8) AS ?pre) }""".stripMargin,
      oLng("ckey"), oStr("up"), oLng("l"), oStr("pre")) _,
      Some("""SELECT c_custkey AS ckey, UPPER(c_name) AS up, LENGTH(c_name) AS l,
             | SUBSTR(c_name, 1, 8) AS pre FROM customer""".stripMargin)),

    ("q_expr_date", sq(
      """SELECT ?okey ?y ?m WHERE { ?o <urn:p:o_orderkey> ?okey ; <urn:p:o_orderdate> ?d .
        |  BIND(YEAR(?d) AS ?y) BIND(MONTH(?d) AS ?m) }""".stripMargin,
      oLng("okey"), oLng("y"), oLng("m")) _,
      Some("""SELECT o_orderkey AS okey, EXTRACT(YEAR FROM o_orderdate) AS y,
             | EXTRACT(MONTH FROM o_orderdate) AS m FROM orders""".stripMargin)),

    ("q_expr_if", sq(
      """SELECT ?ckey ?cls WHERE { ?c <urn:p:c_custkey> ?ckey ; <urn:p:c_acctbal> ?b .
        |  BIND(IF(?b > 5000.0, "high", "low") AS ?cls) }""".stripMargin,
      oLng("ckey"), oStr("cls")) _,
      Some("SELECT c_custkey AS ckey, CASE WHEN c_acctbal > 5000.0 THEN 'high' ELSE 'low' END AS cls FROM customer")),

    // exact xsd:decimal aggregation (SUM.java:53 BigDecimal promotion): the totals
    // are summed in DecimalType(38,18), so both sides are exact and order-independent
    // — a double-summing engine drifts in the last bits and hash-mismatches. The
    // string-mediated double→decimal cast makes Spark and DuckDB parse the same
    // shortest-representation lexical form.
    ("q_decimal_agg", sq(
      """SELECT (SUM(?dtp) AS ?total) (SUM(?cent) AS ?cents) WHERE {
        |  ?o a <urn:c:Orders> ; <urn:p:o_totalprice> ?tp .
        |  BIND(<http://www.w3.org/2001/XMLSchema#decimal>(STR(?tp)) AS ?dtp)
        |  BIND(0.01 AS ?cent) }""".stripMargin,
      oStr("total"), oStr("cents")) _,
      Some("""SELECT rtrim(rtrim(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(38,18))) AS VARCHAR),'0'),'.') AS total,
             | rtrim(rtrim(CAST(SUM(CAST('0.01' AS DECIMAL(38,18))) AS VARCHAR),'0'),'.') AS cents FROM orders""".stripMargin)),

    ("q_regex", sq(
      """SELECT ?name WHERE { ?c <urn:p:c_name> ?name . FILTER(REGEX(?name, "00$")) }""",
      oStr("name")) _,
      Some("SELECT c_name AS name FROM customer WHERE regexp_matches(c_name, '00$')")),

    ("q_in_filter", sq(
      """SELECT ?ckey WHERE { ?c <urn:p:c_custkey> ?ckey ; <urn:p:c_mktsegment> ?seg .
        |  FILTER(?seg IN ("BUILDING", "AUTOMOBILE")) }""".stripMargin,
      oLng("ckey")) _,
      Some("SELECT c_custkey AS ckey FROM customer WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')")),

    ("q_group_concat", sq(
      """SELECT (GROUP_CONCAT(?rname; SEPARATOR=",") AS ?names) WHERE { ?r <urn:p:r_name> ?rname }""",
      oStr("names")) _,
      Some("SELECT string_agg(r_name, ',' ORDER BY r_name) AS names FROM region")),

    ("q_minmax", sq(
      """SELECT (MIN(?d) AS ?mind) (MAX(?d) AS ?maxd) WHERE { ?l <urn:p:l_shipdate> ?d }""",
      oTs("mind"), oTs("maxd")) _,
      Some("SELECT MIN(l_shipdate) AS mind, MAX(l_shipdate) AS maxd FROM lineitem")),

    ("q_sample_agg", sq(
      """SELECT ?nname (SAMPLE(?cname) AS ?anyc) WHERE {
        |  ?c <urn:fk:c_nationkey> ?n ; <urn:p:c_name> ?cname . ?n <urn:p:n_name> ?nname }
        |GROUP BY ?nname""".stripMargin,
      oStr("nname"), oStr("anyc")) _,
      Some("""SELECT n_name AS nname, MIN(c_name) AS anyc FROM customer
             | JOIN nation ON c_nationkey=n_nationkey GROUP BY 1""".stripMargin)),

    ("q_search_contains", sq(
      """SELECT ?d WHERE { ?doc <urn:p:text> ?t ; <urn:p:doc_id> ?d .
        |  FILTER(CONTAINS(?t, "the")) }""".stripMargin,
      oLng("d")) _,
      Some("SELECT doc_id AS d FROM documents WHERE contains(text, 'the')")),

    ("q_text_search", sq(
      """SELECT ?d WHERE { ?lit <http://www.bigdata.com/rdf/search#search> "spark merge" ;
        |    <http://www.bigdata.com/rdf/search#matchAllTerms> "true" .
        |  ?doc <urn:p:text> ?lit ; <urn:p:doc_id> ?d }""".stripMargin,
      oLng("d")) _,
      Some("""SELECT doc_id AS d FROM documents
             | WHERE regexp_matches(lower(text), '(^|[^a-z0-9])spark([^a-z0-9]|$)')
             |   AND regexp_matches(lower(text), '(^|[^a-z0-9])merge([^a-z0-9]|$)')""".stripMargin)),

    ("q_search_prefix", sq(
      """SELECT ?d WHERE { ?lit <http://www.bigdata.com/rdf/search#search> "wind quer" ;
        |    <http://www.bigdata.com/rdf/search#prefixMatch> "true" ;
        |    <http://www.bigdata.com/rdf/search#matchAllTerms> "true" .
        |  ?doc <urn:p:text> ?lit ; <urn:p:doc_id> ?d }""".stripMargin,
      oLng("d")) _,
      // prefix semantics: each query term prefixes some token (word-boundary left)
      Some("""SELECT doc_id AS d FROM documents
             | WHERE regexp_matches(lower(text), '(^|[^a-z0-9])wind')
             |   AND regexp_matches(lower(text), '(^|[^a-z0-9])quer')""".stripMargin)),

    ("q_text_rank", sq(
      """SELECT ?d ?rank WHERE {
        |  ?lit <http://www.bigdata.com/rdf/search#search> "window hash join" ;
        |       <http://www.bigdata.com/rdf/search#rank> ?rank ;
        |       <http://www.bigdata.com/rdf/search#maxRank> 10 .
        |  ?doc <urn:p:text> ?lit ; <urn:p:doc_id> ?d }""".stripMargin,
      oLng("d"), oLng("rank")) _,
      // full cosine-relevance replica over the store's plain-literal corpus (every
      // StrE column of the table→triples mapping), same tokenizer / unit-tf-vector
      // scoring (TermFrequencyData.normalize) / tie-break as TextIndex
      Some {
        val strCols = Seq("region" -> "r_name", "nation" -> "n_name",
          "customer" -> "c_name", "customer" -> "c_mktsegment", "supplier" -> "s_name",
          "part" -> "p_name", "part" -> "p_brand", "part" -> "p_type",
          "orders" -> "o_orderstatus", "orders" -> "o_orderpriority",
          "lineitem" -> "l_returnflag", "lineitem" -> "l_linestatus",
          "events" -> "event_type", "events" -> "props",
          "documents" -> "text", "documents" -> "lang", "documents" -> "source")
        val union = strCols.map { case (t, c) => s"SELECT $c AS lex FROM $t" }
          .mkString(" UNION ALL ")
        s"""WITH lits AS (SELECT DISTINCT lex FROM ($union) WHERE lex IS NOT NULL),
           |tok AS (SELECT lex, t.tokn AS token FROM lits,
           |        unnest(regexp_split_to_array(lower(lex), '[^\\p{L}\\p{N}]+')) AS t(tokn)
           |        WHERE len(t.tokn) > 0),
           |tf AS (SELECT lex, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
           |mag AS (SELECT lex, sqrt(SUM(CAST(tf*tf AS DOUBLE))) AS m FROM tf GROUP BY 1),
           |w0 AS (SELECT tf.lex, token, CAST(tf AS DOUBLE)/mag.m AS w
           |       FROM tf JOIN mag USING (lex)),
           |wq AS (SELECT lex, token, -- Lucene norm-byte floor quantization (2 explicit mantissa bits)
           |        (1.0 + floor((w / (CASE WHEN w < pow(2, floor(log2(w))) THEN pow(2, floor(log2(w)))/2
           |                             WHEN w >= 2*pow(2, floor(log2(w))) THEN 2*pow(2, floor(log2(w)))
           |                             ELSE pow(2, floor(log2(w))) END) - 1.0) * 4) / 4.0)
           |        * (CASE WHEN w < pow(2, floor(log2(w))) THEN pow(2, floor(log2(w)))/2
           |                WHEN w >= 2*pow(2, floor(log2(w))) THEN 2*pow(2, floor(log2(w)))
           |                ELSE pow(2, floor(log2(w))) END) AS w FROM w0),
           |hits AS (SELECT lex, SUM((1.0/sqrt(3.0)) * w) AS rel
           |         FROM wq WHERE token IN ('window','hash','join') GROUP BY lex),
           |ranked AS (SELECT lex, row_number() OVER (ORDER BY round(rel, 12) DESC, lex ASC) AS rank FROM hits)
           |SELECT d.doc_id AS d, CAST(r.rank AS BIGINT) AS rank FROM ranked r
           |JOIN documents d ON d.text = r.lex WHERE r.rank <= 10""".stripMargin
      }),

    // geo:search magic-predicate service (GeoSpatial.java:64-84): packed
    // "lat#lon" literals inserted from event ids (SQL-reproducible derivation),
    // then an inCircle search — 2000 km around (30, 40), same region as
    // p_geo_circle's DataFrame-level oracle
    ("q_geo_service", ((s: SparkSession, dir: String) => {
      val withLoc = graft.engine.Update(Tpch.store(s, dir),
        """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
          |INSERT { ?e <urn:p:loc> ?loc } WHERE {
          |  ?e <urn:p:event_id> ?id .
          |  BIND(?id - FLOOR(?id/1.8e3)*1800 AS ?lm)
          |  BIND(?id*7 AS ?i7)
          |  BIND(?i7 - FLOOR(?i7/3.6e3)*3600 AS ?gm)
          |  BIND(?lm/1.0e1 - 9.0e1 AS ?la)
          |  BIND(?gm/1.0e1 - 1.8e2 AS ?lo)
          |  BIND(STRDT(CONCAT(STR(?la), "#", STR(?lo)), geo:geoSpatialLiteral) AS ?loc) }""".stripMargin)
      Engine.query(withLoc,
        """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
          |SELECT ?res ?lat ?lon WHERE {
          |  ?res geo:search "inCircle" ;
          |       geo:predicate <urn:p:loc> ;
          |       geo:spatialCircleCenter "30#40" ;
          |       geo:spatialCircleRadius "2000" ;
          |       geo:latValue ?lat ; geo:lonValue ?lon }""".stripMargin)
        .select(oStr("res"), oDbl("lat"), oDbl("lon"))
    }): Q,
      Some("""WITH g AS (SELECT event_id, (event_id % 1800)/10.0 - 90.0 AS lat,
             |                  ((event_id*7) % 3600)/10.0 - 180.0 AS lon FROM events)
             |SELECT 'urn:t:events:' || CAST(event_id AS VARCHAR) AS res, lat, lon FROM g
             |WHERE lat BETWEEN 30.0 - degrees(2000000.0/6371000.0)
             |              AND 30.0 + degrees(2000000.0/6371000.0)
             |  AND lon BETWEEN 40.0 - degrees(2000000.0/(6371000.0*greatest(0.01, cos(radians(30.0)))))
             |              AND 40.0 + degrees(2000000.0/(6371000.0*greatest(0.01, cos(radians(30.0)))))
             |  AND 2.0*6371000.0*asin(sqrt( pow(sin(radians(lat-30.0)/2),2)
             |      + cos(radians(30.0))*cos(radians(lat))*pow(sin(radians(lon-40.0)/2),2) )) <= 2000000.0""".stripMargin)),

    ("q_gas_service_bfs", ((s: SparkSession, dir: String) =>
      sq("""SELECT ?v ?lvl WHERE {
           |  SERVICE <http://www.bigdata.com/rdf/gas#service> {
           |    ?x <http://www.bigdata.com/rdf/gas#program> "BFS" ;
           |       <http://www.bigdata.com/rdf/gas#linkType> <urn:fk:o_custkey> ;
           |       <http://www.bigdata.com/rdf/gas#in> <urn:t:orders:1> ;
           |       <http://www.bigdata.com/rdf/gas#out> ?v ;
           |       <http://www.bigdata.com/rdf/gas#out1> ?lvl } }""".stripMargin)(s, dir)
        .select(col("v")("str").as("v"), col("lvl")("lng").as("lvl"))): Q,
      Some("""SELECT 'urn:t:orders:1' AS v, 0 AS lvl
             |UNION SELECT 'urn:t:customer:'||o_custkey, 1 FROM orders WHERE o_orderkey=1
             |UNION SELECT 'urn:t:orders:'||o2.o_orderkey, 2 FROM orders o1
             |  JOIN orders o2 ON o1.o_custkey=o2.o_custkey
             |  WHERE o1.o_orderkey=1 AND o2.o_orderkey<>1""".stripMargin)),

    // statement-pattern utility services (ServiceRegistry.java:140-147):
    // bd:values simulates VALUES, bd:sample samples an access path (DENSE over
    // a dimension-bounded pattern here so the result is the deterministic full
    // set), bd:slice.range binds a pattern's range count
    // the search-in-search service: keep incoming bindings whose subject links
    // to a full-text hit (correlated, evaluated against the frame)
    ("q_search_in_search", ((s: SparkSession, dir: String) =>
      sq("""SELECT (COUNT(*) AS ?cnt) WHERE {
           |  ?c a <urn:c:Customer> .
           |  SERVICE <http://www.bigdata.com/rdf/search#searchInSearch> {
           |    ?c <http://www.bigdata.com/rdf/search#searchInSearch> "automobile" .
           |  } }""".stripMargin, oLng("cnt"))(s, dir)): Q,
      Some("SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM customer WHERE c_mktsegment = 'AUTOMOBILE'")),

    ("q_service_values", ((s: SparkSession, dir: String) =>
      sq("""SELECT ?seg (COUNT(*) AS ?cnt) WHERE {
           |  SERVICE <http://www.bigdata.com/rdf#values> {
           |    <http://www.bigdata.com/rdf#serviceParam> <http://www.bigdata.com/rdf#values.var> ?seg .
           |    <http://www.bigdata.com/rdf#serviceParam> <http://www.bigdata.com/rdf#values.val> "AUTOMOBILE" .
           |    <http://www.bigdata.com/rdf#serviceParam> <http://www.bigdata.com/rdf#values.val> "BUILDING" .
           |  }
           |  ?c <urn:p:c_mktsegment> ?seg .
           |} GROUP BY ?seg""".stripMargin, oStr("seg"), oLng("cnt"))(s, dir)): Q,
      Some("""SELECT c_mktsegment AS seg, COUNT(*) AS cnt FROM customer
             |WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING') GROUP BY 1""".stripMargin)),

    ("q_service_sample", ((s: SparkSession, dir: String) =>
      sq("""SELECT ?n WHERE {
           |  SERVICE <http://www.bigdata.com/rdf#sample> {
           |    ?s <urn:p:n_name> ?n .
           |    <http://www.bigdata.com/rdf#serviceParam> <http://www.bigdata.com/rdf#sample.limit> 100 .
           |    <http://www.bigdata.com/rdf#serviceParam> <http://www.bigdata.com/rdf#sample.sampleType> "DENSE" .
           |  } }""".stripMargin, oStr("n"))(s, dir)): Q,
      Some("SELECT n_name AS n FROM nation")),

    ("q_service_slice", ((s: SparkSession, dir: String) =>
      sq("""SELECT ?cnt WHERE {
           |  SERVICE <http://www.bigdata.com/rdf#slice> {
           |    ?o <urn:p:o_orderstatus> ?st .
           |    <http://www.bigdata.com/rdf#serviceParam> <http://www.bigdata.com/rdf#slice.range> ?cnt .
           |  } }""".stripMargin, oLng("cnt"))(s, dir)): Q,
      Some("SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM orders")),

    // solution-set update extension (INSERT INTO / DELETE FROM %set +
    // INCLUDE join — sail/tck/BigdataSPARQLUpdateTest2.java, ast/ssets):
    // build a named set from nation, evict the low keys, INCLUDE-join back
    ("q_sset_update", ((s: SparkSession, dir: String) => {
      val updated = graft.engine.Update(Tpch.store(s, dir),
        """INSERT INTO %hot SELECT ?n ?name
          |WHERE { ?n <urn:p:n_name> ?name ; <urn:p:n_nationkey> ?k } ;
          |DELETE FROM %hot SELECT ?n ?name
          |WHERE { ?n <urn:p:n_name> ?name ; <urn:p:n_nationkey> ?k . FILTER(?k < 10) }""".stripMargin)
      Engine.query(updated,
        """SELECT ?name ?k WHERE { INCLUDE %hot .
          |  ?n <urn:p:n_nationkey> ?k } ORDER BY ?name""".stripMargin)
        .select(oStr("name"), oLng("k"))
    }): Q,
      Some("""SELECT n_name AS name, CAST(n_nationkey AS BIGINT) AS k
             | FROM nation WHERE n_nationkey >= 10 ORDER BY 1""".stripMargin)),

    ("q_update_insert", ((s: SparkSession, dir: String) => {
      val updated = graft.engine.Update(Tpch.store(s, dir),
        """INSERT DATA { <urn:t:region:99> a <urn:c:Region> .
          |  <urn:t:region:99> <urn:p:r_name> "ATLANTIS" } ;
          |DELETE { ?r <urn:p:r_name> ?n } INSERT { ?r <urn:p:r_name> "SUNK" }
          |WHERE { ?r <urn:p:r_name> ?n . FILTER(?n = "ATLANTIS") }""".stripMargin)
      Engine.query(updated,
        """SELECT ?name (COUNT(*) AS ?cnt) WHERE { ?r a <urn:c:Region> .
          |OPTIONAL { ?r <urn:p:r_name> ?name } } GROUP BY ?name ORDER BY ?name""".stripMargin)
        .select(oStr("name"), oLng("cnt"))
    }): Q,
      Some("""SELECT r_name AS name, COUNT(*) AS cnt FROM
             | (SELECT r_name FROM region UNION ALL SELECT 'SUNK') GROUP BY 1 ORDER BY 1""".stripMargin)),

    // WITH retargets bare template quads; USING overrides it as the WHERE dataset
    // (AST2BOpUpdate.java:474-512)
    ("q_update_using", ((s: SparkSession, dir: String) => {
      val updated = graft.engine.Update(Tpch.store(s, dir),
        """WITH <urn:g:marks>
          |INSERT { ?s <urn:p:marked> "u" }
          |USING <urn:g:supplier>
          |WHERE { ?s a ?c }""".stripMargin)
      Engine.query(updated,
        "SELECT ?x WHERE { GRAPH <urn:g:marks> { ?x <urn:p:marked> \"u\" } }")
        .select(oStr("x"))
    }): Q,
      Some("SELECT 'urn:t:supplier:' || CAST(s_suppkey AS VARCHAR) AS x FROM supplier")),

    // DELETE WHERE shorthand: the quad pattern is both template and WHERE clause
    ("q_delete_where", ((s: SparkSession, dir: String) => {
      val updated = graft.engine.Update(Tpch.store(s, dir),
        """DELETE WHERE { ?s <urn:fk:s_nationkey> <urn:t:nation:3> .
          |  ?s <urn:p:s_acctbal> ?v }""".stripMargin)
      Engine.query(updated,
        """SELECT ?nm WHERE { ?s <urn:p:s_name> ?nm .
          |FILTER NOT EXISTS { ?s <urn:p:s_acctbal> ?p } }""".stripMargin)
        .select(oStr("nm"))
    }): Q,
      Some("""SELECT s_name AS nm FROM supplier
             | WHERE s_nationkey = 3 OR s_acctbal IS NULL""".stripMargin)),

    // graph management: COPY slices + retargets a named graph (AST2BOpUpdate Copy)
    ("q_update_graph", ((s: SparkSession, dir: String) => {
      val updated = graft.engine.Update(Tpch.store(s, dir),
        "COPY GRAPH <urn:g:nation> TO GRAPH <urn:g:nation_copy>")
      Engine.query(updated,
        "SELECT ?nname WHERE { GRAPH <urn:g:nation_copy> { ?n <urn:p:n_name> ?nname } }")
        .select(oStr("nname"))
    }): Q,
      Some("SELECT n_name AS nname FROM nation")),

    // RDF*/SIDs: INSERT-WHERE template with an embedded-triple term, queried back
    // through the SPARQL* pattern
    ("q_rdfstar", ((s: SparkSession, dir: String) => {
      val updated = graft.engine.Update(Tpch.store(s, dir),
        """INSERT { << ?n <urn:p:locatedIn> ?r >> <urn:p:src> "tpch" }
          |WHERE { ?n <urn:fk:n_regionkey> ?r }""".stripMargin)
      Engine.query(updated,
        """SELECT ?nname WHERE {
          |  << ?n <urn:p:locatedIn> ?r >> <urn:p:src> "tpch" .
          |  ?n <urn:p:n_name> ?nname }""".stripMargin)
        .select(oStr("nname"))
    }): Q,
      Some("SELECT n_name AS nname FROM nation")),

    ("q_history", ((s: SparkSession, dir: String) => {
      // RDR history service: a redacting update leaves queryable change records
      val redacted = graft.engine.Update.applyWithHistory(Tpch.store(s, dir),
        """DELETE { ?n <urn:p:n_name> ?nm } INSERT { ?n <urn:p:n_name> "redacted" }
          |WHERE { ?n <urn:p:n_name> ?nm }""".stripMargin, commitTime = 12345L)
      Engine.query(redacted,
        """SELECT ?nm ?t WHERE {
          |  << ?n <urn:p:n_name> ?nm >> <blaze:history:removed> ?t .
          |  FILTER(?nm != "redacted") }""".stripMargin)
        .select(oStr("nm"), oLng("t"))
    }): Q,
      Some("SELECT n_name AS nm, CAST(12345 AS BIGINT) AS t FROM nation")),

    // Turtle collection in data + rdf:rest*/rdf:first walk in the query
    ("q_collection", ((s: SparkSession, dir: String) => {
      val updated = graft.engine.Update(Tpch.store(s, dir),
        "INSERT DATA { <urn:q:list> <urn:p:items> ( 10 20 30 ) . }")
      Engine.query(updated,
        """SELECT ?m WHERE { <urn:q:list> <urn:p:items> ?l .
          |  ?l (<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>)*/<http://www.w3.org/1999/02/22-rdf-syntax-ns#first> ?m }""".stripMargin)
        .select(oLng("m"))
    }): Q,
      Some("SELECT CAST(m AS BIGINT) AS m FROM (VALUES (10),(20),(30)) t(m)")),

    // truth maintenance: retracting a subclass axiom retracts its entailments
    ("q_truth_maint", ((s: SparkSession, dir: String) => {
      // the entailments are AT REST on disk (closedStore: closure computed
      // once at load and saved as p_id-partitioned parquet — the 100 TB
      // posture), so the timed work is what a production retraction costs:
      // the O(delta) DRed pass plus the query. Closure build cost is
      // q_inference's measurement, not this entry's.
      val closed = closedStore(s, dir)
      val tm = graft.engine.Update.withTruthMaintenance(closed,
        """DELETE DATA { <urn:c:Customer>
          |  <http://www.w3.org/2000/01/rdf-schema#subClassOf> <urn:c:Any> . }""".stripMargin)
      Engine.query(tm, "SELECT (COUNT(*) AS ?cnt) WHERE { ?x a <urn:c:Any> }")
        .select(oLng("cnt"))
    }): Q,
      Some("""SELECT (SELECT COUNT(*) FROM region) + (SELECT COUNT(*) FROM nation)
             | + (SELECT COUNT(*) FROM supplier) + (SELECT COUNT(*) FROM part)
             | + (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM lineitem)
             | + (SELECT COUNT(*) FROM events) + (SELECT COUNT(*) FROM documents) AS cnt""".stripMargin)),

    // query hints accepted and stripped; optimizer "None" keeps the author's order
    ("q_hint_order", sq(
      """PREFIX hint: <http://www.bigdata.com/queryHints#>
        |SELECT ?name ?bal WHERE {
        |  hint:Query hint:optimizer "None" .
        |  ?c a <urn:c:Customer> ; <urn:p:c_name> ?name ; <urn:p:c_acctbal> ?bal .
        |  FILTER(?bal > 9000.0) }""".stripMargin,
      oStr("name"), oDbl("bal")) _,
      Some("SELECT c_name AS name, c_acctbal AS bal FROM customer WHERE c_acctbal > 9000.0")),

    ("q_rio_roundtrip", ((s: SparkSession, dir: String) => {
      import s.implicits._
      val st = Tpch.store(s, dir)
      // NOTE (r16): checkpointing this slice to "deduplicate" the two
      // full-store scans below was tried and REVERTED — the two scans run as
      // CONCURRENT stages of the one fidelity-join job (wall ≈ one scan),
      // while the eager checkpoint serialized them (battery: 9.8 → 18.3 s)
      val nation = st.statements.filter(col("g").isNotNull &&
        col("g")("id") === graft.engine.TermIds.iriId("urn:g:nation"))
      val lines = graft.sources.Rio.toNQuadLines(nation).as[String]
      val back = graft.sources.Rio.statementsFromLines(lines)
      // roundtrip fidelity: every re-parsed statement matches an original by id triple
      val orig = nation.select(col("s")("id").as("sk"), col("p_id").as("pk"),
        col("o")("id").as("ok"))
      val matched = back.select(col("s")("id").as("sk"), col("p_id").as("pk"),
        col("o")("id").as("ok")).join(orig, Seq("sk", "pk", "ok"), "left_semi")
      matched.agg(count(lit(1)).as("cnt"))
    }): Q,
      Some("SELECT COUNT(*)*5 AS cnt FROM nation")),

    ("q_federation", ((s: SparkSession, dir: String) => {
      // remote SERVICE over the SPARQL 1.1 Protocol against a loopback endpoint:
      // exercises serialization, VALUES-vectored bindings, and JSON results parse
      val st = Tpch.store(s, dir)
      val srv = new graft.server.SparqlServer(st).start()
      try Engine.query(st,
        s"""SELECT ?nname ?rname WHERE {
           |  ?n <urn:p:n_name> ?nname ; <urn:fk:n_regionkey> ?r .
           |  SERVICE <http://127.0.0.1:${srv.boundPort}/sparql> {
           |    ?r <urn:p:r_name> ?rname } }""".stripMargin)
        .select(oStr("nname"), oStr("rname"))
      finally srv.stop() // service results materialize at compile; no later fetch
    }): Q,
      Some("""SELECT n_name AS nname, r_name AS rname FROM nation
             | JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    ("q_result_json", ((s: SparkSession, dir: String) => {
      // result-sink round trip under the oracle gate (§2.1 sinks): evaluate →
      // SPARQL-results-JSON serializer → protocol JSON parser → plain columns
      val st = Tpch.store(s, dir)
      val df = Engine.query(st,
        """SELECT ?nname ?nk WHERE { ?n <urn:p:n_name> ?nname ;
          |  <urn:p:n_nationkey> ?nk }""".stripMargin)
      val json = graft.engine.SparqlResults.toJson(df)
      graft.engine.RemoteService.parseResults(s, json)
        .select(oStr("nname"), oLng("nk"))
    }): Q,
      Some("SELECT n_name AS nname, n_nationkey AS nk FROM nation")),

    ("q_http_select", ((s: SparkSession, dir: String) => {
      // SPARQL 1.1 Protocol endpoint end-to-end under the oracle gate: HTTP
      // POST (urlencoded form) → server evaluates → JSON body → parser
      val st = Tpch.store(s, dir)
      val srv = new graft.server.SparqlServer(st).start()
      try {
        val q = "SELECT ?rname WHERE { ?r <urn:p:r_name> ?rname }"
        val form = "query=" + java.net.URLEncoder.encode(q,
          java.nio.charset.StandardCharsets.UTF_8)
        val req = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/sparql"))
          .header("Content-Type", "application/x-www-form-urlencoded")
          .header("Accept", "application/sparql-results+json")
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(form)).build()
        val resp = java.net.http.HttpClient.newHttpClient()
          .send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200, s"endpoint HTTP ${resp.statusCode()}")
        graft.engine.RemoteService.parseResults(s, resp.body()).select(oStr("rname"))
      } finally srv.stop()
    }): Q,
      Some("SELECT r_name AS rname FROM region")),

    ("q_stream_window", ((s: SparkSession, dir: String) => {
      // Structured Streaming end-to-end: file-source micro-batches through the
      // windowed aggregation into a memory sink (complete mode), then the sink table
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      // State-sized partitioning (see streamSession): hour×type window state
      // is tiny, and 32 state-store provider inits serialize on the
      // process-wide loadedProviders lock
      val ss = streamSession(s, dir, "events.parquet")
      val ev = ss.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts2", tsStamp(sch("ts").dataType))
      val agg = ev.groupBy(window(col("ts2"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(round(col("value") * 100)).as("cents"))
        .select(col("w")("start").as("window_start"), col("event_type"),
          col("cnt"), col("cents").cast("long").as("cents"))
      val qn = "qsw_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // AvailableNow: drain everything in bounded micro-batches then self-stop —
      // the battery measures the operator, not open-ended trigger polling.
      val q = agg.writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("complete").start()
      try q.awaitTermination() finally q.stop()
      // detach the result from the memory sink so the sink table (one per
      // invocation) is dropped instead of accumulating across battery runs
      val out = ss.table(qn).localCheckpoint()
      ss.catalog.dropTempView(qn)
      out
    }): Q,
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
             | COUNT(*) AS cnt, CAST(SUM(ROUND(value*100, 0)) AS BIGINT) AS cents
             | FROM events GROUP BY 1, 2""".stripMargin)),

    ("q_stream_dedup", ((s: SparkSession, dir: String) => {
      // Structured Streaming exact dedup: dropDuplicates keyed on the content
      // hash holds first-seen state across micro-batches (the streaming shape of
      // the exact-dedup pipeline op — at scale the same query runs with a
      // watermark bounding the state store); append-mode memory sink accumulates
      // one row per first-seen hash
      val sch = s.read.parquet(s"$dir/documents.parquet").schema
      // state-sized partitioning (see streamSession): first-seen hash state
      // per partition is kilobytes at this SF
      val ss = streamSession(s, dir, "documents.parquet")
      val stream = ss.readStream.schema(sch)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val dedup = stream.select(md5(col("text")).as("h")).dropDuplicates("h")
      val qn = "qsd_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = dedup.writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      try q.awaitTermination() finally q.stop()
      // evaluate eagerly and drop the sink table: the memory sink holds every
      // unique hash row in driver memory, one table per invocation otherwise
      val uniq = ss.table(qn).count()
      ss.catalog.dropTempView(qn)
      import s.implicits._
      Seq(uniq).toDF("uniq")
    }): Q,
      Some("SELECT COUNT(DISTINCT md5(text)) AS uniq FROM documents")),

    ("q_rio_rdfxml", ((s: SparkSession, dir: String) => {
      // RDF/XML ingestion: serialize nation as RDF/XML, parse it back, query it
      val rows = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"))
        .collect().sortBy(_.getLong(0))
      val xml = "<?xml version=\"1.0\"?>\n" +
        "<rdf:RDF xmlns:rdf=\"http://www.w3.org/1999/02/22-rdf-syntax-ns#\" xmlns:p=\"urn:p:\">" +
        rows.map(r => s"""<rdf:Description rdf:about="urn:t:nation:${r.getLong(0)}">""" +
          s"""<p:n_name>${r.getString(1)}</p:n_name></rdf:Description>""").mkString +
        "</rdf:RDF>"
      val st = new graft.model.GraftStore(s, graft.sources.Rio.readRdfXml(s, xml))
      Engine.query(st, "SELECT ?nm WHERE { ?n <urn:p:n_name> ?nm }").select(oStr("nm"))
    }): Q,
      Some("SELECT n_name AS nm FROM nation")),

    ("q_jsonld", ((s: SparkSession, dir: String) => {
      // JSON-LD 1.1 ingestion: nations as node objects exercising @nest (the
      // region key is grouped under a nesting term), @json (the key also rides
      // as an rdf:JSON literal), and @included (regions carried alongside,
      // linked only via the id-coerced "region" term)
      val nations = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long"), col("n_name"), col("n_regionkey").cast("long"))
        .collect().sortBy(_.getLong(0))
      val regions = read(s, dir, "region")
        .select(col("r_regionkey").cast("long"), col("r_name"))
        .collect().sortBy(_.getLong(0))
      val doc =
        s"""{
           |  "@context": {
           |    "name": "urn:p:jl_name", "rname": "urn:p:jl_rname",
           |    "meta": "@nest",
           |    "region": {"@id": "urn:p:jl_region", "@type": "@id"},
           |    "blob": {"@id": "urn:p:jl_blob", "@type": "@json"}
           |  },
           |  "@graph": [
           |${nations.map(n =>
               s"""    {"@id": "urn:jl:nation:${n.getLong(0)}", "name": "${n.getString(1)}",
                  |     "meta": {"region": "urn:jl:region:${n.getLong(2)}",
                  |              "blob": {"rk": ${n.getLong(2)}, "nk": ${n.getLong(0)}}}}""".stripMargin)
              .mkString(",\n")}
           |  ],
           |  "@included": [
           |${regions.map(r =>
               s"""    {"@id": "urn:jl:region:${r.getLong(0)}", "rname": "${r.getString(1)}"}""")
              .mkString(",\n")}
           |  ]
           |}""".stripMargin
      val st = new graft.model.GraftStore(s, graft.sources.Rio.readJsonLd(s, doc))
      Engine.query(st,
        """SELECT ?name ?rname ?blob WHERE {
          |  ?n <urn:p:jl_name> ?name ; <urn:p:jl_region> ?r ; <urn:p:jl_blob> ?blob .
          |  ?r <urn:p:jl_rname> ?rname }""".stripMargin)
        .select(oStr("name"), oStr("rname"), oStr("blob"))
    }): Q,
      // @json canonicalization sorts keys: nk before rk
      Some("""SELECT n_name AS name, r_name AS rname,
             |  '{"nk":' || n_nationkey || ',"rk":' || n_regionkey || '}' AS blob
             |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin)),

    // OWL-subset rules (RuleOwlInverseOf): declare an inverse, close, query reversed
    ("q_inference_owl", ((s: SparkSession, dir: String) => {
      val withSchema = graft.engine.Update(Tpch.store(s, dir),
        """INSERT DATA { <urn:fk:o_custkey>
          |  <http://www.w3.org/2002/07/owl#inverseOf> <urn:rev:custOrders> . }""".stripMargin)
      val closed = graft.inference.Rdfs.closure(withSchema)
      Engine.query(closed,
        "SELECT (COUNT(*) AS ?cnt) WHERE { ?c <urn:rev:custOrders> ?o }")
        .select(oLng("cnt"))
    }): Q,
      Some("SELECT COUNT(*) AS cnt FROM orders")),

    ("q_inference_sym", ((s: SparkSession, dir: String) => {
      val withSchema = graft.engine.Update(Tpch.store(s, dir),
        """INSERT DATA { <urn:fk:s_nationkey>
          |  a <http://www.w3.org/2002/07/owl#SymmetricProperty> . }""".stripMargin)
      val closed = graft.inference.Rdfs.closure(withSchema)
      Engine.query(closed,
        "SELECT (COUNT(*) AS ?cnt) WHERE { ?a <urn:fk:s_nationkey> ?b }")
        .select(oLng("cnt"))
    }): Q,
      // symmetric closure doubles the supplier→nation link set (reversed edges are
      // all distinct from originals: different subject kind)
      Some("SELECT 2*COUNT(*) AS cnt FROM supplier")),

    ("q_inference", ((s: SparkSession, dir: String) => {
      val closed = graft.inference.Rdfs.closure(Tpch.store(s, dir))
      Engine.query(closed, "SELECT (COUNT(*) AS ?cnt) WHERE { ?s a <urn:c:Any> }")
        .select(oLng("cnt"))
    }): Q,
      Some("""SELECT (SELECT COUNT(*) FROM region) + (SELECT COUNT(*) FROM nation)
             | + (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier)
             | + (SELECT COUNT(*) FROM part) + (SELECT COUNT(*) FROM orders)
             | + (SELECT COUNT(*) FROM lineitem) + (SELECT COUNT(*) FROM events)
             | + (SELECT COUNT(*) FROM documents) AS cnt""".stripMargin))
  )

  // ======== pipeline operator battery (documents / embeddings tables) ========
  private def read(s: SparkSession, dir: String, name: String): DataFrame = {
    // driver parquet uses TIMESTAMP(NANOS); tolerate sessions built without the flag
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.read.parquet(s"$dir/$name.parquet")
  }
  private def docs(s: SparkSession, dir: String): DataFrame = read(s, dir, "documents")

  /** DuckDB replica of `rounds` greedy BPE merge rounds, ending with the last
    * merge APPLIED (so `seq_{rounds+1}` holds fully-encoded word pieces); the
    * caller appends the final CTEs + SELECT via `tail`. Mirrors the unrolled
    * p_bpe_train oracle: per round, count adjacent pairs weighted by word
    * frequency, pick the (cnt desc, l, r) argmax, select odd-ranked positions
    * of each match island (greedy left-to-right non-overlap), and rebuild.
    */
  private def bpeSql(rounds: Int, tail: String): String = {
    val b = new StringBuilder
    b ++= """WITH wf AS (SELECT t.w, COUNT(*) AS freq FROM documents,
            |  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(w)
            |  WHERE length(t.w) > 0 GROUP BY t.w),
            |seq_1 AS (SELECT w, freq,
            |  list_transform(generate_series(1, length(w)), i -> w[i:i]) AS seq FROM wf),
            |""".stripMargin
    for (r <- 1 to rounds) {
      val n = r + 1
      b ++= s"""bg_$r AS (SELECT w, freq, seq, unnest(generate_series(1, len(seq)-1)) AS j FROM seq_$r),
               |pc_$r AS (SELECT seq[j] AS l, seq[j+1] AS r, SUM(freq) AS cnt FROM bg_$r GROUP BY 1, 2),
               |top_$r AS (SELECT l, r, cnt FROM pc_$r ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
               |mm_$r AS (SELECT b.w, b.j FROM bg_$r b, top_$r t WHERE b.seq[b.j] = t.l AND b.seq[b.j+1] = t.r),
               |isl_$r AS (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS grp FROM mm_$r),
               |sel_$r AS (SELECT w, j FROM (SELECT w, j,
               |    ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY j) AS k FROM isl_$r) t WHERE k % 2 = 1),
               |pos_$r AS (SELECT w, freq, seq, unnest(generate_series(1, len(seq))) AS p FROM seq_$r),
               |seq_$n AS (
               |  SELECT p1.w, any_value(p1.freq) AS freq,
               |    list(CASE WHEN s.j IS NOT NULL THEN p1.seq[p1.p] || p1.seq[p1.p+1]
               |              ELSE p1.seq[p1.p] END ORDER BY p1.p) AS seq
               |  FROM pos_$r p1
               |  LEFT JOIN sel_$r s ON s.w = p1.w AND s.j = p1.p
               |  LEFT JOIN sel_$r s2 ON s2.w = p1.w AND s2.j = p1.p - 1
               |  WHERE s2.j IS NULL
               |  GROUP BY p1.w),
               |""".stripMargin
    }
    b ++= tail
    b.toString
  }
  private def emb(s: SparkSession, dir: String): DataFrame = read(s, dir, "embeddings")

  // events.ts physical-type normalization — canonical copy lives in pipeline.Events
  private def tsEpochUs(df: DataFrame): Column =
    pipeline.Events.tsEpochUs(df.schema("ts").dataType)
  private def tsStamp(dt: org.apache.spark.sql.types.DataType): Column =
    pipeline.Events.tsStamp(dt)

  /** Stateful-stream shuffle partitioning sized to the STATE, not the batch
    * CPUs. Every state partition instantiates its own state-store provider
    * per micro-batch, and provider init serializes process-wide (the
    * `StateStore.loadedProviders` lock — thread dumps show 32 tasks queued
    * BLOCKED on it, ~1.1 s each of non-CPU wall, while checkpoint-dir
    * creation runs under the lock). Kilobyte state across 32 stores is pure
    * store-init overhead; derive the count from the source bytes instead
    * (~32 MB of source per state partition), clamped to the session's
    * configured parallelism so real-scale state still fans out.
    */
  private def streamStatePartitions(s: SparkSession, dir: String, file: String): Int = {
    val bytes = new java.io.File(s"$dir/$file").length()
    val cap = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(8, math.min(cap, ((bytes + (32L << 20) - 1) / (32L << 20)).toInt))
  }

  /** The session a stateful stream entry runs on (its readStream, memory
    * sink and sink table): a sibling of `s` with the state-sized
    * shuffle-partition count, which the stream pins at start. The caller's
    * conf is never written, so concurrent planning on `s` is untouched. */
  private def streamSession(s: SparkSession, dir: String, file: String): SparkSession = {
    val ss = graft.model.GraftStore.siblingSession(s)
    ss.conf.set("spark.sql.shuffle.partitions", streamStatePartitions(s, dir, file).toString)
    ss
  }

  private val pipelineQueries: Seq[(String, Q, Option[String])] = Seq(

    ("p_dedup_exact", ((s: SparkSession, dir: String) =>
      Dedup.exactKeepers(docs(s, dir), "doc_id", "text")): Q,
      Some("SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text")),

    ("p_dedup_minhash", ((s: SparkSession, dir: String) =>
      // md5 hash family: same operator machinery (explode → partial-agg mins →
      // band-bucket join → signature-estimated jaccard), engine-portable hashes
      // so the oracle reproduces signatures and candidate pairs bit-for-bit.
      // Production callers keep the default xxhash64 family (k× cheaper mixing).
      Dedup.minhashPairs(docs(s, dir), "doc_id", "text",
        family = Dedup.md5Family)): Q,
      Some("""WITH sh AS (SELECT doc_id AS id,
             |  list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' '))) AS sh
             | FROM documents),
             |sig AS (SELECT id, list_transform(generate_series(0, 31),
             |    i -> list_aggregate(list_transform(sh, s -> md5(md5(s) || '#' || i)), 'min')) AS sig
             |  FROM sh),
             |banded AS (SELECT id, sig, b,
             |    md5(array_to_string(sig[b*4+1 : b*4+4], ',') || '@' || b) AS bh
             |  FROM sig, generate_series(0, 7) t(b)),
             |cand AS (SELECT DISTINCT l.id AS a, r.id AS b, l.sig AS siga, r.sig AS sigb
             |  FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.id < r.id),
             |est AS (SELECT a, b,
             |    CAST(len(list_filter(list_zip(siga, sigb), p -> p[1] = p[2])) AS DOUBLE) / 32 AS est_jaccard
             |  FROM cand)
             |SELECT a, b, est_jaccard FROM est WHERE est_jaccard >= 0.7""".stripMargin)),

    ("p_dedup_simhash", ((s: SparkSession, dir: String) =>
      // 60-bit md5-derived token hash (engine-portable; see p_dedup_minhash) —
      // same weighted-bit-vote machinery, oracle reproduces the fingerprints
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text",
        tokenHash = Dedup.md5TokenHash, nBits = 60)): Q,
      Some("""WITH toks AS (SELECT doc_id AS id, t.tok, COUNT(*) AS tf
             |  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(tok)
             |  GROUP BY 1, 2),
             |th AS (SELECT id, tf, list_reduce(list_transform(generate_series(1, 15),
             |    i -> CAST(instr('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)),
             |    (a, b) -> a * 16 + b) AS th FROM toks),
             |bits AS (SELECT id, b, SUM(CASE WHEN (th >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
             |  FROM th, generate_series(0, 59) t(b) GROUP BY 1, 2),
             |fp AS (SELECT id, CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS h
             |  FROM bits GROUP BY id),
             |chunked AS (SELECT id, h, c, (h >> (c*15)) & 32767 AS cv
             |  FROM fp, generate_series(0, 3) t(c))
             |SELECT DISTINCT l.id AS a, r.id AS b,
             |  CAST(bit_count(xor(l.h, r.h)) AS INTEGER) AS hamming
             |FROM chunked l JOIN chunked r ON l.c = r.c AND l.cv = r.cv AND l.id < r.id
             |WHERE bit_count(xor(l.h, r.h)) <= 3""".stripMargin)),

    ("p_stratified", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.stratifiedSample(docs(s, dir), "lang", "doc_id",
        Map("en" -> 2, "de" -> 4), defaultRate = 8)
        .select(col("doc_id"), col("lang"))): Q,
      Some("""SELECT doc_id, lang FROM documents
             |WHERE doc_id % (CASE WHEN lang='en' THEN 2 WHEN lang='de' THEN 4 ELSE 8 END) = 0""".stripMargin)),

    ("p_asof_join", ((s: SparkSession, dir: String) => {
      val ev = read(s, dir, "events")
      val l = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      // dedupe the build side per (key, time) so the asof winner is unambiguous
      val r = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
      graft.engine.DfOps.asofJoin(l, r, "user_id", "ts", Seq("view_id"))
        .select(col("event_id"), col("user_id"), col("matched_view_id"))
    }): Q,
      Some("""WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase'),
             |r AS (SELECT user_id, ts, MAX(event_id) AS view_id
             |      FROM events WHERE event_type='view' GROUP BY 1, 2)
             |SELECT l.event_id, l.user_id, r.view_id AS matched_view_id
             |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    ("p_range_join", ((s: SparkSession, dir: String) => {
      val bands = s.range(0, 25).select(col("id").as("band"),
        (col("id") * col("id") * lit(1000.0)).as("lo"),
        ((col("id") + 1) * (col("id") + 1) * lit(1000.0)).as("hi"))
      graft.engine.DfOps.rangeJoin(
        read(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        "o_totalprice", bands, "lo", "hi", band = 50000.0)
        .select(col("o_orderkey"), col("band"))
    }): Q,
      Some("""WITH b AS (SELECT b AS band, b*b*1000.0 AS lo, (b+1)*(b+1)*1000.0 AS hi
             |  FROM generate_series(0, 24) t(b))
             |SELECT o_orderkey, band FROM orders JOIN b
             |  ON o_totalprice >= lo AND o_totalprice < hi""".stripMargin)),

    ("p_temperature_sample", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.temperatureSample(docs(s, dir), "source", "doc_id",
        "n_chars", temperature = 2.0, targetFrac = 0.5)
        .select(col("doc_id"), col("source"))): Q,
      Some("""WITH m AS (SELECT source, CAST(SUM(n_chars) AS DOUBLE) AS m
             |  FROM documents GROUP BY source),
             |w AS (SELECT source, m, POW(m, 1.0/2.0) AS w FROM m),
             |t AS (SELECT SUM(m) AS tm, SUM(w) AS tw FROM w),
             |r AS (SELECT source, LEAST(1.0, 0.5 * tm * w / (tw * m)) AS rate FROM w, t),
             |u AS (SELECT doc_id, source, list_reduce(list_transform(generate_series(1, 15),
             |    i -> CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             |    (a, b) -> a * 16 + b) / POW(2.0, 60) AS u FROM documents)
             |SELECT u.doc_id, u.source FROM u JOIN r USING (source) WHERE u.u < r.rate""".stripMargin)),

    // deterministic train/val/test fold assignment (5% val, 5% test): a pure
    // per-row md5-uniform function of doc_id — stable under re-runs and corpus
    // growth, no shuffle
    ("p_split", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.trainValTestSplit(docs(s, dir), "doc_id",
        valFrac = 0.05, testFrac = 0.05)
        .select(col("doc_id"), col("source"), col("fold"))): Q,
      Some("""WITH u AS (SELECT doc_id, source,
             |  list_reduce(list_transform(generate_series(1, 15),
             |    i -> CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             |    (a, b) -> a * 16 + b) / POW(2.0, 60) AS u FROM documents)
             |SELECT doc_id, source,
             |  CASE WHEN u < 0.05 THEN 'val' WHEN u < 0.10 THEN 'test'
             |       ELSE 'train' END AS fold
             |FROM u""".stripMargin)),

    // deterministic shard manifest: md5-routed shards + per-shard doc count,
    // char mass, and an order-independent 31-bit-fold checksum — the
    // reproducible-export primitive (consumers re-derive and validate shards)
    ("p_shard_manifest", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.shardManifest(docs(s, dir), "doc_id", "text", 16)): Q,
      Some("""WITH h AS (SELECT
             |  list_reduce(list_transform(generate_series(1, 15),
             |    i -> CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)),
             |    (a, b) -> a * 16 + b) % 16 AS shard,
             |  CAST(length(text) AS BIGINT) AS len,
             |  list_reduce(list_transform(generate_series(1, 15),
             |    i -> CAST(instr('0123456789abcdef', substr(md5(text), i, 1)) - 1 AS BIGINT)),
             |    (a, b) -> a * 16 + b) % 2147483648 AS h31
             | FROM documents)
             |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(len) AS BIGINT) AS n_chars,
             |  CAST(SUM(h31) AS BIGINT) AS checksum
             |FROM h GROUP BY shard""".stripMargin)),

    // one-pass per-column dataset profile (rows/nulls/distinct/min/max) — the
    // pre-training QA audit, a single scan with map-side partials
    ("p_profile", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.profile(docs(s, dir),
        Seq("doc_id", "lang", "source", "n_chars"))): Q,
      Some(Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           | COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
           | CAST(MIN($c) AS VARCHAR) AS min_value, CAST(MAX($c) AS VARCHAR) AS max_value
           | FROM documents""".stripMargin).mkString("\nUNION ALL\n"))),

    ("p_pack_sequences", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.packSequences(docs(s, dir), "source", "doc_id",
        "text", window = 2048)): Q,
      Some("""WITH t AS (SELECT source, doc_id,
             |    len(regexp_split_to_array(trim(lower(text)), '\s+')) AS toks FROM documents),
             |c AS (SELECT source, doc_id, toks,
             |    SUM(toks) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
             |SELECT source, CAST(FLOOR((cum - toks) / 2048.0) AS BIGINT) AS bin,
             |  COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS sum_toks
             |FROM c GROUP BY 1, 2""".stripMargin)),

    ("p_curate", ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      graft.pipeline.Curate.curate(
        d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", "lang", Seq("en", "de"), minScore = 0.4)
    }): Q,
      Some("""WITH f AS (SELECT doc_id, text,
             |  CAST(length(text) AS DOUBLE) AS chars,
             |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS words,
             |  CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS DOUBLE) AS punct,
             |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
             |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |       t -> t IN ('the','of','and','to','a','in','is','it','that','was','for','on','are','with','as','be','at','by','this','have','from'))) AS DOUBLE) AS stop
             | FROM documents WHERE doc_id % 50 <> 0 AND lang IN ('en','de')),
             |q AS (SELECT doc_id, text FROM f WHERE
             |  least(words/20.0, 1.0)*0.25 + least((stop/words)*3.0, 1.0)*0.35 +
             |  greatest(0.0, 1.0 - (punct/chars)*8.0)*0.2 + greatest(0.0, 1.0 - (digits/chars)*5.0)*0.2 >= 0.4),
             |keep AS (SELECT min(doc_id) AS doc_id, text FROM q GROUP BY text),
             |sh AS (SELECT doc_id, list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' '))) AS sh
             |  FROM q),
             |pg AS (SELECT DISTINCT g FROM (SELECT unnest(list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' ')))) AS g
             |  FROM documents WHERE doc_id % 50 = 0)),
             |bad AS (SELECT DISTINCT s.doc_id FROM sh s, pg WHERE list_contains(s.sh, pg.g))
             |SELECT k.doc_id FROM keep k LEFT JOIN bad b ON k.doc_id = b.doc_id
             |WHERE b.doc_id IS NULL""".stripMargin)),

    ("p_decontam", ((s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      // stand-in benchmark set: every 50th document; flag the rest on 3-gram overlap
      graft.pipeline.Decontaminate.overlap(
        d.filter(col("doc_id") % 50 =!= 0), d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text")
    }): Q,
      Some("""WITH sh AS (SELECT doc_id, list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' '))) AS sh
             |  FROM documents),
             |pg AS (SELECT DISTINCT g FROM (SELECT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0)),
             |cg AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0)
             |SELECT cg.doc_id, COUNT(DISTINCT cg.g) AS n_overlap
             |FROM cg JOIN pg ON cg.g = pg.g
             |GROUP BY cg.doc_id
             |HAVING COUNT(DISTINCT cg.g) >= 1""".stripMargin)),

    ("p_ngram_jaccard", ((s: SparkSession, dir: String) =>
      Dedup.minShinglePairs(docs(s, dir), "doc_id", "text")): Q,
      Some("""WITH sh AS (SELECT doc_id AS id,
             |  list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' '))) AS sh
             | FROM documents),
             |k AS (SELECT id, sh, list_aggregate(sh, 'min') AS key FROM sh)
             |SELECT a, b, jaccard FROM (
             |  SELECT l.id AS a, r.id AS b,
             |    CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
             |      / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) AS jaccard
             |  FROM k l JOIN k r ON l.key = r.key AND l.id < r.id)
             |WHERE jaccard >= 0.5""".stripMargin)),

    ("p_dedup_cluster", ((s: SparkSession, dir: String) =>
      Dedup.dupClusters(docs(s, dir), "doc_id", "text")): Q,
      // the oracle rebuilds the same blocked candidate pairs, then components via
      // recursive transitive closure with MIN-id labeling
      Some("""WITH RECURSIVE sh AS (SELECT doc_id AS id,
             |  list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' '))) AS sh
             | FROM documents),
             |k AS (SELECT id, sh, list_aggregate(sh, 'min') AS key FROM sh),
             |pairs AS (SELECT a, b FROM (
             |  SELECT l.id AS a, r.id AS b,
             |    CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
             |      / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) AS jaccard
             |  FROM k l JOIN k r ON l.key = r.key AND l.id < r.id)
             |  WHERE jaccard >= 0.5),
             |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, a FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
             |SELECT a AS doc_id, MIN(b) AS keeper FROM reach GROUP BY a""".stripMargin)),

    ("p_ann_brute", ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val firstId = e.agg(min("vec_id")).first().getLong(0)
      Similarity.topKForId(e, "vec_id", "embedding", firstId, 10)
        .select(col("neighbor"), round(col("score"), 6).as("score"))
    }): Q,
      // oracle mirrors the engine's sequential-fold cosine exactly (list_reduce is
      // left-to-right, float→double per element) so doubles are bit-identical
      Some("""WITH q AS (SELECT embedding AS qv FROM embeddings
             |          WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
             |sc AS (SELECT e.vec_id AS neighbor,
             |  list_reduce(list_transform(generate_series(1, len(e.embedding)),
             |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x,y) -> x+y)
             |  / ( sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
             |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x,y) -> x+y))
             |    * sqrt(list_reduce(list_transform(generate_series(1, len(q.qv)),
             |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x,y) -> x+y)) ) AS score
             | FROM embeddings e, q
             | WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings))
             |SELECT neighbor, round(score, 6) AS score FROM sc
             |ORDER BY score DESC, neighbor ASC LIMIT 10""".stripMargin)),

    // product-quantization ANN (ADC): 8 subspaces × 16 codes, deterministic
    // first-16 codebooks; candidates scanned as codes, distances as m lookups
    ("p_ann_pq", ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val firstId = e.agg(min("vec_id")).first().getLong(0)
      Similarity.pqTopK(e, "vec_id", "embedding", firstId, 10)
        .select(col("neighbor"), round(col("dist"), 6).as("dist"))
    }): Q,
      Some("""WITH d AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |c16 AS (SELECT vec_id, v FROM d ORDER BY vec_id LIMIT 16),
             |cb AS (SELECT g.ms, row_number() OVER (PARTITION BY g.ms ORDER BY c.vec_id) - 1 AS code,
             |    c.v[g.ms*8+1 : g.ms*8+8] AS cv
             |  FROM c16 c, generate_series(0, 7) AS g(ms)),
             |sub AS (SELECT d.vec_id AS id, g.ms, d.v[g.ms*8+1 : g.ms*8+8] AS sv
             |  FROM d, generate_series(0, 7) AS g(ms)),
             |dist AS (SELECT s.id, s.ms, cb.code,
             |    list_reduce(list_transform(generate_series(1, 8),
             |      i -> (s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i])), (x, y) -> x + y) AS d2
             |  FROM sub s JOIN cb USING (ms)),
             |enc AS (SELECT id, ms, code FROM (
             |    SELECT *, row_number() OVER (PARTITION BY id, ms ORDER BY d2 ASC, code ASC) AS rn
             |    FROM dist) WHERE rn = 1),
             |qid AS (SELECT min(vec_id) AS q FROM embeddings),
             |qtab AS (SELECT dd.ms, dd.code, dd.d2 AS qd FROM dist dd, qid WHERE dd.id = qid.q),
             |adc AS (SELECT e.id,
             |    list_reduce(list(q.qd ORDER BY e.ms), (x, y) -> x + y) AS dist
             |  FROM enc e JOIN qtab q USING (ms, code), qid WHERE e.id != qid.q GROUP BY e.id)
             |SELECT id AS neighbor, round(dist, 6) AS dist FROM adc
             |ORDER BY dist ASC, neighbor ASC LIMIT 10""".stripMargin)),

    // IVF-PQ: coarse cells + PQ-encoded residuals + probed-cell ADC — the
    // composed memory-bound ANN shape (oracle replays the full pipeline with
    // the same deterministic first-k seeding and sequential L2 folds)
    ("p_ann_ivfpq", ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val firstId = e.agg(min("vec_id")).first().getLong(0)
      Similarity.ivfPqTopK(e, "vec_id", "embedding", firstId, 10)
        .select(col("neighbor"), round(col("dist"), 6).as("dist"))
    }): Q,
      Some("""WITH d AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             |  FROM embeddings),
             |c AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell, v AS cv
             |  FROM (SELECT id, v FROM d ORDER BY id LIMIT 8)),
             |asg0 AS (SELECT d.id, d.v, c.cell,
             |    list_reduce(list_transform(generate_series(1, len(d.v)),
             |      i -> (d.v[i] - c.cv[i]) * (d.v[i] - c.cv[i])), (x, y) -> x + y) AS d2
             |  FROM d, c),
             |asg AS (SELECT id, v, cell FROM (
             |    SELECT *, row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cell ASC) AS rn
             |    FROM asg0) WHERE rn = 1),
             |res AS (SELECT a.id, a.cell,
             |    list_transform(generate_series(1, len(a.v)), i -> a.v[i] - c.cv[i]) AS r
             |  FROM asg a JOIN c USING (cell)),
             |cb AS (SELECT g.ms, row_number() OVER (PARTITION BY g.ms ORDER BY r16.id) - 1 AS code,
             |    r16.r[g.ms*8+1 : g.ms*8+8] AS cv
             |  FROM (SELECT id, r FROM res ORDER BY id LIMIT 16) r16,
             |       generate_series(0, 7) AS g(ms)),
             |sub AS (SELECT res.id, res.cell, g.ms, res.r[g.ms*8+1 : g.ms*8+8] AS sv
             |  FROM res, generate_series(0, 7) AS g(ms)),
             |dist AS (SELECT s.id, s.cell, s.ms, cb.code,
             |    list_reduce(list_transform(generate_series(1, 8),
             |      i -> (s.sv[i] - cb.cv[i]) * (s.sv[i] - cb.cv[i])), (x, y) -> x + y) AS d2
             |  FROM sub s JOIN cb USING (ms)),
             |enc AS (SELECT id, cell, ms, code FROM (
             |    SELECT *, row_number() OVER (PARTITION BY id, ms ORDER BY d2 ASC, code ASC) AS rn
             |    FROM dist) WHERE rn = 1),
             |qid AS (SELECT min(vec_id) AS q FROM embeddings),
             |qcells AS (SELECT c.cell, c.cv FROM c, d, qid WHERE d.id = qid.q
             |  ORDER BY list_reduce(list_transform(generate_series(1, len(d.v)),
             |    i -> (d.v[i] - c.cv[i]) * (d.v[i] - c.cv[i])), (x, y) -> x + y) ASC, c.cell ASC
             |  LIMIT 3),
             |qres AS (SELECT qc.cell,
             |    list_transform(generate_series(1, len(d.v)), i -> d.v[i] - qc.cv[i]) AS qr
             |  FROM qcells qc, d, qid WHERE d.id = qid.q),
             |qtab AS (SELECT qres.cell, cb.ms, cb.code,
             |    list_reduce(list_transform(generate_series(1, 8),
             |      i -> (qres.qr[cb.ms*8 + i] - cb.cv[i]) * (qres.qr[cb.ms*8 + i] - cb.cv[i])),
             |      (x, y) -> x + y) AS qd
             |  FROM qres, cb),
             |adc AS (SELECT e.id, list_reduce(list(q.qd ORDER BY e.ms), (x, y) -> x + y) AS dist
             |  FROM enc e JOIN qtab q USING (cell, ms, code), qid WHERE e.id != qid.q GROUP BY e.id)
             |SELECT id AS neighbor, round(dist, 6) AS dist FROM adc
             |ORDER BY dist ASC, neighbor ASC LIMIT 10""".stripMargin)),

    ("p_ann_ivf", ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val firstId = e.agg(min("vec_id")).first().getLong(0)
      Similarity.ivfTopK(e, "vec_id", "embedding", firstId, 10)
        .select(col("neighbor"), round(col("score"), 6).as("score"))
    }): Q,
      // oracle replays the IVF pipeline with the same deterministic first-m centroids
      // and the same sequential-fold cosine (see p_ann_brute): norms in a CTE, argmax
      // assignment, 4 probed cells, then top-k over the candidate union
      Some("""WITH n AS (SELECT vec_id, embedding,
             |  sqrt(list_reduce(list_transform(generate_series(1, len(embedding)),
             |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (x,y) -> x+y)) AS nrm
             | FROM embeddings),
             |c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM n ORDER BY vec_id LIMIT 16),
             |q AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn FROM n
             |      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
             |asg0 AS (SELECT n.vec_id AS id, n.embedding AS v, n.nrm, c.cid,
             |  list_reduce(list_transform(generate_series(1, len(n.embedding)),
             |    i -> CAST(n.embedding[i] AS DOUBLE) * CAST(c.cv[i] AS DOUBLE)), (x,y) -> x+y)
             |    / (n.nrm * c.cn) AS cs
             | FROM n, c),
             |asg AS (SELECT id, v, nrm, cid FROM
             |  (SELECT *, row_number() OVER (PARTITION BY id ORDER BY cs DESC, cid ASC) AS rn FROM asg0)
             |  WHERE rn = 1),
             |qcells AS (SELECT c.cid FROM c, q
             |  ORDER BY list_reduce(list_transform(generate_series(1, len(c.cv)),
             |    i -> CAST(c.cv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x,y) -> x+y)
             |    / (c.cn * q.qn) DESC, c.cid ASC LIMIT 4),
             |cand AS (SELECT a.id, a.v, a.nrm FROM asg a JOIN qcells ON a.cid = qcells.cid)
             |SELECT neighbor, round(score, 6) AS score FROM (
             |  SELECT a.id AS neighbor,
             |    list_reduce(list_transform(generate_series(1, len(a.v)),
             |      i -> CAST(a.v[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x,y) -> x+y)
             |      / (a.nrm * q.qn) AS score
             |  FROM cand a, q WHERE a.id <> q.qid)
             |ORDER BY score DESC, neighbor ASC LIMIT 10""".stripMargin)),

    ("p_emb_neardup", ((s: SparkSession, dir: String) =>
      // synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.37) — a high
      // "dup" threshold is vacuous, so use 0.3 to exercise the verify stage
      Similarity.lshPairs(emb(s, dir), "vec_id", "embedding", bits = 8, threshold = 0.3)
        .select(col("a"), col("b"), round(col("score"), 6).as("score"))): Q,
      // the hyperplane components are exact integer arithmetic (quadratic-residue
      // mix mod 100003) and the dots/cosines sequential folds, so the oracle
      // recomputes identical buckets and bit-identical scores (see p_ann_brute)
      Some("""WITH b AS (
             |  SELECT vec_id, embedding,
             |    (SELECT SUM(CASE WHEN
             |       list_reduce(list_transform(generate_series(1, len(embedding)),
             |         j -> CAST(embedding[j] AS DOUBLE) *
             |              (CAST((((((j-1)*7919 + i*104729) % 100003) * (((j-1)*7919 + i*104729) % 100003)
             |                   + 13 * (((j-1)*7919 + i*104729) % 100003)) % 100003) % 1000 AS DOUBLE) / 500.0 - 1.0)),
             |         (x,y) -> x + y) > 0
             |     THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
             |     FROM generate_series(0, 7) t(i)) AS bucket
             |  FROM embeddings),
             |p AS (
             |  SELECT l.vec_id AS a, r.vec_id AS b,
             |    list_reduce(list_transform(generate_series(1, len(l.embedding)),
             |      j -> CAST(l.embedding[j] AS DOUBLE) * CAST(r.embedding[j] AS DOUBLE)), (x,y) -> x+y)
             |    / ( sqrt(list_reduce(list_transform(generate_series(1, len(l.embedding)),
             |          j -> CAST(l.embedding[j] AS DOUBLE) * CAST(l.embedding[j] AS DOUBLE)), (x,y) -> x+y))
             |      * sqrt(list_reduce(list_transform(generate_series(1, len(r.embedding)),
             |          j -> CAST(r.embedding[j] AS DOUBLE) * CAST(r.embedding[j] AS DOUBLE)), (x,y) -> x+y)) ) AS score
             |  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
             |SELECT a, b, round(score, 6) AS score FROM p WHERE score >= 0.3""".stripMargin)),

    // corpus mixing report: docs/tokens/chars per source — the data-mixture
    // planning table (one map-side-combined aggregate; 100 TB shape is the same
    // groupBy with partial aggregation)
    ("p_source_mix", ((s: SparkSession, dir: String) =>
      docs(s, dir).groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(TextStats.tokenCount(col("text"))).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))): Q,
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+'))) AS BIGINT) AS n_tokens,
             |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
             |FROM documents GROUP BY source""".stripMargin)),

    // cross-document segment dedup (boilerplate removal): drop 12-token spans
    // shared by >1 document, rebuild texts in order
    ("p_segment_dedup", ((s: SparkSession, dir: String) =>
      Dedup.segmentDedup(docs(s, dir), "doc_id", "text", w = 12, maxDf = 1)): Q,
      Some("""WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
             |  FROM documents),
             |seg0 AS (SELECT doc_id, unnest(list_transform(
             |    generate_series(0, greatest(CAST(ceil(len(w)/12.0) AS INT)-1, 0)),
             |    i -> struct_pack(pos := i, seg := array_to_string(w[(i*12+1):(i*12+12)], ' ')))) AS u
             |  FROM tk),
             |seg AS (SELECT doc_id, u.pos AS pos, u.seg AS seg FROM seg0),
             |sdf AS (SELECT md5(seg) AS sh, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY 1),
             |kept AS (SELECT s.doc_id, s.pos, s.seg FROM seg s JOIN sdf ON md5(s.seg)=sdf.sh
             |  WHERE sdf.df <= 1),
             |tot AS (SELECT doc_id, COUNT(*) AS n_seg FROM seg GROUP BY 1)
             |SELECT t.doc_id, COALESCE(string_agg(k.seg, ' ' ORDER BY k.pos), '') AS text,
             |  COUNT(k.pos) AS n_kept, t.n_seg - COUNT(k.pos) AS n_dropped
             |FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
             |GROUP BY t.doc_id, t.n_seg""".stripMargin)),

    // exact-substring span dedup: sliding k-token window hashes, a window in
    // ≥2 distinct docs is a duplicated span (any offset — the complement of
    // p_segment_dedup's fixed chunks)
    ("p_dedup_spans", ((s: SparkSession, dir: String) =>
      Dedup.duplicatedSpans(docs(s, dir), "doc_id", "text", k = 8)): Q,
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |w AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS win
             |  FROM t, unnest(generate_series(1, len(toks) - 7)) AS g(i) WHERE len(toks) >= 8),
             |wd AS (SELECT win, doc_id, COUNT(*) AS n FROM w GROUP BY 1, 2),
             |wdf AS (SELECT win, COUNT(*) AS docs FROM wd GROUP BY 1),
             |dup AS (SELECT wd.doc_id, SUM(wd.n) AS n_dup FROM wd JOIN wdf USING (win)
             |  WHERE wdf.docs >= 2 GROUP BY 1)
             |SELECT t.doc_id, CAST(GREATEST(len(t.toks) - 7, 0) AS BIGINT) AS n_windows,
             |  CAST(COALESCE(dup.n_dup, 0) AS BIGINT) AS n_dup
             |FROM t LEFT JOIN dup ON dup.doc_id = t.doc_id""".stripMargin)),

    // data-mixture planning: pairwise Jensen-Shannon divergence between the
    // per-source unigram distributions
    ("p_source_divergence", ((s: SparkSession, dir: String) =>
      TextStats.sourceDivergence(docs(s, dir), "source", "text")): Q,
      Some("""WITH tok AS (SELECT source AS src,
             |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
             |cnt AS (SELECT src, tok, COUNT(*) AS c FROM tok WHERE len(tok)>0 GROUP BY 1,2),
             |tot AS (SELECT src, SUM(c) AS n FROM cnt GROUP BY 1),
             |p AS (SELECT src, tok, c/n AS p FROM cnt JOIN tot USING (src)),
             |ov AS (SELECT a.src AS src_a, b.src AS src_b,
             |    SUM(0.5*(a.p*ln(2*a.p/(a.p+b.p)) + b.p*ln(2*b.p/(a.p+b.p)))) AS js_ov,
             |    SUM(a.p) AS ma, SUM(b.p) AS mb
             |  FROM p a JOIN p b ON a.tok=b.tok AND a.src<b.src GROUP BY 1,2),
             |pairs AS (SELECT a.src AS src_a, b.src AS src_b
             |  FROM tot a JOIN tot b ON a.src < b.src)
             |SELECT pairs.src_a, pairs.src_b,
             |  COALESCE(ROUND(js_ov + 0.5*ln(2)*((1-ma)+(1-mb)), 6), ROUND(ln(2), 6)) AS js
             |FROM pairs LEFT JOIN ov USING (src_a, src_b)""".stripMargin)),

    ("p_quality_lr", ((s: SparkSession, dir: String) =>
      graft.pipeline.QualityModel.score(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("prob"), 6).as("prob"))): Q,
      // sigmoid(b + w·x) over the qualityFeatures expressions with the fixed
      // DEFAULT weights — the same feature SQL as p_quality_score plus the
      // upper-case ratio, identical left-to-right weighted sum
      Some("""WITH f AS (SELECT doc_id,
             |  CAST(length(text) AS DOUBLE) AS chars,
             |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS words,
             |  CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS DOUBLE) AS punct,
             |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
             |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS DOUBLE) AS uppers,
             |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |       t -> t IN ('the','of','and','to','a','in','is','it','that','was','for','on','are','with','as','be','at','by','this','have','from'))) AS DOUBLE) AS stop
             | FROM documents),
             |z AS (SELECT doc_id,
             |  -1.0 + 0.1*(chars/words) + -8.0*(punct/chars) + -6.0*(digits/chars)
             |       + -2.0*(uppers/chars) + 6.0*(stop/words) AS z FROM f)
             |SELECT doc_id, round(1.0/(1.0 + exp(-z)), 6) AS prob FROM z""".stripMargin)),

    ("p_hybrid_search", ((s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val firstId = e.agg(min("vec_id")).first().getLong(0)
      graft.pipeline.Retrieval.hybridTopK(docs(s, dir), e,
        "doc_id", "text", "vec_id", "embedding",
        Seq("spark", "vector", "stream"), firstId, candK = 50, k = 10)
        .select(col("doc_id"), round(col("lex"), 6).as("lex_score"),
          round(col("cos"), 6).as("cos_score"))
    }): Q,
      // mirrors the engine fold-for-fold: tf·ln((N+1)/(df+1)) summed left-to-right,
      // then the p_ann_brute sequential-fold cosine — doubles are bit-identical
      Some("""WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
             |           FROM documents),
             |st AS (SELECT COUNT(*) AS n,
             |  SUM(CASE WHEN list_contains(tk,'spark') THEN 1 ELSE 0 END) AS df0,
             |  SUM(CASE WHEN list_contains(tk,'vector') THEN 1 ELSE 0 END) AS df1,
             |  SUM(CASE WHEN list_contains(tk,'stream') THEN 1 ELSE 0 END) AS df2 FROM tk),
             |lex AS (SELECT doc_id,
             |    CAST(len(list_filter(tk, x -> x = 'spark')) AS DOUBLE) * ln((n+1.0)/(df0+1.0))
             |  + CAST(len(list_filter(tk, x -> x = 'vector')) AS DOUBLE) * ln((n+1.0)/(df1+1.0))
             |  + CAST(len(list_filter(tk, x -> x = 'stream')) AS DOUBLE) * ln((n+1.0)/(df2+1.0)) AS lex
             |  FROM tk, st),
             |cand AS (SELECT doc_id, lex FROM lex WHERE lex > 0
             |         ORDER BY lex DESC, doc_id LIMIT 50),
             |q AS (SELECT embedding AS qv FROM embeddings
             |      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
             |r AS (SELECT c.doc_id, c.lex,
             |  list_reduce(list_transform(generate_series(1, len(e.embedding)),
             |    i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x,y) -> x+y)
             |  / ( sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
             |        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x,y) -> x+y))
             |    * sqrt(list_reduce(list_transform(generate_series(1, len(q.qv)),
             |        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), (x,y) -> x+y)) ) AS cos
             |  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id, q)
             |SELECT doc_id, round(lex, 6) AS lex_score, round(cos, 6) AS cos_score
             |FROM r ORDER BY cos DESC, doc_id LIMIT 10""".stripMargin)),

    ("p_unigram_freq", ((s: SparkSession, dir: String) =>
      TextStats.unigramFreqStats(docs(s, dir), "doc_id", "text")): Q,
      Some("""WITH toks AS (SELECT doc_id, t.tok
             |  FROM documents, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(tok)
             |  WHERE length(t.tok) > 0),
             |counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
             |SELECT doc_id, COUNT(*) AS n_toks, CAST(SUM(cnt) AS BIGINT) AS sum_freq
             |FROM toks JOIN counts USING (tok) GROUP BY doc_id""".stripMargin)),

    ("p_token_count", ((s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.tokenCount(col("text")).as("tokens"))): Q,
      Some("SELECT doc_id, len(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tokens FROM documents")),

    // Gopher-style token-concentration quality signals (shuffle-free per doc)
    ("p_token_concentration", ((s: SparkSession, dir: String) =>
      TextStats.tokenConcentration(docs(s, dir), "doc_id", "text")): Q,
      Some("""WITH d AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS a FROM documents),
             |t AS (SELECT doc_id, unnest(a) AS tok FROM d),
             |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
             |agg AS (SELECT doc_id, MAX(c) AS mx, CAST(SUM(c) AS BIGINT) AS tot, COUNT(*) AS dis FROM tc GROUP BY 1)
             |SELECT d.doc_id,
             |  COALESCE(CAST(agg.mx AS DOUBLE) / agg.tot, 0.0) AS top_tok_frac,
             |  COALESCE(CAST(agg.dis AS DOUBLE) / agg.tot, 0.0) AS distinct_frac
             |FROM d LEFT JOIN agg USING (doc_id)""".stripMargin)),

    // per-source document cap (deterministic keeper: K smallest doc_ids)
    ("p_domain_cap", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.capPerKey(docs(s, dir), "source", "doc_id", 50)
        .select(col("doc_id"), col("source"))): Q,
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn <= 50""".stripMargin)),

    // bigram PMI collocations: corpus-level phrase mining (top-20, min pair count 5)
    ("p_cooccur", ((s: SparkSession, dir: String) =>
      TextStats.collocations(docs(s, dir), "text", minCount = 5L, topK = 20)): Q,
      Some("""WITH d AS (SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS a FROM documents),
             |pr AS (SELECT u.l AS l, u.r AS r FROM d,
             |  unnest(list_transform(generate_series(1, greatest(len(a)-1, 0)),
             |    i -> {'l': a[i], 'r': a[i+1]})) AS t(u)
             |  WHERE length(u.l) > 0 AND length(u.r) > 0),
             |bg AS (SELECT l, r, COUNT(*) AS cnt FROM pr GROUP BY l, r),
             |uni AS (SELECT tok, COUNT(*) AS c
             |  FROM (SELECT unnest(a) AS tok FROM d) WHERE length(tok) > 0 GROUP BY tok),
             |n AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni)
             |SELECT bg.l, bg.r, bg.cnt,
             |  round(ln(CAST(bg.cnt AS DOUBLE) * n.n / (CAST(ul.c AS DOUBLE) * CAST(ur.c AS DOUBLE))), 6) AS pmi
             |FROM bg JOIN uni ul ON ul.tok = bg.l JOIN uni ur ON ur.tok = bg.r, n
             |WHERE bg.cnt >= 5
             |ORDER BY pmi DESC, l, r LIMIT 20""".stripMargin)),

    // per-document top-3 TF-IDF keywords (rank column makes the k-cut explicit)
    ("p_keywords", ((s: SparkSession, dir: String) =>
      TextStats.tfidfKeywords(docs(s, dir), "doc_id", "text", k = 3)): Q,
      Some("""WITH toks AS (SELECT doc_id, t.tok FROM documents,
             |  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(tok)
             |  WHERE length(t.tok) > 0),
             |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
             |dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
             |nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM documents),
             |sc AS (SELECT tf.doc_id, tf.tok,
             |  round(CAST(tf.tf AS DOUBLE) * ln(nd.nd / CAST(dfq.df AS DOUBLE)), 6) AS score
             |  FROM tf JOIN dfq USING (tok), nd)
             |SELECT doc_id, tok, score, rank FROM (
             |  SELECT doc_id, tok, score,
             |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rank
             |  FROM sc)
             |WHERE rank <= 3""".stripMargin)),

    ("p_token_bpe", ((s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextStats.bpeTokenCount(col("text")).as("bpe_tokens"))): Q,
      Some("SELECT doc_id, len(regexp_extract_all(lower(text), " +
        "'''[a-z]{1,2}| ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+')) AS bpe_tokens FROM documents")),

    ("p_repetition", ((s: SparkSession, dir: String) =>
      docs(s, dir)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("__toks"))
        .select(col("doc_id"),
          round(TextStats.repetitionRatioOfTokens(col("__toks")), 6).as("rep_ratio"))): Q,
      Some("""WITH sh AS (SELECT doc_id, list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' ')) AS a
             |  FROM documents)
             |SELECT doc_id, round(1.0 - CAST(len(list_distinct(a)) AS DOUBLE)/len(a), 6) AS rep_ratio
             |FROM sh""".stripMargin)),

    ("p_pii", ((s: SparkSession, dir: String) =>
      TextStats.piiCounts(docs(s, dir), "doc_id", "text")): Q,
      Some("""SELECT doc_id,
             | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS emails,
             | CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,14}[0-9]')) AS BIGINT) AS phones,
             | CAST(len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS ipv4s
             | FROM documents""".stripMargin)),

    ("p_quality", ((s: SparkSession, dir: String) =>
      TextStats.qualityFeatures(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("chars"), col("words"))): Q,
      Some("""SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS chars,
             | CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS DOUBLE) AS words
             | FROM documents""".stripMargin)),

    ("p_quality_score", ((s: SparkSession, dir: String) =>
      TextStats.qualityScore(docs(s, dir), "doc_id", "text")): Q,
      Some("""WITH f AS (SELECT doc_id,
             |  CAST(length(text) AS DOUBLE) AS chars,
             |  CAST(len(regexp_split_to_array(lower(trim(text)), '\s+')) AS DOUBLE) AS words,
             |  CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS DOUBLE) AS punct,
             |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS digits,
             |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
             |       t -> t IN ('the','of','and','to','a','in','is','it','that','was','for','on','are','with','as','be','at','by','this','have','from'))) AS DOUBLE) AS stop
             | FROM documents)
             |SELECT doc_id,
             |  least(words/20.0, 1.0)*0.25 + least((stop/words)*3.0, 1.0)*0.35 +
             |  greatest(0.0, 1.0 - (punct/chars)*8.0)*0.2 + greatest(0.0, 1.0 - (digits/chars)*5.0)*0.2 AS quality
             |FROM f""".stripMargin)),

    ("p_lang_id", ((s: SparkSession, dir: String) =>
      TextStats.langId(docs(s, dir), "doc_id", "text")): Q,
      Some {
        def hits(ws: Seq[String]) =
          s"len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), t -> t IN (${ws.map(w => s"'$w'").mkString(",")})))"
        val en = Seq("the","of","and","to","a","in","is","it","that","was","for","on","are","with","as","be","at","by","this","have","from")
        val de = Seq("der","die","das","und","ist","ein","eine","zu","den","von","mit","nicht","auf","sich","des","im","dem","für","an","auch")
        val fr = Seq("le","la","les","de","des","et","est","un","une","du","dans","que","qui","pour","sur","pas","avec","au","par","ce")
        val es = Seq("el","la","los","las","de","y","es","un","una","en","que","del","se","por","con","para","su","al","lo","como")
        s"""WITH scored AS (SELECT doc_id, ${hits(en)} AS en, ${hits(de)} AS de, ${hits(fr)} AS fr, ${hits(es)} AS es FROM documents),
           |b AS (SELECT doc_id, en, de, fr, es, greatest(en,de,fr,es) AS best FROM scored)
           |SELECT doc_id, CASE WHEN best=0 THEN 'und' WHEN en=best THEN 'en' WHEN de=best THEN 'de'
           |  WHEN fr=best THEN 'fr' ELSE 'es' END AS lang_pred FROM b""".stripMargin
      }),

    ("p_fingerprint", ((s: SparkSession, dir: String) =>
      TextStats.fingerprint(docs(s, dir), "doc_id", "text")): Q,
      // min-md5 over the same distinct 3-gram shingles (md5-hex min is
      // engine-portable; xxhash64 is not expressible in the oracle)
      Some("""WITH sh AS (SELECT doc_id, list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' '))) AS sh
             |  FROM documents)
             |SELECT doc_id, list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS fingerprint
             |FROM sh""".stripMargin)),

    ("p_gas_cc", ((s: SparkSession, dir: String) => {
      val li = read(s, dir, "lineitem")
      // bipartite part–supplier graph; namespaced vertex ids
      val edges = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      graft.gas.Gas.connectedComponents(edges)
    }): Q,
      // oracle: min-label propagation as a recursive CTE; the `label < dst` monotone
      // guard keeps the working set finite while still letting the component minimum
      // reach every vertex
      Some("""WITH RECURSIVE
             | e AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM lineitem
             |       UNION SELECT DISTINCT l_suppkey*2+1, l_partkey*2 FROM lineitem),
             | v AS (SELECT DISTINCT src AS vertex FROM e),
             | prop(vertex, label) AS (
             |   SELECT vertex, vertex FROM v
             |   UNION
             |   SELECT e.dst, p.label FROM prop p JOIN e ON p.vertex = e.src WHERE p.label < e.dst
             | )
             |SELECT CAST(vertex AS BIGINT) AS vertex, CAST(min(label) AS BIGINT) AS component
             |FROM prop GROUP BY vertex""".stripMargin)),

    // exact triangle census over the part co-purchase graph (parts sharing an
    // order) — degree-ordered compact-forward, one triangle per lowest-degree
    // corner; the m^1.5-bounded exact method that scales to big sparse graphs
    ("p_gas_triangles", ((s: SparkSession, dir: String) => {
      val li = read(s, dir, "lineitem")
      val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .dropDuplicates("o", "p")
      val edges = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.gas.Gas.triangleStats(edges)
    }): Q,
      Some("""WITH op AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
             |e AS (SELECT DISTINCT a.p a, b.p b FROM op a JOIN op b ON a.o=b.o AND a.p<b.p),
             |deg AS (SELECT v, COUNT(*) AS deg FROM
             |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
             |o AS (SELECT
             |    CASE WHEN da.deg<db.deg OR (da.deg=db.deg AND e.a<e.b) THEN e.a ELSE e.b END AS src,
             |    CASE WHEN da.deg<db.deg OR (da.deg=db.deg AND e.a<e.b) THEN e.b ELSE e.a END AS dst,
             |    CASE WHEN da.deg<db.deg OR (da.deg=db.deg AND e.a<e.b) THEN db.deg ELSE da.deg END AS ddeg
             |  FROM e JOIN deg da ON da.v=e.a JOIN deg db ON db.v=e.b),
             |wed AS (SELECT x.dst AS v, y.dst AS w FROM o x JOIN o y
             |  ON x.src=y.src AND (x.ddeg<y.ddeg OR (x.ddeg=y.ddeg AND x.dst<y.dst))),
             |tri AS (SELECT COUNT(*) AS t FROM wed JOIN o ON o.src=wed.v AND o.dst=wed.w),
             |wtot AS (SELECT CAST(SUM(deg*(deg-1)/2) AS BIGINT) AS w FROM deg)
             |SELECT CAST(t AS BIGINT) AS triangles, w AS wedges,
             |  3.0*t/w AS clustering FROM tri, wtot""".stripMargin)),

    // SAMPLED census — the 100 TB tier: deterministic md5 edge sub-sampling
    // (rate 1/16 per adjacency edge → 1/256 per wedge), closure probed against
    // the full adjacency; estimator reproduced bit-for-bit by the oracle
    // (md5 hex is engine-portable). Exact census stays available above.
    ("p_gas_tri_sampled", ((s: SparkSession, dir: String) => {
      val li = read(s, dir, "lineitem")
      val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .dropDuplicates("o", "p")
      val edges = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.gas.Gas.triangleStatsSampled(edges, bits = 1)
    }): Q,
      Some("""WITH op AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
             |e AS (SELECT DISTINCT a.p a, b.p b FROM op a JOIN op b ON a.o=b.o AND a.p<b.p),
             |deg AS (SELECT v, COUNT(*) AS deg FROM
             |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
             |o AS (SELECT
             |    CASE WHEN da.deg<db.deg OR (da.deg=db.deg AND e.a<e.b) THEN e.a ELSE e.b END AS src,
             |    CASE WHEN da.deg<db.deg OR (da.deg=db.deg AND e.a<e.b) THEN e.b ELSE e.a END AS dst,
             |    CASE WHEN da.deg<db.deg OR (da.deg=db.deg AND e.a<e.b) THEN db.deg ELSE da.deg END AS ddeg
             |  FROM e JOIN deg da ON da.v=e.a JOIN deg db ON db.v=e.b),
             |os AS (SELECT * FROM o WHERE substr(md5(src||'#'||dst),1,1)='0'),
             |wed AS (SELECT x.dst AS v, y.dst AS w FROM os x JOIN os y
             |  ON x.src=y.src AND (x.ddeg<y.ddeg OR (x.ddeg=y.ddeg AND x.dst<y.dst))),
             |s AS (SELECT COUNT(*) AS sw FROM wed),
             |c AS (SELECT COUNT(*) AS cw FROM wed JOIN o ON o.src=wed.v AND o.dst=wed.w),
             |wtot AS (SELECT CAST(SUM(deg*(deg-1)/2) AS BIGINT) AS w FROM deg)
             |SELECT CAST(sw AS BIGINT) AS sampled_wedges, CAST(cw AS BIGINT) AS closed_wedges,
             |  CAST(cw AS DOUBLE)*256.0 AS triangles_est,
             |  CASE WHEN w=0 THEN 0.0 ELSE 3.0*(CAST(cw AS DOUBLE)*256.0)/w END AS clustering_est
             |FROM s, c, wtot""".stripMargin)),

    // PER-VERTEX sampled clustering (r14 stretch): same md5 edge sub-sampling,
    // wedges centered per vertex, exact degrees — a join-ready graph-quality
    // column for filtering at 100 TB; estimates reproduced bit-for-bit by the
    // oracle
    ("p_gas_cc_local", ((s: SparkSession, dir: String) => {
      val li = read(s, dir, "lineitem")
      val op = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .dropDuplicates("o", "p")
      val edges = op.as("x").join(op.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      graft.gas.Gas.localClusteringSampled(edges, bits = 1)
    }): Q,
      Some("""WITH op AS (SELECT DISTINCT l_orderkey o, l_partkey p FROM lineitem),
             |e AS (SELECT DISTINCT a.p a, b.p b FROM op a JOIN op b ON a.o=b.o AND a.p<b.p),
             |deg AS (SELECT v, COUNT(*) AS deg FROM
             |  (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
             |es AS (SELECT * FROM e WHERE substr(md5(a||'#'||b),1,1)='0'),
             |adj AS (SELECT a AS v, b AS n FROM es UNION ALL SELECT b, a FROM es),
             |wed AS (SELECT x.v, x.n AS u, y.n AS w FROM adj x JOIN adj y
             |  ON x.v=y.v AND x.n<y.n),
             |cl AS (SELECT v, COUNT(*) AS closed FROM wed
             |  JOIN e ON e.a=wed.u AND e.b=wed.w GROUP BY v),
             |sm AS (SELECT v, COUNT(*) AS sampled FROM wed GROUP BY v)
             |SELECT CAST(deg.v AS BIGINT) AS vertex, CAST(deg.deg AS BIGINT) AS deg,
             |  CAST(COALESCE(sm.sampled,0) AS BIGINT) AS sampled_wedges,
             |  CAST(COALESCE(cl.closed,0) AS BIGINT) AS closed_wedges,
             |  CAST(COALESCE(cl.closed,0) AS DOUBLE)*256.0 AS tri_est,
             |  CASE WHEN deg.deg<2 THEN 0.0 ELSE
             |    CAST(COALESCE(cl.closed,0) AS DOUBLE)*256.0/(deg.deg*(deg.deg-1)/2.0)
             |  END AS cc_est
             |FROM deg LEFT JOIN sm ON sm.v=deg.v LEFT JOIN cl ON cl.v=deg.v""".stripMargin)),

    ("p_gas_pagerank", ((s: SparkSession, dir: String) => {
      val o = read(s, dir, "orders")
      val edges = o.select(col("o_custkey").as("src"), col("o_orderkey").as("dst"))
      graft.gas.Gas.pageRank(edges, iters = 5)
        .select(col("vertex"), round(col("rank"), 9).as("rank"))
    }): Q,
      // 5 unrolled iterations mirroring the engine's arithmetic operation-for-operation
      // (single-in-edge graph → every FP sum is order-independent except the dangling
      // mass, which survives round-to-9)
      Some {
        val iters = (1 to 5).map { i =>
          s"""c$i AS (SELECT e.dst AS vertex, SUM(r.rank/deg.outdeg) AS recv
             |        FROM r${i - 1} r JOIN deg ON r.vertex=deg.src JOIN e ON e.src=deg.src GROUP BY e.dst),
             |d$i AS (SELECT COALESCE(SUM(r.rank),0.0) AS dm FROM r${i - 1} r LEFT JOIN deg ON r.vertex=deg.src WHERE deg.src IS NULL),
             |r$i AS (SELECT v.vertex, ((1.0-0.85)/(SELECT cnt FROM n)) + 0.85*(COALESCE(c$i.recv,0.0) + (SELECT dm FROM d$i)/(SELECT cnt FROM n)) AS rank
             |        FROM v LEFT JOIN c$i ON v.vertex=c$i.vertex)""".stripMargin
        }.mkString(",\n")
        s"""WITH e AS (SELECT DISTINCT o_custkey AS src, o_orderkey AS dst FROM orders),
           |v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
           |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM v),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
           |r0 AS (SELECT vertex, 1.0/(SELECT cnt FROM n) AS rank FROM v),
           |$iters
           |SELECT CAST(vertex AS BIGINT) AS vertex, round(rank, 9) AS rank FROM r5""".stripMargin
      }),

    // weighted single-source shortest paths on the nation–region graph
    ("p_gas_fuzzy", ((s: SparkSession, dir: String) => {
      val nt = read(s, dir, "nation")
      val edges = nt.select((col("n_nationkey") * 2 + 1).as("src"),
        (col("n_regionkey") * 2).as("dst"))
      // source = nation 0's vertex, target = region 0's vertex (same star);
      // n large enough that the bounded expansion covers the component
      graft.gas.Gas.fuzzySssp(edges, Seq(1L), Seq(0L), n = 1000L)
        .select(col("vertex"), col("depth").cast("long").as("depth"))
    }): Q,
      // unweighted shortest-path set (d_s + d_t = d(s,t)) then multi-source BFS
      // depths from it, both as hop-bounded recursive CTEs
      Some("""WITH RECURSIVE
             | e AS (SELECT n_nationkey*2+1 AS src, n_regionkey*2 AS dst FROM nation
             |       UNION SELECT n_regionkey*2, n_nationkey*2+1 FROM nation),
             | ds(vertex, d) AS (
             |   SELECT CAST(1 AS BIGINT), 0
             |   UNION SELECT e.dst, ds.d+1 FROM ds JOIN e ON ds.vertex = e.src WHERE ds.d < 8),
             | dt(vertex, d) AS (
             |   SELECT CAST(0 AS BIGINT), 0
             |   UNION SELECT e.dst, dt.d+1 FROM dt JOIN e ON dt.vertex = e.src WHERE dt.d < 8),
             | dsm AS (SELECT vertex, MIN(d) AS d FROM ds GROUP BY vertex),
             | dtm AS (SELECT vertex, MIN(d) AS d FROM dt GROUP BY vertex),
             | tot AS (SELECT d FROM dsm WHERE vertex = 0),
             | sp AS (SELECT dsm.vertex FROM dsm JOIN dtm USING (vertex), tot
             |        WHERE dsm.d + dtm.d = tot.d),
             | ex(vertex, depth) AS (
             |   SELECT vertex, 0 FROM sp
             |   UNION SELECT e.dst, ex.depth+1 FROM ex JOIN e ON ex.vertex = e.src WHERE ex.depth < 8)
             |SELECT vertex, CAST(MIN(depth) AS BIGINT) AS depth FROM ex GROUP BY vertex""".stripMargin)),

    ("p_gas_sssp", ((s: SparkSession, dir: String) => {
      val n = read(s, dir, "nation")
      val edges = n.select((col("n_nationkey") * 2 + 1).as("src"),
        (col("n_regionkey") * 2).as("dst"),
        (col("n_nationkey") % 4 + 1).cast("double").as("weight"))
      graft.gas.Gas.sssp(edges, 0L)
        .select(col("vertex"), col("dist"))
    }): Q,
      // Bellman-Ford as a hop-bounded recursive CTE over the undirected edge set
      Some("""WITH RECURSIVE
             | e AS (SELECT n_nationkey*2+1 AS src, n_regionkey*2 AS dst,
             |              CAST(n_nationkey % 4 + 1 AS DOUBLE) AS w FROM nation
             |       UNION SELECT n_regionkey*2, n_nationkey*2+1,
             |              CAST(n_nationkey % 4 + 1 AS DOUBLE) FROM nation),
             | walk(vertex, dist, hops) AS (
             |   SELECT CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), 0
             |   UNION
             |   SELECT e.dst, w.dist + e.w, w.hops + 1 FROM walk w
             |   JOIN e ON w.vertex = e.src WHERE w.hops < 8
             | )
             |SELECT CAST(vertex AS BIGINT) AS vertex, MIN(dist) AS dist
             |FROM walk GROUP BY vertex""".stripMargin)),

    ("p_gas_bfs", ((s: SparkSession, dir: String) => {
      val li = read(s, dir, "lineitem")
      val edges = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val src = edges.agg(min("src")).first().getLong(0)
      graft.gas.Gas.bfs(edges, src)
    }): Q,
      Some("""WITH RECURSIVE
             | e AS (SELECT DISTINCT l_partkey*2 AS src, l_suppkey*2+1 AS dst FROM lineitem
             |       UNION SELECT DISTINCT l_suppkey*2+1, l_partkey*2 FROM lineitem),
             | walk(vertex, level) AS (
             |   SELECT (SELECT min(l_partkey*2) FROM lineitem), 0
             |   UNION
             |   SELECT e.dst, w.level+1 FROM walk w JOIN e ON w.vertex = e.src WHERE w.level < 25
             | )
             |SELECT CAST(vertex AS BIGINT) AS vertex, CAST(min(level) AS INT) AS level
             |FROM walk GROUP BY vertex""".stripMargin)),

    ("p_geo_rect", ((s: SparkSession, dir: String) => {
      val g = graft.search.Geo.eventsGeo(read(s, dir, "events"))
      g.filter(graft.search.Geo.inRectangle(col("lat"), col("lon"), 10.0, 20.0, 45.0, 90.0))
        .select("event_id")
    }): Q,
      Some("""SELECT event_id FROM events
             | WHERE ((event_id % 1800)/10.0 - 90.0) BETWEEN 10.0 AND 45.0
             |   AND (((event_id*7) % 3600)/10.0 - 180.0) BETWEEN 20.0 AND 90.0""".stripMargin)),

    ("p_geo_circle", ((s: SparkSession, dir: String) => {
      val g = graft.search.Geo.eventsGeo(read(s, dir, "events"))
      g.filter(graft.search.Geo.inCircle(col("lat"), col("lon"), 30.0, 40.0, 2000000.0))
        .select("event_id")
    }): Q,
      Some("""WITH g AS (SELECT event_id, (event_id % 1800)/10.0 - 90.0 AS lat,
             |                  ((event_id*7) % 3600)/10.0 - 180.0 AS lon FROM events)
             |SELECT event_id FROM g
             |WHERE lat BETWEEN 30.0 - degrees(2000000.0/6371000.0)
             |              AND 30.0 + degrees(2000000.0/6371000.0)
             |  AND lon BETWEEN 40.0 - degrees(2000000.0/(6371000.0*greatest(0.01, cos(radians(30.0)))))
             |              AND 40.0 + degrees(2000000.0/(6371000.0*greatest(0.01, cos(radians(30.0)))))
             |  AND 2.0*6371000.0*asin(sqrt( pow(sin(radians(lat-30.0)/2),2)
             |        + cos(radians(30.0))*cos(radians(lat))*pow(sin(radians(lon-40.0)/2),2) )) <= 2000000.0""".stripMargin)),

    ("p_mm_meta", ((s: SparkSession, dir: String) =>
      graft.pipeline.Multimodal.decodeMeta(
        graft.pipeline.Multimodal.withPayload(docs(s, dir), "text"), "payload")
        .select(col("doc_id"), col("meta")("n_bytes").as("n_bytes"))): Q,
      Some("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents")),

    // project a sortable checksum of the vector, not the raw array<float> (the driver's
    // rows-only check sorts rows in pandas; numpy arrays are unhashable there)
    ("p_mm_features", ((s: SparkSession, dir: String) =>
      graft.pipeline.Multimodal.extractFeatures(
        graft.pipeline.Multimodal.withPayload(docs(s, dir), "text"), "payload", dim = 16)
        .select(col("doc_id"), size(col("features")).as("dim"),
          // recover the stub LCG's integer outputs exactly (float err « 0.5):
          // v_d = (h_d >>> 16) % 2000, feature = v_d/1000f - 1f
          aggregate(transform(col("features"),
              f => round(f.cast("double") * 1000.0d + 1000.0d).cast("long")),
            lit(0L), (a, v) => a + v).as("feat_sum"))): Q,
      // the stub's byte-fold seed + 16-step LCG, emulated exactly: HUGEINT
      // intermediates with signed-64 wraparound ((x+2^63) mod 2^64 - 2^63);
      // text is ASCII so ord(char) == payload byte
      Some("""WITH RECURSIVE ffold AS (
             |  SELECT doc_id, CAST(list_reduce(
             |    list_prepend(CAST(1125899906842597 AS HUGEINT),
             |      list_transform(generate_series(1, least(length(text), 4096)),
             |        i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
             |    (acc, b) -> ((acc * 31 + b + 9223372036854775808) % 18446744073709551616
             |                 + 18446744073709551616) % 18446744073709551616 - 9223372036854775808)
             |    AS HUGEINT) AS h
             |  FROM documents),
             |rec(doc_id, h, d, s) AS (
             |  SELECT doc_id, h, 0, CAST(0 AS HUGEINT) FROM ffold
             |  UNION ALL
             |  SELECT r.doc_id,
             |    ((r.h * 6364136223846793005 + 1442695040888963407 + 9223372036854775808) % 18446744073709551616
             |     + 18446744073709551616) % 18446744073709551616 - 9223372036854775808,
             |    r.d + 1,
             |    r.s + ((CASE WHEN ((r.h * 6364136223846793005 + 1442695040888963407 + 9223372036854775808) % 18446744073709551616
             |                       + 18446744073709551616) % 18446744073709551616 - 9223372036854775808 < 0
             |            THEN ((r.h * 6364136223846793005 + 1442695040888963407 + 9223372036854775808) % 18446744073709551616
             |                  + 18446744073709551616) % 18446744073709551616 - 9223372036854775808 + 18446744073709551616
             |            ELSE ((r.h * 6364136223846793005 + 1442695040888963407 + 9223372036854775808) % 18446744073709551616
             |                  + 18446744073709551616) % 18446744073709551616 - 9223372036854775808 END) >> 16) % 2000
             |  FROM rec r WHERE r.d < 16)
             |SELECT doc_id, 16 AS dim, CAST(s AS BIGINT) AS feat_sum FROM rec WHERE d = 16""".stripMargin)),

    ("p_mm_resize", ((s: SparkSession, dir: String) =>
      graft.pipeline.Multimodal.resize(
        graft.pipeline.Multimodal.withPayload(docs(s, dir), "text"), "payload", 512, 512)
        .select(col("doc_id"), length(col("resized")).as("n_out"),
          col("resized_width").as("w"), col("resized_height").as("h"))): Q,
      // the stub's size law (bytes ∝ target area, capped by source, floor 16) is
      // pure arithmetic over the payload length — SQL-reproducible
      // empty payloads resize to empty (the stub's size law only applies to
      // non-empty input) — the CASE keeps oracle and stub aligned on that edge
      Some("""SELECT doc_id,
             |  CASE WHEN octet_length(encode(text)) = 0 THEN 0
             |       ELSE GREATEST(16, LEAST(octet_length(encode(text)), (512*512)//64)) END AS n_out,
             |  512 AS w, 512 AS h
             |FROM documents""".stripMargin)),

    ("p_mm_frames", ((s: SparkSession, dir: String) =>
      graft.pipeline.Multimodal.frameSample(
        graft.pipeline.Multimodal.withPayload(docs(s, dir), "text"), "payload", nFrames = 4)
        .select(col("doc_id"), col("frame_idx"), col("frame_offset_ms"))): Q,
      // decode-stub duration (full byte-fold, signed-64 wrap, java trunc-div 13,
      // mod 600000) then the 4 sampled offsets; ASCII text → ord == byte
      Some("""WITH hfold AS (
             |  SELECT doc_id, length(text) AS n, CAST(list_reduce(
             |    list_prepend(CAST(1125899906842597 AS HUGEINT),
             |      list_transform(generate_series(1, length(text)),
             |        i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
             |    (acc, b) -> ((acc * 31 + b + 9223372036854775808) % 18446744073709551616
             |                 + 18446744073709551616) % 18446744073709551616 - 9223372036854775808)
             |    AS HUGEINT) AS h
             |  FROM documents),
             |dur AS (SELECT doc_id,
             |  CASE WHEN n = 0 THEN 0
             |       WHEN h < 0 THEN abs(-((-h) // 13)) % 600000
             |       ELSE (h // 13) % 600000 END AS duration_ms
             |  FROM hfold)
             |SELECT doc_id, t.i AS frame_idx,
             |  CAST(duration_ms * t.i // 4 AS BIGINT) AS frame_offset_ms
             |FROM dur, generate_series(0, 3) t(i)""".stripMargin)),

    // SampleIndex analog (bop/ap/SampleIndex.java SampleType.EVEN): deterministic
    // evenly-spaced sample of an index range — every 10th subject by key, so the
    // sample is reproducible by the oracle (the seeded-random variant is
    // df.sample(fraction, seed), same plumbing, no oracle)
    ("p_sample", ((s: SparkSession, dir: String) =>
      Tpch.store(s, dir).statements
        .filter(col("p_id") === graft.engine.TermIds.iriId("urn:p:c_acctbal"))
        .filter(regexp_extract(col("s")("str"), "urn:t:customer:(\\d+)", 1)
          .cast("long") % 10 === 3)
        .select(col("s")("str").as("s"), col("o")("num").as("bal"))): Q,
      Some("""SELECT 'urn:t:customer:'||c_custkey AS s, c_acctbal AS bal
             | FROM customer WHERE c_custkey % 10 = 3""".stripMargin)),

    // tumbling-window aggregation over the events table (batch form of the
    // Structured Streaming operator — same window() semantics)
    ("p_window_agg", ((s: SparkSession, dir: String) => {
      val ev0 = read(s, dir, "events")
      val ev = ev0.withColumn("ts2", tsStamp(ev0.schema("ts").dataType))
      ev.groupBy(window(col("ts2"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(round(col("value") * 100)).as("cents"))
        .select(col("w")("start").as("window_start"), col("event_type"),
          col("cnt"), col("cents").cast("long").as("cents"))
    }): Q,
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type,
             | COUNT(*) AS cnt, CAST(SUM(ROUND(value*100, 0)) AS BIGINT) AS cents
             | FROM events GROUP BY 1, 2""".stripMargin)),

    // HLL sketch (approximate distinct — the "novel sketch" scale path; exact
    // countDistinct is the oracle-checked q_count_distinct)
    // the sketch value itself is estimator-specific; the oracle-checkable claim is its
    // accuracy contract (rsd 0.02 → well within 5%) plus the exact count
    ("p_sketch_distinct", ((s: SparkSession, dir: String) =>
      read(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select((abs(col("approx_parts") - col("exact_parts")) /
            col("exact_parts") <= 0.05).as("within_5pct"),
          col("exact_parts"))): Q,
      Some("""SELECT true AS within_5pct, COUNT(DISTINCT l_partkey) AS exact_parts
             | FROM lineitem""".stripMargin)),

    // skew-salted join demo: orders joined to a hot dimension via explicit salting
    ("p_salted_join", ((s: SparkSession, dir: String) => {
      val o = read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("k"))
      val c = read(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      graft.engine.DfOps.saltedJoin(o, c, "k", salt = 8)
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
    }): Q,
      Some("""SELECT c_mktsegment, COUNT(*) AS cnt FROM orders
             | JOIN customer ON o_custkey=c_custkey GROUP BY 1""".stripMargin)),

    // sessionization: 30-min-gap sessions per user (ts is epoch-nanos long in Spark)
    ("p_sessionize", ((s: SparkSession, dir: String) =>
      // sessionize over µs-truncated stamps (integer div — the oracle engine's
      // timestamp type is µs, and long/1000 via double would lose low bits at
      // 1e18) so gap decisions AND bounds are bit-identical across engines
      Events.sessionize(
        { val ev = read(s, dir, "events"); ev.withColumn("ts_us", tsEpochUs(ev)) },
        "user_id", "ts_us", gapSec = 1800, tsPerSec = 1000000L)
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_ts").as("start_us"), col("end_ts").as("end_us"))): Q,
      Some("""WITH f AS (SELECT user_id, epoch_us(ts) AS tsu,
             |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
             |    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS newf
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |sess AS (SELECT user_id, tsu,
             |  CAST(SUM(newf) OVER (PARTITION BY user_id ORDER BY tsu) AS BIGINT) AS session_idx FROM f)
             |SELECT user_id, session_idx, COUNT(*) AS n_events,
             |  MIN(tsu) AS start_us, MAX(tsu) AS end_us
             |FROM sess GROUP BY user_id, session_idx""".stripMargin)),

    // semi-structured metadata promotion: a JSON props column is parsed into
    // typed columns ONCE (codegen'd JsonPath, no UDF) and aggregated — the
    // "metadata sidecar" shape every training-data pipeline carries. At scale
    // the parse is map-side; the aggregate is one keyed exchange.
    ("p_props_json", ((s: SparkSession, dir: String) =>
      read(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(col("k")).as("cnt"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))): Q,
      Some("""SELECT event_type, COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS cnt,
             |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events GROUP BY event_type""".stripMargin)),

    // group-wise top-k: 3 highest-value events per user, deterministic tie-break
    ("p_topk_user", ((s: SparkSession, dir: String) =>
      Events.topKPerKey(read(s, dir, "events"), "user_id", "value", "event_id", k = 3)
        .select(col("user_id"), col("event_id"), col("value"),
          col("rnk").cast("long").as("rnk"))): Q,
      Some("""SELECT user_id, event_id, value, rnk FROM (
             |  SELECT user_id, event_id, value, ROW_NUMBER() OVER (
             |    PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk
             |  FROM events) WHERE rnk <= 3""".stripMargin)),

    // rolling per-user features over the previous 10 events (exact integer cents
    // so the sliding sum is engine-portable; mean = exact/exact division)
    ("p_rolling", ((s: SparkSession, dir: String) =>
      Events.rollingFeatures(read(s, dir, "events"), "user_id", "ts", "event_id",
          "value", frame = 10)
        .select(col("user_id"), col("event_id"), col("seq").cast("long").as("seq"),
          col("roll_cents"), col("roll_n"), col("roll_mean"))): Q,
      Some("""WITH c AS (SELECT user_id, event_id, ts,
             |  CAST(ROUND(value*100, 0) AS BIGINT) AS cents FROM events)
             |SELECT user_id, event_id,
             |  ROW_NUMBER() OVER w AS seq,
             |  CAST(SUM(cents) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_cents,
             |  COUNT(*) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS roll_n,
             |  CAST(SUM(cents) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS DOUBLE)
             |    / (COUNT(*) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)) / 100.0 AS roll_mean
             |FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin)),

    // exact discrete percentiles per group (1-based rank ceil(q*n) over sorted
    // integer cents — identical selection law on both engines)
    ("p_percentiles", ((s: SparkSession, dir: String) =>
      Events.percentilesPerKey(read(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", Seq(0.25, 0.5, 0.75, 0.95))): Q,
      Some("""WITH c AS (SELECT l_returnflag,
             |  CAST(ROUND(l_extendedprice*100, 0) AS BIGINT) AS cents FROM lineitem)
             |SELECT l_returnflag, COUNT(*) AS n,
             |  (list_sort(list(cents)))[CAST(ceil(0.25*COUNT(*)) AS INT)] AS p25,
             |  (list_sort(list(cents)))[CAST(ceil(0.50*COUNT(*)) AS INT)] AS p50,
             |  (list_sort(list(cents)))[CAST(ceil(0.75*COUNT(*)) AS INT)] AS p75,
             |  (list_sort(list(cents)))[CAST(ceil(0.95*COUNT(*)) AS INT)] AS p95
             |FROM c GROUP BY l_returnflag""".stripMargin)),

    // corpus heavy hitters: exact top-20 tokens (map-side-combined count + top-k)
    ("p_heavy_hitters", ((s: SparkSession, dir: String) =>
      TextStats.heavyHitters(docs(s, dir), "text", k = 20)): Q,
      Some("""WITH toks AS (SELECT t.tok FROM documents,
             |  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(tok)
             |  WHERE length(t.tok) > 0)
             |SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
             |ORDER BY cnt DESC, tok LIMIT 20""".stripMargin)),

    // PII redaction: corpus has no natural PII, so a deterministic span is
    // planted on every 7th document in BOTH engines — the redaction (email →
    // ip → phone replacement order) is then actually exercised
    ("p_redact", ((s: SparkSession, dir: String) =>
      TextStats.redactPii(
        docs(s, dir).withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or 10.0."), col("doc_id") % 250,
              lit(".1 tel +1 (555) 123-4567")))
            .otherwise(col("text"))),
        "doc_id", "text")): Q,
      Some("""WITH d AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN
             |  text || ' contact user' || doc_id || '@example.com or 10.0.'
             |       || (doc_id % 250) || '.1 tel +1 (555) 123-4567'
             |  ELSE text END AS text FROM documents)
             |SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
             |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             |  '([0-9]{1,3}\.){3}[0-9]{1,3}', '[IP]', 'g'),
             |  '\+?[0-9][0-9()\- ]{7,14}[0-9]', '[PHONE]', 'g') AS redacted
             |FROM d""".stripMargin)),

    // RAG/pretraining context prep: fixed-size token windows with overlap —
    // a pure per-row map (zero shuffles; see Curate.chunkTokens)
    ("p_chunk", ((s: SparkSession, dir: String) =>
      graft.pipeline.Curate.chunkTokens(docs(s, dir), "doc_id", "text",
        chunkSize = 32, overlap = 8)): Q,
      Some("""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
             |  FROM documents),
             |s AS (SELECT doc_id, toks,
             |  unnest(generate_series(0, greatest(len(toks)-1, 0), 24)) AS st FROM t)
             |SELECT doc_id, CAST(st // 24 AS BIGINT) AS chunk_id,
             |  array_to_string(toks[st+1 : st+32], ' ') AS chunk_text,
             |  CAST(len(toks[st+1 : st+32]) AS BIGINT) AS n_tokens
             |FROM s""".stripMargin)),

    // near-dup survivorship: within each dup cluster keep the best doc by
    // (n_chars desc, id asc) — the oracle rebuilds the same clusters via
    // recursive closure, then applies the same window
    ("p_dedup_canonical", ((s: SparkSession, dir: String) =>
      Dedup.canonicalKeepers(docs(s, dir), "doc_id", "text", "n_chars")
        .withColumn("is_dup", col("is_dup").cast("int"))): Q,
      Some("""WITH RECURSIVE sh AS (SELECT doc_id AS id,
             |  list_distinct(list_transform(
             |    generate_series(0, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+'))-3, 0)),
             |    i -> array_to_string((regexp_split_to_array(lower(trim(text)), '\s+'))[i+1:i+3], ' '))) AS sh
             | FROM documents),
             |k AS (SELECT id, sh, list_aggregate(sh, 'min') AS key FROM sh),
             |pairs AS (SELECT a, b FROM (
             |  SELECT l.id AS a, r.id AS b,
             |    CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE)
             |      / (len(l.sh) + len(r.sh) - len(list_intersect(l.sh, r.sh))) AS jaccard
             |  FROM k l JOIN k r ON l.key = r.key AND l.id < r.id)
             |  WHERE jaccard >= 0.5),
             |edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
             |reach(a, b) AS (
             |  SELECT a, a FROM edges
             |  UNION
             |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
             |comp AS (SELECT a AS doc_id, MIN(b) AS keeper FROM reach GROUP BY a),
             |j AS (SELECT c.doc_id, c.keeper, d.n_chars
             |      FROM comp c JOIN documents d USING (doc_id))
             |SELECT doc_id,
             |  first_value(doc_id) OVER w AS canonical_id,
             |  CAST(doc_id <> first_value(doc_id) OVER w AS INTEGER) AS is_dup
             |FROM j WINDOW w AS (PARTITION BY keeper ORDER BY n_chars DESC, doc_id ASC)""".stripMargin)),

    // embedding-space QA: bottom-5 cosine-to-own-label-centroid per label
    // (centroids broadcast; corpus pass is one codegen'd cosine per row)
    ("p_emb_outlier", ((s: SparkSession, dir: String) =>
      graft.pipeline.Similarity.centroidOutliers(emb(s, dir), "vec_id",
        "embedding", "label", k = 5)): Q,
      Some("""WITH ex AS (SELECT label, pos, CAST(embedding[pos] AS DOUBLE) AS v FROM
             |  (SELECT label, embedding,
             |     unnest(generate_series(1, len(embedding))) AS pos FROM embeddings) q),
             |cent AS (SELECT label, pos, SUM(v) AS c FROM ex GROUP BY 1, 2),
             |ca AS (SELECT label, list(c ORDER BY pos ASC) AS cv FROM cent GROUP BY label),
             |sc AS (SELECT e.vec_id AS id, e.label,
             |  list_reduce(list_transform(generate_series(1, len(e.embedding)),
             |    i -> CAST(e.embedding[i] AS DOUBLE) * cv[i]), (x,y) -> x+y)
             |  / ( sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
             |       i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (x,y) -> x+y))
             |    * sqrt(list_reduce(list_transform(generate_series(1, len(cv)),
             |       i -> cv[i] * cv[i]), (x,y) -> x+y)) ) AS score
             |  FROM embeddings e JOIN ca ON e.label = ca.label)
             |SELECT id, label, round(score, 6) AS score FROM
             |  (SELECT *, row_number() OVER (PARTITION BY label ORDER BY score ASC, id ASC) AS rn
             |   FROM sc) t
             |WHERE rn <= 5""".stripMargin)),

    // per-source duplication-rate governance report; the corpus has no natural
    // exact dups, so boilerplate texts are planted deterministically in BOTH
    // engines (cf. p_redact) — dups counted against the whole corpus
    ("p_dup_rate", ((s: SparkSession, dir: String) =>
      Dedup.dupRate(
        docs(s, dir).withColumn("text",
          when(col("doc_id") % 7 === 3,
            concat(lit("boilerplate notice "), (col("doc_id") % 3).cast("string")))
            .otherwise(col("text"))),
        "doc_id", "text", "source")): Q,
      Some("""WITH d AS (SELECT source, doc_id, CASE WHEN doc_id % 7 = 3
             |  THEN 'boilerplate notice ' || CAST(doc_id % 3 AS VARCHAR)
             |  ELSE text END AS text FROM documents),
             |r AS (SELECT source, doc_id,
             |  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn FROM d)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
             |  round(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS dup_frac
             |FROM r GROUP BY source""".stripMargin)),

    // tokenizer training: learn the top-3 BPE merges corpus-wide (greedy
    // left-to-right merge semantics; per-round work is vocabulary-sized)
    // tokenizer application: train 3 merges, then encode the corpus with them
    // (vocab-sized encode, broadcast word→pieces map; corpus never shuffles)
    ("p_bpe_encode", ((s: SparkSession, dir: String) => {
      val m = TextStats.bpeTrainMerges(docs(s, dir), "doc_id", "text", merges = 3)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextStats.bpeEncodeCounts(docs(s, dir), "doc_id", "text", m)
    }): Q,
      Some(bpeSql(rounds = 3,
        """enc AS (SELECT w, CAST(len(seq) AS BIGINT) AS n FROM seq_4),
          |dt AS (SELECT doc_id, t.w FROM documents,
          |  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(w)
          |  WHERE length(t.w) > 0)
          |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_pieces
          |FROM dt JOIN enc USING (w) GROUP BY doc_id""".stripMargin))),

    ("p_bpe_train", ((s: SparkSession, dir: String) =>
      TextStats.bpeTrainMerges(docs(s, dir), "doc_id", "text", merges = 3)): Q,
      Some("""WITH wf AS (SELECT t.w, COUNT(*) AS freq FROM documents,
             |  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t(w)
             |  WHERE length(t.w) > 0 GROUP BY t.w),
             |seq_1 AS (SELECT w, freq,
             |  list_transform(generate_series(1, length(w)), i -> w[i:i]) AS seq FROM wf),
             |bg_1 AS (SELECT w, freq, seq, unnest(generate_series(1, len(seq)-1)) AS j FROM seq_1),
             |pc_1 AS (SELECT seq[j] AS l, seq[j+1] AS r, SUM(freq) AS cnt FROM bg_1 GROUP BY 1, 2),
             |top_1 AS (SELECT l, r, cnt FROM pc_1 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
             |mm_1 AS (SELECT b.w, b.j FROM bg_1 b, top_1 t WHERE b.seq[b.j] = t.l AND b.seq[b.j+1] = t.r),
             |isl_1 AS (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS grp FROM mm_1),
             |sel_1 AS (SELECT w, j FROM (SELECT w, j,
             |    ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY j) AS k FROM isl_1) t WHERE k % 2 = 1),
             |pos_1 AS (SELECT w, freq, seq, unnest(generate_series(1, len(seq))) AS p FROM seq_1),
             |seq_2 AS (
             |  SELECT p1.w, any_value(p1.freq) AS freq,
             |    list(CASE WHEN s.j IS NOT NULL THEN p1.seq[p1.p] || p1.seq[p1.p+1]
             |              ELSE p1.seq[p1.p] END ORDER BY p1.p) AS seq
             |  FROM pos_1 p1
             |  LEFT JOIN sel_1 s ON s.w = p1.w AND s.j = p1.p
             |  LEFT JOIN sel_1 s2 ON s2.w = p1.w AND s2.j = p1.p - 1
             |  WHERE s2.j IS NULL
             |  GROUP BY p1.w),
             |bg_2 AS (SELECT w, freq, seq, unnest(generate_series(1, len(seq)-1)) AS j FROM seq_2),
             |pc_2 AS (SELECT seq[j] AS l, seq[j+1] AS r, SUM(freq) AS cnt FROM bg_2 GROUP BY 1, 2),
             |top_2 AS (SELECT l, r, cnt FROM pc_2 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
             |mm_2 AS (SELECT b.w, b.j FROM bg_2 b, top_2 t WHERE b.seq[b.j] = t.l AND b.seq[b.j+1] = t.r),
             |isl_2 AS (SELECT w, j, j - ROW_NUMBER() OVER (PARTITION BY w ORDER BY j) AS grp FROM mm_2),
             |sel_2 AS (SELECT w, j FROM (SELECT w, j,
             |    ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY j) AS k FROM isl_2) t WHERE k % 2 = 1),
             |pos_2 AS (SELECT w, freq, seq, unnest(generate_series(1, len(seq))) AS p FROM seq_2),
             |seq_3 AS (
             |  SELECT p1.w, any_value(p1.freq) AS freq,
             |    list(CASE WHEN s.j IS NOT NULL THEN p1.seq[p1.p] || p1.seq[p1.p+1]
             |              ELSE p1.seq[p1.p] END ORDER BY p1.p) AS seq
             |  FROM pos_2 p1
             |  LEFT JOIN sel_2 s ON s.w = p1.w AND s.j = p1.p
             |  LEFT JOIN sel_2 s2 ON s2.w = p1.w AND s2.j = p1.p - 1
             |  WHERE s2.j IS NULL
             |  GROUP BY p1.w),
             |bg_3 AS (SELECT w, freq, seq, unnest(generate_series(1, len(seq)-1)) AS j FROM seq_3),
             |pc_3 AS (SELECT seq[j] AS l, seq[j+1] AS r, SUM(freq) AS cnt FROM bg_3 GROUP BY 1, 2),
             |top_3 AS (SELECT l, r, cnt FROM pc_3 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1)
             |SELECT 1 AS merge_rank, l AS lhs, r AS rhs, CAST(cnt AS BIGINT) AS cnt FROM top_1
             |UNION ALL SELECT 2, l, r, CAST(cnt AS BIGINT) FROM top_2
             |UNION ALL SELECT 3, l, r, CAST(cnt AS BIGINT) FROM top_3""".stripMargin)),

    // stream-stream interval join: purchases attribute to the views that
    // preceded them within 30 minutes, per user — watermarked state-bounded
    // event-time join (both sides streaming), emitted through the append sink
    ("q_stream_join", ((s: SparkSession, dir: String) => {
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      // Stateful partition count sizes to the STATE, not the batch CPUs: a
      // stream-stream join instantiates 4 state stores per shuffle partition,
      // so 32 partitions of kilobyte state is pure store-init overhead
      // (streamStatePartitions derives the count from source bytes — 8 at
      // this SF, rising with state volume at real scale)
      val ss = streamSession(s, dir, "events.parquet")
      def src = ss.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts2", tsStamp(sch("ts").dataType))
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts2").as("view_ts"), col("event_id").as("view_id"))
        .withWatermark("view_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts2").as("p_ts"),
          col("event_id").as("purchase_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = purchases.join(views,
        col("p_user") === col("user_id") &&
          col("view_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("view_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("view_id"))
      val qn = "qsj_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // AvailableNow drains the (single-file) source in bounded micro-batches
      // and self-stops — wall time reflects the join, not trigger spin-up.
      val q = joined.writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("append").start()
      try q.awaitTermination() finally q.stop()
      val out = ss.table(qn).localCheckpoint()
      ss.catalog.dropTempView(qn)
      out
    }): Q,
      Some("""SELECT p.event_id AS purchase_id, v.event_id AS view_id
             |FROM events p JOIN events v ON v.user_id = p.user_id
             | AND p.event_type = 'purchase' AND v.event_type = 'view'
             | AND v.ts >= p.ts - INTERVAL '30 minutes' AND v.ts <= p.ts""".stripMargin)),

    // Structured Streaming session windows: gap-based event-time sessions per
    // user (session_window + stateful merge), flushed via the memory sink; the
    // oracle derives identical sessions with the lag/cumulative-sum law
    ("p_stream_sessions", ((s: SparkSession, dir: String) => {
      val sch = s.read.parquet(s"$dir/events.parquet").schema
      // state-sized partitioning (see streamSession): session state here is
      // tiny, so fewer state-store instances beat batch parallelism
      val ss = streamSession(s, dir, "events.parquet")
      // partial-merge sessions map-side before the keyed exchange (the session
      // analog of partial aggregation — the shape that scales)
      ss.conf.set("spark.sql.streaming.sessionWindow.merge.sessions.in.local.partition", "true")
      val ev = ss.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
        .withColumn("ts2", tsStamp(sch("ts").dataType))
      val agg = ev.groupBy(session_window(col("ts2"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(round(col("value") * 100)).cast("long").as("cents"))
        .select(col("w")("start").as("session_start"), col("user_id"),
          col("n_events"), col("cents"))
      val qn = "pss_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("complete").start()
      try q.awaitTermination() finally q.stop()
      val out = ss.table(qn).localCheckpoint()
      ss.catalog.dropTempView(qn)
      out
    }): Q,
      Some("""WITH p AS (SELECT user_id, ts, value,
             |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev FROM events),
             |s AS (SELECT user_id, ts, value,
             |  SUM(CASE WHEN prev IS NULL OR ts >= prev + INTERVAL '30 minutes' THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM p)
             |SELECT MIN(ts) AS session_start, user_id, COUNT(*) AS n_events,
             |  CAST(SUM(ROUND(value*100, 0)) AS BIGINT) AS cents
             |FROM s GROUP BY user_id, sid""".stripMargin))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (sparqlQueries ++ pipelineQueries).map { case (n, f, _) => n -> f }.toMap

  def oracleSql: Map[String, String] =
    (sparqlQueries ++ pipelineQueries).collect { case (n, _, Some(sql)) => n -> sql }.toMap
}
