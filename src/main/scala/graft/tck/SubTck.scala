package graft.tck

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.tck.RefTck.Outcome

/** The eval corpus's SUBDIRECTORY suites, wired explicitly from their own test
  * classes (the `TestHelper` calls there concatenate a `TEST_RESOURCE_PREFIX`
  * constant, so RefTck's top-level regex sweep cannot see them):
  *
  *  - `reif/` — Reification Done Right (RDF* / SIDs):
  *    `TestReificationDoneRightEval.java`. Pairings below mirror its TestHelper
  *    calls one-to-one (file:line cited per case). The two `rdr-00*` bootstrap
  *    tests build their store by hand through the BigdataValueFactory
  *    (`TestReificationDoneRightEval.java:111-169`); mirrored here as the
  *    equivalent `INSERT DATA` with an embedded-triple term, which exercises the
  *    same SIDs-mode assertion path.
  *  - `rto/` — Runtime Query Optimizer suites over BSBM/LUBM/BAR data
  *    (`TestRTO_BSBM.java`, `TestRTO_LUBM.java`, `TestRTO_BAR.java`). The RTO
  *    join-order assertions are internal to the reference's optimizer; the
  *    data-driven part (query + data + expected solutions) is what a second
  *    engine can and must reproduce, and `hint:RTO-*` query hints are accepted
  *    and ignored like any other unknown hint. The nine BSBM cases wire
  *    `src/test/resources/data/bsbm/dataset_pc100.nt`, which is NOT shipped in
  *    the reference checkout (TestRTO_BSBM.java:153 — the BSBM generator output
  *    was never committed); they are SKIP-EXTERNAL with that evidence.
  *    `TestRTO_FOAF.java` wires `rto/FOAF-Q{1,2,10}.srx` expected-result files
  *    that do not exist in the corpus at all — with no expected results there is
  *    nothing to adjudicate against, so those three are not countable cases.
  */
object SubTck {

  private val ReifDir = new File(RefTck.EvalDir, "reif")
  private val RtoDir = new File(RefTck.EvalDir, "rto")

  /** `TestReificationDoneRightEval.java:111-169` hand-asserts the SAP/sybase
    * ground statement plus dc:source and dc:created metadata on its sid.
    */
  private val rdr00Insert =
    """INSERT DATA {
      |  << <http://example.com/SAP> <http://example.com/bought> <http://example.com/sybase> >>
      |     <http://purl.org/dc/terms/source> <http://example.com/news/us-sybase> ;
      |     <http://purl.org/dc/terms/created> "2011-04-05T12:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
      |}""".stripMargin

  /** (name, rq, data, srx, bootstrapUpdate) — file:line is the TestHelper call
    * in TestReificationDoneRightEval.java.
    */
  private val reifCases: Seq[(String, String, Seq[String], String, Option[String])] = Seq(
    ("rdr-00", "rdr-02.rq", Seq("empty.ttl"), "rdr-02.srx", Some(rdr00Insert)), // :161
    ("rdr-00-loadFromFile", "rdr-02.rq", Seq("rdr-02.ttlx"), "rdr-02.srx", None), // :177
    ("rdr-00a", "rdr-02a.rq", Seq("empty.ttl"), "rdr-02a.srx", Some(rdr00Insert)), // :240
    ("rdr-00a-loadFromFile", "rdr-02a.rq", Seq("rdr-02.ttlx"), "rdr-02a.srx", None), // :254
    ("rdr-01", "rdr-01.rq", Seq("rdr-01.ttl"), "rdr-01.srx", None), // :277
    ("rdr-01-usingRDRData", "rdr-01.rq", Seq("rdr-01.ttlx"), "rdr-01.srx", None), // :300
    ("rdr-01a", "rdr-01a.rq", Seq("rdr-01.ttl"), "rdr-01a.srx", None), // :324
    ("rdr-01a-usingRDRData", "rdr-01a.rq", Seq("rdr-01.ttlx"), "rdr-01a.srx", None), // :348
    ("rdr-02", "rdr-02.rq", Seq("rdr-02.ttl"), "rdr-02.srx", None), // :365
    ("rdr-02-usingRDRData", "rdr-02.rq", Seq("rdr-02.ttlx"), "rdr-02.srx", None), // :384
    ("rdr-02a", "rdr-02a.rq", Seq("rdr-02a.ttl"), "rdr-02a.srx", None), // :408
    ("rdr-02a-usingRDRData", "rdr-02a.rq", Seq("rdr-02a.ttlx"), "rdr-02a.srx", None), // :430
    ("rdr-03", "rdr-03.rq", Seq("rdr-03.ttl"), "rdr-03.srx", None), // :465
    ("rdr-03a", "rdr-03a.rq", Seq("rdr-03a.ttl"), "rdr-03a.srx", None), // :500
    ("rdr-04", "rdr-04.rq", Seq("rdr-04.ttlx"), "rdr-04.srx", None), // :516
    ("rdr-05a", "rdr-05a.rq", Seq("rdr-05.ttl"), "rdr-05.srx", None), // :538
    ("rdr-05b", "rdr-05b.rq", Seq("rdr-05.ttl"), "rdr-05.srx", None)) // :555

  private val LubmData = "src/test/resources/data/lehigh/LUBM-U1.rdf.gz"
  private val BarData = "src/test/resources/data/barData/barData.trig.gz"

  /** Runnable RTO cases (data ships in the checkout). file:line is the
    * TestHelper call in the TestRTO_* class.
    */
  private val rtoCases: Seq[(String, String, Seq[String], String)] = Seq(
    ("rto-BSBM-Q1-noSolutions", "BSBM-Q1.rq", Seq.empty, "BSBM-Q1-noSolutions.srx"), // TestRTO_BSBM.java:128
    ("rto-LUBM-Q2", "LUBM-Q2.rq", Seq(LubmData), "LUBM-Q2.srx"), // TestRTO_LUBM.java:87
    ("rto-LUBM-Q8", "LUBM-Q8.rq", Seq(LubmData), "LUBM-Q8.srx"), // TestRTO_LUBM.java:110
    ("rto-LUBM-Q9", "LUBM-Q9.rq", Seq(LubmData), "LUBM-Q9.srx"), // TestRTO_LUBM.java:146
    ("rto-BAR-Q1", "BAR-Q1.rq", Seq(BarData), "BAR-Q1.srx")) // TestRTO_BAR.java:102

  /** BSBM cases whose data file the checkout does not ship (TestRTO_BSBM.java
    * wires `src/test/resources/data/bsbm/dataset_pc100.nt`; the directory does
    * not exist — the pc100 generator output was never committed upstream).
    */
  private val rtoExternal =
    Seq("BSBM-Q1", "BSBM-Q2", "BSBM-Q3", "BSBM-Q4", "BSBM-Q5",
      "BSBM-Q7", "BSBM-Q7b", "BSBM-Q8", "BSBM-Q10")

  /** BSBM BI + Explore suites (`bsbm/bi/TestBsbmBIQuery.java:67-145`,
    * `bsbm/explore/TestBsbmExploreQuery.java:67-180`): the full BSBM query mixes
    * against `bsbm/emptyDataset.nt` with `empty.srx` expected — parse/plan/run
    * proofs for the hardest public benchmark query shapes (correlated
    * subqueries, multi-OPTIONAL stacks, negation-by-OPTIONAL). Explore query9
    * is DESCRIBE and query12 CONSTRUCT (graph results — `empty.srx` just
    * encodes zero solutions), run directly and asserted empty. There is no
    * explore query6 (dropped from the mix in BSBM v3.0, per the test class) and
    * query5b.txt has no test method.
    */
  private val bsbmBi = (1 to 8).map(n => (s"bsbm-bi-query$n", s"bsbm/bi/query$n.rq"))
  private val bsbmExplore = ((1 to 5) ++ (7 to 12))
    .map(n => (s"bsbm-explore-query$n", s"bsbm/explore/query$n.txt"))
  private val bsbmGraphForm = Set("bsbm-explore-query9", "bsbm-explore-query12")

  private def runBsbm(spark: SparkSession, filter: String): Seq[Outcome] = {
    val evalDir = new File(RefTck.EvalDir)
    (bsbmBi ++ bsbmExplore).filter(_._1.contains(filter)).map {
      case (name, rq) if bsbmGraphForm(name) =>
        // DESCRIBE/CONSTRUCT over the empty dataset: graph-form result, srx
        // cannot carry it — the expectation is simply zero triples
        try {
          val rqText = java.nio.file.Files.readString(new File(evalDir, rq).toPath)
          val store = new graft.model.GraftStore(spark,
            graft.sources.Rio.readTurtle(spark, "").localCheckpoint())
          val n = graft.engine.Engine.query(store, rqText).count()
          if (n == 0) Outcome(name, "PASS")
          else Outcome(name, "FAIL", s"expected empty graph result, got $n triples")
        } catch { case e: Exception => Outcome(name, "ERROR", e.toString.take(200)) }
      case (name, rq) =>
        val srx = if (rq.contains("/bi/")) "bsbm/bi/empty.srx" else "bsbm/explore/empty.srx"
        RefTck.runCase(spark, evalDir, name, rq, Seq("bsbm/emptyDataset.nt"), srx)
    }
  }

  /** Named-solution-set UPDATE suite (`sail/tck/BigdataSPARQLUpdateTest2.java`,
    * data under `sail/tck/data/`): each case loads dataset-01.trig, applies the
    * test's update sequence (`INSERT INTO %set` / `DELETE FROM %set` — the
    * reference's solution-set update extension), then compares an
    * `INCLUDE %set` query against the shipped .srx. Update texts are the test
    * bodies' strings verbatim (file:line per case).
    */
  private val SsetsDir =
    "/root/reference/bigdata-sails-test/src/test/java/com/bigdata/rdf/sail/tck/data"

  private val ssetsPrologue =
    """PREFIX rdf:  <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
      |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
      |PREFIX foaf: <http://xmlns.com/foaf/0.1/>
      |""".stripMargin

  private val ssetsBuild = // shared "build the solution set" step (:566-575 etc.)
    """INSERT INTO %namedSet1
      |SELECT ?x ?name
      |WHERE { ?x rdf:type foaf:Person . ?x rdfs:label ?name . }""".stripMargin

  private val ssetsInclude1 = "SELECT ?x ?name WHERE { INCLUDE %namedSet1 . }"

  /** (name, update steps, final query, srx) */
  private val ssetsCases: Seq[(String, Seq[String], String, String)] = Seq(
    ("ssets-insertIntoSolutions_01", // :456-535
      Seq("""INSERT INTO %namedSet1
            |SELECT ?x ?name
            |WHERE { SELECT ?x ?name
            |WHERE { ?x rdf:type foaf:Person . ?x rdfs:label ?name . }
            |ORDER BY ?name }""".stripMargin),
      """SELECT ?x ?name WHERE { INCLUDE %namedSet1 . ?x rdfs:label "Mike" . }""",
      "test_insertIntoSolutions_01.srx"),
    ("ssets-deleteFromSolutions_01", // :541-620
      Seq(ssetsBuild,
        """DELETE FROM %namedSet1
          |SELECT *
          |WHERE { BIND(<http://www.bigdata.com/Mike> as ?x) BIND("Mike" as ?name) }""".stripMargin),
      ssetsInclude1, "test_deleteFromSolutions_01.srx"),
    ("ssets-deleteFromSolutions_02", // :622-698
      Seq(ssetsBuild,
        """DELETE FROM %namedSet1
          |SELECT ?x ?name
          |WHERE { ?x rdfs:label ?name . FILTER (?x = <http://www.bigdata.com/Mike>) . }""".stripMargin),
      ssetsInclude1, "test_deleteFromSolutions_02.srx"),
    ("ssets-deleteFromSolutions_03", // :700-774
      Seq(ssetsBuild,
        """DELETE FROM %namedSet1
          |SELECT ?x ?name
          |WHERE { ?x rdfs:label ?name . FILTER (?x = <http://www.bigdata.com/Bryan>) . }""".stripMargin),
      ssetsInclude1, "test_deleteFromSolutions_03.srx"),
    ("ssets-deleteInsertSolutions_01a", // :790-870, set the solutions left namedSet1
      Seq(ssetsBuild,
        """DELETE FROM %namedSet1
          |  SELECT ?x ?name
          |INSERT INTO %namedSet2
          |  SELECT ?x ?name
          |WHERE { ?x rdfs:label ?name . FILTER (?x = <http://www.bigdata.com/Bryan>) . }""".stripMargin),
      ssetsInclude1, "test_deleteInsertSolutions_01a.srx"),
    ("ssets-deleteInsertSolutions_01b", // :870-905, the solutions moved INTO namedSet2
      Seq(ssetsBuild,
        """DELETE FROM %namedSet1
          |  SELECT ?x ?name
          |INSERT INTO %namedSet2
          |  SELECT ?x ?name
          |WHERE { ?x rdfs:label ?name . FILTER (?x = <http://www.bigdata.com/Bryan>) . }""".stripMargin),
      "SELECT ?x ?name WHERE { INCLUDE %namedSet2 . }",
      "test_deleteInsertSolutions_01b.srx"))

  private def runSsets(spark: SparkSession, filter: String): Seq[Outcome] = {
    val dir = new File(SsetsDir)
    if (!dir.isDirectory) return Seq.empty
    ssetsCases.filter(_._1.contains(filter)).map { case (name, steps, query, srx) =>
      try {
        val trig = java.nio.file.Files.readString(new File(dir, "dataset-01.trig").toPath)
        var store = new graft.model.GraftStore(spark,
          graft.sources.Rio.readTrig(spark, trig).localCheckpoint())
        steps.foreach(u => store = graft.engine.Update(store, ssetsPrologue + u))
        val df = graft.engine.Engine.query(store, ssetsPrologue + query)
        val expected = Srx.parse(new File(dir, srx))
        RefTck.compare(name, df, expected)
      } catch { case e: Exception => Outcome(name, "ERROR", e.toString.take(200)) }
    }
  }

  def run(spark: SparkSession, filter: String = ""): Seq[Outcome] = {
    if (!ReifDir.isDirectory || !RtoDir.isDirectory) return Seq.empty
    val reif = reifCases
      .filter(c => (c._3 :+ c._2 :+ c._4).forall(n => new File(ReifDir, n).exists()))
      .filter(_._1.contains(filter))
      .map { case (name, rq, data, srx, boot) =>
        RefTck.runCase(spark, ReifDir, name, rq, data, srx,
          prep = st => boot.map(u => graft.engine.Update(st, u)).getOrElse(st))
      }
    val rto = rtoCases
      .filter(_._1.contains(filter))
      .map { case (name, rq, data, srx) =>
        RefTck.runCase(spark, RtoDir, name, rq, data, srx)
      }
    val ext = rtoExternal.filter(n => ("rto-" + n).contains(filter))
      .map(n => Outcome("rto-" + n, "SKIP-EXTERNAL",
        "dataset_pc100.nt not shipped in the checkout (TestRTO_BSBM.java:153)"))
    reif ++ rto ++ ext ++ runBsbm(spark, filter) ++ runSsets(spark, filter)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session()
    val outcomes = run(spark, args.headOption.getOrElse(""))
    println("SUBTCK-SUMMARY " + outcomes.groupBy(_.status).view.mapValues(_.size).toMap
      .toSeq.sortBy(_._1).map { case (s, n) => s"$s=$n" }.mkString(" "))
    outcomes.foreach(o => println(f"SUBTCK-${o.status}%-10s ${o.name}  ${o.detail.take(160)}"))
    spark.stop()
  }
}
