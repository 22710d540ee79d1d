package graft

import graft.engine.Engine
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** End-to-end SPARQL evaluation over the sf0.001 store, asserting against independent
  * Spark SQL on the raw parquet tables (the in-repo analog of the reference's
  * data-driven golden tests, AbstractDataDrivenSPARQLTestCase).
  */
class EngineSpec extends GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  private def raw(t: String) = {
    val df = spark.read.parquet(s"$dir/$t.parquet")
    df.createOrReplaceTempView(t)
    df
  }
  raw("customer"); raw("orders"); raw("nation"); raw("region"); raw("lineitem")

  test("bgp join + filter matches SQL") {
    val got = Engine.query(store,
      """SELECT ?name WHERE { ?c a <urn:c:Customer> ; <urn:p:c_name> ?name ;
        |  <urn:p:c_acctbal> ?b . FILTER(?b >= 9000.0) }""".stripMargin)
      .select(col("name")("str")).as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted
    val exp = spark.sql("SELECT c_name FROM customer WHERE c_acctbal >= 9000.0")
      .collect().map(_.getString(0)).sorted
    assert(got.sameElements(exp))
  }

  test("optional yields unbound for customers without orders") {
    val df = Engine.query(store,
      """SELECT ?ckey ?okey WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
        |  OPTIONAL { ?o <urn:fk:o_custkey> ?c ; <urn:p:o_orderkey> ?okey } }""".stripMargin)
    val gotNull = df.filter(col("okey").isNull).count()
    val expNull = sql1(
      "SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)")
      .asInstanceOf[Long]
    assert(gotNull == expNull)
  }

  test("minus equals not-exists equals SQL anti join") {
    def cnt(q: String) = Engine.query(store, q).count()
    val m = cnt("""SELECT ?ckey WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
                  |  MINUS { ?o <urn:fk:o_custkey> ?c . } }""".stripMargin)
    val ne = cnt("""SELECT ?ckey WHERE { ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?ckey .
                   |  FILTER NOT EXISTS { ?o <urn:fk:o_custkey> ?c } }""".stripMargin)
    val exp = sql1("SELECT COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)").asInstanceOf[Long]
    assert(m == exp && ne == exp)
  }

  test("union pads missing vars with unbound") {
    val df = Engine.query(store,
      """SELECT ?cn ?sn WHERE {
        |  { ?c a <urn:c:Customer> ; <urn:p:c_name> ?cn }
        |  UNION { ?s a <urn:c:Supplier> ; <urn:p:s_name> ?sn } }""".stripMargin)
    val custRows = sql1("SELECT COUNT(*) FROM customer").asInstanceOf[Long]
    assert(df.filter(col("sn").isNull).count() == custRows)
  }

  test("aggregation with having and ordering") {
    val rows = Engine.query(store,
      """SELECT ?nname (COUNT(*) AS ?cnt) WHERE {
        |  ?c a <urn:c:Customer> ; <urn:fk:c_nationkey> ?n . ?n <urn:p:n_name> ?nname }
        |GROUP BY ?nname HAVING (COUNT(*) >= 5) ORDER BY DESC(?cnt) ?nname""".stripMargin)
      .select(col("nname")("str"), col("cnt")("lng")).collect()
    val exp = spark.sql(
      """SELECT n_name, COUNT(*) c FROM customer JOIN nation ON c_nationkey=n_nationkey
        |GROUP BY n_name HAVING COUNT(*) >= 5 ORDER BY c DESC, n_name""".stripMargin).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      exp.map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("sum over integers stays integer; over doubles stays double; error voids") {
    val r = Engine.query(store,
      """SELECT (SUM(?k) AS ?sk) (SUM(?b) AS ?sb) (SUM(?nm) AS ?snm) WHERE {
        |  ?c a <urn:c:Customer> ; <urn:p:c_custkey> ?k ; <urn:p:c_acctbal> ?b ;
        |     <urn:p:c_name> ?nm }""".stripMargin).first()
    assert(r.getStruct(0).getAs[String]("dt").endsWith("integer"))
    assert(r.getStruct(1).getAs[String]("dt").endsWith("double"))
    assert(r.isNullAt(2)) // SUM over strings → type error voids the aggregate
  }

  test("sum/avg over decimals is exact") {
    // 0.1 cannot be represented in binary: summing it 150 times in doubles drifts
    // (15.000000000000004); the decimal path must yield exactly 15
    val r = Engine.query(store,
      """SELECT (SUM(?d) AS ?sd) (AVG(?d) AS ?ad) WHERE {
        |  ?c a <urn:c:Customer> . BIND(0.1 AS ?d) }""".stripMargin).first()
    assert(r.getStruct(0).getAs[String]("dt").endsWith("decimal"))
    assert(r.getStruct(0).getAs[String]("str") == "15")
    assert(r.getStruct(1).getAs[String]("dt").endsWith("decimal"))
    assert(r.getStruct(1).getAs[String]("str") == "0.1")
    // integer + decimal mix promotes the aggregate to decimal
    val m = Engine.query(store,
      """SELECT (SUM(?v) AS ?s) WHERE {
        |  { BIND(2 AS ?v) } UNION { BIND(0.5 AS ?v) } }""".stripMargin).first()
    assert(m.getStruct(0).getAs[String]("dt").endsWith("decimal"))
    assert(m.getStruct(0).getAs[String]("str") == "2.5")
  }

  test("property path + and zero-or-more") {
    val plus = Engine.query(store,
      "SELECT ?o WHERE { <urn:t:nation:5> <urn:fk:n_regionkey>+ ?o }").count()
    assert(plus == 1) // nation→region, no deeper edges
    val star = Engine.query(store,
      "SELECT ?o WHERE { <urn:t:nation:5> <urn:fk:n_regionkey>* ?o }").count()
    assert(star == 2) // zero-length self + region
  }

  test("negated property set") {
    val df = Engine.query(store,
      "SELECT ?p WHERE { <urn:t:region:0> !(<urn:p:r_name>) ?o . BIND(<urn:p:r_name> AS ?p) }")
    // region:0 has 3 triples; excluding r_name leaves type + r_regionkey
    assert(df.count() == 2)
  }

  test("values and in-filter") {
    val a = Engine.query(store,
      """SELECT ?name WHERE { VALUES ?seg { "BUILDING" }
        |  ?c <urn:p:c_mktsegment> ?seg ; <urn:p:c_name> ?name }""".stripMargin).count()
    val b = sql1("SELECT COUNT(*) FROM customer WHERE c_mktsegment = 'BUILDING'").asInstanceOf[Long]
    assert(a == b)
  }

  test("ask true/false") {
    assert(Engine.query(store, "ASK { ?c <urn:p:c_acctbal> ?b . FILTER(?b > 0.0) }")
      .first().getBoolean(0))
    assert(!Engine.query(store, "ASK { ?c <urn:p:c_acctbal> ?b . FILTER(?b > 1.0E12) }")
      .first().getBoolean(0))
  }

  test("construct emits deduplicated template triples") {
    val df = Engine.query(store,
      """CONSTRUCT { ?n <urn:p:hasCustomer> ?c } WHERE { ?c <urn:fk:c_nationkey> ?n }""")
    val exp = sql1("SELECT COUNT(DISTINCT (c_nationkey, c_custkey)) FROM customer").asInstanceOf[Long]
    assert(df.count() == exp)
  }

  test("construct where shorthand round-trips the matched pattern") {
    val df = Engine.query(store,
      "CONSTRUCT WHERE { ?c <urn:fk:c_nationkey> ?n }")
    val exp = sql1("SELECT COUNT(DISTINCT (c_nationkey, c_custkey)) FROM customer").asInstanceOf[Long]
    assert(df.count() == exp)
    // emitted triples carry the pattern's predicate
    assert(df.select(col("p")("str")).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("urn:fk:c_nationkey"))
  }

  test("describe returns the resource subgraph") {
    val df = Engine.query(store, "DESCRIBE <urn:t:nation:3>")
    // type + n_nationkey + n_name + n_regionkey literal + fk:n_regionkey link
    assert(df.count() == 5)
  }

  test("graph var binds the named graph") {
    val gs = Engine.query(store,
      "SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s <urn:p:r_name> ?o } }")
      .select(col("g")("str")).collect().map(_.getString(0))
    assert(gs.toSeq == Seq("urn:g:region"))
  }

  test("order by over mixed types follows the SPARQL total order") {
    val df = Engine.query(store,
      """SELECT ?v WHERE {
        |  { BIND(5 AS ?v) } UNION { BIND("abc" AS ?v) } UNION { BIND(<urn:x:i> AS ?v) }
        |  } ORDER BY ?v""".stripMargin)
    val kinds = df.collect().map(r => r.getStruct(0).getAs[Byte]("kind"))
    assert(kinds.toSeq == Seq(0, 2, 2)) // IRI < literals
  }

  test("ORDER BY + LIMIT over a filtered star matches SQL") {
    val got = Engine.query(store,
      """SELECT ?n ?b WHERE { ?c a <urn:c:Customer> ; <urn:p:c_acctbal> ?b ; <urn:p:c_name> ?n .
        |  FILTER(?b > 1000) } ORDER BY ?n LIMIT 10""".stripMargin)
      .collect().map(r => (r.getStruct(0).getAs[String]("str"), r.getStruct(1).getAs[Double]("num")))
    val exp = spark.sql(
      "SELECT c_name, c_acctbal FROM customer WHERE c_acctbal > 1000 ORDER BY c_name LIMIT 10")
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.length == 10 && got.toSeq == exp.toSeq)
  }

  test("an always-false FILTER and a type-error FILTER both yield no rows") {
    assert(Engine.query(store,
      "SELECT ?n WHERE { ?c a <urn:c:Customer> ; <urn:p:c_acctbal> ?b . FILTER(?b > 1.0E12) }").count() == 0)
    // a string compared with a number is a type error, and an error is false
    assert(Engine.query(store,
      "SELECT ?n WHERE { ?c a <urn:c:Customer> ; <urn:p:c_name> ?n . FILTER(?n > 5) }").count() == 0)
  }

  test("malformed text, an unregistered SERVICE and bds: without bds:search fail cleanly") {
    val parse = intercept[Exception](Engine.query(store, "SELECT ?x WHERE { ?x <urn:p:broken "))
    assert(parse.getMessage.contains("unterminated IRI"))
    val svc = intercept[Exception](Engine.query(store,
      "SELECT ?x WHERE { SERVICE <urn:svc:nope> { ?x ?p ?o } }").count())
    assert(svc.getMessage.contains("urn:svc:nope"))
    val bds = intercept[Exception](Engine.query(store,
      "SELECT ?x WHERE { ?x <http://www.bigdata.com/rdf/search#relevance> ?r }").count())
    assert(bds.getMessage.contains("bds:search"))
  }

  test("DELETE DATA of an absent statement is a no-op") {
    val after = graft.engine.Update(store, "DELETE DATA { <urn:no:such> <urn:p:x> 1 . }")
    assert(after.statements.count() == store.statements.count())
  }

  test("flagship entry: path join + group matches SQL") {
    val got = SparkEntry.entry(spark).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue)).toSet
    val exp = spark.sql(
      """SELECT n_name, COUNT(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got.nonEmpty && got == exp)
  }

  test("JobMeter counts the calling thread's jobs and not another thread's") {
    import graft.tools.JobMeter
    val q = "SELECT (COUNT(*) AS ?n) WHERE { ?c a <urn:c:Customer> ; <urn:p:c_acctbal> ?b }"
    Engine.query(store, q).count() // warm the store's lazily probed metadata
    val (_, alone) = JobMeter.measure(spark)(Engine.query(store, q).count())
    assert(alone.jobs.sum() > 0 && alone.tasks.sum() > 0 && alone.recordsRead.sum() > 0)
    // another thread runs a job inside the metered window, under its own meter
    var other: JobMeter = null
    val t = new Thread(() => other = JobMeter.measure(spark)(spark.range(0, 1000, 1, 13).count())._2)
    val (_, m) = JobMeter.measure(spark) {
      t.start(); t.join()
      Engine.query(store, q).count()
    }
    assert(other.tasks.sum() >= 13)
    assert((m.jobs.sum(), m.tasks.sum(), m.recordsRead.sum()) ==
      (alone.jobs.sum(), alone.tasks.sum(), alone.recordsRead.sum()))
  }
}
