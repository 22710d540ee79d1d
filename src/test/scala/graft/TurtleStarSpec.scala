package graft

import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.model.GraftStore
import graft.sources.Rio

/** Turtle-star (`.ttlx`) loading and the RDR BIND-sid lookup semantics
  * (TestReificationDoneRightEval.java — the reif/ TCK suite runs the corpus
  * itself; this spec pins the unit-level contracts).
  */
class TurtleStarSpec extends GraftSuite {

  private val ttlx =
    """@prefix :   <http://ex.com/> .
      |@prefix dc: <http://purl.org/dc/terms/> .
      |:a :b :c .
      |:a2 :b :c .
      |<< :a :b :c >> dc:source :news ;
      |               dc:created "2011-04-05T12:00:00Z"^^<http://www.w3.org/2001/XMLSchema#dateTime> .
      |""".stripMargin

  test("ttlx load: annotation asserts inner statement once (set semantics)") {
    val st = new GraftStore(spark, Rio.readTurtle(spark, ttlx).localCheckpoint())
    // :a :b :c appears both plainly and as the annotation's inner statement —
    // exactly one stored row
    val inner = Engine.query(st,
      "SELECT ?s WHERE { ?s <http://ex.com/b> <http://ex.com/c> }")
    assert(inner.count() == 2) // :a and :a2, no duplicate for :a
    // the annotation is queryable through the SPARQL* pattern
    val ann = Engine.query(st,
      """SELECT ?src WHERE { << ?s <http://ex.com/b> <http://ex.com/c> >>
        |  <http://purl.org/dc/terms/source> ?src }""".stripMargin)
    assert(ann.select(col("src")("str")).collect().map(_.getString(0)).toSeq ==
      Seq("http://ex.com/news"))
  }

  test("BIND(<< >> AS ?sid) is a statement-pattern lookup, not a constructor") {
    val st = new GraftStore(spark, Rio.readTurtle(spark, ttlx).localCheckpoint())
    // unbound inner var: matches the annotated statement and binds it
    val df = Engine.query(st,
      """SELECT ?s ?src WHERE {
        |  BIND(<< ?s <http://ex.com/b> <http://ex.com/c> >> AS ?sid)
        |  ?sid <http://purl.org/dc/terms/source> ?src }""".stripMargin)
    val rows = df.select(col("s")("str"), col("src")("str")).collect()
    assert(rows.length == 1 && rows.head.getString(0) == "http://ex.com/a")
    // the sid exists only for ASSERTED statements: :a2 :b :c is asserted but
    // unannotated, :zz is neither — no phantom rows either way
    val none = Engine.query(st,
      """SELECT ?sid WHERE {
        |  BIND(<< <http://ex.com/zz> <http://ex.com/b> <http://ex.com/c> >> AS ?sid) }""".stripMargin)
    assert(none.count() == 0)
  }

  test("wildcard ?p over a sid subject hides the virtual decomposition") {
    val st = new GraftStore(spark, Rio.readTurtle(spark, ttlx).localCheckpoint())
    val df = Engine.query(st,
      """SELECT ?p WHERE { << <http://ex.com/a> <http://ex.com/b> <http://ex.com/c> >> ?p ?o }""")
    val ps = df.select(col("p")("str")).collect().map(_.getString(0)).toSet
    assert(ps == Set("http://purl.org/dc/terms/source", "http://purl.org/dc/terms/created"))
  }

  test("sid lookup over annotated nation names matches the raw table") {
    val nat = table("nation")
      .select("n_nationkey", "n_name").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getString(1))).sortBy(_._1)
    val data = nat.map { case (k, nm) =>
      s"""<urn:n:$k> <urn:p:name> "$nm" .
         |<< <urn:n:$k> <urn:p:name> "$nm" >> <urn:p:src> <urn:s:tpch> ;
         |   <urn:p:key> $k .""".stripMargin
    }.mkString("\n")
    val st = new GraftStore(spark, Rio.readTurtle(spark, data).localCheckpoint())
    // `?k-10` is the variable ?k minus 10; ORDER BY a cast function call
    val got = Engine.query(st,
      """PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        |SELECT ?name ?k WHERE {
        |  BIND(<< ?x <urn:p:name> ?name >> AS ?sid)
        |  ?sid <urn:p:key> ?k .
        |  FILTER(?k-10 >= 0)
        |} ORDER BY xsd:integer(str(?k))""".stripMargin)
      .select(col("name")("str"), col("k")("num").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = nat.filter(_._1 >= 10).map { case (k, nm) => (nm, k) }.toSeq
    assert(want.nonEmpty && got == want)
  }
}
