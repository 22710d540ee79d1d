package graft

import graft.engine.Engine
import graft.graph.PropertyGraph
import org.apache.spark.sql.functions._

class Feature2Spec extends GraftSuite {

  test("path quantifier {n,m} expands to bounded repetition") {
    // exactly 2 hops: lineitem → order → customer
    val two = Engine.query(store,
      "SELECT ?c WHERE { <urn:t:orders:1> (<urn:fk:o_custkey>){1,1} ?c }")
    val direct = Engine.query(store,
      "SELECT ?c WHERE { <urn:t:orders:1> <urn:fk:o_custkey> ?c }")
    assert(two.count() == direct.count())
    // {1,2} over nation→region: nation:5 reaches region only (1 hop; no 2-hop edges)
    val r = Engine.query(store,
      "SELECT ?x WHERE { <urn:t:nation:5> (<urn:fk:n_regionkey>){1,2} ?x }")
    assert(r.count() == 1)
    // {0,1} includes the zero-length self
    val z = Engine.query(store,
      "SELECT ?x WHERE { <urn:t:nation:5> (<urn:fk:n_regionkey>){0,1} ?x }")
    assert(z.count() == 2)
  }

  test("named subquery WITH ... AS %name / INCLUDE") {
    val df = Engine.query(store,
      """SELECT ?nname ?cnt
        |WITH { SELECT ?n (COUNT(*) AS ?cnt) WHERE {
        |         ?c <urn:fk:c_nationkey> ?n } GROUP BY ?n } AS %counts
        |WHERE { INCLUDE %counts . ?n <urn:p:n_name> ?nname }
        |ORDER BY DESC(?cnt) ?nname LIMIT 5""".stripMargin)
    val got = df.select(col("nname")("str"), col("cnt")("lng")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exp = spark.sql(
      """SELECT n_name, COUNT(*) c FROM
        | (SELECT * FROM parquet.`/root/testdata/sf0.001/customer.parquet`) c
        | JOIN (SELECT * FROM parquet.`/root/testdata/sf0.001/nation.parquet`) n
        |   ON c_nationkey=n_nationkey
        |GROUP BY n_name ORDER BY c DESC, n_name LIMIT 5""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == exp.toSeq)
  }

  test("include of unknown name is a clean error") {
    val e = intercept[IllegalArgumentException](
      Engine.query(store, "SELECT ?x WHERE { INCLUDE %nope }"))
    assert(e.getMessage.contains("%nope"))
  }

  test("bucketed store: subject-star self-join runs without a shuffle exchange") {
    import graft.model.GraftStore
    import graft.engine.TermIds
    GraftStore.saveBucketed(store.statements, "graft_bucketed_test", 8)
    // a private session: the broadcast threshold below must not leak into the
    // shared session other suites are using concurrently
    val own = spark.newSession()
    own.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = own.table("graft_bucketed_test")
      val a = t.filter(col("p_id") === TermIds.iriId("urn:p:c_name"))
        .select(col("s_id"), col("o").as("name"))
      val b = t.filter(col("p_id") === TermIds.iriId("urn:p:c_acctbal"))
        .select(col("s_id"), col("o").as("bal"))
      val joined = a.join(b, "s_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      val custRows = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
      assert(joined.count() == custRows)
    } finally spark.sql("DROP TABLE IF EXISTS graft_bucketed_test")
  }

  test("property graph facade: vertices, edges, traversal, values") {
    val g = new PropertyGraph(store)
    val nNations = g.verticesOfClass("urn:c:Nation").count()
    assert(nNations == 25)
    // traverse: nations → region, then region name
    val frontier = g.verticesOfClass("urn:c:Nation")
    val regionCount = g.out(frontier, "urn:fk:n_regionkey")
      .select(col("w")("id")).distinct().count()
    assert(regionCount == 5)
    val names = g.values(g.verticesOfClass("urn:c:Region"), "urn:p:r_name")
      .select(col("value")("str")).collect().map(_.getString(0)).toSet
    assert(names.size == 5)
    // edges/properties split literals vs links
    assert(g.edges.filter(col("dst")("kind") === graft.model.Term.KIND_LITERAL).count() == 0)
    assert(g.properties.filter(col("value")("kind") =!= graft.model.Term.KIND_LITERAL).count() == 0)
  }
}
