package graft.tck

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.Engine
import graft.model.GraftStore
import graft.server.SparqlServer
import graft.sources.Rio
import graft.tck.RefTck.Outcome

/** The reference's SERVICE-federation conformance suite
  * (`bigdata-sails-test/.../webapp/TestFederatedQuery.java` over the
  * `openrdf-service/` corpus), run LOOPBACK: every endpoint's dataset is served
  * by this repo's own `SparqlServer`, the query's
  * `http://localhost:18080/openrdf/repositories/endpointN` aliases are
  * rewritten to the live loopback URLs (exactly what the reference's harness
  * does — TestFederatedQuery.java:658-660), and the query runs through the full
  * engine with `RemoteService` doing SPARQL-protocol federation over the wire.
  *
  * The runnable case list mirrors the reference's own test methods
  * (file:line cited per case); test4 (:449), test12 (:577) and test13 (:606)
  * are disabled IN THE REFERENCE ITSELF (commented out with FIXME notes), so
  * they are recorded as SKIP-REFBUG, not as coverage we lack.
  *
  * Usage: runMain graft.tck.FedTck [nameFilter]
  */
object FedTck {

  val Dir =
    "/root/reference/bigdata-sails-test/src/test/java/com/bigdata/rdf/sail/webapp/openrdf-service"

  /** The endpoint-alias base the corpus queries/data/expected files use. */
  val AliasBase = "http://localhost:18080/openrdf/repositories/endpoint"

  final case class FedCase(name: String, rq: String, local: Option[String],
                           endpoints: Seq[String], srx: String)

  /** TestFederatedQuery.java test methods, in source order. */
  val cases: Seq[FedCase] = Seq(
    // test1 :419
    FedCase("fed-service01", "service01.rq", Some("data01.ttl"),
      Seq("data01endpoint.ttl"), "service01.srx"),
    // test2 :425
    FedCase("fed-service02", "service02.rq", None,
      Seq("data02endpoint1.ttl", "data02endpoint2.ttl"), "service02.srx"),
    // test3 :439
    FedCase("fed-service03", "service03.rq", None,
      Seq("data03endpoint1.ttl", "data03endpoint2.ttl"), "service03.srx"),
    // test5 :456 — endpoint IRIs appear IN THE DATA (SERVICE ?var); the
    // reference registers registry aliases for them (:458-490), this harness
    // rewrites the data/expected texts with the live URLs instead
    FedCase("fed-service05", "service05.rq", Some("data05.ttl"),
      Seq("data05endpoint1.ttl", "data05endpoint2.ttl"), "service05.srx"),
    // test6 :504
    FedCase("fed-service06", "service06.rq", None,
      Seq("data06endpoint1.ttl"), "service06.srx"),
    // test7 :510 — SERVICE SILENT on an invalid endpoint
    FedCase("fed-service07", "service07.rq", Some("data07.ttl"),
      Nil, "service07.srx"),
    // test8 :517
    FedCase("fed-service08", "service08.rq", Some("data08.ttl"),
      Seq("data08endpoint.ttl"), "service08.srx"),
    // test9 :524 — BIND the endpoint, SERVICE ?var
    FedCase("fed-service09", "service09.rq", None,
      Seq("data09endpoint.ttl"), "service09.srx"),
    // test10 :535
    FedCase("fed-service10", "service10.rq", Some("data10.ttl"),
      Seq("data10endpoint.ttl"), "service10.srx"),
    // test10b :548 — same expected results as test10
    FedCase("fed-service10b", "service10b.rq", Some("data10.ttl"),
      Seq("data10endpoint.ttl"), "service10.srx"),
    // test11 :555
    FedCase("fed-service11", "service11.rq", Some("data11.ttl"),
      Seq("data11endpoint.ttl"), "service11.srx"),
    // test13b :620 — WITH/INCLUDE named subqueries over SERVICE (SES 899)
    FedCase("fed-service13b", "service13b.rq", None,
      Seq("data13.ttl"), "service13.srx"),
    // testEmptyServiceBlock :626 — two empty SERVICE groups (SES 900)
    FedCase("fed-service14", "service14.rq", None,
      Seq("data13.ttl"), "service14.srx"))

  /** Reference-disabled tests (SKIP-REFBUG with the disabling site). */
  val refDisabled: Seq[Outcome] = Seq(
    Outcome("fed-service04", "SKIP-REFBUG",
      "disabled in TestFederatedQuery.java:445-453 (FIXME: test may be in error)"),
    Outcome("fed-service12", "SKIP-REFBUG",
      "disabled in TestFederatedQuery.java:577-590"),
    Outcome("fed-service13", "SKIP-REFBUG",
      "disabled in TestFederatedQuery.java:592-609 (worked around as test13b)"))

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSpark.session()
    val filter = args.headOption.getOrElse("")
    val outcomes = run(spark, filter)
    val byStatus = outcomes.groupBy(_.status).view.mapValues(_.size).toMap
    println("FEDTCK-SUMMARY " + byStatus.toSeq.sortBy(_._1)
      .map { case (s, n) => s"$s=$n" }.mkString(" "))
    outcomes.filter(_.status != "PASS").foreach(o =>
      println(f"FEDTCK-${o.status}%-10s ${o.name}  ${o.detail.take(160)}"))
    spark.stop()
  }

  def run(spark: SparkSession, filter: String = ""): Seq[Outcome] =
    (cases.filter(_.name.contains(filter)).map(c => runCase(spark, c)) :+
      runSimple(spark)) ++ refDisabled.filter(_.name.contains(filter))

  private def read(name: String): String =
    Files.readString(new File(Dir, name).toPath)

  private def ttlStore(spark: SparkSession, text: String): GraftStore =
    new GraftStore(spark, Rio.readTurtle(spark, text).localCheckpoint())

  def runCase(spark: SparkSession, c: FedCase): Outcome = {
    val servers = c.endpoints.map { dn =>
      new SparqlServer(ttlStore(spark, read(dn))).start()
    }
    try {
      val urls = servers.map(s => s"http://127.0.0.1:${s.boundPort}/sparql")
      def rewrite(text: String): String =
        urls.zipWithIndex.foldLeft(text) { case (t, (u, i)) =>
          t.replace(AliasBase + (i + 1), u)
        }
      val store = c.local match {
        case Some(f) => ttlStore(spark, rewrite(read(f)))
        case None => ttlStore(spark, "")
      }
      val expected =
        try Srx.parseString(rewrite(read(c.srx)))
        catch { case e: Exception =>
          return Outcome(c.name, "SKIP-SRX", msg(e)) }
      val df =
        try Engine.query(store, rewrite(read(c.rq)))
        catch { case e: Exception => return Outcome(c.name, "ERROR", msg(e)) }
      try RefTck.compare(c.name, df, expected)
      catch { case e: Exception => Outcome(c.name, "ERROR", msg(e)) }
    } finally servers.foreach(_.stop())
  }

  /** testSimpleServiceQuery (TestFederatedQuery.java:358-416): the query is
    * built in code, the expectation asserted inline — exactly two solutions,
    * X ∈ {bob, alice} (william is a Person only remotely), names joined from
    * the endpoint.
    */
  private def runSimple(spark: SparkSession): Outcome = {
    val name = "fed-simpleServiceQuery"
    val srv = new SparqlServer(ttlStore(spark, read("simple.ttl"))).start()
    try {
      val store = ttlStore(spark, read("simple-default-graph.ttl"))
      val url = s"http://127.0.0.1:${srv.boundPort}/sparql"
      val df = Engine.query(store,
        s"""SELECT * WHERE {
           |  SERVICE <$url> { ?X <http://xmlns.com/foaf/0.1/name> ?Y }
           |  ?X a <http://xmlns.com/foaf/0.1/Person> . }""".stripMargin)
      val rows = df.collect().map { r =>
        (r.getAs[org.apache.spark.sql.Row]("X").getAs[String]("str"),
          r.getAs[org.apache.spark.sql.Row]("Y").getAs[String]("str"))
      }.toSet
      val want = Set(("http://example.org/bob", "Bob"),
        ("http://example.org/alice", "Alice"))
      if (rows == want) Outcome(name, "PASS")
      else Outcome(name, "FAIL", s"got=$rows want=$want")
    } catch { case e: Exception => Outcome(name, "ERROR", msg(e)) }
    finally srv.stop()
  }

  private def msg(e: Exception): String =
    e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).replace('\n', ' ')
}
