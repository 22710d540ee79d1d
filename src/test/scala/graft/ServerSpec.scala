package graft

import graft.server.SparqlServer
import graft.sources.Rio
import graft.engine.Engine
import graft.model.GraftStore
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets

class ServerSpec extends GraftSuite {

  private def get(url: String, accept: String = ""): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(url))
    if (accept.nonEmpty) b.header("Accept", accept)
    HttpClient.newHttpClient().send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def post(url: String, body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(url))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  test("http endpoint serves query, content negotiation, update, and errors") {
    val srv = new SparqlServer(store).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val q = "SELECT ?name WHERE { ?r <urn:p:r_name> ?name } ORDER BY ?name"
      val json = get(s"$base/sparql?query=${enc(q)}")
      assert(json.statusCode() == 200)
      assert(json.headers().firstValue("Content-Type").get.contains("sparql-results+json"))
      assert(json.body().contains("AFRICA"))
      val csv = get(s"$base/sparql?query=${enc(q)}", accept = "text/csv")
      assert(csv.body().startsWith("name\nAFRICA"))
      val xml = get(s"$base/sparql?query=${enc(q)}", accept = "application/sparql-results+xml")
      assert(xml.body().contains("<literal>AFRICA</literal>"))
      // POST form query
      val viaPost = post(s"$base/sparql", s"query=${enc("ASK { ?s ?p ?o }")}")
      assert(viaPost.body().contains("true"))
      // update mutates the served store
      val up = post(s"$base/sparql/update",
        s"update=${enc("INSERT DATA { <urn:http:1> <urn:p:v> 9 }")}")
      assert(up.statusCode() == 200)
      val after = get(s"$base/sparql?query=${enc("ASK { <urn:http:1> <urn:p:v> 9 }")}")
      assert(after.body().contains("true"))
      // errors: missing param, parse error
      assert(get(s"$base/sparql").statusCode() == 400)
      assert(get(s"$base/sparql?query=${enc("SELECT ?x WHERE {")}").statusCode() == 400)
      assert(post(s"$base/sparql/update", s"update=${enc("INSERT DATA { <urn:x> ")}")
        .statusCode() == 400)
    } finally srv.stop()
  }

  test("a failure that is not the client's is a 500") {
    // an at-rest store whose parquet files vanish after it was opened
    val dir = java.nio.file.Files.createTempDirectory("graft-srv-gone").toString
    GraftStore.save(store.statements.filter(
      org.apache.spark.sql.functions.col("p_id") === engine.TermIds.iriId("urn:p:r_name")), dir)
    val srv = new SparqlServer(GraftStore.load(spark, dir)).start()
    try {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      val r = get(s"http://127.0.0.1:${srv.boundPort}/sparql?query=" +
        enc("SELECT ?n WHERE { ?r <urn:p:r_name> ?n }"))
      assert(r.statusCode() == 500, r.body())
    } finally srv.stop()
  }

  test("turtle subset loader") {
    val ttl =
      """@prefix ex: <urn:ex:> .
        |@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
        |ex:a a ex:Widget ;
        |  ex:name "thing one" ;
        |  ex:size "5"^^xsd:int , 7 ;
        |  ex:linked ex:b .
        |ex:b ex:name "thing two"@en .
        |_:bn ex:name "anon" .
        |""".stripMargin
    val st = new graft.model.GraftStore(spark, Rio.readTurtle(spark, ttl))
    assert(st.statements.count() == 7)
    val sizes = Engine.query(st,
      "SELECT ?s WHERE { <urn:ex:a> <urn:ex:size> ?s } ORDER BY ?s")
      .collect().map(_.getStruct(0).getAs[Long]("lng"))
    assert(sizes.toSeq == Seq(5L, 7L))
    assert(Engine.query(st, "ASK { <urn:ex:a> <urn:ex:linked> ?b . ?b <urn:ex:name> ?n }")
      .first().getBoolean(0))
  }

  test("http ?explain=true returns the physical plan, not results") {
    val srv = new SparqlServer(store).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val q = "SELECT ?name WHERE { ?r <urn:p:r_name> ?name }"
      val r = get(s"$base/sparql?query=${enc(q)}&explain=true")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").get.contains("text/plain"))
      assert(r.body().contains("Physical Plan"))
      assert(!r.body().contains("AFRICA"))
    } finally srv.stop()
  }

  test("explain returns a formatted physical plan with pushed filters") {
    val plan = Engine.explain(store,
      "SELECT ?c WHERE { ?c <urn:p:c_mktsegment> \"BUILDING\" }")
    assert(plan.contains("Physical Plan"))
    assert(plan.contains("PartitionFilters") && plan.contains("p_id"))
    assert(plan.contains("PushedFilters"))
  }

  test("query timeout cancels the job group") {
    // generous timeout: completes
    val rows = Engine.queryWithTimeout(store,
      "SELECT ?s WHERE { ?s a <urn:c:Region> }", 60000)
    assert(rows.length == 5)
    // tiny timeout on a heavy query (114k × 114k cross product): cancelled
    intercept[java.util.concurrent.TimeoutException] {
      Engine.queryWithTimeout(store,
        """SELECT (COUNT(*) AS ?c) WHERE { ?a ?p1 ?x . ?b ?p2 ?y }""", 50)
    }
  }

  test("CONSTRUCT results are RDF content-negotiated (N-Triples)") {
    val srv = new SparqlServer(store).start()
    try {
      val q = "CONSTRUCT { ?r <urn:p:name> ?n } WHERE { ?r <urn:p:r_name> ?n }"
      val r = get(s"http://127.0.0.1:${srv.boundPort}/sparql?query=${enc(q)}", "text/turtle")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("").contains("n-triples"))
      assert(r.body().linesIterator.count(_.nonEmpty) == 5)
      assert(r.body().contains("<urn:p:name>"))
    } finally srv.stop()
  }

  test("multi-tenant namespaces: create, isolate, query, update, delete") {
    val srv = new SparqlServer(store).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      // create two namespaces
      assert(post(s"$base/namespace", "name=alpha").statusCode() == 201)
      assert(post(s"$base/namespace", "name=beta").statusCode() == 201)
      assert(post(s"$base/namespace", "name=alpha").statusCode() == 409) // duplicate
      assert(get(s"$base/namespace").body().linesIterator.toSeq == Seq("alpha", "beta"))
      // namespaces start EMPTY (not a view of the default store)
      val empty = get(s"$base/namespace/alpha/sparql?query=${enc("ASK { ?s ?p ?o }")}")
      assert(empty.body().contains("false"))
      // per-namespace update is isolated
      post(s"$base/namespace/alpha/sparql/update",
        s"update=${enc("INSERT DATA { <urn:mt:1> <urn:p:v> 1 }")}")
      assert(get(s"$base/namespace/alpha/sparql?query=${enc("ASK { <urn:mt:1> <urn:p:v> 1 }")}")
        .body().contains("true"))
      assert(get(s"$base/namespace/beta/sparql?query=${enc("ASK { <urn:mt:1> <urn:p:v> 1 }")}")
        .body().contains("false"))
      assert(get(s"$base/sparql?query=${enc("ASK { <urn:mt:1> <urn:p:v> 1 }")}")
        .body().contains("false"))
      // delete
      val del = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"$base/namespace/beta")).DELETE().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(del.statusCode() == 200)
      assert(get(s"$base/namespace/beta/sparql?query=${enc("ASK { ?s ?p ?o }")}")
        .statusCode() == 404)
    } finally srv.stop()
  }

  test("graph store protocol: PUT/GET/POST/DELETE on named and default graphs") {
    val srv = new SparqlServer(store).start()
    try {
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val client = HttpClient.newHttpClient()
      def send(method: String, url: String, body: String, ct: String) =
        client.send(HttpRequest.newBuilder(URI.create(url))
          .header("Content-Type", ct)
          .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
      val g = s"$base/sparql/gsp?graph=${enc("urn:g:gsp")}"
      // PUT replaces the (empty) graph with N-Triples payload
      val put = send("PUT", g,
        "<urn:gsp:a> <urn:p:v> \"1\" .\n<urn:gsp:b> <urn:p:v> \"2\" .", "application/n-triples")
      assert(put.statusCode() == 200, put.body())
      val got = get(g)
      assert(got.headers().firstValue("Content-Type").get.contains("n-triples"))
      assert(got.body().contains("<urn:gsp:a>") && got.body().contains("<urn:gsp:b>"))
      // graph is visible to SPARQL under GRAPH
      assert(get(s"$base/sparql?query=${enc("ASK { GRAPH <urn:g:gsp> { <urn:gsp:a> ?p ?o } }")}")
        .body().contains("true"))
      // POST merges turtle payload
      val pst = send("POST", g, "@prefix x: <urn:gsp:> .\nx:c <urn:p:v> \"3\" .", "text/turtle")
      assert(pst.statusCode() == 200, pst.body())
      assert(get(g).body().contains("<urn:gsp:c>"))
      // PUT replaces (old triples gone)
      send("PUT", g, "<urn:gsp:z> <urn:p:v> \"9\" .", "application/n-triples")
      val after = get(g).body()
      assert(after.contains("<urn:gsp:z>") && !after.contains("<urn:gsp:a>"))
      // DELETE drops the graph; the default graph is untouched
      val del = send("DELETE", g, "", "text/plain")
      assert(del.statusCode() == 200)
      assert(get(g).body().trim.isEmpty)
      assert(get(s"$base/sparql?query=${enc("ASK { ?s <urn:p:r_name> ?o }")}")
        .body().contains("true"))
      // missing graph designator and a payload the Turtle reader rejects are 400s
      assert(get(s"$base/sparql/gsp").statusCode() == 400)
      assert(send("POST", g, "<urn:gsp:d> <urn:p:v> ", "text/turtle").statusCode() == 400)
    } finally srv.stop()
  }
}
