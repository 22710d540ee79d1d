package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.engine.{Engine, SparqlResults, Update}
import graft.model.GraftStore
import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets

/** Minimal SPARQL 1.1 Protocol endpoint — the NanoSparqlServer analog
  * (`sail/webapp/NanoSparqlServer.java`, `RESTServlet.java:183,250`,
  * `QueryServlet.doSparqlQuery:635`) on the JDK's built-in HTTP server (zero deps).
  *
  * GET/POST `/sparql?query=…` → content-negotiated results (SPARQL JSON default,
  * XML/CSV/TSV via Accept). POST `/sparql/update?update=…` applies SPARQL UPDATE to the
  * served store (copy-on-write swap). This is a thin facade: all evaluation stays in the
  * distributed engine; the servlet layer only serializes.
  */
final class SparqlServer(@volatile private var store: GraftStore, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // Concurrent clients: the JDK server's DEFAULT executor runs every handler
  // inline on the single dispatcher thread — all clients serialize, and one
  // slow analytic query blocks the endpoint (the reference serves concurrency
  // through jetty's pool, NanoSparqlServer.java → ServletContextHandler). A
  // cached pool lets requests overlap; actual query parallelism is then the
  // Spark scheduler's business (FAIR pools per request, set in handleQuery).
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicLong()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"sparql-http-${n.getAndIncrement()}")
        t.setDaemon(true); t
      }
    }))

  def boundPort: Int = server.getAddress.getPort
  def currentStore: GraftStore = store

  private def params(body: String): Map[String, String] =
    body.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      k -> URLDecoder.decode(v, StandardCharsets.UTF_8)
    }.toMap

  private def respond(ex: HttpExchange, code: Int, contentType: String, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** A request text that does not parse (the SPARQL parser, which also reads
    * Turtle GSP payloads) is the client's fault: 400. Any other failure is the
    * server's: 500.
    */
  private def fail(ex: HttpExchange, what: String, e: Exception): Unit =
    respond(ex, e match { case _: graft.sparql.Parser.ParseError => 400; case _ => 500 },
      "text/plain", s"$what error: ${e.getMessage}")

  private def handleQuery(ex: HttpExchange, st: GraftStore): Unit = try {
    // one FAIR pool per serving thread: under spark.scheduler.mode=FAIR,
    // concurrent clients round-robin task slots instead of queueing behind
    // the largest job (no-op under the default FIFO mode)
    st.spark.sparkContext.setLocalProperty("spark.scheduler.pool",
      Thread.currentThread().getName)
    val raw =
      if (ex.getRequestMethod == "POST")
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      else Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val q = params(raw).getOrElse("query",
      return respond(ex, 400, "text/plain", "missing 'query' parameter"))
    // ?explain=true returns the physical plan instead of results (the
    // NanoSparqlServer explain page, QueryServlet.java explainQuery analog)
    if (params(raw).get("explain").exists(v => v == "true" || v == "details"))
      return respond(ex, 200, "text/plain", Engine.explain(st, q))
    val parsed = graft.sparql.Parser.parseQuery(q)
    val df = Engine.query(st, parsed)
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    // CONSTRUCT/DESCRIBE yield RDF, not bindings — route on the QUERY FORM (a
    // SELECT projecting ?s ?p ?o must still get a bindings format)
    val isGraph = parsed match {
      case _: graft.sparql.Ast.ConstructQuery | _: graft.sparql.Ast.DescribeQuery => true
      case _ => false
    }
    val (ct, body) =
      if (isGraph) {
        val lines = graft.sources.Rio.toNQuadLines(df)
          .collect().map(_.getString(0)).mkString("", "\n", "\n")
        (if (accept.contains("n-quads")) "application/n-quads"
         else "application/n-triples", lines)
      }
      else if (accept.contains("xml")) ("application/sparql-results+xml", SparqlResults.toXml(df))
      else if (accept.contains("csv")) ("text/csv", SparqlResults.toCsv(df))
      else if (accept.contains("tab-separated")) ("text/tab-separated-values", SparqlResults.toTsv(df))
      else ("application/sparql-results+json", SparqlResults.toJson(df))
    respond(ex, 200, ct, body)
  } catch {
    case e: Exception => fail(ex, "query", e)
  }

  private def handleUpdate(ex: HttpExchange, get: () => GraftStore,
                           set: GraftStore => Unit): Unit = try {
    val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val u = params(raw).getOrElse("update",
      return respond(ex, 400, "text/plain", "missing 'update' parameter"))
    set(Update(get(), u))
    respond(ex, 200, "text/plain", "OK")
  } catch {
    case e: Exception => fail(ex, "update", e)
  }

  server.createContext("/sparql", new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      if (ex.getRequestURI.getPath.endsWith("/update"))
        handleUpdate(ex, () => store, store = _)
      else handleQuery(ex, store)
  })

  // ---- multi-tenancy (MultiTenancyServlet analog, `sail/webapp/MultiTenancyServlet
  // .java`): named namespaces = independent stores sharing one SparkSession.
  // GET /namespace lists; POST /namespace?name=x creates (empty store); DELETE
  // /namespace/x drops; /namespace/x/sparql(/update) are per-namespace endpoints.
  private val namespaces =
    scala.collection.concurrent.TrieMap.empty[String, GraftStore]

  def namespaceStore(name: String): Option[GraftStore] = namespaces.get(name)

  server.createContext("/namespace", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = try {
      val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
      (ex.getRequestMethod, segs) match {
        case ("GET", List("namespace")) =>
          respond(ex, 200, "text/plain", namespaces.keys.toSeq.sorted.mkString("\n"))
        case ("POST", List("namespace")) =>
          val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val name = params(raw).getOrElse("name",
            return respond(ex, 400, "text/plain", "missing 'name' parameter"))
          if (namespaces.putIfAbsent(name,
            store.withStatements(store.statements.limit(0))).isEmpty)
            respond(ex, 201, "text/plain", s"CREATED $name")
          else respond(ex, 409, "text/plain", s"EXISTS $name")
        case ("DELETE", List("namespace", name)) =>
          if (namespaces.remove(name).isDefined) respond(ex, 200, "text/plain", s"DELETED $name")
          else respond(ex, 404, "text/plain", s"no such namespace $name")
        case (_, List("namespace", name, "sparql")) =>
          namespaces.get(name) match {
            case Some(st) => handleQuery(ex, st)
            case None => respond(ex, 404, "text/plain", s"no such namespace $name")
          }
        case ("POST", List("namespace", name, "sparql", "update")) =>
          if (namespaces.contains(name))
            handleUpdate(ex, () => namespaces(name), namespaces(name) = _)
          else respond(ex, 404, "text/plain", s"no such namespace $name")
        case _ => respond(ex, 404, "text/plain", "unknown namespace route")
      }
    } catch {
      case e: Exception => respond(ex, 500, "text/plain", s"namespace error: ${e.getMessage}")
    }
  })

  // ---- SPARQL 1.1 Graph Store Protocol (the reference webapp's GSP support in
  // RESTServlet/InsertServlet/DeleteServlet): /sparql/gsp?graph=<iri> or
  // /sparql/gsp?default. GET serializes the graph (N-Triples), PUT replaces it
  // with the request body, POST merges the body in, DELETE drops it. Payload is
  // text/turtle or line-oriented N-Triples by Content-Type.
  private def gspGraph(ex: HttpExchange): Either[String, Option[String]] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val p = params(q)
    if (p.contains("graph")) Right(Some(p("graph")))
    else if (q.split("&").contains("default") || p.contains("default")) Right(None)
    else Left("GSP request needs ?graph=<iri> or ?default")
  }

  private def parsePayload(ex: HttpExchange, graph: Option[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    val spark = store.spark
    val parsed =
      if (ct.contains("turtle")) graft.sources.Rio.readTurtle(spark, body)
      else {
        import spark.implicits._
        graft.sources.Rio.statementsFromLines(
          spark.createDataset(body.linesIterator.filter(_.trim.nonEmpty).toSeq))
      }
    val g = graph.map(graft.model.Term.iri)
      .getOrElse(lit(null).cast(graft.model.Term.schema))
    parsed.select(col("s"), col("p"), col("o"), g.as("g"))
  }

  server.createContext("/sparql/gsp", new HttpHandler {
    override def handle(ex: HttpExchange): Unit = try {
      gspGraph(ex) match {
        case Left(err) => respond(ex, 400, "text/plain", err)
        case Right(graph) =>
          import org.apache.spark.sql.functions.col
          ex.getRequestMethod match {
            case "GET" =>
              val base = graph match {
                case Some(g) => store.statements.filter(
                  col("g").isNotNull && col("g")("id") === graft.engine.TermIds.iriId(g))
                case None => store.statements.filter(col("g").isNull)
              }
              val lines = graft.sources.Rio.toNQuadLines(
                base.select(col("s"), col("p"), col("o")))
                .collect().map(_.getString(0)).mkString("", "\n", "\n")
              respond(ex, 200, "application/n-triples", lines)
            case "DELETE" =>
              store = Update.dropGraph(store, graph)
              respond(ex, 200, "text/plain", "OK")
            case "PUT" =>
              store = Update.insertStatements(Update.dropGraph(store, graph),
                parsePayload(ex, graph))
              respond(ex, 200, "text/plain", "OK")
            case "POST" =>
              store = Update.insertStatements(store, parsePayload(ex, graph))
              respond(ex, 200, "text/plain", "OK")
            case m => respond(ex, 405, "text/plain", s"unsupported GSP method $m")
          }
      }
    } catch {
      case e: Exception => fail(ex, "gsp", e)
    }
  })

  def start(): SparqlServer = { server.start(); this }
  def stop(): Unit = server.stop(0)
}
