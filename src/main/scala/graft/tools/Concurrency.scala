package graft.tools

/** Concurrent-client throughput against the HTTP endpoint — the analog of the
  * reference's published BSBM figure (~2,300 query-mixes/hour at 100M triples
  * with 4 concurrent clients, `bigdata/src/releases/RELEASE_0.82b.txt:32`).
  *
  * The mix mirrors the BSBM *explore* use case query-for-query
  * (`bigdata-rdf-test/.../bsbm/explore/query{1..12}.txt` — the shipped texts
  * run against BSBM vocabulary the TPC-H-ish store does not speak, so each
  * shape is re-expressed over the store's own terms: filtered type scan with
  * ORDER/LIMIT, wide OPTIONAL star, negation, UNION, same-producer similarity,
  * join chain with OPTIONALs, text filter, DESCRIBE, date-range, OPTIONAL
  * detail star, CONSTRUCT export). Parameters vary per mix iteration like the
  * BSBM driver's parameter pools.
  *
  * Measures a 1-client baseline then N concurrent clients (default 4), each
  * running M mixes against a shared `SparqlServer`. Spark runs with
  * spark.scheduler.mode=FAIR and the server assigns one pool per serving
  * thread, so clients round-robin task slots instead of convoying.
  *
  * Usage: runMain graft.tools.Concurrency [sfDir] [clients(,list)] [mixesPerClient]
  */
object Concurrency {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // comma list characterizes the saturation curve (e.g. "2,4,8")
    val clientCounts = args.lift(1).getOrElse("4").split(",").map(_.trim.toInt).toSeq
    val mixesPer = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = graft.LocalSpark.session()
    val store = graft.model.Tpch.store(spark, sfDir)
    val nStmts = store.statements.count()
    val server = new graft.server.SparqlServer(store).start()
    val port = server.boundPort
    val http = java.net.http.HttpClient.newHttpClient()

    def get(query: String): Int = {
      val url = s"http://127.0.0.1:$port/sparql?query=" +
        java.net.URLEncoder.encode(query, java.nio.charset.StandardCharsets.UTF_8)
      val resp = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new IllegalStateException(s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
      resp.body().length
    }

    // parameter pools from the store's own key ranges (BSBM driver analog)
    val nCust = spark.read.parquet(s"$sfDir/customer.parquet").count()
    val nOrd = spark.read.parquet(s"$sfDir/orders.parquet").count()
    val nPart = spark.read.parquet(s"$sfDir/part.parquet").count()
    val okeys = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey").limit(4096)
      .collect().map(_.getLong(0))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")

    /** One explore mix, parameterized by iteration (BSBM explore queries 1-5,
      * 7-12 — query 6 was dropped from the mix in BSBM v3.0).
      */
    def mix(i: Int): Seq[(String, String)] = {
      val c = math.abs(i * 37L) % nCust
      val o = okeys((i * 53) % okeys.length)
      val p = math.abs(i * 91L) % nPart
      val seg = segs(i % segs.length)
      val bal = 1000.0 + (i % 8) * 1000.0
      Seq(
        "q1_filtered_scan" ->
          s"""SELECT ?c ?name ?bal WHERE { ?c a <urn:c:Customer> ;
             |  <urn:p:c_mktsegment> "$seg" ; <urn:p:c_name> ?name ;
             |  <urn:p:c_acctbal> ?bal . FILTER(?bal > $bal) }
             |ORDER BY DESC(?bal) ?name LIMIT 10""".stripMargin,
        "q2_wide_star" ->
          s"""SELECT ?name ?bal ?seg ?okey ?tp WHERE {
             |  <urn:t:customer:$c> <urn:p:c_name> ?name ; <urn:p:c_acctbal> ?bal .
             |  OPTIONAL { <urn:t:customer:$c> <urn:p:c_mktsegment> ?seg }
             |  OPTIONAL { ?o <urn:fk:o_custkey> <urn:t:customer:$c> ;
             |    <urn:p:o_orderkey> ?okey ; <urn:p:o_totalprice> ?tp } }""".stripMargin,
        "q3_negation" ->
          s"""SELECT ?c ?name WHERE { ?c a <urn:c:Customer> ;
             |  <urn:p:c_mktsegment> "$seg" ; <urn:p:c_name> ?name ;
             |  <urn:p:c_acctbal> ?bal . FILTER(?bal > $bal && ?bal < ${bal + 500})
             |  FILTER NOT EXISTS { ?o <urn:fk:o_custkey> ?c } } LIMIT 10""".stripMargin,
        "q4_union" ->
          s"""SELECT ?c ?name WHERE {
             |  { ?c <urn:p:c_mktsegment> "$seg" ; <urn:p:c_name> ?name ;
             |      <urn:p:c_acctbal> ?bal . FILTER(?bal > ${bal + 4000}) }
             |  UNION
             |  { ?c <urn:p:c_mktsegment> "${segs((i + 1) % segs.length)}" ;
             |      <urn:p:c_name> ?name ; <urn:p:c_acctbal> ?bal2 .
             |      FILTER(?bal2 > ${bal + 4000}) } } LIMIT 20""".stripMargin,
        "q5_similar" ->
          s"""SELECT ?p2 ?price WHERE {
             |  <urn:t:part:$p> <urn:p:p_brand> ?b ; <urn:p:p_retailprice> ?rp .
             |  ?p2 <urn:p:p_brand> ?b ; <urn:p:p_retailprice> ?price .
             |  FILTER(?p2 != <urn:t:part:$p> && ?price > ?rp - 50.0 && ?price < ?rp + 50.0) }
             |ORDER BY ?price ?p2 LIMIT 10""".stripMargin,
        "q7_join_chain" ->
          s"""SELECT ?ln ?qty ?name WHERE {
             |  <urn:t:orders:$o> <urn:fk:o_custkey> ?c .
             |  ?c <urn:p:c_name> ?name .
             |  OPTIONAL { ?l <urn:p:l_orderkey> $o ; <urn:p:l_linenumber> ?ln ;
             |    <urn:p:l_quantity> ?qty } }""".stripMargin,
        "q8_text_filter" ->
          s"""SELECT ?d ?t WHERE { ?d <urn:p:lang> "en" ; <urn:p:text> ?t .
             |  FILTER(CONTAINS(?t, "data")) } LIMIT 10""".stripMargin,
        "q9_describe" -> s"DESCRIBE <urn:t:customer:$c>",
        "q10_range_order" ->
          s"""SELECT ?o ?tp WHERE { ?o a <urn:c:Orders> ; <urn:p:o_totalprice> ?tp ;
             |  <urn:p:o_orderstatus> "O" . FILTER(?tp > ${100000 + (i % 5) * 10000}) }
             |ORDER BY DESC(?tp) ?o LIMIT 10""".stripMargin,
        "q11_detail_star" ->
          s"""SELECT ?pr ?v WHERE { ?l <urn:p:l_orderkey> $o ; ?pr ?v } LIMIT 50""".stripMargin,
        "q12_construct" ->
          s"""CONSTRUCT { <urn:t:orders:$o> <urn:ex:summary> ?tp .
             |  <urn:t:orders:$o> <urn:ex:buyer> ?c }
             |WHERE { <urn:t:orders:$o> <urn:p:o_totalprice> ?tp ;
             |  <urn:fk:o_custkey> ?c }""".stripMargin)
    }

    def runClients(n: Int, tag: String): Unit = {
      val lat = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
      val cnt = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
      val errors = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val threads = (0 until n).map { cl =>
        new Thread(() => {
          for (m <- 0 until mixesPer; (name, q) <- mix(cl * 1000 + m * 7 + 1)) {
            val q0 = System.nanoTime()
            try get(q)
            catch { case e: Exception =>
              errors.incrementAndGet()
              System.err.println(s"[$tag] $name: ${e.getMessage.take(120)}")
            }
            lat.computeIfAbsent(name, _ => new java.util.concurrent.atomic.LongAdder)
              .add((System.nanoTime() - q0) / 1000000)
            cnt.computeIfAbsent(name, _ => new java.util.concurrent.atomic.LongAdder)
              .increment()
          }
        }, s"client-$cl")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      val totalMixes = n * mixesPer
      val perQ = lat.keySet().toArray(Array.empty[String]).sorted.map { k =>
        f""""$k":${lat.get(k).sum().toDouble / math.max(1, cnt.get(k).sum())}%.0f"""
      }.mkString("{", ",", "}")
      println(f"""CONCURRENCY {"tag":"$tag","clients":$n,"mixes":$totalMixes,"""
        + f""""sec":$sec%.2f,"mix_per_hour":${totalMixes / (sec / 3600.0)}%.1f,"""
        + s""""statements":$nStmts,"errors":${errors.get()},"query_mean_ms":$perQ}""")
    }

    // untimed warm mix: plan compilation + store caches out of the timed region
    mix(0).foreach { case (n, q) =>
      try get(q) catch { case e: Exception =>
        System.err.println(s"[warm] $n: ${e.getMessage.take(200)}") }
    }
    runClients(1, "baseline")
    clientCounts.foreach(n => runClients(n, s"c$n"))
    server.stop()
    spark.stop()
  }
}
