package graft

/** Standalone endpoint launcher: `runMain graft.ServerMain <sfDir> <port>` —
  * the NanoSparqlServer startup analog for manual driving / demos.
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 8087
    val spark = LocalSpark.session()
    val srv = new graft.server.SparqlServer(model.Tpch.store(spark, sfDir), port).start()
    println(s"SPARQL endpoint: http://127.0.0.1:${srv.boundPort}/sparql")
    Thread.sleep(Long.MaxValue)
  }
}
