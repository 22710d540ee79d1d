package graft

import graft.engine.{Engine, SparqlResults}
import graft.model.GraftStore
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Execution mode chosen once, at open (`GraftStore.load`): an at-rest store
  * runs on an interpreted sibling of the caller's session (no whole-stage
  * codegen, no per-expression codegen); in-memory stores keep the caller's.
  */
class ExecModeSpec extends GraftSuite {

  private val codegenKeys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")

  /** Classes compiled by the calling thread, and by the tasks of the jobs it
    * starts, while `f` runs. Spark's codegen counters are process-wide and
    * suites run concurrently, so compiles are attributed through the log
    * line CodeGenerator writes per compiled class: the logging thread is the
    * caller, or a task of the job group `f` runs in.
    */
  private def compiles(f: => Unit): Int = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val caller = Thread.currentThread()
    val group = "execmode-" + java.util.UUID.randomUUID()
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val app = new AbstractAppender(group, null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val mine = (Thread.currentThread() eq caller) ||
          Option(org.apache.spark.TaskContext.get())
            .exists(_.getLocalProperty("spark.jobGroup.id") == group)
        if (mine && e.getMessage.getFormattedMessage.startsWith("Code generated in"))
          n.incrementAndGet()
      }
    }
    val lg = LogManager.getLogger(name).asInstanceOf[Logger]
    val (level, additive) = (lg.getLevel, lg.isAdditive)
    app.start()
    Configurator.setLevel(name, Level.INFO)
    lg.addAppender(app)
    lg.setAdditive(false)
    spark.sparkContext.setJobGroup(group, "codegen count")
    try f
    finally {
      spark.sparkContext.clearJobGroup()
      lg.removeAppender(app)
      lg.setAdditive(additive)
      Configurator.setLevel(name, level)
      app.stop()
    }
    n.get()
  }

  /** Order-insensitive rendering of a query's solutions (bnode labels erased). */
  private def rows(st: GraftStore, q: String): Seq[String] =
    SparqlResults.toTsv(Engine.query(st, q)).split("\n").toSeq
      .map(_.replaceAll("_:[A-Za-z0-9]+", "_:b")).sorted

  /** Handle over the same at-rest tree on the caller's own (codegen) session. */
  private def codegenHandle(interp: GraftStore): GraftStore = {
    val p = interp.atRestPath.get
    new GraftStore(spark, spark.read.parquet(p).select(GraftStore.columns.map(col): _*),
      lexiconPath = interp.lexiconPath, atRestPath = Some(p))
  }

  test("two requests of one shape with different constants compile no classes") {
    assert(store.spark ne spark)
    def req(nation: Int, bal: Int): Unit = Engine.query(store,
      s"""SELECT ?c ?name ?bal WHERE {
         |  ?c <urn:p:c_nationkey> $nation ; <urn:p:c_name> ?name ; <urn:p:c_acctbal> ?bal .
         |  FILTER(?bal > $bal) } ORDER BY ?name""".stripMargin).collect()
    req(3, 100) // the sibling's first use may load classes; not measured
    assert(compiles { req(7, 2500); req(11, -300) } == 0)
    // the count sees codegen where it happens: the same shape on the
    // caller's session compiles
    assert(compiles(Engine.query(codegenHandle(store),
      """SELECT ?c ?bal WHERE { ?c <urn:p:c_nationkey> 5 ; <urn:p:c_acctbal> ?bal .
        |  FILTER(?bal > 1234) }""".stripMargin).collect()) > 0)
  }

  test("the store opened interpreted and with codegen gives the same solutions") {
    val cg = codegenHandle(store)
    assert(store.spark ne spark)
    val queries = Seq(
      // star
      """SELECT ?o ?c ?p ?d WHERE { ?o <urn:p:o_custkey> ?c ; <urn:p:o_totalprice> ?p ;
        |  <urn:p:o_orderdate> ?d . FILTER(?p > 150000) }""".stripMargin,
      // OPTIONAL
      """SELECT ?s ?name ?bal WHERE { ?s a <urn:c:Supplier> ; <urn:p:s_name> ?name .
        |  OPTIONAL { ?s <urn:p:s_acctbal> ?bal FILTER(?bal > 5000) } }""".stripMargin,
      // NOT EXISTS
      """SELECT ?n WHERE { ?n a <urn:c:Nation> .
        |  FILTER NOT EXISTS { ?s <urn:fk:s_nationkey> ?n } }""".stripMargin,
      // GROUP BY
      """SELECT ?seg (COUNT(?c) AS ?n) (AVG(?b) AS ?avg) WHERE { ?c <urn:p:c_mktsegment> ?seg ;
        |  <urn:p:c_acctbal> ?b } GROUP BY ?seg HAVING (COUNT(?c) > 1)""".stripMargin,
      // property path
      """SELECT ?c ?r WHERE { ?c a <urn:c:Customer> ; <urn:fk:c_nationkey>/<urn:fk:n_regionkey> ?r .
        |  ?r <urn:p:r_name> "ASIA" }""".stripMargin,
      """SELECT ?x WHERE { <urn:t:nation:3> (<urn:fk:n_regionkey>|^<urn:fk:c_nationkey>)+ ?x }""")
    for (q <- queries) {
      val a = rows(store, q)
      assert(a.size > 1, s"no solutions, the comparison would be vacuous:\n$q")
      assert(a == rows(cg, q), q)
    }
  }

  test("every fixture query gives the same solutions interpreted and with codegen") {
    val root = Paths.get("src/test/resources/fixtures")
    val dirs = Files.list(root).iterator().asScala.toSeq.filter(Files.isDirectory(_))
      .sortBy(_.toString)
    assert(dirs.nonEmpty)
    val tmp = Files.createTempDirectory("graft-execmode")
    try dirs.foreach { dir =>
      val name = dir.getFileName.toString
      val data = graft.sources.Rio.readTurtle(spark, Files.readString(dir.resolve("data.ttl")))
      val p = tmp.resolve(name).toString
      GraftStore.save(new GraftStore(spark, data).statements, p)
      val interp = GraftStore.load(spark, p)
      assert(interp.spark ne spark, name)
      val q = Files.readString(dir.resolve("query.rq"))
      assert(rows(interp, q) == rows(codegenHandle(interp), q), name)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
  }

  test("each caller session has one interpreted sibling, with the caller's conf") {
    val sib = GraftStore.execSession(spark)
    assert(sib ne spark)
    assert(GraftStore.execSession(spark) eq sib)
    assert(store.spark eq sib)
    assert(sib.conf.get("spark.sql.codegen.wholeStage") == "false")
    assert(sib.conf.get("spark.sql.codegen.factoryMode") == "NO_CODEGEN")
    // a session that already runs interpreted is its own sibling: reopening a
    // committed store never chains new sessions
    assert(GraftStore.execSession(sib) eq sib)
    // the caller's runtime conf is copied in
    assert(sib.conf.get("spark.sql.shuffle.partitions") == spark.conf.get("spark.sql.shuffle.partitions"))
    assert(sib.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("opening a store leaves the caller's codegen conf unchanged") {
    def snap = codegenKeys.map(k => k -> spark.conf.getOption(k))
    val before = snap
    val tmp = Files.createTempDirectory("graft-execmode-conf")
    try {
      val p = tmp.resolve("st").toString
      GraftStore.save(graft.sources.Rio.readTurtle(spark,
        "<urn:x:a> <urn:x:p> <urn:x:b> ."), p)
      val st = GraftStore.load(spark, p)
      assert(Engine.query(st, "SELECT ?o WHERE { <urn:x:a> <urn:x:p> ?o }").count() == 1)
      assert(store.spark ne spark)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    assert(snap == before)
    assert(spark.conf.get("spark.sql.codegen.wholeStage") == "true")
  }
}
