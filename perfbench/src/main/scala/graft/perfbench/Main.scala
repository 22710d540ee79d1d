package graft.perfbench

import graft.engine.{Engine, SparqlResults, Update}
import graft.inference.Rdfs
import graft.model.{GraftStore, Tpch}
import graft.sparql.{Ast, Parser}
import java.io.File
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, FutureTask, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM.
  *
  *   prepare --cache <dir>
  *     generate the source tables and the at-rest store every run opens
  *   run --workload <explore|analytic> --seed <n> --seconds <s>
  *       --trace <0|1> --cache <dir> --work <dir> [--trace-dir <dir>]
  *     set-up (timed), one cold pass over every operation type (timed), an
  *     untimed warm-up, then a closed-loop window of `seconds`; every answer
  *     is checked against its oracle afterwards. Traced runs then replay the
  *     window per layer and time the write path. Prints one result line
  *     `PERFBENCH_RESULT {json}` on stdout and a report on stderr.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.headOption match {
      case Some("prepare") => Fixture.prepare(opts("cache"))
      case Some("run") => new Run(opts).main()
      case _ => System.err.println("usage: Main prepare|run --key value ..."); sys.exit(2)
    }
    // an operation abandoned at its deadline may still hold a thread
    sys.exit(0)
  }

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** Session settings of `graft.tools.Concurrency` (FAIR pools, AQE, UTC),
    * sized to this host's cores; temporary files stay under `work`.
    */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Percentile, linear between order statistics; failed operations sort
    * last as +inf and make every percentile that reaches them infinite.
    */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) return Double.NaN
    val h = (s.size - 1) * p / 100.0
    val lo = h.toInt
    if (lo + 1 >= s.size || h == lo) s(lo)
    else if (s(lo + 1).isInfinite) Double.PositiveInfinity
    else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }
}

/** A finished operation. `rows` are the rendered answer rows; `error` is
  * set when the call failed or missed its deadline; `ok` after the oracle.
  */
final case class Done(req: Req, client: Int, startNs: Long, endNs: Long,
                      rows: Seq[String], bytes: Long, error: String) {
  @volatile var ok: Boolean = false
  @volatile var why: String = error
  def ms: Double = (endNs - startNs) / 1e6
}

final class Run(opts: Map[String, String]) {
  import Main._

  private val workload = opts("workload")
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val traced = opts.getOrElse("trace", "0") == "1"
  private val cache = opts("cache")
  private val work = opts("work")
  private val deadlineMs = 30000L
  /** Closed-loop clients. Two, not four, on a four-core host: driver-side
    * compile and the JIT's compiler threads already keep about two cores
    * busy per running query, and with four clients latency measured the
    * scheduler more than the engine (the spread across runs was 1.5× as wide).
    */
  private val clients = 2
  /** Deadline of one write-path step (a cold load, a closure, a write). */
  private val writeDeadlineMs = 60000L
  /** At-rest store trees this run created under `Tpch.storePath`. */
  private val atRest = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Parent of this run's store source keys (see `Fixture.key`). */
  private val keys = Fixture.key("run")

  private val t0 = System.nanoTime()
  private val spark = session(work)
  private val sessionS = (System.nanoTime() - t0) / 1e9
  private val sc = spark.sparkContext
  private val probe = new JobProbe
  sc.addSparkListener(probe)
  private val tracer = new Tracer(probe)
  private val rids = new AtomicLong()
  private val report = new StringBuilder
  private def say(s: String): Unit = {
    val line = f"[${(System.nanoTime() - t0) / 1e9}%6.1f s] $s"
    report ++= line + "\n"
    System.err.println(line)
  }

  /** Catalyst phase times and optimized-plan size per request (traced runs). */
  private val planStats = new ConcurrentHashMap[Long, Array[Double]]()
  private val resultRows = new ConcurrentHashMap[Long, Long]()

  // ---- raw tables for the oracles --------------------------------------
  private def registerRaw(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "documents", "events").foreach { t =>
      spark.read.parquet(s"$cache/raw/$t.parquet").createOrReplaceTempView(t)
    }

  // ---- calls with a deadline and job-group attribution -----------------
  private def group(rid: Long, phase: String): String = s"$rid/$phase"

  private def inGroup[T](rid: Long, phase: String)(body: => T): T = {
    sc.setJobGroup(group(rid, phase), phase, interruptOnCancel = true)
    try tracer.span(rid, phase, group(rid, phase))(body) finally sc.clearJobGroup()
  }

  /** Run `body` on its own thread; past the deadline, cancel its job groups
    * and count the operation as failed.
    */
  private def withDeadline[T](rid: Long, pool: String, ms: Long = deadlineMs)(body: => T): T = {
    val task = new FutureTask[T](() => {
      sc.setLocalProperty("spark.scheduler.pool", pool)
      body
    })
    val t = new Thread(task, pool + "-op")
    t.setDaemon(true)
    t.start()
    try task.get(ms, TimeUnit.MILLISECONDS)
    catch {
      case e: TimeoutException =>
        Seq("compile", "catalyst", "run").foreach(p => sc.cancelJobGroup(group(rid, p)))
        t.interrupt()
        throw new TimeoutException(s"deadline of $ms ms exceeded")
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }

  private def recordPlan(rid: Long, df: DataFrame): Unit = if (tracer.on) {
    val qe = df.queryExecution
    qe.executedPlan
    val ph = qe.tracker.phases
    var nodes = 0L
    qe.optimizedPlan.foreach(_.expressions.foreach(_.foreach(_ => nodes += 1)))
    def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    planStats.put(rid, Array(d("analysis"), d("optimization"), d("planning"), nodes.toDouble))
  }

  /** The calls the HTTP query handler makes, in process, on this thread. */
  private def serve(store: GraftStore, req: Req): (Seq[String], Long) = {
    val rid = req.rid
    tracer.span(rid, "op") {
      val q = tracer.span(rid, "parse")(Parser.parseQuery(req.text))
      val df = inGroup(rid, "compile")(Engine.query(store, req.text))
      val graph = q.isInstanceOf[Ast.ConstructQuery] || q.isInstanceOf[Ast.DescribeQuery]
      val out = if (graph) graft.sources.Rio.toNQuadLines(df) else df
      inGroup(rid, "catalyst")(recordPlan(rid, out))
      inGroup(rid, "run") {
        if (graph) {
          val body = out.collect().map(_.getString(0)).mkString("", "\n", "\n")
          val rows = Render.ntLines(body)
          resultRows.put(rid, rows.size.toLong)
          (rows, body.length.toLong)
        } else {
          val body = SparqlResults.toJson(df)
          val rows = Render.sparqlJson(body)
          resultRows.put(rid, rows.size.toLong)
          (rows, body.length.toLong)
        }
      }
    }
  }

  /** `Engine.query` then `collect`, rendered. */
  private def collect(store: GraftStore, rid: Long, text: String): (Seq[String], Long) =
    tracer.span(rid, "op") {
      tracer.span(rid, "parse")(Parser.parseQuery(text))
      val df = inGroup(rid, "compile")(Engine.query(store, text))
      inGroup(rid, "catalyst")(recordPlan(rid, df))
      inGroup(rid, "run") {
        val got = df.collect()
        val rows = Render.rows(df, got)
        resultRows.put(rid, rows.size.toLong)
        (rows, rows.map(_.length + 1L).sum)
      }
    }

  private def timed(req: Req, client: Int)(call: => (Seq[String], Long)): Done = {
    val s = System.nanoTime()
    try {
      val (rows, bytes) = call
      Done(req, client, s, System.nanoTime(), rows, bytes, null)
    } catch {
      case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
        Done(req, client, s, System.nanoTime(), Nil, 0L, msg)
    }
  }

  // ---- closed loop -----------------------------------------------------
  /** Per-client request streams: shapes round-robin from a per-client
    * offset (clients start evenly spaced through the shape list, so a short
    * window still covers every shape), constants from the client's seeded
    * generator.
    */
  private final class Stream(shapes: Seq[Shape], client: Int) {
    private val r = new scala.util.Random(seed * 1000003L + client * 7919L + 17L)
    private var i = math.max(0, client) * shapes.size / clients
    def next(): Req = {
      val s = shapes(i % shapes.size)
      i += 1
      val ps = s.draw(r)
      Req(rids.incrementAndGet(), s.name, s.text(ps), ps)
    }
  }

  /** Run `n` clients until `until` (nanoTime) or until each has issued
    * `maxOps`; returns every finished operation.
    */
  private def loop(n: Int, until: Long, maxOps: Int,
                   next: Int => Req, exec: (Int, Req) => Done): Seq[Done] = {
    val out = new ConcurrentLinkedQueue[Done]()
    val threads = (0 until n).map { c =>
      new Thread(() => {
        var k = 0
        while (System.nanoTime() < until && k < maxOps) {
          out.add(exec(c, next(c)))
          k += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** Replay `reqs` (per client, in their original order) under fresh
    * request ids, so job groups, spans and oracle rows of one replay never
    * mix with another's.
    */
  private def replay(byClient: Map[Int, Seq[Req]], exec: (Int, Req) => Done): Seq[Done] = {
    val out = new ConcurrentLinkedQueue[Done]()
    val threads = byClient.toSeq.map { case (c, rs) =>
      new Thread(() => rs.foreach(r => out.add(exec(c, r.copy(rid = rids.incrementAndGet())))),
        s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  // ---- oracle ----------------------------------------------------------
  private def checkReads(shapes: Seq[Shape], done: Seq[Done]): Unit = {
    val byShape = done.groupBy(_.req.shape)
    val checks = for (s <- shapes; ds <- byShape.get(s.name)) yield scala.concurrent.Future {
      val schema = StructType(StructField("rid", LongType) +: s.paramSchema.map { case (n, t) => StructField(n, t) })
      val params = ds.map(_.req).distinctBy(_.rid).map(r => Row.fromSeq(r.rid +: r.params))
      val view = s"params_${s.name}"
      spark.createDataFrame(spark.sparkContext.parallelize(params, 1), schema).createOrReplaceTempView(view)
      val df = spark.sql(s.oracle.replace("FROM params p", s"FROM $view p"))
      val fields = df.schema.fields
      val want = df.collect().groupBy(_.getLong(0)).map { case (rid, rows) =>
        rid -> rows.toSeq.map(r => (1 until fields.length).map(i => Render.value(fields(i).dataType, r, i))
          .mkString("\t"))
      }
      ds.foreach { d =>
        if (d.error == null) {
          val full = want.getOrElse(d.req.rid, Nil)
          val got = d.rows
          val ok = s.limit match {
            case Some(k) => got.size == math.min(k, full.size) && Render.subRows(got, full)
            case None => Render.sameRows(got, full)
          }
          d.ok = ok
          if (!ok) d.why = s"answer mismatch: got ${got.size} rows, oracle ${full.size}; e.g. got-only " +
            s"${Render.unmatched(got, full).take(2).mkString("|")} oracle-only ${Render.unmatched(full, got).take(2).mkString("|")}"
        }
      }
    }(scala.concurrent.ExecutionContext.global)
    checks.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    // the constants are drawn so that an answer is rarely empty; an engine
    // that answered nothing would still pass the row checks, so a shape whose
    // every answer in the run is empty, over three or more distinct requests,
    // fails (replays repeat a request, so they do not count as distinct)
    byShape.toSeq.sortBy(_._1).foreach { case (name, ds) =>
      val empty = ds.count(d => d.error == null && d.rows.isEmpty)
      val distinct = ds.map(_.req.text).distinct.size
      say(s"  empty answers $name: $empty/${ds.size} ($distinct distinct requests)")
      if (distinct >= 3 && empty == ds.size) ds.foreach { d =>
        d.ok = false
        d.why = s"all ${ds.size} answers of the shape were empty"
      }
    }
  }

  // ---- metrics -----------------------------------------------------------
  /** Heap in use after a full GC; the least of three readings, so garbage
    * a late-finishing task allocates between collection and reading drops out.
    */
  private def heapLiveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def planNodes(store: GraftStore): Double = {
    var n = 0L
    store.statements.queryExecution.logical.foreach(_ => n += 1)
    n.toDouble
  }

  private def latencies(ds: Seq[Done]): Seq[Double] =
    ds.map(d => if (d.ok) d.ms else Double.PositiveInfinity)

  /** Per-layer figures from the traced replay `ds` (wall `wallS`). */
  private def layers(ds: Seq[Done], wallS: Double, taskMs0: Long, cg0: (Long, Long)): Map[String, Double] = {
    val spans = tracer.spans.asScala.toSeq
    val rids = ds.map(_.req.rid).toSet
    val byRid = spans.filter(s => rids(s.rid)).groupBy(_.rid)
    def sum(rid: Long, name: String) = byRid.getOrElse(rid, Nil).filter(_.name == name).map(_.ms).sum
    val n = math.max(1, ds.size).toDouble
    def works(rid: Long, phases: Seq[String]) = phases.map(p => probe.groups.get(group(rid, p))).filter(_ != null)
    def total(f: Work => Long, phases: Seq[String] = Seq("compile", "catalyst", "run")) =
      ds.map(d => works(d.req.rid, phases).map(f).sum).sum.toDouble
    val parse = ds.map(d => sum(d.req.rid, "parse"))
    val compile = ds.map(d => sum(d.req.rid, "compile") - sum(d.req.rid, "parse"))
    val catalyst = ds.map(d => sum(d.req.rid, "catalyst")).sum
    val run = ds.map(d => sum(d.req.rid, "run"))
    val opTotal = ds.map(d => sum(d.req.rid, "op")).sum
    val plans = ds.flatMap(d => Option(planStats.get(d.req.rid)))
    def planMean(i: Int) = if (plans.isEmpty) 0.0 else plans.map(_(i)).sum / plans.size
    val cg = (codegenNow._1 - cg0._1, codegenNow._2 - cg0._2)
    val codegenMs = cg._2 / 1e6
    val results = ds.map(d => Option(resultRows.get(d.req.rid)).map(_.toLong).getOrElse(0L)).sum
    Map(
      "sparql.parse_ms" -> median(parse),
      "engine.compile_ms" -> median(compile),
      "engine.compile_jobs" -> total(_.jobs.sum, Seq("compile")) / n,
      "engine.compile_share" -> compile.sum / math.max(1e-9, opTotal),
      "catalyst.analysis_ms" -> planMean(0),
      "catalyst.optimization_ms" -> planMean(1),
      "catalyst.planning_ms" -> planMean(2),
      "catalyst.expr_nodes" -> planMean(3),
      "codegen.compiles" -> cg._1 / n,
      "codegen.compile_ms" -> codegenMs / n,
      "exec.run_ms" -> median(run),
      "exec.jobs" -> total(_.jobs.sum) / n,
      "exec.stages" -> total(_.stages.sum) / n,
      "exec.tasks" -> total(_.tasks.sum) / n,
      "exec.task_run_ms" -> total(_.runMs.sum) / n,
      "exec.task_cpu_ms" -> total(_.cpuNs.sum) / 1e6 / n,
      "exec.gc_ms" -> total(_.gcMs.sum) / n,
      "exec.sched_delay_ms" -> total(_.waitMs.sum) / math.max(1.0, total(_.tasks.sum)),
      "exec.core_util" -> (probe.taskRunMs.sum - taskMs0) / (wallS * 1000.0 * Cores),
      "exec.shuffle_read_bytes" -> total(_.shuffleRead.sum) / n,
      "exec.shuffle_write_bytes" -> total(_.shuffleWrite.sum) / n,
      "exec.spill_bytes" -> total(_.spill.sum) / n,
      "exec.rows_read_per_result" -> total(_.recordsRead.sum) / math.max(1L, results),
      "engine.results_bytes" -> ds.map(_.bytes).sum / n,
      "self.sparql_ms" -> parse.sum / n,
      "self.engine_ms" -> compile.sum / n,
      "self.catalyst_ms" -> catalyst / n,
      "self.codegen_ms" -> codegenMs / n,
      "self.exec_ms" -> (run.sum - codegenMs) / n)
  }

  // ---- result ------------------------------------------------------------
  private def emit(all: Seq[Done], metrics: Seq[(String, Double, String)]): Unit = {
    val failed = all.filterNot(_.ok)
    say(f"attempted=${all.size} failed=${failed.size} error_rate=${failed.size.toDouble / math.max(1, all.size)}%.4f")
    failed.groupBy(_.req.shape).foreach { case (s, fs) =>
      say(s"FAILED $s x${fs.size}: ${fs.head.why}")
    }
    val ms = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) "null" else v.toString},"unit":"$u"}"""
    }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":${failed.isEmpty},"attempted":${all.size},""" +
      s""""failed":${failed.size},"metrics":{$ms}}""")
    if (traced) {
      val f = new File(opts.getOrElse("trace-dir", s"$work/trace"), s"$workload-seed$seed.jsonl")
      tracer.write(f)
      val r = new java.io.PrintWriter(new File(f.getParentFile, s"$workload-seed$seed.report.txt"), "UTF-8")
      try r.print(report) finally r.close()
    }
  }

  private def perType(ds: Seq[Done]): Unit =
    ds.groupBy(_.req.shape).toSeq.sortBy(_._1).foreach { case (s, xs) =>
      say(f"  op.${s}_p50_ms = ${median(latencies(xs))}%.2f  (n=${xs.size})")
    }

  def main(): Unit = {
    try workload match {
      case "explore" | "analytic" => reads()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      spark.stop()
      atRest.foreach(p => Stores.tree(p).foreach(Stores.delete))
      Stores.delete(new File(keys))
    }
  }

  private def codegenNow: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Traced replay: per-layer figures of the replayed operations. */
  private def tracedReplay(body: => Seq[Done]): (Seq[Done], Map[String, Double]) = {
    val taskMs0 = probe.taskRunMs.sum
    val cg0 = codegenNow
    tracer.on = true
    val r0 = System.nanoTime()
    val ds = try body finally tracer.on = false
    (ds, layers(ds, (System.nanoTime() - r0) / 1e9, taskMs0, cg0))
  }

  /** End-to-end metrics of the window [w0, w1) (nanoTime). Throughput gives
    * each correct operation the share of its duration that falls inside the
    * window, so an operation cut by the deadline counts in part instead of
    * stretching or shrinking the window by a whole operation.
    */
  private def endToEnd(setupS: Double, firstS: Double, window: Seq[Done], w0: Long, w1: Long,
                       heap: Double, bytesPerStmt: Double): Seq[(String, Double, String)] = {
    val lat = latencies(window)
    val windowS = (w1 - w0) / 1e9
    val done = window.filter(_.ok).map { d =>
      (math.min(d.endNs, w1) - math.max(d.startNs, w0)).toDouble / math.max(1L, d.endNs - d.startNs)
    }.sum
    // the median of each operation type, summarized by their geometric
    // mean: every type weighs the same, however many of each the window held.
    // Types differ in cost up to 4x, so the plain median of a window of 15-20
    // operations jumps between types with the mix of the window's tail
    val typeP50 = window.groupBy(_.req.shape).values.map(xs => pct(latencies(xs), 50)).toSeq
    val p50Gm = math.exp(typeP50.map(math.log).sum / typeP50.size)
    say(f"window: ${window.size} ops started in $windowS%.0f s, ${done / windowS}%.3f ok ops/s, " +
      f"p50 ${pct(lat, 50)}%.1f ms, p90 ${pct(lat, 90)}%.1f ms (n=${lat.size}); " +
      f"geometric mean of ${typeP50.size} per-type p50s $p50Gm%.1f ms")
    say(s"window latencies (ms): ${lat.sorted.map(x => f"$x%.0f").mkString(" ")}")
    perType(window)
    Seq(
      ("setup_s", setupS, "s"),
      ("first_pass_s", firstS, "s"),
      ("throughput_ops", done / windowS, "1/s"),
      ("p50_geomean_ms", p50Gm, "ms"),
      ("heap_live_mb", heap, "MB"),
      ("store_bytes_per_stmt", bytesPerStmt, "B"))
  }

  /** Traced p50 minus the mean p50 of the untraced replays just before and
    * just after it, so JIT warm-up between replays cancels out.
    */
  private def overhead(before: Seq[Done], traced: Seq[Done], after: Seq[Done]): Double = {
    val (b, t, a) = (median(latencies(before)), median(latencies(traced)), median(latencies(after)))
    say(f"tracing overhead: traced p50 $t%.2f ms - untraced p50 (before $b%.2f, after $a%.2f) mean " +
      f"${(b + a) / 2}%.2f ms = ${t - (b + a) / 2}%.2f ms")
    t - (b + a) / 2
  }

  // ---- explore / analytic -------------------------------------------------
  private def reads(): Unit = {
    val z = Data.sizes(Fixture.Sf)
    val shapes = if (workload == "explore") Shapes.explore(z) else Shapes.analytic(z)
    // set-up: the engine's warm open (`Tpch.store`) of a copy of the
    // fixture's at-rest tree, placed at the store path of a source key of
    // this run's own
    val src = s"$keys/open"
    val path = Tpch.storePath(src)
    atRest += path
    new File(path).getParentFile.mkdirs()
    Stores.copyTree(s"$cache/store/store", path)
    val s0 = System.nanoTime()
    val store = Tpch.store(spark, src)
    val openS = (System.nanoTime() - s0) / 1e9
    val server = if (workload == "explore") Some(new graft.server.SparqlServer(store).start()) else None
    val setupS = sessionS + (System.nanoTime() - s0) / 1e9
    say(f"setup: session $sessionS%.3f s, open $openS%.3f s")

    val http = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    def viaHttp(c: Int, req: Req): Done = timed(req, c) {
      val url = s"http://127.0.0.1:${server.get.boundPort}/sparql?query=" +
        java.net.URLEncoder.encode(req.text, java.nio.charset.StandardCharsets.UTF_8)
      val resp = http.send(java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(deadlineMs)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200)
        throw new IllegalStateException(s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
      val ct = resp.headers().firstValue("Content-Type").orElse("")
      val rows = if (ct.contains("sparql-results+json")) Render.sparqlJson(resp.body()) else Render.ntLines(resp.body())
      (rows, resp.body().length.toLong)
    }
    def inProcess(c: Int, req: Req): Done = timed(req, c) {
      withDeadline(req.rid, s"client-$c") {
        if (workload == "explore") serve(store, req) else collect(store, req.rid, req.text)
      }
    }
    val exec: (Int, Req) => Done = if (workload == "explore") viaHttp else inProcess

    // first pass: one cold request of every operation type, the types dealt
    // round-robin to the clients. Traced runs skip it: they report no
    // end-to-end figures, and its time goes to the write path
    val first = new Stream(shapes, -1)
    val firstReqs = if (traced) Nil else shapes.indices.map(_ => first.next())
    val fp0 = System.nanoTime()
    val firstDone = replay(firstReqs.zipWithIndex.groupBy(_._2 % clients)
      .map { case (c, rs) => c -> rs.map(_._1) }, exec)
    val firstS = (System.nanoTime() - fp0) / 1e9
    if (!traced) say(f"first pass: $firstS%.3f s")
    // untimed warm-up, then the timed window
    val streams = (0 until clients).map(c => new Stream(shapes, c))
    val warm = loop(clients, Long.MaxValue, 1, c => streams(c).next(), exec)
    val w0 = System.nanoTime()
    val w1 = w0 + (seconds * 1e9).toLong
    // traced runs report no end-to-end figures: one round of the shape list,
    // split across the clients, stands in for the window and is what the
    // replays below repeat, so every operation type is traced
    val round = (shapes.size + clients - 1) / clients
    val window = loop(clients, if (traced) Long.MaxValue else w1, if (traced) round else Int.MaxValue,
      c => streams(c).next(), exec)
    val heap = if (traced) Double.NaN else heapLiveMb()
    say(f"window done: ${window.size} ops")

    // traced run: each client's requests of that round in process, untraced
    // (analytic: their runs above), traced, untraced again; the untraced
    // pair is the baseline for the tracing overhead and the HTTP share. Then
    // the write path
    val byClient = window.groupBy(_.client).map { case (c, ds) => c -> ds.sortBy(_.startNs).map(_.req) }
    val replayed = if (!traced || workload == "analytic") Nil else replay(byClient, inProcess)
    val before = if (traced && workload == "analytic") window else replayed
    val (tracedDone, layerMetrics) =
      if (traced) tracedReplay(replay(byClient, inProcess)) else (Nil, Map.empty[String, Double])
    val after = if (traced) replay(byClient, inProcess) else Nil
    server.foreach(_.stop())
    val (writeDone, writeMetrics) = if (traced) writes() else (Nil, Map.empty[String, Double])

    // oracle (outside every timed section)
    say("checking answers")
    registerRaw()
    val readDone = firstDone ++ warm ++ window ++ replayed ++ tracedDone ++ after
    checkReads(shapes, readDone)
    val all = readDone ++ writeDone
    if (!traced) {
      val bytesPerStmt = Stores.treeBytes(path).toDouble / store.statements.count()
      emit(all, endToEnd(setupS, firstS, window, w0, w1, heap, bytesPerStmt))
    } else {
      val ov = overhead(before, tracedDone, after)
      if (workload == "explore")
        say(f"  server.http_ms = ${median(latencies(window)) - median(latencies(before ++ after))}%.2f" +
          " (HTTP p50 minus the untraced in-process replays' p50)")
      say(f"  model.open_s = $openS%.3f")
      say("traced per-type p50:")
      perType(tracedDone)
      say("write path:")
      perType(writeDone)
      emit(all, layerUnits(layerMetrics ++ writeMetrics ++ Map(
        "trace.overhead_ms" -> ov, "model.open_s" -> openS)))
    }
  }

  // ---- write path (traced runs) ------------------------------------------
  /** One step of the write path: `run` takes the store the previous step
    * left; `check` gives the counts found and the counts expected.
    */
  private final case class Step(shape: String, text: String, run: GraftStore => GraftStore,
                                check: GraftStore => (Seq[Long], Seq[Long]))

  /** The engine's write path on a store of this run's own: a cold load of a
    * copy of the source tables (`Tpch.store`), two subclass axioms and their
    * closure (`Rdfs.closure`, saved at rest and reopened), then two chained
    * truth-maintained writes (`Update.withTruthMaintenance`, the
    * delete/re-derive pass): one asserts a subclass type, one retracts it
    * from the members a WHERE pattern selects, with the entailments it
    * supported.
    * Each step is one operation with a count oracle taken after its timing.
    * The steps run alone, so the process-wide job and spill counters over a
    * step belong to it. A failed step ends the chain; the rest count as failed.
    */
  private def writes(): (Seq[Done], Map[String, Double]) = {
    val (vip, valued, party) = ("urn:bench:Vip", "urn:bench:Valued", "urn:bench:Party")
    val sub = "<http://www.w3.org/2000/01/rdf-schema#subClassOf>"
    val src = s"$keys/load"
    Stores.copyDir(s"$cache/raw", src)
    atRest += Tpch.storePath(src)
    registerRaw()
    val segOf = spark.table("customer").collect()
      .map(x => x.getAs[Long]("c_custkey") -> x.getAs[String]("c_mktsegment")).toMap
    val r = new scala.util.Random(seed * 7919L + 101L)
    val picks = r.shuffle(segOf.keys.toList.sorted).take(6)
    val seg = segOf(picks.head)
    val moved = picks.count(k => segOf(k) == seg)  // at least the first pick
    def typed(ks: Seq[Long], cls: String) = ks.map(k => s"<urn:t:customer:$k> a <$cls> .").mkString(" ")
    def count(st: GraftStore, cls: String): Long = {
      val df = Engine.query(st, s"SELECT (COUNT(?x) AS ?n) WHERE { ?x a <$cls> }")
      Render.rows(df, df.collect()).head.toLong
    }
    // statements the FIXTURES §4 mapping gives: per row a type triple, one
    // literal per non-null column and one link per non-null foreign key; and
    // one `rdfs:subClassOf <urn:c:Any>` axiom per table class
    def mapped: Long = Tpch.tables.size + Tpch.tables.map { t =>
      val cells = t.cols.map(c => s"count(${c.name})") ++
        t.cols.filter(_.fkTable != null).map(c => s"count(${c.name})")
      spark.sql(s"SELECT count(*) + ${cells.mkString(" + ")} FROM ${t.name}").head().getLong(0)
    }.sum
    val schema = s"INSERT DATA { <urn:c:Customer> $sub <$party> . <$vip> $sub <$valued> }"
    val assertTypes = s"DELETE {} INSERT { ${typed(picks, vip)} } WHERE {}"
    val modify = s"DELETE { ?c a <$vip> } INSERT {} " +
      s"""WHERE { ?c a <$vip> ; <urn:p:c_mktsegment> "$seg" }"""
    def tm(text: String): GraftStore => GraftStore = Update.withTruthMaintenance(_, text)
    def counts(want: Int*): GraftStore => (Seq[Long], Seq[Long]) =
      st => (Seq(vip, valued).map(count(st, _)), want.map(_.toLong))
    val steps = Seq(
      Step("w1_cold_load", "Tpch.store", _ => Tpch.store(spark, src),
        st => (Seq(st.statements.count()), Seq(mapped))),
      Step("w2_closure", s"$schema ; Rdfs.closure ; GraftStore.save ; GraftStore.load", st => {
        GraftStore.save(Rdfs.closure(Update(st, schema)).statements, s"$work/closed")
        GraftStore.load(spark, s"$work/closed")
      }, st => (Seq(count(st, party)), Seq(segOf.size.toLong))),
      // counts of Vip and of Valued (inferred from Vip) members
      Step("w3_assert", assertTypes, tm(assertTypes), counts(picks.size, picks.size)),
      Step("w4_retract_where", modify, tm(modify), counts(picks.size - moved, picks.size - moved)))

    var st: GraftStore = null
    var broken: String = null
    var inferred = Double.NaN
    val cost = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val tmPaths = scala.collection.mutable.Map.empty[String, String]
    tracer.on = true
    val done = try steps.map { s =>
      val req = Req(rids.incrementAndGet(), s.shape, s.text, Nil)
      if (broken != null) {
        val now = System.nanoTime()
        Done(req, 0, now, now, Nil, 0L, broken)
      } else {
        val (j0, sp0) = (probe.jobsAll.sum, probe.spillAll.sum)
        val d = timed(req, 0) {
          st = withDeadline(req.rid, "writer", writeDeadlineMs)(inGroup(req.rid, "run") {
            val next = s.run(st)
            tmPaths(s.shape) = Rdfs.lastTmPath // per thread: read it on the step's own
            next
          })
          (Nil, 0L)
        }
        cost(s.shape) = (probe.jobsAll.sum - j0, probe.spillAll.sum - sp0)
        if (d.error == null) try {
          val (got, want) = s.check(st)
          d.ok = got == want
          if (!d.ok) d.why = s"count mismatch: got ${got.mkString(",")}, expected ${want.mkString(",")}"
          if (s.shape == "w2_closure")
            inferred = st.statements.filter(org.apache.spark.sql.functions.col("stype") ===
              GraftStore.STYPE_INFERRED).count().toDouble
        } catch {
          case e: Throwable => d.why = s"check failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
        }
        if (!d.ok) broken = s"not run: ${s.shape} failed"
        d
      }
    } finally tracer.on = false
    say(f"write path: ${done.map(d => f"${d.req.shape} ${d.ms}%.0f ms").mkString(", ")}; " +
      s"truth maintenance path ${tmPaths.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", ")}")
    def secs(shape: String) = done.find(_.req.shape == shape).filter(_.ok).map(_.ms / 1000).getOrElse(Double.NaN)
    val updates = done.filter(_.req.shape.matches("w[34]_.*"))
    val metrics = Map(
      "model.load_s" -> secs("w1_cold_load"),
      "model.load_spill_bytes" -> cost.get("w1_cold_load").map(_._2.toDouble).getOrElse(Double.NaN),
      "inference.closure_s" -> secs("w2_closure"),
      "inference.closure_stmts" -> inferred,
      "engine.update_ms" -> median(latencies(updates)),
      "engine.update_jobs" -> updates.map(d => cost.get(d.req.shape).map(_._1.toDouble).getOrElse(Double.NaN))
        .sum / updates.size,
      "model.stmt_plan_nodes" -> (if (broken == null) planNodes(st) else Double.NaN))
    (done, metrics)
  }

  private def layerUnits(m: Map[String, Double]): Seq[(String, Double, String)] =
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      val unit =
        if (k.endsWith("_ms")) "ms" else if (k.endsWith("_s")) "s"
        else if (k.endsWith("_bytes")) "B" else if (k.endsWith("_share") || k.endsWith("_util")) "ratio"
        else "count"
      (k, v, unit)
    }
}
