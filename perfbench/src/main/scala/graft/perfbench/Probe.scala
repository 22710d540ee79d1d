package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.scheduler._

/** Spark work attributed to a job group. The benchmark tags every call it
  * makes with a group of the form `<rid>/<phase>`, so jobs, stages and task
  * metrics land on the request and the phase that started them.
  */
final class Work {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, waitMs = new LongAdder
  val shuffleRead, shuffleWrite, spill, recordsRead = new LongAdder
}

final class JobProbe extends SparkListener {
  val groups = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Integer, String]()
  private val stageSubmit = new ConcurrentHashMap[Integer, java.lang.Long]()
  // process-wide, for phases that run alone (the write path's steps)
  val taskRunMs, jobsAll, spillAll = new LongAdder

  def work(group: String): Work = groups.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsAll.increment()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { g =>
      work(g).jobs.increment()
      e.stageIds.foreach(id => stageGroup.put(id, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit.put(id, t)
    Option(stageGroup.get(id)).foreach(work(_).stages.increment())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      spillAll.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val w = work(g)
      w.tasks.increment()
      if (m != null) {
        w.runMs.add(m.executorRunTime)
        w.cpuNs.add(m.executorCpuTime)
        w.gcMs.add(m.jvmGCTime)
        w.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        w.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        w.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        w.recordsRead.add(m.inputMetrics.recordsRead)
      }
      Option(stageSubmit.get(e.stageId)).foreach(t => w.waitMs.add(math.max(0L, e.taskInfo.launchTime - t)))
    }
  }
}

/** A timed span of one request. `rid` is shared by all spans of a request;
  * `parent` is the enclosing span's id (0 at the root). The job and codegen
  * counts are read at the span's own boundaries.
  */
final case class Span(id: Long, parent: Long, rid: Long, name: String, startNs: Long, endNs: Long,
                      jobs: Long, codegenCompiles: Long, codegenNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def json: String =
    s"""{"id":$id,"parent":$parent,"rid":$rid,"name":"$name","start_ns":$startNs,""" +
      s""""end_ns":$endNs,"jobs":$jobs,"codegen_compiles":$codegenCompiles,"codegen_ns":$codegenNs}"""
}

/** In-memory span recorder. Spans nest per thread; while `on` is false
  * `span` only runs its body.
  */
final class Tracer(probe: JobProbe) {
  @volatile var on: Boolean = false
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  private def codegen: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def span[T](rid: Long, name: String, group: String = null)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val (c0, n0) = codegen
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val (c1, n1) = codegen
        stack.set(stack.get.tail)
        val jobs = if (group == null) 0L else probe.work(group).jobs.sum()
        spans.add(Span(id, parent, rid, name, t0, t1, jobs, c1 - c0, n1 - n0))
      }
    }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.forEach(s => w.println(s.json)) finally w.close()
  }
}
