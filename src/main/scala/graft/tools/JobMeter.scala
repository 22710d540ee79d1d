package graft.tools

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Spark work done by the jobs of one job group: job, stage and task counts,
  * summed task metrics, and run time per stage with the stage's callsite.
  * Built by `JobMeter.measure`, which tags the calling thread's jobs with a
  * fresh group, so jobs other threads run at the same time are not counted.
  */
final class JobMeter private (val group: String) extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, recordsRead = new LongAdder
  val shuffleRead, shuffleWrite, spill = new LongAdder
  private final class Stage(val callsite: String) {
    val tasks, runMs = new LongAdder
  }
  private val stageById = new ConcurrentHashMap[Int, Stage]()
  private val marker = group + "/drained"
  private val drained = new CountDownLatch(1)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
      case `group` =>
        jobs.increment()
        e.stageInfos.foreach(s => stageById.putIfAbsent(s.stageId, new Stage(s.name)))
      // the bus delivers events in order: once the marker job that `measure`
      // starts after the body returns is seen, every event of the body's own
      // jobs has been delivered
      case `marker` => drained.countDown()
      case _ =>
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageById.containsKey(e.stageInfo.stageId)) stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageById.get(e.stageId)).foreach { s =>
      tasks.increment(); s.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        runMs.add(m.executorRunTime); s.runMs.add(m.executorRunTime)
        cpuNs.add(m.executorCpuTime)
        gcMs.add(m.jvmGCTime)
        recordsRead.add(m.inputMetrics.recordsRead)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }

  /** The counters as JSON fields (no braces), with the top 5 stages by run time. */
  def jsonFields: String = {
    def mb(a: LongAdder) = "%.1f".format(a.sum() / 1048576.0)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val topStages = stageById.asScala.toSeq.filter(_._2.tasks.sum() > 0)
      .sortBy(-_._2.runMs.sum()).take(5).map { case (id, s) =>
        s"""{"stage":$id,"tasks":${s.tasks.sum()},"run_s":${"%.2f".format(s.runMs.sum() / 1e3)},""" +
          s""""callsite":${q(s.callsite)}}"""
      }
    s""""jobs":${jobs.sum()},"stages":${stages.sum()},"tasks":${tasks.sum()},""" +
      s""""task_run_s":${"%.2f".format(runMs.sum() / 1e3)},"task_cpu_s":${"%.2f".format(cpuNs.sum() / 1e9)},""" +
      s""""gc_s":${"%.2f".format(gcMs.sum() / 1e3)},"records_read":${recordsRead.sum()},""" +
      s""""shuffle_read_mb":${mb(shuffleRead)},"shuffle_write_mb":${mb(shuffleWrite)},""" +
      s""""spill_mb":${mb(spill)},"top_stages":${topStages.mkString("[", ",", "]")}"""
  }
}

object JobMeter {
  private val groupKeys =
    Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Runs `f` with the calling thread's jobs in a fresh job group and returns
    * its result with the meter of that group, complete once this returns.
    */
  def measure[A](spark: SparkSession)(f: => A): (A, JobMeter) = {
    val sc = spark.sparkContext
    val m = new JobMeter("graft-meter-" + UUID.randomUUID())
    val saved = groupKeys.map(sc.getLocalProperty)
    sc.addSparkListener(m)
    try {
      sc.setJobGroup(m.group, "JobMeter")
      val r = f
      sc.setJobGroup(m.marker, "JobMeter drain")
      sc.parallelize(Seq(0), 1).count()
      m.drained.await(60, TimeUnit.SECONDS)
      (r, m)
    } finally {
      groupKeys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(m)
    }
  }
}
