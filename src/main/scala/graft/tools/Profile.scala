package graft.tools

import java.nio.file.{Files, Paths}

/** Per-entry execution profile of `SparkEntry.queries` against a warm store:
  * for each entry and iteration one JSON line with wall seconds and rows, the
  * entry's jobs, stages and tasks, the classes it compiled and their janino
  * compile time, summed task run/CPU/GC time, records read,
  * shuffle read/write and spill, and its top stages by run time with their
  * callsites (`JobMeter`). With `planDir`, also writes each entry's
  * `explain("formatted")` plan to `<planDir>/<name>.txt`.
  *
  * Usage: runMain graft.tools.Profile <names|all> [sfDir] [iters] [planDir]
  * (`sfDir` defaults to `SPARK_GRAFT_SF_DIR`; cores follow `LocalSpark`).
  */
object Profile {
  /** Process-wide codegen counters: classes compiled and janino compile
    * nanoseconds. Every thread's compiles count, so an entry's delta is exact
    * only when nothing else runs alongside it (as here).
    */
  private def codegen: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(sys.error(
      "usage: Profile <names|all> [sfDir] [iters] [planDir]"))
    val sfDir = args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("no sfDir argument and SPARK_GRAFT_SF_DIR is not set"))
    val iters = args.lift(2).map(_.toInt).getOrElse(1)
    val planDir = args.lift(3)
    val spark = graft.LocalSpark.session()
    graft.model.Tpch.store(spark, sfDir).statements.count()
    graft.SparkEntry.warmup(spark)
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val entries =
      if (names == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else names.split(",").toSeq
    // an unknown name or a failing entry reports on its own line; the rest run
    for (n <- entries) graft.SparkEntry.queries.get(n) match {
      case None => println(s"""PROFILE {"name":"$n","error":"unknown entry"}""")
      case Some(fn) =>
        for (i <- 1 to iters) try {
          val (c0, ns0) = codegen
          val ((rows, sec), m) = JobMeter.measure(spark) {
            val t0 = System.nanoTime()
            val rows = fn(spark, sfDir).count()
            (rows, (System.nanoTime() - t0) / 1e9)
          }
          val (c1, ns1) = codegen
          println(f"""PROFILE {"name":"$n","iter":$i,"wall_s":$sec%.2f,"rows":$rows,""" +
            f""""codegen_compiles":${c1 - c0},"codegen_ms":${(ns1 - ns0) / 1e6}%.1f,""" +
            m.jsonFields + "}")
          if (i == 1) planDir.foreach(d => Files.writeString(Paths.get(s"$d/$n.txt"),
            fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)))
          // outside the timed region: repeated iterations of one entry leave
          // their dead checkpoint blocks behind by construction; a GC lets the
          // ContextCleaner free them before the next iteration is timed
          System.gc()
        } catch { case e: Throwable =>
          System.err.println(s"[profile] $n failed: ${e.getMessage}")
          println(s"""PROFILE {"name":"$n","iter":$i,"error":"${e.getClass.getSimpleName}"}""")
        }
    }
    spark.stop()
  }
}
