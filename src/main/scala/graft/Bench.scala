package graft
/** Benchmark main: opens the store (load excluded from query timings, matching how
  * the reference reports query latencies post-load), builds the closed store, then
  * times ONE pass over every SparkEntry query. Prints ONE JSON line on stdout.
  * Per-entry and min-of-N readings: `graft.tools.Profile <names> <sfDir> N`.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val tSess = System.nanoTime()
    val spark = LocalSpark.session()
    val sessionSec = (System.nanoTime() - tSess) / 1e9
    // load_sec is COLD (derive+write store/lexicon/text index) only when one of the
    // three at-rest artifacts is missing; otherwise it is a warm read-back.
    // load_state says which one this run measured ("partial": some were missing).
    val storeBase = model.Tpch.storePath(sfDir)
    val markers = Seq(storeBase + "/_SUCCESS", storeBase + "-lexicon/_SUCCESS",
      storeBase + "-lexicon-text/postings/_SUCCESS")
    val present = markers.count(m => new java.io.File(m).exists())
    val loadCold = present < markers.size
    val loadState =
      if (present == markers.size) "warm" else if (present == 0) "cold" else "partial"
    val t0 = System.nanoTime()
    model.Tpch.store(spark, sfDir).statements.count()
    val loadSec = (System.nanoTime() - t0) / 1e9
    // untimed JIT and class-loading warmup on a tiny store (SparkEntry.warmup):
    // no entry's own plan runs before it is timed, so each entry's reading
    // includes its first-run cost over the real store
    val tWarm = System.nanoTime()
    SparkEntry.warmup(spark)
    val warmupSec = (System.nanoTime() - tWarm) / 1e9
    // at-rest closed store (q_truth_maint's input): built/saved once per sf,
    // untimed like the base store load
    val tClosed = System.nanoTime()
    try SparkEntry.closedStore(spark, sfDir).statements.count()
    catch { case e: Throwable =>
      System.err.println(s"[bench] closed-store warmup failed: ${e.getMessage}") }
    val closedSec = (System.nanoTime() - tClosed) / 1e9
    // a failing entry reports the -1.0 sentinel
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false }
      name -> (if (ok) (System.nanoTime() - t) / 1e9 else -1.0)
    }
    // A runner that keeps only the LAST 2000 output chars cannot hold the 145 entry
    // names, so: values at 2 decimals, queries FIRST and totals LAST
    // (head truncation eats leading entries, never the totals), and the complete
    // line persists to BENCH_LOCAL.json. Measurement-basis notes: BENCH_NOTES.md.
    def f(v: Double): String = "%.2f".format(v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val sfShort = sfDir.split("/").filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // harness (non-query) wall: session start, untimed warmup, closed-store
    // build/open; the rest of the process's wall time is JVM start and teardown
    val harness = s"""{"session":${f(sessionSec)},"warmup":${f(warmupSec)},""" +
      s""""closed_store":${f(closedSec)}}"""
    val line =
      s"""{"queries":$qs,"metric":"total","value":${f(total)},"unit":"sec","load_sec":${f(loadSec)},"load_cold":$loadCold,"load_state":"$loadState","harness":$harness,"sf":"$sfShort"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
    catch { case _: Exception => () } // read-only cwd must not fail the bench
    println(line)
    spark.stop()
  }
}
