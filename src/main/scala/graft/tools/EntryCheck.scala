package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local oracle cross-check for SparkEntry entries: runs the entry AND its
  * declared oracle SQL (both in Spark, over the raw testdata parquet) and
  * compares the results as sorted row multisets with normalized rendering.
  * The driver's DuckDB compare stays the authority; this answers "did my
  * change alter what the entry computes" without leaving the sandbox.
  * Usage: runMain graft.tools.EntryCheck <name,name,...> [sfDir]
  */
object EntryCheck {
  /** Normalized rendering of a result as sorted rows: timestamps as epoch
    * micros, doubles to 9 sig decimals, a null marker distinct from the
    * "null" string.
    */
  def render(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.TimestampType => unix_micros(col(f.name)).cast("string")
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          format_number(col(f.name).cast("double"), 9)
        case _: org.apache.spark.sql.types.DecimalType => col(f.name).cast("double").cast("string")
        case _ => col(f.name).cast("string")
      }
    }
    df.select(concat_ws("\u0001", cols.map(c => coalesce(c, lit("\u0000"))): _*))
      .collect().map(_.getString(0)).sorted.toSeq
  }

  def main(args: Array[String]): Unit = {
    val arg0 = args.headOption.getOrElse("q_scan_filter")
    val names =
      if (arg0 == "all") graft.SparkEntry.oracleSql.keys.toSeq.sorted
      else arg0.split(",").toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.LocalSpark.session()
    spark.sparkContext.setLogLevel("ERROR")
    // register every raw table the oracle SQL references; events.ts normalizes
    // to TimestampType so DuckDB-shaped SQL (date_trunc on ts) runs unchanged
    val tables = Seq("region", "nation", "customer", "orders", "lineitem",
      "part", "supplier", "documents", "events", "embeddings", "media")
    for (t <- tables) {
      val f = new java.io.File(s"$sfDir/$t.parquet")
      if (f.exists()) {
        var df = spark.read.parquet(f.getPath)
        if (t == "events")
          df = df.withColumn("ts", graft.pipeline.Events.tsStamp(df.schema("ts").dataType))
        df.createOrReplaceTempView(t)
      }
    }
    graft.model.Tpch.store(spark, sfDir).statements.count()
    graft.SparkEntry.warmup(spark)
    var bad = 0
    for (n <- names) {
      val fn = graft.SparkEntry.queries.get(n)
      val sql = graft.SparkEntry.oracleSql.get(n)
      (fn, sql) match {
        case (Some(f), Some(q)) =>
          try {
            val got = render(f(spark, sfDir))
            val want = render(spark.sql(q))
            val ok = got == want
            if (!ok) {
              bad += 1
              val misG = got.diff(want).take(3)
              val misW = want.diff(got).take(3)
              println(s"ENTRYCHECK $n MATCH=false got=${got.size} want=${want.size} " +
                s"onlyGot=${misG.mkString("|")} onlyWant=${misW.mkString("|")}")
            } else println(s"ENTRYCHECK $n MATCH=true rows=${got.size}")
          } catch { case e: Throwable =>
            bad += 1
            println(s"ENTRYCHECK $n ERROR ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          }
        case _ => println(s"ENTRYCHECK $n SKIP (no entry or no oracle)")
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
