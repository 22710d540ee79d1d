package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stress harness: amplify the sf0.1 tables K× with FK-consistent key
  * offsets (each replica is an isolated relational universe over the shared
  * region/nation dims), cold-build the statement store at the amplified scale,
  * and time the headline query battery. This is a STRESS input for measuring
  * how load and query wall-clock scale with |data| — correctness oracles always
  * run against the driver-generated testdata, never this.
  *
  * Usage: runMain graft.tools.ScaleStress [K] [baseDir] — writes parquet under
  * /tmp/graft-scale/x$K and prints one JSON line per phase.
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    val base = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val out = s"/tmp/graft-scale/x$k"
    // amplified builds stage SERIALIZED when scratch is tight (Tpch.store);
    // compress those blocks too — term-struct rows compress several-fold
    sys.props("spark.rdd.compress") = "true"
    val spark = graft.LocalSpark.session()
    def t(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"""{"stress_phase":"$name","sec":$s%.2f,"k":$k}"""); s
    }

    val marker = new java.io.File(out + "/_AMPLIFIED")
    if (!marker.exists()) {
      t("amplify") {
        // replica i offsets every amplified key by i*span (span = a power of ten
        // above the base max, so amplified ids stay readable); region/nation are
        // vocabulary dims shared by all replicas, as at real scale
        def span(df: DataFrame, c: String): Long = {
          val m = df.agg(max(col(c).cast("long"))).first().getLong(0)
          math.pow(10, (math.log10(m.toDouble + 1).toInt + 1).toDouble).toLong
        }
        def amplify(tbl: String, keys: Map[String, Long]): Unit = {
          val df = spark.read.parquet(s"$base/$tbl.parquet")
          // amplified keys are computed in long space then cast back to the
          // source dtype — guard the narrow-int case where (k-1)*span + max
          // would silently wrap into colliding keys across replicas
          keys.foreach { case (c, sp) =>
            val ceiling = df.schema(c).dataType match {
              case org.apache.spark.sql.types.IntegerType => Int.MaxValue.toLong
              case org.apache.spark.sql.types.ShortType   => Short.MaxValue.toLong
              case _                                      => Long.MaxValue
            }
            require((k - 1).toLong * sp <= ceiling - sp,
              s"$tbl.$c: k=$k * span=$sp overflows ${df.schema(c).dataType} — widen the column or lower k")
          }
          val reps = (0 until k).map { i =>
            keys.foldLeft(df) { case (d, (c, sp)) =>
              d.withColumn(c, (col(c).cast("long") + lit(i * sp)).cast(df.schema(c).dataType))
            }
          }
          reps.reduce(_.unionByName(_)).write.mode("overwrite")
            .parquet(s"$out/$tbl.parquet")
        }
        val cust = spark.read.parquet(s"$base/customer.parquet")
        val supp = spark.read.parquet(s"$base/supplier.parquet")
        val part = spark.read.parquet(s"$base/part.parquet")
        val ord = spark.read.parquet(s"$base/orders.parquet")
        val docs = spark.read.parquet(s"$base/documents.parquet")
        val ev = spark.read.parquet(s"$base/events.parquet")
        val emb = spark.read.parquet(s"$base/embeddings.parquet")
        val cS = span(cust, "c_custkey"); val sS = span(supp, "s_suppkey")
        val pS = span(part, "p_partkey"); val oS = span(ord, "o_orderkey")
        val dS = span(docs, "doc_id"); val uS = span(ev, "user_id")
        val eS = span(ev, "event_id"); val vS = span(emb, "vec_id")
        // dims shared across replicas
        for (tbl <- Seq("region", "nation"))
          spark.read.parquet(s"$base/$tbl.parquet")
            .write.mode("overwrite").parquet(s"$out/$tbl.parquet")
        amplify("customer", Map("c_custkey" -> cS))
        amplify("supplier", Map("s_suppkey" -> sS))
        amplify("part", Map("p_partkey" -> pS))
        amplify("orders", Map("o_orderkey" -> oS, "o_custkey" -> cS))
        amplify("lineitem", Map("l_orderkey" -> oS, "l_partkey" -> pS, "l_suppkey" -> sS))
        amplify("documents", Map("doc_id" -> dS))
        amplify("events", Map("event_id" -> eS, "user_id" -> uS))
        amplify("embeddings", Map("vec_id" -> vS))
        marker.getParentFile.mkdirs(); marker.createNewFile()
      }
    }

    // delete through the same sanitizer `Tpch.store` uses — a hand-built path
    // misses, the _SUCCESS marker survives, and "cold_load" measures a warm read
    val storeBase = graft.model.Tpch.storePath(out)
    for (suffix <- Seq("", "-lexicon", "-lexicon-text"))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(storeBase + suffix))
    var store: graft.model.GraftStore = null
    val loadSec = t("cold_load") {
      store = graft.model.Tpch.store(spark, out)
      store.statements.count()
    }
    println(s"""{"stress_statements":${store.statements.count()},"k":$k}""")

    // headline battery: one per plan family, through the public entry points
    val battery = Seq("q_scan_filter", "q_join3", "q_agg_group", "q_orderby_limit",
      "q_path_plus", "q_optional", "q_text_search", "q_inference",
      "p_dedup_exact", "p_dedup_minhash", "p_ann_brute", "p_token_count",
      "p_sessionize", "p_gas_cc")
    val results = battery.flatMap { name =>
      graft.SparkEntry.queries.get(name).map { fn =>
        val sec = t(s"q:$name") { fn(spark, out).count() }
        name -> sec
      }
    }
    val qs = results.map { case (n, s) => "\"" + n + "\":" + f"$s%.2f" }.mkString("{", ",", "}")
    println(s"""{"stress_summary":$qs,"k":$k,"load_sec":${f"$loadSec%.2f"}}""")
    spark.stop()
  }
}
