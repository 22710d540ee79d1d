package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, Test/fork=true). Suites run
  * concurrently on it, so no suite builds its own session: `getOrCreate` would
  * apply that session's SQL options to this one mid-run.
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = LocalSpark.session(cpus = 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  /** The generated sf0.001 source tables the shared store is built from. */
  val sfDir = "/root/testdata/sf0.001"
  lazy val store: graft.model.GraftStore = graft.model.Tpch.store(spark, sfDir)
}

abstract class GraftSuite extends AnyFunSuite {
  def spark: SparkSession = SharedSpark.spark
  def store: graft.model.GraftStore = SharedSpark.store
  def sql1(q: String): Any = spark.sql(q).first().get(0)
  /** One raw source table of the shared store (an independent oracle input). */
  def table(name: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(s"${SharedSpark.sfDir}/$name.parquet")
}
