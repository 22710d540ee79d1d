package graft.perfbench

import graft.model.Tpch
import java.io.File

/** The fixture every run starts from, built once per checkout: the generated
  * source tables under `<cache>/raw` and their at-rest store tree under
  * `<cache>/store`, built by the engine's cold load (`Tpch.store`) and copied
  * out of `Tpch.storePath`.
  */
object Fixture {
  /** Scale factor of the served store: sf 0.001, ≈112k statements. */
  val Sf = 0.001

  /** A short directory under /tmp for store source keys of this process.
    * `Tpch.storePath` turns a key into a single file name, so a key under a
    * deep checkout path could exceed the file-name limit; this one does not.
    * The runner gives each JVM a private /tmp where the host allows it.
    */
  def key(what: String): String = s"/tmp/perfbench-${ProcessHandle.current().pid()}-$what"

  def prepare(cache: String): Unit = {
    val spark = Main.session(s"$cache/prepare-work")
    val src = s"${key("prepare")}/raw"
    Data.generate(spark, Sf, src)
    Tpch.store(spark, src)
    spark.stop()
    val at = Tpch.storePath(src)
    Stores.copyDir(src, s"$cache/raw")
    new File(s"$cache/store").mkdirs()
    Stores.copyTree(at, s"$cache/store/store")
    Stores.tree(at).foreach(Stores.delete)
    Stores.delete(new File(src).getParentFile)
    Stores.delete(new File(s"$cache/prepare-work"))
  }
}
