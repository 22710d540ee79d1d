package graft

/** Golden gate over the shared sf0.001 store: each entry of
  * `golden/sf0.001.tsv` (the battery entries whose plans run the
  * `DfOps.semiNaive` fixpoint) is recomputed and compared with its committed row
  * count and the SHA-256 of its sorted `EntryCheck.render` rows. The goldens
  * come from a tree where `tools/localverify.py` matched every entry with its
  * DuckDB oracle; regenerating one is a declared behaviour change.
  */
class GoldenSpec extends GraftSuite {
  private val golden: Seq[(String, Long, String)] = {
    val src = scala.io.Source.fromResource("golden/sf0.001.tsv")
    try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(name, rows, sha) = l.split("\t")
      (name, rows.toLong, sha)
    }.toList
    finally src.close()
  }

  /** Hex SHA-256 of the rows, newline-joined, UTF-8. */
  private def sha256(rows: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString

  golden.foreach { case (name, rows, sha) =>
    test(s"$name matches its sf0.001 golden") {
      val got = tools.EntryCheck.render(SparkEntry.queries(name)(spark, SharedSpark.sfDir))
      assert((got.size.toLong, sha256(got)) == (rows, sha))
    }
  }
}
