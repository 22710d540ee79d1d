package graft

import org.apache.spark.sql.functions._

/** Term identity coherence: `id = xxhash64(lexical identity)`, so two statement
  * occurrences with the same id must carry byte-identical term structs — a payload
  * that diverges under one id (e.g. a sub-second timestamp not reflected in the
  * lexical form) makes the lexicon keeper nondeterministic and every attach join
  * ambiguous.
  */
class LexiconSpec extends GraftSuite {

  test("every term id maps to exactly one term struct across all statements") {
    val dir = "/root/testdata/sf0.001"
    val stmts = graft.model.Tpch.statements(spark, dir)
    val terms = stmts.select(col("s").as("n"))
      .unionByName(stmts.select(col("o").as("n")))
    val clashes = terms.withColumn("nid", col("n")("id"))
      .groupBy("nid").agg(countDistinct(col("n")).as("variants"))
      .filter(col("variants") > 1)
    assert(clashes.count() == 0, "some term id carries more than one struct payload")
  }

  test("dateTime lexical form: milli digits always, sub-milli kept (reference form)") {
    val df = spark.range(1).select(
      graft.model.Term.tsLit(lit("2024-01-17 10:56:23.488074")).as("a"),
      graft.model.Term.tsLit(lit("2024-01-17 10:56:23")).as("b"),
      graft.model.Term.tsLit(lit("2024-01-17 10:56:23.480000")).as("c"))
    val r = df.select(col("a")("str"), col("b")("str"), col("c")("str")).first()
    assert(r.getString(0) == "2024-01-17T10:56:23.488074Z")
    assert(r.getString(1) == "2024-01-17T10:56:23.000Z")
    assert(r.getString(2) == "2024-01-17T10:56:23.480Z")
    // parser emits the identical canonical form
    assert(graft.sparql.Parser.parseDateTime("2024-01-17T10:56:23.488074Z")
      == "2024-01-17T10:56:23.488074Z")
    assert(graft.sparql.Parser.parseDateTime("2024-01-17T10:56:23.480Z")
      == "2024-01-17T10:56:23.480Z")
    // round 8: the AUTHORED zone token is part of the lexical identity — Z,
    // ±hh:mm and zoneless survive as written (fn:TZ/sameTerm read them);
    // zoneless lexicals still VALUE as UTC instants
    assert(graft.sparql.Parser.parseDateTime("2024-01-17") == "2024-01-17T00:00:00.000")
    assert(graft.sparql.Parser.parseDateTime("2024-01-17T10:56:23+02:00")
      == "2024-01-17T10:56:23.000+02:00")
    assert(graft.sparql.Parser.parseDateTime("2024-01-17T10:56:23.480+00:00")
      == "2024-01-17T10:56:23.480+00:00")
  }

  test("a store rebuilt at the same lexicon path is not served the old lexicon") {
    import graft.model.{GraftStore, Term}
    val lexP = s"/tmp/graft-lexgen-${java.util.UUID.randomUUID()}-lexicon"
    def tiny(o: String) = GraftStore.assemble(spark.range(1).select(
      Term.iri("urn:lg:s").as("s"), Term.iri("urn:lg:p").as("p"), Term.iri(o).as("o"),
      Term.nullTerm.as("g"), lit(GraftStore.STYPE_EXPLICIT).as("stype")))
    def rmLex(): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lexP))
    def has(st: GraftStore, iri: String) = st.nodeTerms.filter(col("n")("str") === iri).count()
    try {
      assert(has(new GraftStore(spark, tiny("urn:lg:OLD"), Some(lexP)), "urn:lg:OLD") == 1)
      rmLex() // the namespace is dropped and recreated at the same path
      val b = new GraftStore(spark, tiny("urn:lg:NEW"), Some(lexP))
      assert(has(b, "urn:lg:NEW") == 1 && has(b, "urn:lg:OLD") == 0)
    } finally rmLex()
  }
}
