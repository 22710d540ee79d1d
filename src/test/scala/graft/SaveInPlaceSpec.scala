package graft

import graft.model.GraftStore
import graft.inference.Rdfs
import graft.engine.Update
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Durable O(delta) write-back (`GraftStore.saveInPlace`): a mutated store's
  * touched partitions fold back into its own at-rest parquet as a dynamic-
  * partition overwrite; untouched partition directories keep their exact
  * files, emptied partitions disappear, and the reopened store matches the
  * full-recompute result.
  */
class SaveInPlaceSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  val RDFS = "http://www.w3.org/2000/01/rdf-schema#"

  val base = s"""
    @prefix : <urn:sv:> .
    @prefix rdfs: <$RDFS> .
    :g {
      :B rdfs:subClassOf :A .
      :u1 a :B .
      :u2 a :B .
      :u1 :name "one" .
      :u2 :name "two" .
      :u1 :likes :u2 .
      :only :solo :u1 .
    }
  """

  def freshStore(tag: String): (GraftStore, String) = {
    val p = s"/tmp/graft-sip-$tag"
    val st = new GraftStore(spark, graft.sources.Rio.readTrig(spark, base))
    GraftStore.save(Rdfs.closure(st).statements, p)
    (GraftStore.load(spark, p), p)
  }

  def keys(st: GraftStore): Set[(Long, Long, Long, Long, Byte)] =
    st.statements.select(col("s")("id"), col("p")("id"), col("o")("id"),
      coalesce(col("g")("id"), lit(0L)), col("stype")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getByte(4))).toSet

  /** data files (not _SUCCESS) under each p_id dir → (name, size, mtime). */
  def fileState(path: String): Map[String, Set[(String, Long, Long)]] = {
    val root = new java.io.File(path)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("p_id="))
      .map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length(), f.lastModified())).toSet
      }.toMap
  }

  test("TM delete folds back as a touched-partition overwrite; reopen matches") {
    val (st, p) = freshStore("t1")
    val before = fileState(p)
    val mutated = Update.withTruthMaintenance(st,
      "DELETE DATA { GRAPH <urn:sv:g> { <urn:sv:u1> a <urn:sv:B> . } }")
    assert(Rdfs.lastTmPath === "delta")
    assert(mutated.layoutOpt.exists(_.segs.nonEmpty), "mutation must be layout-kept")
    val expected = keys(mutated)
    // recompute baseline BEFORE the write-back: st's lazy plan reads the very
    // files the save replaces
    val fullKeys = keys(Rdfs.truthMaintain(graft.sparql.Parser
      .parseUpdate("DELETE DATA { GRAPH <urn:sv:g> { <urn:sv:u1> a <urn:sv:B> . } }")
      .foldLeft(st)(Update.applyOp)))
    val reopened = GraftStore.saveInPlace(mutated, p)
    assert(keys(reopened) === expected)
    assert(keys(reopened) === fullKeys)
    // untouched partitions kept their exact files (same name/size/mtime)
    val after = fileState(p)
    val touched = mutated.layoutOpt.get.segPids.map(v => s"p_id=$v")
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "scenario must leave some partitions untouched")
    untouched.foreach { d => assert(after(d) === before(d), s"$d was rewritten") }
    // and at least one touched dir actually changed
    assert(touched.exists(d => before.get(d) != after.get(d)))
  }

  test("emptied partition directory is dropped on write-back") {
    val (st, p) = freshStore("t2")
    val mutated = Update.withTruthMaintenance(st,
      "DELETE DATA { GRAPH <urn:sv:g> { <urn:sv:only> <urn:sv:solo> <urn:sv:u1> . } }")
    val soloPid = st.statements
      .filter(col("p")("str") === "urn:sv:solo")
      .select(col("p_id")).head().getLong(0)
    val expected = keys(mutated)
    val reopened = GraftStore.saveInPlace(mutated, p)
    assert(keys(reopened) === expected)
    assert(!new java.io.File(p, s"p_id=$soloPid").exists(),
      "emptied partition dir must be deleted, not left to resurrect rows")
  }

  test("recompute-path TM result saves back to its OWN path (staged swap)") {
    // A characteristic re-declaration that is NOT delta-maintainable
    // (owl:Restriction marker delete — transitive/symmetric marks ride the
    // delta path since r14/r15, FP/IFP since r16) forces the fixpoint-
    // recompute TM path, whose result drops layout AND atRestPath via
    // withStatements but still SCANS the original parquet. saveInPlace's
    // fallback must stage-write + swap, not overwrite-in-place (a direct
    // mode=overwrite here is Spark's overwrite-while-read error).
    val p = s"/tmp/graft-sip-t5"
    val trig = s"""
      @prefix : <urn:sv:> .
      @prefix owl: <http://www.w3.org/2002/07/owl#> .
      :g {
        :R a owl:Restriction .
        :R owl:onProperty :flag .
        :R owl:hasValue :yes .
        :u1 a :R .
        :u1 :knows :u2 .
        :u1 :name "one" .
      }
    """
    val st0 = new GraftStore(spark, graft.sources.Rio.readTrig(spark, trig))
    GraftStore.save(Rdfs.closureFixpoint(st0).statements, p)
    val st = GraftStore.load(spark, p)
    val mutated = Update.withTruthMaintenance(st,
      "DELETE DATA { GRAPH <urn:sv:g> { <urn:sv:R> a <http://www.w3.org/2002/07/owl#Restriction> . } }")
    assert(Rdfs.lastTmPath === "full",
      "scenario must exercise the recompute path, not the delta path")
    val expected = keys(mutated) // collected BEFORE the write replaces the files
    val reopened = GraftStore.saveInPlace(mutated, p)
    assert(keys(reopened) === expected)
    // the explicit edge survives the recompute round-trip
    val knows = reopened.statements.filter(col("p")("str") === "urn:sv:knows")
    assert(knows.count() === 1L)
    assert(!new java.io.File(p + ".staging").exists(), "staging dir must be swapped away")
  }

  test("mass-DELETE dead terms trip the COUNT valve: compaction, bounded driver list") {
    // the dead-term list materializes as a driver array (GraftStore.deadNids)
    // and a TextIndex broadcast; the 2%-of-BYTES valve alone doesn't bound the
    // TERM count — past DEAD_TERM_VALVE the fold must compact instead
    val p = "/tmp/graft-sip-t8"
    Seq(p, p + "-lexicon", p + "-lexicon-delta", p + "-lexicon-text",
        p + "-sidx", p + "-sidx-delta")
      .foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    val trig = """
      @prefix : <urn:sv:> .
      :g {
        :k1 :tag "t-one" .
        :k2 :tag "t-two" .
        :k3 :tag "t-three" .
        :keep :tag "t-keep" .
      }
    """
    def handle(): GraftStore = GraftStore.load(spark, p, withLexicon = true)
    GraftStore.save(new GraftStore(spark, graft.sources.Rio.readTrig(spark, trig)).statements, p)
    handle().nodeTerms // persist the refcounted lexicon
    val prev = GraftStore.DEAD_TERM_VALVE
    GraftStore.DEAD_TERM_VALVE = 2
    try {
      // one burst kills 3 subjects + 3 literals — 6 dead terms > valve
      val mutated = Update(handle(),
        """DELETE DATA { GRAPH <urn:sv:g> {
          |  <urn:sv:k1> <urn:sv:tag> "t-one" .
          |  <urn:sv:k2> <urn:sv:tag> "t-two" .
          |  <urn:sv:k3> <urn:sv:tag> "t-three" . } }""".stripMargin)
      val reopened = GraftStore.saveInPlace(mutated, p)
      reopened.nodeTerms // forces the fold → COUNT valve → compaction
      assert(!new java.io.File(p + "-lexicon-delta").exists(),
        "past the valve the delta must fold into the base, not drive a dead list")
      assert(GraftStore.deadNids(p + "-lexicon").isEmpty,
        "dead list must never materialize past the valve")
      // exactness preserved through the compaction path
      assert(reopened.nodeTerms.filter(col("n")("str") === "t-one").count() === 0)
      assert(reopened.nodeTerms.filter(col("n")("str") === "urn:sv:k1").count() === 0)
      assert(reopened.nodeTerms.filter(col("n")("str") === "t-keep").count() === 1)
    } finally GraftStore.DEAD_TERM_VALVE = prev
  }

  test("derived indexes survive the durable commit incrementally") {
    // Store WITH a persisted lexicon + text postings: a durable commit must
    // append an O(delta) refcount delta to the lexicon side dir (base files
    // untouched) and the text index must fold it in session — matching a
    // from-scratch rebuild — instead of re-tokenizing the corpus.
    val p = "/tmp/graft-sip-t6"
    Seq(p, p + "-lexicon", p + "-lexicon-delta", p + "-lexicon-text")
      .foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    val trig = """
      @prefix : <urn:sv:> .
      :g {
        :d1 :text "alpha beta gamma" .
        :d2 :text "beta delta" .
        :d2 :note "solo note" .
        :gone :text "vanishing doc" .
      }
    """
    def handle(): GraftStore = GraftStore.load(spark, p, withLexicon = true)
    GraftStore.save(new GraftStore(spark, graft.sources.Rio.readTrig(spark, trig)).statements, p)
    val st = handle()
    st.nodeTerms // persist the refcounted lexicon
    graft.search.TextIndex.forStore(st) // persist the base postings
    val lexFilesBefore = fileStateFlat(p + "-lexicon")
    val postFilesBefore = fileStateFlat(p + "-lexicon-text/postings")
    // delete a whole doc (its literal dies), add a doc with a NEW literal,
    // and re-assert an EXISTING literal under a second predicate (refcount up,
    // no postings change)
    val mutated = Update(st,
      """DELETE DATA { GRAPH <urn:sv:g> { <urn:sv:gone> <urn:sv:text> "vanishing doc" . } } ;
        |INSERT DATA { GRAPH <urn:sv:g> {
        |  <urn:sv:d3> <urn:sv:text> "quantum beta" .
        |  <urn:sv:d1> <urn:sv:note> "beta delta" . } }""".stripMargin)
    val reopened = GraftStore.saveInPlace(mutated, p)
    assert(reopened.lexiconPath === Some(p + "-lexicon"))
    // O(delta) evidence: delta side dir written, base lexicon + postings files untouched
    assert(new java.io.File(p + "-lexicon-delta", "_SUCCESS").exists())
    assert(fileStateFlat(p + "-lexicon") === lexFilesBefore, "base lexicon was rewritten")
    assert(fileStateFlat(p + "-lexicon-text/postings") === postFilesBefore,
      "base postings were rewritten")
    // lexicon exactness after the fold: dead term gone, new term present
    assert(reopened.nodeTerms.filter(col("n")("str") === "vanishing doc").count() === 0)
    assert(reopened.nodeTerms.filter(col("n")("str") === "quantum beta").count() === 1)
    assert(reopened.nodeTerms.filter(col("n")("str") === "urn:sv:gone").count() === 0,
      "fully-deleted subject must leave the dictionary (zero-length-path domain)")
    // maintained text index == from-scratch rebuild, row for row
    val idx = graft.search.TextIndex.forStore(reopened)
    val fresh = graft.search.TextIndex.build(reopened)
    def postSet(i: graft.search.TextIndex) =
      i.postings.select("token", "lit_id", "weight").collect()
        .map(r => (r.getString(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e12))).toSet
    assert(postSet(idx) === postSet(fresh))
    assert(idx.lits.count() === fresh.lits.count())
    // search behavior: new doc found, dead doc gone, shared token unduplicated
    assert(idx.search("quantum").count() === 1)
    assert(idx.search("vanishing").count() === 0)
    // second commit re-adding a previously-seen literal: replace-by-lit_id
    // must stay idempotent (no doubled postings/relevance)
    val again = Update(reopened,
      """DELETE DATA { GRAPH <urn:sv:g> { <urn:sv:d3> <urn:sv:text> "quantum beta" . } } ;
        |INSERT DATA { GRAPH <urn:sv:g> { <urn:sv:d4> <urn:sv:text> "quantum beta" . } }""".stripMargin)
    val re2 = GraftStore.saveInPlace(again, p)
    val idx2 = graft.search.TextIndex.forStore(re2)
    assert(postSet(idx2) === postSet(graft.search.TextIndex.build(re2)))
    assert(idx2.search("quantum").count() === 1)
  }

  def fileStateFlat(path: String): Set[(String, Long, Long)] = {
    val d = new java.io.File(path)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSet
  }

  test("store not loaded from the target path falls back to a full save") {
    val (st, p) = freshStore("t3")
    val other = s"/tmp/graft-sip-t3b"
    val reopened = GraftStore.saveInPlace(st, other)
    assert(keys(reopened) === keys(st))
  }

  test("reopened store keeps partition pruning (bare parquet scan)") {
    val (st, p) = freshStore("t4")
    val mutated = Update.withTruthMaintenance(st,
      "DELETE DATA { GRAPH <urn:sv:g> { <urn:sv:u2> a <urn:sv:B> . } }")
    val reopened = GraftStore.saveInPlace(mutated, p)
    val namePid = reopened.statements
      .filter(col("p")("str") === "urn:sv:name")
      .select(col("p_id")).head().getLong(0)
    val scan = reopened.statements.filter(col("p_id") === namePid)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p_id"),
      s"p_id filter must reach the scan as a partition filter:\n${plan.take(2000)}")
    assert(scan.count() === 2L) // the two :name rows survive the unrelated delete
  }
}
