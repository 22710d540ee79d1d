package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Quad store backed by a single statements DataFrame.
  *
  * The reference maintains 3 (triples) or 6 (quads) covering B+Tree permutations of the
  * statement indexes (`rdf/spo/SPOKeyOrder.java:112-199`) so every bound-position access
  * pattern has a perfect index. On Spark, one columnar table replaces them all: a
  * predicate-partitioned Parquet layout gives partition pruning for p-bound patterns (the
  * POS analog — by far the dominant access path in analytic SPARQL), and min/max row-group
  * stats + predicate pushdown cover the rest. Catalyst shuffle/broadcast joins replace
  * index nested-loop probes (`bop/join/PipelineJoin.java:113`).
  *
  * Schema:
  *   p_id LONG          -- partition key = o.id of the predicate term (POS-index analog)
  *   s, p, o, g  STRUCT -- Term.schema structs; g null = default-graph triple
  *   stype BYTE         -- 0=Explicit, 1=Axiom, 2=Inferred (rdf/model/StatementEnum.java:42-59)
  */
final class GraftStore(val spark: SparkSession, val statements: DataFrame,
                       val lexiconPath: Option[String] = None,
                       private[graft] val layoutOpt: Option[StatementLayout] = None,
                       private[graft] val inferredHint: Option[Boolean] = None,
                       private[graft] val atRestPath: Option[String] = None,
                       private[graft] val graphHint: Option[(GraftStore, Set[Long])] = None) {

  /** Partition-keyed view of this store (base frame + p_id-keyed replacement
    * segments). Mutation paths (Update, delta truth maintenance) rewrite ONLY
    * the touched partitions' segments; untouched partitions stay pruned
    * parquet scans forever — the Delta-style file-replacement shape that keeps
    * a 100 TB mutation stream O(delta) instead of stacking dead branches.
    */
  private[graft] def layout: StatementLayout =
    layoutOpt.getOrElse(StatementLayout(statements, Vector.empty))

  /** Replace the layout (and derive `statements` from it). The hint carries
    * forward whether the store may hold Inferred rows (see mayHaveInferred);
    * `gdelta` = the mutation's touched predicate ids, threading the
    * multi-graph probes forward (child set ⊆ parent set ∪ delta — see
    * multiGraphPids) so a chain of mutations never re-pays the full-store
    * distinct scan the probes cost on a fresh lineage.
    */
  private[graft] def withLayout(l: StatementLayout,
                                hint: Option[Boolean] = None,
                                gdelta: Option[Set[Long]] = None): GraftStore =
    new GraftStore(spark, l.assemble, None, Some(l), hint, atRestPath,
      // flatten to (lineage root, accumulated delta pids): an unbounded
      // mutation stream must not build a parent chain that pins every
      // intermediate handle (and its plans) in memory
      gdelta.map(dp => graphHint match {
        case Some((root, pdp)) => (root, pdp ++ dp)
        case None => (this, dp)
      }))

  /** Can this store contain stype=Inferred rows? Probed once per store lineage
    * (parquet row-group stats make the probe metadata-cheap on closure-free
    * stores); mutation paths thread the answer forward so chained updates on a
    * closure-free store never re-probe and never pay the upgrade-detection
    * joins (Update.insertCapture).
    */
  @transient private[graft] lazy val mayHaveInferred: Boolean =
    inferredHint.getOrElse(
      !statements.filter(col("stype") === GraftStore.STYPE_INFERRED)
        .limit(1).isEmpty)

  /** Statements visible in the union default graph (all graphs merged). */
  def defaultGraph: DataFrame = statements

  // context-less statements count as ONE context (the openrdf nullGraph) in the
  // multi-graph duplicate probes below: a triple stored both context-less and in
  // a named graph duplicates in the union default graph exactly like a triple in
  // two named graphs (the reference's DistinctFilter treats null as a context).
  //
  // INFERRED rows are excluded from both probes: no Inferred row ever shares
  // (s,p,o) with any other row — the closure's novelty anti-join establishes
  // the invariant, Update.insertCapture's upgrade-on-reassert and the DRed
  // promotion/novelty joins maintain it — so entailments cannot contribute a
  // duplicate to the union default graph. The exclusion also matters for COST:
  // on a store whose entailments are still a lazy derivation pipeline, the
  // stype filter constant-folds the derived branches away (their stype is a
  // literal), so the probe reads pruned parquet instead of re-running the
  // whole closure (measured 3× on the closure+query battery entry).

  /** Predicates appearing in TWO OR MORE named graphs — only these can put the
    * same triple in the union default graph twice (RDF merge semantics;
    * TestDefaultGraphs 01j / the reference's DistinctFilter on default-graph
    * access paths). A constant-predicate scan outside this set skips the
    * distinct entirely, so a store whose graphs partition the predicate space
    * (the common layout: one table/feed per graph) pays NO dedup shuffle
    * anywhere. Driver-side but vocabulary-bounded (distinct predicates), like
    * the inference schema collects.
    */
  @transient lazy val multiGraphPids: Set[Long] = graphHint match {
    // mutated-lineage hint: the child's multi-graph set is contained in the
    // parent's plus the mutation's touched pids (an insert can only ADD a pid
    // to the set; a delete can only shrink it, and keeping it is a correct
    // over-approximation — the touched pids' scans just keep their distinct).
    // This replaces a per-mutation FULL-store distinct scan (measured 11.2M
    // rows / ~2 s per fresh lineage at sf0.1) with set arithmetic; the one
    // real scan runs once per session on the lineage root.
    case Some((parent, dp)) => parent.multiGraphPids ++ dp
    case None =>
      statements.filter(col("stype") =!= GraftStore.STYPE_INFERRED)
        .select(col("p_id"),
          coalesce(col("g")("id"), lit(GraftStore.NULL_GRAPH_ID)).as("__gid"))
        .distinct()
        .groupBy("p_id").count().filter(col("count") > 1)
        .select("p_id").collect().map(_.getLong(0)).toSet
  }

  /** Hint-aware constant-object duplicate probe: may the (pid, oid) pair put
    * the same triple in the union default graph twice? A mutated lineage
    * answers conservatively TRUE for its touched pids and defers the rest to
    * the parent; the scan-based pair probe runs only on lineage roots.
    */
  private[graft] def mayDupPO(pid: Long, oid: Long): Boolean = graphHint match {
    case Some((parent, dp)) => dp(pid) || parent.mayDupPO(pid, oid)
    case None => multiGraphPO.map(_.contains((pid, oid))).getOrElse(true)
  }

  /** Can ANY default-graph scan see a cross-graph duplicate? */
  def defaultGraphNeedsDedup: Boolean = multiGraphPids.nonEmpty

  /** Finer probe for CONSTANT-OBJECT scans over a multi-graph predicate: the
    * (p_id, o_id) pairs appearing in ≥2 named graphs. The motivating shape is
    * `?s rdf:type <Class>` — rdf:type spans every graph of a one-table-per-
    * graph store, but each (type, Class) pair still lives in a single graph,
    * so the class-membership scan skips the distinct. Bounded: the probe only
    * runs when the multi-graph predicate set is small, and gives up (None =
    * assume any pair may duplicate) past 100k pairs — correctness never
    * depends on it, only the skip does.
    */
  @transient lazy val multiGraphPO: Option[Set[(Long, Long)]] =
    if (multiGraphPids.isEmpty) Some(Set.empty)
    else if (multiGraphPids.size > 1000) None
    else {
      val cap = 100000
      val rows = statements
        .filter(col("p_id").isin(multiGraphPids.toSeq: _*) &&
          col("stype") =!= GraftStore.STYPE_INFERRED)
        .select(col("p_id"), col("o")("id").as("__oid"),
          coalesce(col("g")("id"), lit(GraftStore.NULL_GRAPH_ID)).as("__gid"))
        .distinct()
        .groupBy("p_id", "__oid").count().filter(col("count") > 1)
        .select("p_id", "__oid").limit(cap + 1).collect()
      if (rows.length > cap) None
      else Some(rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
    }

  /** Named-graph view (g bound). */
  def namedGraphs: DataFrame = statements.filter(col("g").isNotNull)

  /** Is an s-keyed sidecar at rest (and current) for this store? Cheap probe
    * for the compiler's seeded route — checked BEFORE paying a driver collect
    * of the seed ids.
    */
  private[graft] def hasSubjectIndex: Boolean =
    atRestPath.exists(p => SubjectIndex.forPath(spark, p).isDefined)

  /** On-disk bytes per `p_id` partition dir of the at-rest base. Path-based
    * parquet reads never get partition pruning into OPTIMIZER stats (Spark's
    * PruneFileSourcePartitions needs a CatalogFileIndex), so every pruned
    * scan plans against full-store sizeInBytes — the compiler's spread
    * decision (and anything else sizing a pruned scan) would misfire by the
    * store/partition ratio. One driver FS listing per store open,
    * vocabulary-bounded (one entry per predicate).
    */
  @transient private[graft] lazy val partitionDiskBytes: Map[Long, Long] =
    atRestPath.map { path =>
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(p).iterator
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("p_id="))
          .flatMap { d =>
            scala.util.Try(d.getPath.getName.substring(5).toLong).toOption
              .map(pid => pid -> fs.listStatus(d.getPath).iterator
                .filter(_.isFile).map(_.getLen).sum)
          }.toMap
      } catch { case _: Exception => Map.empty[Long, Long] }
    }.getOrElse(Map.empty)

  /** Actual bytes a constant-predicate scan will read, when knowable: the
    * at-rest dir size, unless the in-session layout replaced that partition
    * (segment frames are in-memory — size unknown → None, caller falls back
    * to plan stats).
    */
  private[graft] def scanBytesFor(pid: Long): Option[Long] =
    if (atRestPath.isEmpty || layout.segPids.contains(pid)) None
    else Some(partitionDiskBytes.getOrElse(pid, 0L))

  /** Current statements whose subject id ∈ `sids`, served from the s-keyed
    * sidecar (SubjectIndex) when one is at rest for this store — the SPO
    * access-path analog (`rdf/spo/SPOKeyOrder.java:112-127`): bucket dirs
    * prune the scan to the seeds' `s_b` values, the pushed In filter on
    * `s.id` prunes row groups inside them. Layered exactly like the
    * statements view itself: at-rest base (minus partitions the in-session
    * layout replaced) + durable-commit delta fold + in-session segments.
    * None ⇒ no sidecar (not at-rest, or stale) — caller scans the
    * predicate-partitioned layout as before.
    */
  private[graft] def subjectSlice(sids: Seq[Long]): Option[DataFrame] =
    atRestPath.flatMap { path =>
      SubjectIndex.forPath(spark, path).map { h =>
        val buckets = sids.map(id => java.lang.Math.floorMod(id, h.nb).toInt).distinct
        val sidFilter = col("s")("id").isin(sids: _*)
        val bkFilter = col("s_b").isin(buckets: _*)
        val base = h.base.filter(bkFilter && sidFilter)
          .select(GraftStore.columns.map(col): _*)
        var out = h.delta match {
          case Some(d) =>
            SubjectIndex.fold(base, d.filter(bkFilter && sidFilter).drop("s_b"))
          case None => base
        }
        val segP = layout.segPids
        if (segP.nonEmpty)
          out = out.filter(!col("p_id").isin(segP.toSeq: _*))
            .unionByName(layout.slice(segP.toSeq).filter(sidFilter)
              .select(GraftStore.columns.map(col): _*))
        out
      }
    }

  // a mutated store's lexicon must be rebuilt from its own statements, not the cache
  def withStatements(df: DataFrame): GraftStore = new GraftStore(spark, df, None)

  /** Node dictionary (nid → term struct) over every subject/object term — the ID2TERM
    * lexicon analog (`rdf/lexicon/LexiconRelation.java:450-452`). Fixpoint operators run
    * in 8-byte id space and re-attach terms here once, at the end. Built at load (like
    * the reference's lexicon indexes) and cached as parquet next to the statement store
    * when `lexiconPath` is set; in-session it is held hash-partitioned + sorted on the
    * lookup key so attach joins only ever shuffle the (small) probe side.
    */
  @transient lazy val nodeTerms: DataFrame = {
    import GraftStore.{shapeLex => shape}
    lexiconPath match {
      case Some(p) =>
        // keyed on (lexicon path, at-rest generation) so every store handle over the
        // same at-rest store (e.g. the staging handle during load and the reopened
        // handle that serves queries) shares ONE shaped+checkpointed lexicon — while a
        // store REBUILT at the same path (namespace recreate, test tmp-dir reuse) gets
        // a fresh build instead of the stale cache
        // cold build skips the shape() repartition: dropDuplicates("nid") already
        // leaves the rows hash-partitioned on nid, so sort-in-place + checkpoint
        // gives the same "lexicon never moves" join layout one full shuffle cheaper
        GraftStore.cachedLex(spark, p,
          () => buildNodeTerms.sortWithinPartitions("nid").localCheckpoint())
      case None => shape(buildNodeTerms.select("n", "nid"))
    }
  }

  /** Node-domain ids (subject/object term ids), for zero-length-path membership.
    * Materialized once per store instance — mutated stores pay it on first use, not
    * per fixpoint round.
    */
  @transient lazy val domainIds: DataFrame = {
    val base =
      if (lexiconPath.isDefined) nodeTerms.select(col("nid"))
      else statements.select(col("s")("id").as("nid"))
        .unionByName(statements.select(col("o")("id").as("nid")))
        .dropDuplicates("nid")
    base.localCheckpoint()
  }

  /** Lexicon build WITH per-term statement-usage refcounts — the groupBy rides
    * the same hash shuffle the old dropDuplicates paid, and the counts are
    * what makes the durable commit's lexicon maintenance O(delta): a
    * retraction decrements, a term whose folded refs hit 0 leaves the
    * dictionary (so zero-length-path domains stay EXACT across deletes)
    * without ever probing the corpus for remaining usages.
    */
  private def buildNodeTerms: DataFrame =
    statements.select(col("s").as("n"))
      .unionByName(statements.select(col("o").as("n")))
      .withColumn("nid", col("n")("id"))
      .groupBy("nid")
      .agg(first(col("n")).as("n"), count(lit(1)).as("refs"))
}

/** One replaced partition-group: `frame` holds EXACTLY the store's current
  * rows whose p_id ∈ `pids`. `layers` counts lazy rewrite layers stacked on
  * the frame since it was last materialized (tombstone anti-joins, committed-
  * delta unions); callers fold (freshLeaf) past a bound so every segment plan
  * stays shallow — partition-sized compaction, never a store-wide rewrite.
  */
final case class LayoutSeg(pids: Set[Long], frame: DataFrame, layers: Int)

/** Partition-keyed statements layout: `base` (typically the at-rest
  * p_id-partitioned parquet) plus disjoint replacement segments. Assembled
  * statements = base minus replaced partitions, union the segment frames —
  * so replacing a partition DROPS its old branch from the plan instead of
  * filtering it out (the fragmentation the r12 chain probe measured as
  * super-linear). The reference's analog is writing only the affected index
  * ranges under a group commit (`rbop/rdf/update/InsertStatementsOp.java`);
  * at 100 TB each segment folds back durably via `GraftStore.save`'s
  * partition write-back.
  */
final case class StatementLayout(base: DataFrame, segs: Vector[LayoutSeg]) {

  def segPids: Set[Long] = segs.iterator.flatMap(_.pids).toSet

  /** The full statements view. Each union child is re-aliased (fresh
    * expression ids) — segment frames routinely share checkpoint leaves.
    */
  def assemble: DataFrame =
    if (segs.isEmpty) base
    else {
      def reid(df: DataFrame): DataFrame =
        df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)
      val cols = GraftStore.columns
      val excl = segPids.toSeq
      (base.filter(!col("p_id").isin(excl: _*)) +:
        segs.map(s => reid(s.frame.select(cols.map(col): _*))))
        .reduce(_.unionByName(_))
    }

  /** Current rows of the given partitions — base slices for never-replaced
    * pids, segment frames (filtered to the overlap when a segment straddles
    * the boundary) for the rest. A flat plan: no dead branches, no stacking.
    */
  def slice(pids: Seq[Long]): DataFrame = {
    val want = pids.toSet
    val fromBase = {
      val bp = (want -- segPids).toSeq
      if (bp.isEmpty) Nil else Seq(base.filter(col("p_id").isin(bp: _*)))
    }
    val fromSegs = segs.flatMap { s =>
      val ov = s.pids intersect want
      if (ov.isEmpty) None
      else if (ov == s.pids) Some(s.frame)
      else Some(s.frame.filter(col("p_id").isin(ov.toSeq: _*)))
    }
    (fromBase ++ fromSegs).reduceOption(_.unionByName(_))
      .getOrElse(base.filter(org.apache.spark.sql.functions.lit(false)))
  }

  /** Max stacked layers among segments overlapping `pids` (0 when none) —
    * the caller's fold-decision input for the replacement frame.
    */
  def layersAt(pids: Seq[Long]): Int = {
    val want = pids.toSet
    (0 +: segs.collect { case s if (s.pids intersect want).nonEmpty => s.layers }).max
  }

  /** Replace the given partitions with `frame` (which must hold exactly their
    * new rows). Fully-covered segments are dropped; straddling segments keep
    * their remainder behind ONE pid filter (replaced wholesale next touch, so
    * filters never stack).
    */
  def replace(pids: Seq[Long], frame: DataFrame, layers: Int): StatementLayout = {
    val want = pids.toSet
    val kept = segs.flatMap { s =>
      val ov = s.pids intersect want
      if (ov.isEmpty) Some(s)
      else if (s.pids == ov) None
      else {
        val rem = s.pids -- want
        Some(LayoutSeg(rem, s.frame.filter(col("p_id").isin(rem.toSeq: _*)), s.layers))
      }
    }
    StatementLayout(base, kept :+ LayoutSeg(want, frame, layers))
  }
}

object GraftStore {
  /** Shaped in-session lexicons, keyed (at-rest path, generation). The generation is
    * the parquet `_SUCCESS` mtime (max over base and `-delta` side dir), so rebuilding
    * OR delta-appending a store at the same path invalidates the in-session entry
    * instead of serving the stale lexicon.
    */
  private[model] val lexCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), DataFrame]
  /** Terms whose folded refcount hit ≤ 0 (deleted from the store since the base
    * lexicon was written) — same keying as lexCache; the text index anti-joins
    * its persisted postings by these. Bounded by the un-compacted delete volume
    * (the saveInPlace compaction valve folds deltas into the base).
    */
  private[model] val deadCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), Array[Long]]
  private val lexLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** At-rest generation marker for a parquet dir: `_SUCCESS` mtime, -1 = absent. */
  private[graft] def parquetGen(p: String): Long = {
    val f = new java.io.File(p + "/_SUCCESS")
    if (f.exists()) f.lastModified() else -1L
  }

  /** Lexicon generation: base dir or its `-delta` side dir, whichever is newer —
    * a durable O(delta) commit appends to the side dir and must roll the keyed
    * caches without rewriting the base.
    */
  private[graft] def lexGen(p: String): Long =
    math.max(parquetGen(p), parquetGen(p + "-delta"))

  /** Drop every in-session cache entry for lexicon path `p` (all generations) —
    * called by saveInPlace after a delta append so a same-millisecond `_SUCCESS`
    * mtime can never serve the pre-commit frames.
    */
  private[graft] def invalidateLex(p: String): Unit = {
    lexCache.filterInPlace { case ((path, _), _) => path != p }
    deadCache.filterInPlace { case ((path, _), _) => path != p }
    // the text index keys its path cache on the same lexicon generation; a
    // same-mtime-tick commit must roll it too or it serves stale postings
    graft.search.TextIndex.invalidatePath(p)
  }

  /** Dead-term ids for lexicon path `p` at its current generation (empty until
    * the fold has run — force `store.nodeTerms` first).
    */
  private[graft] def deadNids(p: String): Array[Long] =
    deadCache.getOrElse((p, lexGen(p)), Array.empty)

  /** Warm-or-build a shaped lexicon for path `p`. The per-path lock serializes the
    * side-effecting cold build (two store handles racing on first access would
    * otherwise both run the overwrite parquet write via TrieMap's non-exclusive
    * getOrElseUpdate thunk).
    */
  private[model] def cachedLex(spark: SparkSession, p: String,
                               coldBuild: () => DataFrame): DataFrame = {
    val lock = lexLocks.getOrElseUpdate(p, new Object)
    lock.synchronized {
      val gen = lexGen(p)
      val warm = if (gen >= 0) lexCache.get((p, gen)) else None
      warm.getOrElse {
        // drop entries from older generations of this path (stale after rebuild)
        invalidateLex(p)
        val (df, dead) =
          if (gen >= 0) {
            val base = spark.read.parquet(p)
            if (!base.columns.contains("refs"))
              // legacy pre-refcount base: never delta-appended (saveInPlace
              // refuses to append to it), so the plain shape stays exact
              (shapeLex(base), Array.empty[Long])
            else if (parquetGen(p + "-delta") < 0)
              // refcounted base with NO pending commits: the plain shape is
              // exact and skips the fold's aggregation (measured ~2.5 s on the
              // sf0.1 lexicon — the fold is for folding deltas, not reads)
              (shapeLex(base.select("n", "nid")), Array.empty[Long])
            else {
              // fold base refcounts with the durable-commit delta appends on
              // the SAME hash shuffle the shape pays anyway; terms whose
              // folded refs hit 0 leave the dictionary (zero-length-path
              // domains stay exact across deletes) and feed the text index's
              // dead-postings anti-join
              val dDir = p + "-delta"
              val rows = base.select(col("nid"), col("n"), col("refs").as("d"))
              val withD = rows.unionByName(spark.read.parquet(dDir)
                    .select(col("nid"), col("n"), col("d")))
              val folded = withD.groupBy("nid")
                .agg(first(col("n")).as("n"), sum(col("d")).as("refs"))
                .sortWithinPartitions("nid").localCheckpoint()
              val deadDf = folded.filter(col("refs") <= 0).select("nid")
              // COUNT valve on the dead-term list: it materializes as a driver
              // array (and a TextIndex broadcast — TextIndex.scala maintained),
              // and the byte valve alone doesn't bound it — a burst DELETE can
              // land millions of dead TERMS while staying under 2% of BYTES.
              // Past the valve, force the lexicon compaction (dead terms leave
              // the base; postings rebuild amortized against that rewrite).
              if (deadDf.limit((DEAD_TERM_VALVE + 1).toInt).count() > DEAD_TERM_VALVE) {
                compactLexicon(spark, p)
                (shapeLex(spark.read.parquet(p).select("n", "nid")),
                  Array.empty[Long])
              } else
                (folded.filter(col("refs") > 0).select("n", "nid"),
                  deadDf.collect().map(_.getLong(0)))
            }
          } else {
            // cold build: checkpoint the shaped refcounted lexicon FIRST, then
            // persist it for future sessions from the checkpointed blocks — one
            // dedup shuffle total, no write→re-read→re-shuffle round trip
            val built = coldBuild()
            built.write.mode("overwrite").parquet(p)
            (built.select("n", "nid"), Array.empty[Long])
          }
        lexCache.put((p, lexGen(p)), df)
        deadCache.put((p, lexGen(p)), dead)
        df
      }
    }
  }

  /** In-session lexicon shape: hash-partitioned + sorted on the lookup key, so
    * term re-attach joins never move the lexicon — only the (small) probe side.
    */
  private[model] def shapeLex(df: DataFrame): DataFrame =
    df.repartition(col("nid")).sortWithinPartitions("nid").localCheckpoint()


  /** Sentinel graph id for context-less statements in the multi-graph probes
    * (the openrdf nullGraph as a context). */
  val NULL_GRAPH_ID: Long = Long.MinValue

  val STYPE_EXPLICIT: Byte = 0
  val STYPE_AXIOM: Byte = 1
  val STYPE_INFERRED: Byte = 2

  val columns: Seq[String] = Seq("p_id", "s", "p", "o", "g", "stype")

  /** Assemble the canonical statements layout from (s,p,o,g,stype) term columns. */
  def assemble(df: DataFrame): DataFrame =
    df.select(col("p")("id").as("p_id"), col("s"), col("p"), col("o"), col("g"), col("stype"))

  /** Delete the derived-index dirs tied to statements path `path` (lexicon,
    * its delta side dir, persisted text postings, subject index) and roll the
    * in-session caches. A full statements rewrite invalidates them all; any
    * caller rebuilding a store at `path` must not leave them behind (r15
    * advice: TmAB deleted them by hand, every other direct `save` caller
    * silently maintained derived indexes against the wrong base).
    */
  private[graft] def dropDerived(spark: SparkSession, path: String): Unit = {
    val lexDir = path + "-lexicon"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(lexDir, lexDir + "-delta", lexDir + "-text",
        SubjectIndex.dir(path), SubjectIndex.deltaDir(path))
      .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    invalidateLex(lexDir)
    SubjectIndex.invalidate(path)
  }

  /** Persist as predicate-partitioned parquet — the scalable at-rest layout.
    * Concurrent output writers sidestep the dynamic-partition writer's per-task
    * sort of the (wide) statement rows: predicate counts are vocabulary-sized, so
    * a writer per open partition is cheap and the sort is pure overhead.
    *
    * Rows are clustered on (p_id, subject-hash bucket) before the write so each
    * predicate directory holds full files instead of one sliver per input task
    * (writers × predicates files otherwise — footer reads then tax every later
    * scan). The bucket count scales with the predicate's row count (one writer
    * per ~250k rows, capped) so big predicates keep file/task parallelism for
    * later scans while vocabulary-tail predicates get a single file each. The
    * per-predicate histogram is vocabulary-sized: a map-side-combined count
    * aggregate, broadcast back onto the rows.
    */
  def save(df: DataFrame, path: String): Unit = {
    // rebuilding the statements at `path` orphans whatever derived indexes
    // were persisted next to it — drop them up front (no-op on fresh paths,
    // including a bulk load's concurrent lexicon/text builds, which only
    // create their dirs after this synchronous cleanup has run)
    dropDerived(df.sparkSession, path)
    // Concurrent-writer posture is set ONCE and never restored: a set/restore
    // bracket here raced concurrent saves on the shared session conf — one
    // save's `finally` dropped the setting to 0 while another was planning its
    // write job, which then required a sort order the frame doesn't deliver
    // and died with FileAlreadyExistsException in the dynamic-partition writer
    // (measured: 5 of 6 concurrent test-suite saves failed exactly this way).
    // The value is a write-path constant of this store format, not a per-call
    // choice, so a monotonic set-once is both race-free and faithful.
    df.sparkSession.conf.set("spark.sql.maxConcurrentOutputFileWriters", "128")
    val nb = df.groupBy("p_id").count().select(col("p_id"),
      greatest(lit(1L), least(lit(16L), ceil(col("count") / 250000.0d).cast("long")))
        .as("__nb"))
    df.join(broadcast(nb), Seq("p_id"))
      .repartition(col("p_id"), pmod(col("s")("id"), col("__nb")))
      .drop("__nb")
      .write.mode("overwrite").partitionBy("p_id").parquet(path)
  }

  /** Open the at-rest store at `path` — the single at-rest open, and the one
    * place a store's execution mode is chosen: the statements are read
    * through the caller's interpreted sibling (`execSession`), and everything
    * derived from the store (Compiler frames and probe jobs, Update, truth
    * maintenance, the lexicon, the subject sidecar, SparqlServer) plans on
    * `store.spark`. `withLexicon` attaches the persisted lexicon next to the
    * statements (`path + "-lexicon"`).
    */
  def load(spark: SparkSession, path: String, withLexicon: Boolean = false): GraftStore = {
    val s = execSession(spark)
    new GraftStore(s, s.read.parquet(path)
      .select(columns.map(col): _*), // normalize column order; p_id read as partition col
      lexiconPath = if (withLexicon) Some(path + "-lexicon") else None,
      atRestPath = Some(path))
  }

  /** Interpreted sibling of each caller session, created once and held weakly
    * (a sibling holds no reference to its parent).
    */
  private val interpretedSiblings =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private def runsInterpreted(s: SparkSession): Boolean =
    s.conf.getOption("spark.sql.codegen.wholeStage").contains("false") &&
      s.conf.getOption("spark.sql.codegen.factoryMode").contains("NO_CODEGEN")

  /** `spark.newSession()` with the caller's runtime SQL conf copied in. */
  private[graft] def siblingSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    // runtime keys the caller set (a static or core key is the same in
    // both sessions; setting one would throw)
    val own = s.conf.getAll
    spark.conf.getAll.foreach { case (k, v) =>
      if (!own.get(k).contains(v)) scala.util.Try(s.conf.set(k, v)) }
    s
  }

  /** The session an at-rest store executes on: an interpreted sibling of the
    * caller's — `spark.newSession()` with the caller's runtime SQL conf copied
    * in, no whole-stage codegen and no per-expression codegen — or the
    * caller's own when it already runs interpreted. The compiler inlines
    * term-id hashes and FILTER constants as Java literals, so nearly every
    * request generates new classes and Spark's codegen cache (100 entries,
    * keyed by classloader and code) misses even on repeated texts; janino's
    * compile time is then most of a request (README §Execution mode). The
    * caller's conf is never written. Siblings share the SparkContext, the
    * cache manager and the scheduler pools; a conf the caller sets after the
    * sibling exists does not reach it.
    */
  private[graft] def execSession(spark: SparkSession): SparkSession =
    if (runsInterpreted(spark)) spark
    else interpretedSiblings.synchronized {
      Option(interpretedSiblings.get(spark)).getOrElse {
        val s = siblingSession(spark)
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        interpretedSiblings.put(spark, s)
        s
      }
    }

  /** Durable O(delta) commit of a MUTATED store back to its own at-rest path:
    * rewrite ONLY the partition directories the layout has replaced, leave
    * every untouched `p_id=` directory's files alone. This is the durable
    * second half of `StatementLayout` — in-session mutations replace segments;
    * here each touched segment folds back as a dynamic-partition overwrite
    * (bytes written O(touched partitions), not O(store)). The reference's
    * analog is the group commit writing only the affected index ranges
    * (`rdf/sparql/ast/eval/AST2BOpUpdate.java` → the journal's commit of
    * touched B+Tree regions). Falls back to the full `save` when the store
    * was not loaded from `path` or carries no replacement segments.
    *
    * The replacement rows are checkpointed BEFORE the write: segment plans
    * read the very parquet files being replaced (base slices behind
    * tombstones), and a lazy overwrite-while-reading is both rejected by
    * Spark's path-conflict check and unsafe under the dynamic committer. The
    * checkpoint is touched-partition-sized — exactly the O(delta) budget.
    *
    * Returns the REOPENED at-rest store: the in-session handle's lazy frames
    * still reference the replaced files and must not be used afterwards. When
    * a persisted lexicon lives at `path + "-lexicon"`, the reopened handle
    * carries it — and the commit MAINTAINS it incrementally: the touched
    * partitions' old-vs-new row diff folds into per-term refcount deltas
    * appended to the lexicon's `-delta` side dir (O(touched partitions), the
    * same budget as the statement write), instead of invalidating the
    * dictionary and paying an O(store) rebuild on next use. The text index
    * self-maintains off the same delta dir (`TextIndex.forStore`). The
    * reference's analog is the text-index/lexicon hooks inside addTerms
    * (`rdf/lexicon/LexiconRelation.java:454-456`) maintaining derived indexes
    * on statement writes.
    */
  def saveInPlace(store: GraftStore, path: String): GraftStore = {
    val spark = store.spark
    val lexDir = path + "-lexicon"
    def deleteDerived(): Unit = dropDerived(spark, path)
    def reopen(withLex: Boolean): GraftStore = load(spark, path, withLex)
    val hadLex = parquetGen(lexDir) >= 0
    val touched = store.layoutOpt.map(_.segPids).getOrElse(Set.empty)
    if (!store.atRestPath.contains(path) || touched.isEmpty) {
      // The statements plan may still scan `path` itself even though
      // atRestPath is gone — a TM fixpoint-recompute result (withStatements
      // drops layout AND atRestPath) keeps explicit rows over the original
      // parquet. A direct mode=overwrite to a path the plan reads is
      // rejected by Spark's path-conflict check (or silently loses data
      // through checkpoint unions), so stage-write to a sibling dir and
      // swap with two renames — never overwrite a file the plan reads.
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(path + ".staging")
      fs.delete(tmp, true)
      save(store.statements, tmp.toString)
      fs.delete(root, true)
      if (!fs.rename(tmp, root))
        throw new IllegalStateException(s"saveInPlace: staging swap $tmp -> $root failed")
      // a full rewrite means the persisted derived indexes describe the old
      // store: drop them; the reopened handle rebuilds (and re-persists)
      // exactly from the new statements on first use
      deleteDerived()
      return reopen(hadLex)
    }
    val repl = store.layout.slice(touched.toSeq)
      .select(columns.map(col): _*).localCheckpoint()
    // ---- derived-index deltas, computed BEFORE the overwrite replaces files:
    // old rows of the touched partitions (pruned parquet read) diffed against
    // the replacement rows — ONE row-level diff feeds both maintenance paths
    // (lexicon refcounts, subject sidecar); everything here is O(touched
    // partitions). A legacy pre-refcount lexicon cannot be maintained; its
    // dirs are dropped below and rebuilt lazily.
    val lexRefs = hadLex &&
      (try spark.read.parquet(lexDir).columns.contains("refs")
      catch { case _: Exception => false })
    // sidecar valid for the PRE-commit base? (the overwrite rolls the
    // generation, so this must be probed first)
    val sidxNb: Option[Long] = SubjectIndex.forPath(spark, path).map(_.nb)
    val rowDiff: Option[DataFrame] =
      if (!lexRefs && sidxNb.isEmpty) None
      else Some {
        val old = spark.read.parquet(path)
          .filter(col("p_id").isin(touched.toSeq: _*))
          .select(columns.map(col): _*)
        old.withColumn("__t", lit(-1L))
          .unionByName(repl.withColumn("__t", lit(1L)))
          .groupBy(col("s")("id").as("__sk"), col("p_id"),
            col("o")("id").as("__ok"),
            coalesce(col("g")("id"), lit(NULL_GRAPH_ID)).as("__gk"), col("stype"))
          .agg(sum(col("__t")).as("__d"), first(col("s")).as("s"),
            first(col("p")).as("p"), first(col("o")).as("o"),
            first(col("g")).as("g"))
          .filter(col("__d") =!= 0)
          .localCheckpoint() // eager: materialized before the files are replaced
      }
    val lexDelta: Option[DataFrame] = if (!lexRefs) None else rowDiff.map { diff =>
      diff.select(col("s").as("n"), col("__d"))
        .unionByName(diff.select(col("o").as("n"), col("__d")))
        .groupBy(col("n")("id").as("nid"))
        .agg(first(col("n")).as("n"), sum(col("__d")).as("d"))
        .filter(col("d") =!= 0)
    }
    // same clustering as save(): full files per predicate dir, writer count
    // scaled to the partition's row count — but the histogram here is
    // touched-partition-sized, and doubles as the empty-partition detector
    val hist = repl.groupBy("p_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dynamic partition overwrite rides a PER-WRITE option, not a session-conf
    // set/restore bracket: the bracket raced concurrent writers on the shared
    // session conf (a concurrent full save() planned under `dynamic` would
    // silently keep stale partition dirs; see save()'s writer-count note for
    // the measured dual failure). The writer count is set-once in save().
    spark.conf.set("spark.sql.maxConcurrentOutputFileWriters", "128")
    if (hist.nonEmpty) {
      val nb = hist.toSeq.map { case (p, c) =>
        (p, math.max(1L, math.min(16L, math.ceil(c / 250000.0d).toLong))) }
      val nbDf = spark.createDataFrame(nb).toDF("p_id", "__nb")
      repl.join(broadcast(nbDf), Seq("p_id"))
        .repartition(col("p_id"), pmod(col("s")("id"), col("__nb")))
        .drop("__nb")
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("p_id").parquet(path)
    }
    // dynamic overwrite only replaces partitions PRESENT in the written frame:
    // a touched partition whose rows were all deleted must have its directory
    // dropped explicitly or the dead rows resurrect on reopen
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    touched.filterNot(hist.contains)
      .foreach(p => fs.delete(new org.apache.hadoop.fs.Path(root, s"p_id=$p"), true))
    // generation bump for the path-keyed caches even on the delete-only path
    // where no write job ran
    val succ = new org.apache.hadoop.fs.Path(root, "_SUCCESS")
    fs.create(succ, true).close()
    // subject-sidecar maintenance rides the same rowDiff: bucket-partitioned
    // ±1 appends + re-stamp at the new statements generation, valve-compacted
    sidxNb match {
      case Some(nb) =>
        rowDiff.foreach { d =>
          SubjectIndex.appendDelta(d, path, nb)
          SubjectIndex.maybeCompact(spark, path)
        }
      case None =>
        // no sidecar valid for the pre-commit base: drop any stale dirs so a
        // later probe rebuilds from the new base instead of serving old rows
        Seq(SubjectIndex.dir(path), SubjectIndex.deltaDir(path))
          .foreach(p2 => fs.delete(new org.apache.hadoop.fs.Path(p2), true))
        SubjectIndex.invalidate(path)
    }
    lexDelta match {
      case Some(d) =>
        // append the refcount delta (rolls the lexicon generation); compact
        // into the base once the side dir outgrows its valve; and drop the
        // in-session entries explicitly — a same-millisecond `_SUCCESS` mtime
        // must never serve the pre-commit frames
        if (!d.isEmpty)
          d.select("nid", "n", "d").coalesce(1)
            .write.mode("append").parquet(lexDir + "-delta")
        maybeCompactLexicon(spark, lexDir)
        invalidateLex(lexDir)
      case None if hadLex =>
        // legacy pre-refcount lexicon: drop just the lexicon family (rebuilt
        // lazily from the new statements); the sidecar maintains independently
        Seq(lexDir, lexDir + "-delta", lexDir + "-text")
          .foreach(p2 => fs.delete(new org.apache.hadoop.fs.Path(p2), true))
        invalidateLex(lexDir)
      case None => ()
    }
    reopen(hadLex)
  }

  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.iterator.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  /** Dead-term driver-array bound (see the COUNT valve in `cachedLex`); var so
    * a spec can exercise the valve without minting a million terms.
    */
  private[graft] var DEAD_TERM_VALVE: Long = 1000000L

  /** Fold the lexicon's `-delta` side dir into the base once it outgrows 2%
    * of the base (floor 16 MB). The valve bounds both the read-time fold's
    * delta union and the dead-term list the text index anti-joins by. The
    * persisted postings are NOT folded here: the base-lexicon generation bump
    * makes `TextIndex.forStore` rebuild them on next use, amortized against
    * this O(terms) rewrite.
    */
  private def maybeCompactLexicon(spark: SparkSession, lexDir: String): Unit = {
    val dDir = lexDir + "-delta"
    val db = treeBytes(new java.io.File(dDir))
    if (db <= math.max(16L << 20, treeBytes(new java.io.File(lexDir)) / 50)) return
    compactLexicon(spark, lexDir)
  }

  /** Unconditional delta→base fold (dead terms leave the base). */
  private def compactLexicon(spark: SparkSession, lexDir: String): Unit = {
    val dDir = lexDir + "-delta"
    if (parquetGen(dDir) < 0) return
    val folded = spark.read.parquet(lexDir)
      .select(col("nid"), col("n"), col("refs").as("d"))
      .unionByName(spark.read.parquet(dDir).select(col("nid"), col("n"), col("d")))
      .groupBy("nid").agg(first(col("n")).as("n"), sum(col("d")).as("refs"))
      .filter(col("refs") > 0)
    val root = new org.apache.hadoop.fs.Path(lexDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(lexDir + ".staging")
    fs.delete(tmp, true)
    folded.write.mode("overwrite").parquet(tmp.toString)
    fs.delete(root, true)
    if (!fs.rename(tmp, root))
      throw new IllegalStateException(s"lexicon compaction swap failed: $tmp -> $root")
    fs.delete(new org.apache.hadoop.fs.Path(dDir), true)
  }

  /** In-memory (cached) store for small scale factors / tests. */
  def cached(spark: SparkSession, df: DataFrame): GraftStore = {
    val st = assemble(df.select("s", "p", "o", "g", "stype"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new GraftStore(spark, st)
  }

  /** Bucketed at-rest variant: statements bucketed + sorted by the subject id so
    * same-subject star joins (the dominant BGP shape) are co-located — bucketed
    * SortMergeJoin with NO shuffle exchange on either side. This is the 100 TB layout
    * lever the predicate-partitioned layout doesn't cover: p_id pruning picks the
    * predicate, s_id bucketing removes the join shuffle.
    */
  def saveBucketed(df: DataFrame, table: String, buckets: Int): Unit =
    df.withColumn("s_id", org.apache.spark.sql.functions.col("s")("id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "s_id").sortBy("s_id")
      .format("parquet").saveAsTable(table)

  def loadBucketed(spark: SparkSession, table: String): GraftStore =
    new GraftStore(spark, spark.table(table))
}
