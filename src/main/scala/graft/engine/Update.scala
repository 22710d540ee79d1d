package graft.engine

import graft.model.{GraftStore, Term}
import graft.sparql.{Algebra, Parser}
import graft.sparql.Ast._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SPARQL 1.1 UPDATE evaluation (rdf/sparql/ast/eval/AST2BOpUpdate.java:400-450).
  *
  * The reference mutates B+Tree indexes under a group-commit
  * (`rbop/rdf/update/{InsertStatementsOp,RemoveStatementsOp}.java`, `CommitOp`); here a
  * store is an immutable statements DataFrame and each operation produces a NEW store —
  * the Delta-style copy-on-write shape. `DELETE/INSERT WHERE` evaluates its WHERE clause
  * through the full query compiler, instantiates templates per solution, and applies
  * removals via an id-keyed anti-join (the MERGE analog).
  */
object Update {

  // update paths run with constraint propagation off (DfOps.noConstraints):
  // the delta commits localCheckpoint, and a checkpoint taken with propagation
  // on captures origin constraints that can poison later unions over the store
  def apply(store: GraftStore, updateText: String): GraftStore =
    DfOps.noConstraints(store.spark)(
      Parser.parseUpdate(updateText).foldLeft(store)(applyOp))

  /** Statement-level delta of an update (the change-log listener surface,
    * `rdf/changesets/IChangeLog.java`): applied store plus added/removed statement
    * frames — the hook a CDC/incremental-closure consumer subscribes to.
    */
  final case class ChangeSet(added: DataFrame, removed: DataFrame)

  def applyWithLog(store: GraftStore, updateText: String): (GraftStore, ChangeSet) = {
    val ops = Parser.parseUpdate(updateText)
    val next = ops.foldLeft(store)(applyOp)
    // When every template predicate is a constant IRI the change can only live in
    // those p_id partitions, so the before/after diff prunes both sides to them
    // instead of anti-joining two full stores (same lever as insert/delete).
    def quadPids(qs: Seq[QuadData]): Option[Seq[Long]] =
      qs.foldLeft(Option(Seq.empty[Long])) {
        case (Some(acc), q) => q.p match {
          case IriNode(i) => Some(acc :+ TermIds.iriId(i))
          case _ => None
        }
        case (None, _) => None
      }
    val touchedPids: Option[Seq[Long]] = ops.foldLeft(Option(Seq.empty[Long])) {
      case (Some(acc), op) => (op match {
        case InsertData(q) => quadPids(q)
        case DeleteData(q) => quadPids(q)
        case Modify(del, ins, _, _, _) => quadPids(del ++ ins)
        case _ => None // graph-level ops touch arbitrary predicates
      }).map(acc ++ _)
      case (None, _) => None
    }.map(_.distinct)
    def prune(df: DataFrame): DataFrame = touchedPids match {
      case Some(pids) => df.filter(col("p_id").isin(pids: _*))
      case None => df
    }
    def keyed(df: DataFrame) = statementKey(df.select("s", "p", "o", "g"))
    val added = keyed(prune(next.statements))
      .join(keyed(prune(store.statements)).select("__k"), Seq("__k"), "left_anti").drop("__k")
    val removed = keyed(prune(store.statements))
      .join(keyed(prune(next.statements)).select("__k"), Seq("__k"), "left_anti").drop("__k")
    (next, ChangeSet(added, removed))
  }

  /** RDR history vocabulary (`RDRHistory.Vocab`, sail/RDRHistory.java:50-54). */
  val HISTORY_ADDED = "blaze:history:added"
  val HISTORY_REMOVED = "blaze:history:removed"

  /** Update with RDR history capture (sail/RDRHistory.java:27-40): every asserted /
    * retracted statement ALSO asserts `<< s p o >> blaze:history:added|removed
    * "commitTime"^^xsd:integer`, so change history is queryable with ordinary
    * RDF-star patterns — no bespoke history scan operator. History rows about
    * history rows are excluded (the reference's relevance hook). The delta is
    * computed with id-keyed anti-joins; statements land in the history predicates'
    * own p_id partitions, so historical queries prune to those partitions.
    */
  def applyWithHistory(store: GraftStore, updateText: String,
                       commitTime: Long): GraftStore = {
    val (next, cs) = applyWithLog(store, updateText)
    def hist(df: DataFrame, action: String): DataFrame = {
      val sid = Term.sid(col("s"), col("p"), col("o"))
      // the action record plus the sid's reification decomposition (the store's
      // SID query model: << … >> patterns join rdf:subject/predicate/object)
      df.filter(col("p")("str") =!= HISTORY_ADDED && col("p")("str") =!= HISTORY_REMOVED)
        .select(explode(array(
          struct(sid.as("s"), Term.iri(action).as("p"), Term.intLit(lit(commitTime)).as("o")),
          struct(sid.as("s"), Term.iri(Term.RDF_SUBJECT).as("p"), col("s").as("o")),
          struct(sid.as("s"), Term.iri(Term.RDF_PREDICATE).as("p"), col("p").as("o")),
          struct(sid.as("s"), Term.iri(Term.RDF_OBJECT).as("p"), col("o").as("o"))
        )).as("q"))
        .select(col("q.s").as("s"), col("q.p").as("p"), col("q.o").as("o"),
          Term.nullTerm.as("g"))
    }
    // history predicates are fixed vocabulary — skip the runtime delta-pid probe
    insert(next, hist(cs.added, HISTORY_ADDED)
      .unionByName(hist(cs.removed, HISTORY_REMOVED)),
      Some(Seq(TermIds.iriId(HISTORY_ADDED), TermIds.iriId(HISTORY_REMOVED),
        TermIds.iriId(Term.RDF_SUBJECT), TermIds.iriId(Term.RDF_PREDICATE),
        TermIds.iriId(Term.RDF_OBJECT)).distinct))
  }

  /** Update with truth maintenance: when the store carries materialized entailments
    * (stype=Inferred) and the update retracts statements, entailments that are no
    * longer derivable are retracted too (`rdf/inf/TruthMaintenance.java`).
    */
  def withTruthMaintenance(store: GraftStore, updateText: String): GraftStore =
    DfOps.noConstraints(store.spark)(withTruthMaintenanceImpl(store, updateText))

  private def withTruthMaintenanceImpl(store: GraftStore,
                                       updateText: String): GraftStore = {
    val ops = Parser.parseUpdate(updateText)
    // Single application pass that CAPTURES each op's change buffers (the
    // reference's TM consumes its assertion/retraction buffers, not a
    // before/after diff — rdf/inf/TruthMaintenance.java). The buffers are the
    // ACTUAL deltas — insert()'s post-novelty committed rows and delete()'s
    // actually-purged rows, with their real graph and stype — not the quad
    // templates: a phantom insert (row already present) or phantom delete
    // must NOT enter the buffers, or the old-state reconstruction inside
    // truthMaintainDelta wrongly subtracts/adds pre-existing rows. Graph-level
    // ops are uncapturable → fixpoint recompute.
    var cur = store
    var capturable = true
    val rem = Seq.newBuilder[DataFrame]
    val add = Seq.newBuilder[DataFrame]
    ops.foreach {
      case DeleteData(q) =>
        val (st2, purged) = deleteCapture(cur, constQuads(cur, q), knownPids(q))
        rem += purged; cur = st2
      case InsertData(q) =>
        val (st2, fresh) = insertCapture(cur, constQuads(cur, q), knownPids(q))
        add += fresh; cur = st2
      case m: Modify =>
        val (st2, delQ, insQ) = applyModify(cur, m)
        rem += delQ; add += insQ; cur = st2
      case other =>
        capturable = false; cur = applyOp(cur, other)
    }
    val retracts = ops.exists {
      // COPY clears its target graph first, so it retracts too
      case _: DeleteData | _: Modify | _: ClearGraph | _: MoveGraph | _: CopyGraph => true
      case ClearDefault | ClearNamed => true
      case _ => false
    }
    if (!retracts) { graft.inference.Rdfs.lastTmPath = "none"; return cur }
    // Delta-restricted truth maintenance (DRed) over the captured buffers;
    // requires the entailment table AT REST (probing a lazy closure plan would
    // re-evaluate derivations per probe — the recompute is cheaper there).
    // Non-local rule families also fall back inside truthMaintainDelta.
    val delta =
      if (!capturable || !graft.inference.Rdfs.inferredAtRest(cur)) None
      else {
        // captured buffers carry the store's real stype (a purged row can be
        // Inferred); empty seed matches that shape
        val emptyQ = emptyQuads(store)
          .withColumn("stype", lit(GraftStore.STYPE_EXPLICIT).cast("byte"))
        def buf(bs: Seq[DataFrame]): DataFrame =
          (emptyQ +: bs.map(_.select(col("s"), col("p"), col("o"), col("g"),
            col("stype")))).reduce(_.unionByName(_))
        graft.inference.Rdfs.truthMaintainDelta(cur,
          buf(rem.result()), buf(add.result()))
      }
    graft.inference.Rdfs.lastTmPath = if (delta.isDefined) "delta" else "full"
    compactIfFragmented(delta.getOrElse(graft.inference.Rdfs.truthMaintain(cur)))
  }

  /** Stacked-rewrite layers a segment tolerates before the mutation path folds
    * it (freshLeaf — a PARTITION-sized materialization, amortized over ~6
    * touches of the same partitions; never a store-wide rewrite).
    */
  private[graft] val FOLD_LAYERS = 6

  /** Max rows a delta key frame may hold and still get a broadcast hint —
    * ≈128 MB of 8-byte keys with struct overhead. Past it the hint is
    * dropped and Catalyst/AQE picks the join (the hint is forced regardless
    * of size otherwise; a bulk DELETE WHERE must not OOM the driver).
    */
  private val BC_KEY_ROWS = 4000000L

  /** Segment-count bound: past it the layout's union plan is wide enough that
    * per-query planning cost shows, so fold all segments into one (total size =
    * the mutated partitions only, never the store).
    */
  private val FOLD_SEGS = 48

  /** Bound a mutated store's plan size. Layout stores (the partition-keyed
    * path — every Update mutation produces one) bound per-segment layer depth
    * at write time, so only the segment COUNT can grow: fold all segments into
    * one once it passes FOLD_SEGS — O(mutated partitions), keeping the base
    * parquet scans (and their partition pruning) untouched. Stores without a
    * layout (TM fixpoint-recompute results) keep the legacy whole-frame fold
    * when their committed-block count passes a bound.
    */
  private def compactIfFragmented(st: GraftStore): GraftStore = st.layoutOpt match {
    case Some(lay) =>
      if (lay.segs.size <= FOLD_SEGS) st
      else {
        val folded = DfOps.freshLeaf(
          lay.segs.map(s => DfOps.reid(s.frame.select(GraftStore.columns.map(col): _*)))
            .reduce(_.unionByName(_)))
        st.withLayout(
          graft.model.StatementLayout(lay.base,
            Vector(graft.model.LayoutSeg(lay.segPids, folded, 0))),
          hint = Some(st.mayHaveInferred),
          gdelta = Some(Set.empty)) // fold changes no content: child set == parent's
      }
    case None =>
      val rddLeaves = st.statements.queryExecution.optimizedPlan.collectLeaves()
        .count(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
      if (rddLeaves <= 24) st
      else st.withStatements(DfOps.freshLeaf(st.statements))
  }

  /** Predicate ids of a quad template when ALL predicates are constant IRIs —
    * saves the runtime delta-pid probe job (the predicates are known statically).
    */
  private def knownPids(quads: Seq[QuadData]): Option[Seq[Long]] =
    quads.foldLeft(Option(Seq.empty[Long])) {
      case (Some(acc), q) => q.p match {
        case IriNode(i) => Some(acc :+ TermIds.iriId(i))
        case _ => None
      }
      case (None, _) => None
    }.map(_.distinct)

  /** Modify evaluation that also RETURNS the ACTUAL delete/insert deltas —
    * the rows delete() really purged and insert() really committed (post
    * novelty), with their real graph/stype — the change buffers delta truth
    * maintenance consumes (the reference's TM works off its assertion/
    * retraction buffers; rdf/inf/TruthMaintenance.java). The solution set is
    * checkpointed, so the returned frames are delta-sized scans.
    */
  private def applyModify(store: GraftStore,
                          m: Modify): (GraftStore, DataFrame, DataFrame) = {
    val Modify(del, ins, where, withG, using) = m
    // USING (NAMED) builds the WHERE dataset exactly like FROM (NAMED); absent
    // that, WITH <g> makes g the WHERE default graph (AST2BOpUpdate.java:474-512)
    val ds =
      if (using.nonEmpty) DatasetSpec.from(using)
      else withG.map(g => DatasetSpec(Some(Seq(g)), None)).getOrElse(DatasetSpec.all)
    // WITH also retargets bare (non-GRAPH) template quads into g
    def target(qs: Seq[QuadData]): Seq[QuadData] = withG match {
      case Some(g) => qs.map(q => if (q.g.isEmpty) q.copy(g = Some(IriNode(g))) else q)
      case None => qs
    }
    val c = new Compiler(store, ds, spreadScans = true)
    // project the WHERE solutions down to the template's variables before
    // materializing — BIND intermediates would otherwise be checkpointed per row
    def tmplVars(n: Node): Seq[String] = n match {
      case VarNode(v) if !v.startsWith("-") => Seq(v)
      case SidNode(s, p, o) => Seq(s, p, o).flatMap(tmplVars)
      case _ => Nil
    }
    val needed = (target(del) ++ target(ins))
      .flatMap(q => (Seq(q.s, q.p, q.o) ++ q.g).flatMap(tmplVars)).toSet
    val sol0 = c.compile(Algebra.lower(where))
    val keep = sol0.columns.filter(needed)
    val projected = if (keep.length < sol0.columns.length)
      sol0.select(keep.map(col): _*) else sol0
    // Materialize the projected solutions once: both actions must see the SAME
    // solution multiset, bnode templates mint per-row ids, and the fused
    // unmaterialized pipeline has been measured to blow the heap on large
    // solution sets (object churn in the dedup hash map over recomputed rows).
    // freshLeaf, not bare localCheckpoint: delQ and insQ both instantiate
    // from this one frame and later union into the TM delta buffers — shared
    // attribute ids across those union children break Catalyst's Union
    // constraint rewrite (see DfOps.freshLeaf)
    val sol = DfOps.freshLeaf(projected)
    val emptyQ = emptyQuads(store)
      .withColumn("stype", lit(GraftStore.STYPE_EXPLICIT).cast("byte"))
    val (s1, actDel) = if (del.isEmpty) (store, emptyQ)
      else deleteCapture(store, instantiate(sol, target(del)), knownPids(target(del)))
    val (s2, actIns) = if (ins.isEmpty) (s1, emptyQ)
      else insertCapture(s1, instantiate(sol, target(ins)), knownPids(target(ins)))
    (s2, actDel, actIns)
  }

  /** `INSERT INTO %set` / `DELETE FROM %set` (solution-set update extension,
    * `sail/tck/BigdataSPARQLUpdateTest2.java:456-870`): evaluate WHERE once
    * against the store, project per clause, mutate the named sets. The
    * statement store itself is unchanged, so the same store is returned and
    * `INCLUDE %set` on it sees the updated solutions.
    */
  private def applySolutionsUpdate(store: GraftStore,
                                   su: SolutionsUpdate): GraftStore = {
    val c = new Compiler(store, DatasetSpec.all)
    val sol = DfOps.freshLeaf(c.compile(graft.sparql.Algebra.lower(su.where)))
    def proj(vars: Seq[String]): DataFrame =
      if (vars.isEmpty) sol
      else sol.select(vars.map(v =>
        if (sol.columns.contains(v)) col(v) else Term.nullTerm.as(v)): _*)
    // delete first, then insert — `DELETE FROM … INSERT INTO … WHERE` moves
    // the solutions (both clauses see the same pre-evaluated WHERE multiset)
    su.delete.foreach { case (name, vars) =>
      SolutionSets.deleteSolutions(store, name, proj(vars)) }
    su.insert.foreach { case (name, vars) =>
      SolutionSets.insertSolutions(store, name, proj(vars)) }
    store
  }

  def applyOp(store: GraftStore, op: UpdateOp): GraftStore = op match {
    case InsertData(quads) => insert(store, constQuads(store, quads), knownPids(quads))
    case DeleteData(quads) => delete(store, constQuads(store, quads), knownPids(quads))
    case ClearGraph(None) => store.withStatements(store.statements.limit(0))
    case ClearDefault =>
      store.withStatements(store.statements.filter(col("g").isNotNull))
    case ClearNamed =>
      store.withStatements(store.statements.filter(col("g").isNull))
    case ClearGraph(Some(g)) =>
      store.withStatements(store.statements.filter(
        col("g").isNull || col("g")("id") =!= TermIds.iriId(g)))
    case m: Modify => applyModify(store, m)._1
    case su: SolutionsUpdate => applySolutionsUpdate(store, su)
    case CreateGraph(_) => store // schemaless store: graphs exist by containing triples
    case LoadGraph(src, into, silent) =>
      try {
        val path = src.stripPrefix("file://")
        val loaded = graft.sources.Rio.readStatements(store.spark, path)
          .select("s", "p", "o", "g")
        val retargeted = into match {
          case Some(g) => loaded.withColumn("g", Term.iri(g))
          case None => loaded
        }
        insert(store, retargeted)
      } catch {
        // SPARQL 1.1 Update: SILENT means the operation reports success even when
        // the document is absent/unreadable — the store is left unchanged
        case e: Exception if silent => store
      }
    case AddGraph(from, to) =>
      if (from == to) store else insert(store, graphSlice(store, from, to))
    case CopyGraph(from, to) =>
      if (from == to) store
      else insert(clearRef(store, to), graphSlice(store, from, to))
    case MoveGraph(from, to) =>
      if (from == to) store
      else clearRef(insert(clearRef(store, to), graphSlice(store, from, to)), from)
  }

  /** Statements of one graph, retargeted to another graph ref (for ADD/COPY/MOVE). */
  private def graphSlice(store: GraftStore, from: GraphRef, to: GraphRef): DataFrame = {
    val src = from match {
      case DefaultRef => store.statements.filter(col("g").isNull)
      case NamedRef(g) =>
        store.statements.filter(col("g").isNotNull && col("g")("id") === TermIds.iriId(g))
    }
    val gCol = to match {
      case DefaultRef => Term.nullTerm
      case NamedRef(g) => Term.iri(g)
    }
    src.select(col("s"), col("p"), col("o"), gCol.as("g"))
  }

  private def clearRef(store: GraftStore, ref: GraphRef): GraftStore = ref match {
    case DefaultRef => applyOp(store, ClearDefault)
    case NamedRef(g) => applyOp(store, ClearGraph(Some(g)))
  }

  // ---- Graph Store Protocol surface (RESTServlet/InsertServlet/DeleteServlet
  // GSP support in the reference webapp): parsed-payload graph operations.

  /** Insert statements (term-struct columns s, p, o, g) — deduped/novelty-checked
    * like any UPDATE delta.
    */
  def insertStatements(store: GraftStore, quads: DataFrame): GraftStore =
    insert(store, quads.select(col("s"), col("p"), col("o"), col("g")))

  /** Drop a graph's statements (GSP DELETE). */
  def dropGraph(store: GraftStore, graph: Option[String]): GraftStore =
    clearRef(store, graph.map(NamedRef.apply).getOrElse(DefaultRef))

  private val bnodeScope = new java.util.concurrent.atomic.AtomicLong()

  /** Empty (s,p,o,g) frame as a FRESH LocalRelation — `statements.limit(0)`
    * would share the store scan's attribute ids and poison downstream unions
    * (Catalyst Union constraint rewrite; see DfOps.freshLeaf). */
  private def emptyQuads(store: GraftStore): DataFrame =
    store.spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(
        Seq("s", "p", "o", "g").map(n =>
          org.apache.spark.sql.types.StructField(n, Term.schema))))

  /** Ground quads → statements DataFrame. Blank nodes (labeled or generated by
    * `[…]`/`(…)` syntax) arrive as the parser's VarNode placeholders and become
    * bnode terms scoped to THIS update execution (SPARQL: bnode labels are scoped
    * per request — re-running the same INSERT DATA creates fresh bnodes). Labeled
    * and generated bnodes live in disjoint namespaces so `_:bn1` never collides
    * with a `[…]`-generated node.
    */
  private def constQuads(store: GraftStore, quads: Seq[QuadData]): DataFrame = {
    val scope = bnodeScope.incrementAndGet()
    def term(n: Node): Column = n match {
      case VarNode(v) =>
        val label =
          if (v.startsWith("-bnl_")) "b-" + v.stripPrefix("-bnl_")
          else "g-" + v.stripPrefix("-")
        Term.bnode(lit(s"$label-u$scope"))
      case SidNode(s, p, o) => Term.sid(term(s), term(p), term(o))
      case other => Exprs.constTerm(other)
    }
    // ONE one-row plan exploding a quad array — not an n-way union of single-row
    // frames (plan size and job count stay constant in the number of quads)
    val rows = quads.map { q =>
      val g = q.g.map(term).getOrElse(Term.nullTerm)
      struct(term(q.s).as("s"), term(q.p).as("p"), term(q.o).as("o"), g.as("g"))
    }
    store.spark.range(1).select(explode(array(rows: _*)).as("q"))
      .select(col("q.s").as("s"), col("q.p").as("p"), col("q.o").as("o"), col("q.g").as("g"))
  }

  /** Instantiate quad templates once per solution; drop rows with unbound vars.
    * Bnode placeholders (`_:label`, `[…]`, `(…)`) in INSERT templates mint a FRESH
    * bnode per solution (SPARQL 1.1 Update: template bnodes are instantiated per
    * solution, like CONSTRUCT), scoped per update execution so re-running the same
    * update never collides.
    */
  private def instantiate(sol: DataFrame, quads: Seq[QuadData]): DataFrame = {
    def hasBnode(n: Node): Boolean = n match {
      case VarNode(v) => v.startsWith("-")
      case SidNode(s, p, o) => hasBnode(s) || hasBnode(p) || hasBnode(o)
      case _ => false
    }
    val needsFresh = quads.exists(q => (Seq(q.s, q.p, q.o) ++ q.g).exists(hasBnode))
    val scope = if (needsFresh) bnodeScope.incrementAndGet() else 0L
    val sol2 =
      if (needsFresh) sol.withColumn("__sol", monotonically_increasing_id())
      else sol
    val env = Exprs.Env(sol.columns.toSet)
    def nodeCol(n: Node): Column = n match {
      case VarNode(v) if v.startsWith("-") =>
        val label =
          if (v.startsWith("-bnl_")) "b-" + v.stripPrefix("-bnl_")
          else "g-" + v.stripPrefix("-")
        Term.bnode(concat(lit(s"$label-u$scope-s"), col("__sol").cast("string")))
      case VarNode(v) => env.termOf(v)
      case SidNode(s, p, o) => Term.sid(nodeCol(s), nodeCol(p), nodeCol(o))
      case other => Exprs.constTerm(other)
    }
    quads.map { q =>
      val g = q.g.map(nodeCol).getOrElse(Term.nullTerm)
      sol2.select(nodeCol(q.s).as("s"), nodeCol(q.p).as("p"),
        nodeCol(q.o).as("o"), g.as("g"))
        .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull &&
          col("s")("kind") =!= Term.KIND_LITERAL && col("p")("kind") === Term.KIND_IRI)
    }.map(DfOps.reid).reduce(_.unionByName(_))
  }

  private def statementKey(df: DataFrame): DataFrame =
    df.withColumn("__k", xxhash64(col("s")("id"), col("p")("id"), col("o")("id"),
      coalesce(col("g")("id"), lit(0L))))

  /** Distinct predicate ids of a quad delta — small by construction (an UPDATE touches
    * few predicates); capped so a pathological delta falls back to the full-store path.
    */
  private def deltaPids(quads: DataFrame): Option[Seq[Long]] = {
    val pids = DfOps.collectAtMost(quads.select(col("p")("id")).distinct(), 1001)
      .map(_.getLong(0)).toSeq
    if (pids.size > 1000) None else Some(pids)
  }

  /** Mutations touch only the delta's p_id partitions: the untouched partitions pass
    * through as plain pruned parquet scans (no hashing, no join), so both the mutation
    * and every later query on other predicates keep partition pruning — the columnar
    * analog of the reference writing only the affected index ranges
    * (`rbop/rdf/update/InsertStatementsOp.java`).
    */
  private def insert(store: GraftStore, quads: DataFrame,
                     pids: Option[Seq[Long]] = None): GraftStore =
    insertCapture(store, quads, pids)._1

  /** insert() that also returns the committed (post-novelty) rows — already
    * checkpointed, so the TM change buffer reads a delta-sized table.
    *
    * Novelty is checked against EXPLICIT/AXIOM rows only: asserting a triple
    * that exists as a materialized entailment UPGRADES it (the reference's
    * StatementEnum upgrade — an explicit assertion supersedes Inferred): the
    * quad commits as Explicit and the superseded Inferred row is dropped.
    * This preserves the store invariant that no Inferred row shares (s,p,o)
    * with any other row (the closure's novelty anti-join establishes it;
    * GraftStore's default-graph dedup probes rely on it).
    */
  private def insertCapture(store: GraftStore, quads: DataFrame,
                            pids0: Option[Seq[Long]] = None): (GraftStore, DataFrame) = {
    val pids = pids0.orElse(deltaPids(quads))
    val lay = store.layout
    val existing = pids match {
      case Some(pids) => lay.slice(pids)
      case None => store.statements
    }
    def tripleKey(df: DataFrame): DataFrame =
      df.withColumn("__k3", xxhash64(col("s")("id"), col("p")("id"), col("o")("id")))
    // dedup on the 8-byte statement key, not the full-width struct rows — the
    // exchange then carries ids, and the (already key-hashed) anti-join follows.
    // ONE delta-sized checkpoint carries both the novel rows and the
    // upgraded-entailment marker (__conf): no second pass over the partitions.
    // A store KNOWN to carry no Inferred rows (mayHaveInferred, threaded along
    // the mutation lineage) skips the upgrade-detection join and its action —
    // the common closure-free update path keeps its single anti-join shape.
    val mayInf = store.mayHaveInferred
    val exNonInf = statementKey(existing
        .filter(col("stype") =!= GraftStore.STYPE_INFERRED)
        .select("s", "p", "o", "g")).select("__k")
    val novel = tripleKey(statementKey(quads).dropDuplicates("__k"))
      .join(exNonInf, Seq("__k"), "left_anti")
    val fresh =
      if (!mayInf) novel.withColumn("__conf", lit(false))
      else {
        val infK3 = tripleKey(existing
            .filter(col("stype") === GraftStore.STYPE_INFERRED).select("s", "p", "o"))
          .select("__k3").dropDuplicates("__k3").withColumn("__conf", lit(true))
        novel.join(infK3.withColumnRenamed("__conf", "__c0"), Seq("__k3"), "left")
          .withColumn("__conf", coalesce(col("__c0"), lit(false)))
      }
    // commit the delta (CommitOp analog): materializing the delta-sized frame keeps
    // every downstream query plan simple — parquet ∪ committed rows, not a re-planned
    // anti-join pipeline per action
    val committedPlus = fresh
      .withColumn("stype", lit(GraftStore.STYPE_EXPLICIT).cast("byte"))
      .select(col("p")("id").as("p_id"), col("s"),
        col("p"), col("o"), col("g"), col("stype"), col("__conf"))
      .localCheckpoint()
    val committed = committedPlus.drop("__conf")
    val conflictK3 = committedPlus.filter(col("__conf")).select(
      xxhash64(col("s")("id"), col("p")("id"), col("o")("id")).as("__k3"))
    // count, not isEmpty: same single action, and it sizes the broadcast hint
    // (a bulk upgrade past broadcastable size falls back to Catalyst's choice)
    val nConflict = if (mayInf) conflictK3.count() else 0L
    val hasConflict = nConflict > 0L
    def bcConf(df: DataFrame): DataFrame =
      if (nConflict <= BC_KEY_ROWS) broadcast(df) else df
    pids match {
      case Some(ps) =>
        // partition-keyed layout: the touched partitions' segments are replaced
        // wholesale (slice ∪ committed, minus superseded Inferred copies on an
        // upgrade); untouched partitions keep their pruned parquet scans. The
        // superseded-copy drop is a LAZY delta tombstone (broadcast anti-join
        // over committed keys) counted against the segment's layer bound.
        val sliceNew0 =
          if (!hasConflict) DfOps.reid(existing).unionByName(committed)
          else DfOps.reid(existing.filter(col("stype") =!= GraftStore.STYPE_INFERRED))
            .unionByName(
              tripleKey(DfOps.reid(existing
                  .filter(col("stype") === GraftStore.STYPE_INFERRED)))
                .join(bcConf(conflictK3), Seq("__k3"), "left_anti").drop("__k3"))
            .unionByName(committed)
        val sliceNew = sliceNew0.select(GraftStore.columns.map(col): _*)
        val layers = lay.layersAt(ps) + 1
        val (frame2, layers2) =
          if (layers >= FOLD_LAYERS) (DfOps.freshLeaf(sliceNew), 0)
          else (sliceNew, layers)
        (store.withLayout(lay.replace(ps, frame2, layers2),
          hint = Some(mayInf), gdelta = Some(ps.toSet)), committed)
      case None =>
        // pathological delta (>1000 predicates): legacy full-store path
        val base =
          if (!hasConflict) store.statements
          else {
            val inf = store.statements.filter(col("stype") === GraftStore.STYPE_INFERRED)
            store.statements.filter(col("stype") =!= GraftStore.STYPE_INFERRED)
              .unionByName(tripleKey(inf)
                .join(bcConf(conflictK3), Seq("__k3"), "left_anti").drop("__k3")
                .localCheckpoint())
          }
        (store.withStatements(base.unionByName(committed)), committed)
    }
  }

  /** Bare (graph-less) delete quads are a CONTEXT WILDCARD: they remove the matching
    * triple from every graph, not just the default graph — the reference's quad-mode
    * `removeStatements(s, p, o, c=null)` contract (and what makes DELETE WHERE over
    * union-default-graph solutions actually remove what it matched).
    */
  private def delete(store: GraftStore, quads: DataFrame,
                     pids0: Option[Seq[Long]] = None): GraftStore =
    deleteCapture(store, quads, pids0)._1

  /** delete() that also returns the rows actually purged (any stype, with
    * their real graph) — the TM retraction buffer. The purged frame stays
    * lazy; non-TM callers never pay for it.
    *
    * The retraction applies as a LAZY delta tombstone over the touched
    * partitions' layout segments: the victim keys are committed (freshLeaf, so
    * the anti-join right sides are delta leaves and `Rdfs.tombstoneDepth`
    * classifies the store as at rest), but the partition rows are NOT
    * rewritten — a delete costs O(delta), and the segment folds (partition-
    * sized) only when its layer count passes FOLD_LAYERS.
    */
  private def deleteCapture(store: GraftStore, quads: DataFrame,
                            pids0: Option[Seq[Long]] = None): (GraftStore, DataFrame) = {
    def tripleKey(df: DataFrame): DataFrame =
      df.withColumn("__k3", xxhash64(col("s")("id"), col("p")("id"), col("o")("id")))
    val victims0 = DfOps.freshLeaf(statementKey(quads.filter(col("g").isNotNull))
      .select("__k").dropDuplicates())
    val tripleVictims0 = DfOps.freshLeaf(tripleKey(quads.filter(col("g").isNull))
      .select("__k3").dropDuplicates())
    // broadcast hints only while the victim sets are broadcast-sized (counts
    // on the checkpointed key frames are metadata-cheap); a bulk DELETE WHERE
    // delta falls back to Catalyst's join choice instead of a forced broadcast
    def bcIfSmall(df: DataFrame): DataFrame =
      if (df.count() <= BC_KEY_ROWS) broadcast(df) else df
    val victims = bcIfSmall(victims0)
    val tripleVictims = bcIfSmall(tripleVictims0)
    def purge(df: DataFrame): DataFrame =
      tripleKey(statementKey(df))
        .join(victims, Seq("__k"), "left_anti")
        .join(tripleVictims, Seq("__k3"), "left_anti")
        .drop("__k", "__k3")
    // complement of purge: rows hit by a graph-specific victim, plus rows hit
    // by a wildcard triple victim (anti on __k first so a row matching both
    // appears once)
    def purged(df: DataFrame): DataFrame = {
      val k = tripleKey(statementKey(df))
      k.join(victims, Seq("__k"), "left_semi")
        .unionByName(k.join(victims, Seq("__k"), "left_anti")
          .join(tripleVictims, Seq("__k3"), "left_semi"))
        .drop("__k", "__k3")
    }
    pids0.orElse(deltaPids(quads)) match {
      case Some(ps) =>
        val lay = store.layout
        val hit = lay.slice(ps)
        val frame0 = purge(hit).select(GraftStore.columns.map(col): _*)
        val layers = lay.layersAt(ps) + 1
        val (frame2, layers2) =
          if (layers >= FOLD_LAYERS) (DfOps.freshLeaf(frame0), 0)
          else (frame0, layers)
        (store.withLayout(lay.replace(ps, frame2, layers2),
          hint = Some(store.mayHaveInferred), gdelta = Some(ps.toSet)), purged(hit))
      case None =>
        val kept = purge(store.statements)
        (store.withStatements(kept.select(GraftStore.columns.map(col): _*)),
          purged(store.statements))
    }
  }
}
