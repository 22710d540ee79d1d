package graft.inference

import graft.model.{GraftStore, Term}
import graft.engine.TermIds
import graft.engine.DfOps.collectAtMost
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.functions._

/** RDFS forward-chaining closure — the FastClosure strategy.
  *
  * The reference offers two rule programs (`rdf/rules/FullClosure.java` = generic
  * fixpoint, `rdf/rules/FastClosure.java` = staged): FastClosure first computes the
  * *schema-level* closures (subClassOf/subPropertyOf transitive closure — tiny,
  * vocabulary-sized) and then derives instance-level entailments in a fixed small number
  * of single-pass joins. That shape is exactly right for Spark at scale: the schema
  * closures are collected to the driver (bounded by vocabulary size, not data size) and
  * broadcast, so every instance-level rule is ONE map-side broadcast join over the
  * statements — no iterative shuffling of the 100 TB fact table.
  *
  * Rules: rdfs5/rdfs11 (schema transitivity, driver-side), rdfs7 (subPropertyOf
  * entailment), rdfs2/rdfs3 (domain/range), rdfs9 (subClassOf type propagation).
  * Entailments get `StatementEnum.Inferred` (rdf/model/StatementEnum.java:42-59).
  */
object Rdfs {

  /** Bump when closure SEMANTICS change — keys the on-disk at-rest closed-store
    * cache (SparkEntry.closedStore) so a stale materialization is never reused.
    */
  val CLOSURE_VERSION = 2 // r13: sameAs substitution closes the full orbit

  val OWL = "http://www.w3.org/2002/07/owl#"
  val OWL_SAMEAS: String = OWL + "sameAs"
  val OWL_INVERSEOF: String = OWL + "inverseOf"
  val OWL_TRANSITIVE: String = OWL + "TransitiveProperty"
  val OWL_EQCLASS: String = OWL + "equivalentClass"
  val OWL_EQPROP: String = OWL + "equivalentProperty"
  val OWL_SYMMETRIC: String = OWL + "SymmetricProperty"
  val OWL_FUNCTIONAL: String = OWL + "FunctionalProperty"
  val OWL_INVFUNCTIONAL: String = OWL + "InverseFunctionalProperty"
  val OWL_RESTRICTION: String = OWL + "Restriction"
  val OWL_ONPROPERTY: String = OWL + "onProperty"
  val OWL_HASVALUE: String = OWL + "hasValue"

  private val typeId = TermIds.iriId(Term.RDF_TYPE)
  private val subClassId = TermIds.iriId(Term.RDFS_SUBCLASSOF)
  private val subPropId = TermIds.iriId(Term.RDFS_SUBPROPERTYOF)
  private val domainId = TermIds.iriId(Term.RDFS_DOMAIN)
  private val rangeId = TermIds.iriId(Term.RDFS_RANGE)
  private val sameAsId = TermIds.iriId(OWL_SAMEAS)
  private val inverseOfId = TermIds.iriId(OWL_INVERSEOF)
  private val transitiveId = TermIds.iriId(OWL_TRANSITIVE)
  private val eqClassId = TermIds.iriId(OWL_EQCLASS)
  private val eqPropId = TermIds.iriId(OWL_EQPROP)
  private val symmetricId = TermIds.iriId(OWL_SYMMETRIC)
  private val functionalId = TermIds.iriId(OWL_FUNCTIONAL)
  private val invFunctionalId = TermIds.iriId(OWL_INVFUNCTIONAL)
  private val restrictionId = TermIds.iriId(OWL_RESTRICTION)
  private val onPropertyId = TermIds.iriId(OWL_ONPROPERTY)
  private val hasValueId = TermIds.iriId(OWL_HASVALUE)
  /** The property-characteristic and restriction marker classes. */
  private val markIds = Seq(transitiveId, symmetricId, functionalId,
    invFunctionalId, restrictionId)

  /** Vocabulary-sized (term, term) pair frame for broadcast rule joins. */
  private def pairsDf(spark: SparkSession,
                      pairs: Seq[(Row, Row)], an: String, bn: String): DataFrame = {
    val termType = Term.schema
    val rows = pairs.map { case (a, b) => Row(a, b) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField(an, termType),
        StructField(bn, termType))))
  }

  /** Driver-side transitive closure of a vocabulary-sized relation. */
  private def transitiveRows(rows: Array[(Row, Row)]): Seq[(Row, Row)] = {
    val adj = rows.groupBy(p => idOf(p._1))
    val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    val rep = scala.collection.mutable.HashMap.empty[Long, Row]
    rows.foreach { case (a, b) => rep(idOf(a)) = a; rep(idOf(b)) = b }
    def dfs(start: Long): Unit = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var frontier = List(start)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Array.empty[(Row, Row)])
          .map(p => idOf(p._2))).filterNot(seen)
        next.foreach { m => seen += m; out += ((start, m)) }
        frontier = next
      }
    }
    rows.map(p => idOf(p._1)).distinct.foreach(dfs)
    out.toSeq.map { case (a, b) => (rep(a), rep(b)) }
  }

  private def idOf(r: Row): Long = r.getAs[Long]("id")

  /** A frame of Long columns `names` over driver-minted rows. */
  private def longFrame(spark: SparkSession, rows: org.apache.spark.rdd.RDD[Row],
                        names: String*): DataFrame =
    spark.createDataFrame(rows, StructType(names.map(StructField(_, LongType))))

  /** (s, p, o) id keys `__sk`/`__pk`/`__ok`: 24-byte join keys, not term structs. */
  private def keyed(df: DataFrame): DataFrame = df
    .withColumn("__sk", col("s")("id")).withColumn("__pk", col("p")("id"))
    .withColumn("__ok", col("o")("id"))
  private def dedup(df: DataFrame): DataFrame =
    keyed(df).dropDuplicates("__sk", "__pk", "__ok").drop("__sk", "__pk", "__ok")
  /** The (p_id, a, b) id triples of fact frame `facts` in predicates `pids`. */
  private def idTriples(facts: DataFrame, pids: Seq[Long]): DataFrame =
    facts.filter(col("p_id").isin(pids: _*))
      .select(col("p_id"), col("s")("id").as("a"), col("o")("id").as("b"))
  /** The (a, b) id pairs of (s, o). */
  private def abIds(df: DataFrame): DataFrame =
    df.select(col("s")("id").as("a"), col("o")("id").as("b"))
  /** (s, p, o) with the predicate's id as `p_id`, the fact frames' shape. */
  private def withPid(df: DataFrame): DataFrame =
    df.select(col("s"), col("p"), col("o"), col("p")("id").as("p_id"))

  /** Empty (s, p, o) frame. A fresh LocalRelation, not `facts.limit(0)`: an
    * empty frame sharing the fact scan's attribute ids poisons the
    * sibling-union constraint rewrite.
    */
  private def emptySpo(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq("s", "p", "o").map(n =>
        StructField(n, Term.schema))))

  private type Pairs = Seq[(Row, Row)]

  /** Pairs of `a` not in `b`, compared by (id, id). */
  private def minusPairs(a: Pairs, b: Pairs): Pairs = {
    val bIds = b.map(p => (idOf(p._1), idOf(p._2))).toSet
    a.filterNot(p => bIds((idOf(p._1), idOf(p._2))))
  }
  private def uniqPairs(ps: Pairs): Pairs =
    ps.map(p => (idOf(p._1), idOf(p._2)) -> p).toMap.values.toSeq

  /** The rdfs5/11 schema statements and the owl equivalence swaps as (s, p, o). */
  private def schemaStmts(spark: SparkSession, sc: Pairs, sp: Pairs,
                          eqcSwap: Pairs, eqpSwap: Pairs): DataFrame =
    Seq((sc, Term.RDFS_SUBCLASSOF), (sp, Term.RDFS_SUBPROPERTYOF),
        (eqcSwap, OWL_EQCLASS), (eqpSwap, OWL_EQPROP))
      .collect { case (ps, pred) if ps.nonEmpty =>
        pairsDf(spark, ps, "s", "o").select(col("s"), Term.iri(pred).as("p"), col("o")) }
      .reduceOption(_.unionByName(_)).getOrElse(emptySpo(spark))

  // ---- the staged rule program ----
  // closure(), deltaDerive and rederive run the same rules in the same stage
  // order; each driver only chooses the premise frame a stage reads. DRed
  // (Gupta, Mumick and Subrahmanian, SIGMOD 1993) is correct only when its
  // delete and re-derive passes apply exactly the materializer's rules.

  /** The schema relation a rule reads. */
  private sealed trait Rel
  private object Rel {
    case object SubProp extends Rel
    case object Inverse extends Rel
    case object Symmetric extends Rel
    case object HasValue extends Rel
    case object Domain extends Rel
    case object Range extends Rel
    case object SubClass extends Rel
  }

  /** An ordinary rule as data. Premises are either the rows of the
    * relation's key predicates (`byType = false`, selected by `p_id`) or the
    * rdf:type rows of its key classes (`byType = true`, selected by `o.id`).
    * The conclusion takes its subject from premise column `s`, its predicate
    * from column `p` (None: rdf:type) and its object from column `o`; the
    * relation contributes `q` (and `v` for hasValue). `resourceObj` drops
    * premises with a literal object.
    */
  private final case class Rule(rel: Rel, byType: Boolean,
                                s: String, p: Option[String], o: String,
                                resourceObj: Boolean)

  // (x p y), p ⊑* q → (x q y)
  private val rdfs7 = Rule(Rel.SubProp, byType = false, "s", Some("q"), "o", resourceObj = false)
  // RuleOwlInverseOf1/2: (x p y), p inverseOf q (either direction) → (y q x)
  private val inverseOf = Rule(Rel.Inverse, byType = false, "o", Some("q"), "s", resourceObj = true)
  // RuleOwlSymmetricProperty: (x p y), p symmetric → (y p x)
  private val symmetric = Rule(Rel.Symmetric, byType = false, "o", Some("q"), "s", resourceObj = true)
  // RuleOwlHasValue: (x type a), a onProperty p, a hasValue v → (x p v)
  private val hasValue = Rule(Rel.HasValue, byType = true, "s", Some("q"), "v", resourceObj = false)
  // rdfs2: (x p y), p domain c → (x type c)
  private val rdfs2 = Rule(Rel.Domain, byType = false, "s", None, "q", resourceObj = false)
  // rdfs3: (x p y), p range c → (y type c)
  private val rdfs3 = Rule(Rel.Range, byType = false, "o", None, "q", resourceObj = true)
  // rdfs9: (x type a), a ⊑* b → (x type b)
  private val rdfs9 = Rule(Rel.SubClass, byType = true, "s", None, "q", resourceObj = false)

  /** Rules that read one premise frame. A `lateOnly` stage reads only the
    * conclusions of the late stages before it, not every fact.
    */
  private final case class Stage(rules: Seq[Rule], lateOnly: Boolean = false)

  /** The stage order, defined once: the early stages, then the transitive
    * fixpoint and the sameAs substitution (bespoke in each driver), then the
    * late stages. Each stage's conclusions join the premises of every later
    * stage. Domain and range share a stage: neither reads the other's types.
    * hasValue fires twice; the second firing reads only the types the late
    * stages derived (SCALE.md §OWL has the cascades this leaves staged).
    */
  private val earlyStages: Seq[Stage] = Seq(
    Stage(Seq(rdfs7)), Stage(Seq(inverseOf)), Stage(Seq(symmetric)), Stage(Seq(hasValue)))
  private val lateStages: Seq[Stage] = Seq(
    Stage(Seq(rdfs2, rdfs3)), Stage(Seq(rdfs9)), Stage(Seq(hasValue), lateOnly = true))

  /** The vocabulary-sized schema relations the rules read: (premise key,
    * conclusion term) pairs unique by id, sp and sc transitively closed, inv
    * in both directions, sym as (p, p); `hv` holds the hasValue restrictions
    * (restriction class id, onProperty, hasValue).
    */
  private final case class RuleSchema(sp: Pairs, inv: Pairs, sym: Pairs,
      dom: Pairs, rng: Pairs, sc: Pairs, hv: Seq[(Long, Row, Row)]) {
    private def pairs(rel: Rel): Pairs = rel match {
      case Rel.SubProp => sp
      case Rel.Inverse => inv
      case Rel.Symmetric => sym
      case Rel.Domain => dom
      case Rel.Range => rng
      case Rel.SubClass => sc
      case Rel.HasValue => Nil
    }
    def has(rel: Rel): Boolean =
      if (rel == Rel.HasValue) hv.nonEmpty else pairs(rel).nonEmpty
    def nonEmpty: Boolean =
      Seq(sp, inv, sym, dom, rng, sc).exists(_.nonEmpty) || hv.nonEmpty
    def keys(rel: Rel): Seq[Long] =
      (if (rel == Rel.HasValue) hv.map(_._1) else pairs(rel).map(p => idOf(p._1))).distinct
    /** The predicates a rule's premises live in. */
    def premisePids(rule: Rule): Seq[Long] =
      if (!has(rule.rel)) Nil else if (rule.byType) Seq(typeId) else keys(rule.rel)
    /** Broadcast frame: key `k` → conclusion term `q` (hasValue: `q`, `v`). */
    def frame(spark: SparkSession, rel: Rel): DataFrame =
      if (rel == Rel.HasValue) {
        spark.createDataFrame(
          spark.sparkContext.parallelize(hv.map { case (a, p, v) => Row(a, p, v) }, 1),
          StructType(Seq(StructField("k", LongType),
            StructField("q", Term.schema), StructField("v", Term.schema))))
      } else pairsDf(spark, pairs(rel), "a", "q").select(col("a")("id").as("k"), col("q"))
    /** Only the pairs whose conclusion can land in `preds` (predicate-valued
      * conclusions) or `classes` (type conclusions); None keeps all.
      */
    def restrict(preds: Option[Set[Long]], classes: Option[Set[Long]]): RuleSchema = {
      def by(ps: Pairs, ids: Option[Set[Long]]) = ids.fold(ps)(s => ps.filter(p => s(idOf(p._2))))
      RuleSchema(by(sp, preds), by(inv, preds), by(sym, preds),
        by(dom, classes), by(rng, classes), by(sc, classes),
        preds.fold(hv)(s => hv.filter(r => s(idOf(r._2)))))
    }
    def minus(o: RuleSchema): RuleSchema = {
      val hvIds = o.hv.map(r => (r._1, idOf(r._2), idOf(r._3))).toSet
      RuleSchema(minusPairs(sp, o.sp), minusPairs(inv, o.inv), minusPairs(sym, o.sym),
        minusPairs(dom, o.dom), minusPairs(rng, o.rng), minusPairs(sc, o.sc),
        hv.filterNot(r => hvIds((r._1, idOf(r._2), idOf(r._3)))))
    }
  }
  private object RuleSchema {
    def of(v: Vocab, symProps: Array[Row]): RuleSchema = {
      def closed(base: Array[(Row, Row)]): Pairs = uniqPairs(base ++ transitiveRows(base))
      RuleSchema(sp = closed(v.sp), inv = uniqPairs(v.inv ++ v.inv.map(_.swap)),
        sym = uniqPairs(symProps.map(r => (r, r))),
        dom = uniqPairs(v.dom), rng = uniqPairs(v.rng), sc = closed(v.sc),
        hv = v.restrictions)
    }
  }

  /** Fire one rule: the premises pruned to the relation's keys (the filter
    * reaches the parquet scan: partition pruning for `p_id`, row-group
    * skipping for rdf:type rows by `o.id`), joined to the broadcast relation,
    * projected to (s, p, o).
    */
  private def fire(spark: SparkSession, rule: Rule,
                   premises: DataFrame, schema: RuleSchema): DataFrame = {
    val keys = schema.keys(rule.rel)
    val (sel, key) =
      if (rule.byType)
        (premises.filter(col("p_id") === typeId && col("o")("id").isin(keys: _*)),
          col("o")("id"))
      else (premises.filter(col("p_id").isin(keys: _*)), col("p_id"))
    val joined = sel.join(broadcast(schema.frame(spark, rule.rel)), key === col("k"))
    (if (rule.resourceObj) joined.filter(col("o")("kind") =!= Term.KIND_LITERAL) else joined)
      .select(col(rule.s).as("s"), rule.p.fold(Term.iri(Term.RDF_TYPE))(col).as("p"),
        col(rule.o).as("o"))
  }

  /** Fire a stage's rules that have schema pairs, each over `premises(rule)`. */
  private def fireStage(spark: SparkSession, stage: Stage,
                        schema: RuleSchema)(premises: Rule => DataFrame): Option[DataFrame] =
    stage.rules.filter(r => schema.has(r.rel))
      .map(r => fire(spark, r, premises(r), schema))
      .reduceOption(_.unionByName(_))

  // ---- the non-local families ----
  // The transitive fixpoint, sameAs classes and FP/IFP minting are not rules
  // of the staged program: each runs on id pairs and re-attaches terms. Each
  // step below has ONE definition, which closure(), the delta passes and the
  // class diff compose; callers pass frames that already carry their hints,
  // and every helper returns a lazy frame.

  /** sameAs subject arm (RuleOwlSameAs2) through `alias` (xid → alias). */
  private def subjSub(facts: DataFrame, alias: DataFrame): DataFrame =
    facts.join(alias, col("s")("id") === col("xid"))
      .select(col("alias").as("s"), col("p"), col("o"))
  /** sameAs object arm (RuleOwlSameAs3), resource objects only; renamed so a
    * second join to the same map stays unambiguous.
    */
  private def objSub(facts: DataFrame, alias: DataFrame): DataFrame =
    facts.filter(col("o")("kind") =!= Term.KIND_LITERAL)
      .join(alias.withColumnRenamed("alias", "alias2").withColumnRenamed("xid", "yid"),
        col("o")("id") === col("yid"))
      .select(col("s"), col("p"), col("alias2").as("o"))

  /** The substitutions a changed alias set `delta` (lost or gained pairs)
    * removes or adds: the two one-sided arms. The both-sided orbit members
    * need no arm of their own: `deltaDerive`'s sameAs stage re-substitutes
    * this output through the same full alias map.
    */
  private def sameAsDeltaArms(facts: DataFrame, delta: DataFrame): Seq[DataFrame] =
    Seq(subjSub(facts, delta), objSub(facts, delta))

  /** The non-sameAs facts of class members `ids`. Member facts span every
    * predicate partition (no p_id pruning possible), so when the members are
    * few ONE pre-filtered, committed slice replaces a full pass per arm.
    */
  private def memberFacts(facts: DataFrame, ids: Seq[Long]): DataFrame =
    if (ids.size > 2048)
      facts.filter(col("p_id") =!= sameAsId).select(col("s"), col("p"), col("o"))
    else graft.engine.DfOps.freshLeaf(
      facts.filter(col("p_id") =!= sameAsId &&
          (col("s")("id").isin(ids: _*) || col("o")("id").isin(ids: _*)))
        .select(col("s"), col("p"), col("o")))

  /** All ordered pairs of distinct members of each class (`component`,
    * member id `nid`, any payload); column c comes out as `c_x` and `c_y`.
    */
  private def classPairs(members: DataFrame): DataFrame = {
    def side(t: String): DataFrame = members.select(members.columns.toSeq.map(c =>
      if (c == "component") col(c) else col(c).as(s"${c}_$t")): _*)
    side("x").join(side("y"), Seq("component")).filter(col("nid_x") =!= col("nid_y"))
  }

  /** FP/IFP premises as (g, k, v): FP keys on the subject with a resource
    * object as value, IFP on the object with the subject; `g` is the group.
    */
  private def fpKeyed(facts: DataFrame, functional: Boolean, g: Column): DataFrame =
    if (functional) facts.filter(col("o")("kind") =!= Term.KIND_LITERAL)
      .select(g.as("g"), col("s")("id").as("k"), col("o").as("v"))
    else facts.select(g.as("g"), col("o")("id").as("k"), col("s").as("v"))

  /** Minted sameAs pairs (b, c), b ≠ c by `id`: a self-join keyed on (g, k),
    * shuffling only the FP/IFP premises, linear in their count.
    */
  private def fpPairs(kv: DataFrame, id: Column => Column): DataFrame =
    kv.select(col("g"), col("k"), col("v").as("b"))
      .join(kv.select(col("g"), col("k"), col("v").as("c")), Seq("g", "k"))
      .filter(id(col("b")) =!= id(col("c")))
      .select(col("b"), col("c"))

  /** The subject and object terms of `facts` as node frames (column `n`). */
  private def ends(facts: DataFrame): Seq[DataFrame] =
    Seq(facts.select(col("s").as("n")), facts.select(col("o").as("n")))
  /** Node dictionary (n, nid) over node frames, one row per id. */
  private def nodeDict(nodes: DataFrame*): DataFrame =
    nodes.reduce(_.unionByName(_)).withColumn("nid", col("n")("id")).dropDuplicates("nid")
  /** Re-attach terms: each (id column → term column) joins the dictionary. */
  private def withTerms(ids: DataFrame, dict: DataFrame, cols: (String, String)*): DataFrame =
    cols.foldLeft(ids) { case (df, (id, as)) =>
      df.join(dict.select(col("nid").as(id), col("n").as(as)), Seq(id))
    }

  /** Transitive id triples (p_id, `a`, `b`) back to (s, p, o) terms. */
  private def transSpo(spark: SparkSession, ids: DataFrame,
                       dict: DataFrame, props: Seq[Row], a: String, b: String): DataFrame = {
    val pDict = pairsDf(spark, props.map(r => (r, r)), "pt", "pt2")
      .select(col("pt")("id").as("p_id"), col("pt").as("pterm")).dropDuplicates("p_id")
    withTerms(ids, dict, a -> "s", b -> "o")
      .join(broadcast(pDict), Seq("p_id"))
      .select(col("s"), col("pterm").as("p"), col("o"))
  }

  /** (s, p, o) conclusions as Inferred statements in the default graph. */
  private def asInferred(spo: DataFrame): DataFrame =
    GraftStore.assemble(spo
      .withColumn("g", Term.nullTerm)
      .withColumn("stype", lit(GraftStore.STYPE_INFERRED).cast("byte")))
  private val spoKey = Seq("__sk", "__pk", "__ok")
  private def spoKeys(df: DataFrame): DataFrame = keyed(df).select(spoKey.map(col): _*)

  /** The keys of `probe` present in `facts`: the scan, pruned to `pids`
    * (None: all), SEMI-joins the broadcast probe keys and the delta-sized hit
    * set is committed — the store is scanned, never shuffled.
    */
  private def presentKeys(facts: DataFrame, pids: Option[Seq[Long]],
                          probe: DataFrame): DataFrame =
    graft.engine.DfOps.freshLeaf(
      spoKeys(pids.fold(facts)(ps => facts.filter(col("p_id").isin(ps: _*)))
          .select("s", "p", "o"))
        .join(broadcast(probe.select(spoKey.map(col): _*)), spoKey, "left_semi"))

  /** Truth maintenance (rdf/inf/TruthMaintenance.java): after retraction of explicit
    * statements, drop ALL materialized entailments and re-run the closure from the
    * remaining Explicit+Axiom statements. The reference computes incremental
    * retraction proofs against its indexes; at rest in columnar storage the
    * recompute is a bounded number of broadcast joins (FastClosure) and is always
    * correct — no proof bookkeeping to maintain.
    */
  def truthMaintain(store: GraftStore): GraftStore =
    closure(store.withStatements(
      store.statements.filter(col("stype") =!= GraftStore.STYPE_INFERRED)))

  /** Is the store's entailment table AT REST (a scan — parquet, checkpoint
    * blocks, committed deltas — rather than a lazy derivation pipeline)? The
    * delta TM path probes the inferred rows several times; against a lazy
    * closure plan each probe would re-evaluate the derivation joins, making
    * the "incremental" path slower than the full recompute (which rebuilds
    * from cheap pruned parquet). Joins/aggregates in the inferred rows' plan
    * mean un-materialized derivations → route to the fixpoint recompute.
    */
  def inferredAtRest(store: GraftStore): Boolean =
    tombstoneDepth(store).isDefined

  /** None = not at rest (derivation joins/aggregates in the inferred plan);
    * Some(n) = at rest with n stacked delta-tombstone layers. A LEFT ANTI /
    * LEFT SEMI join whose right side reads only committed delta leaves
    * (LogicalRDD / LocalRelation — checkpointed retraction keys) is a
    * TOMBSTONE, not a derivation: probing through it costs one broadcast of
    * a delta-sized frame, so the store still counts as at rest. Mutations
    * therefore stay O(delta) — the delta TM result leaves the touched
    * partitions lazy behind tombstones instead of rewriting them — and the
    * TM pass compacts (commits the touched partitions) only when the stack
    * passes its depth bound. INNER joins (rule derivations) and aggregates
    * still mean a lazy closure pipeline → full recompute.
    *
    * Known approximation (accepted): "leaf is LogicalRDD" conflates
    * MATERIALIZED with DELTA-SIZED — a store-scale checkpoint reused as an
    * anti-join right side would still classify as a tombstone. Every right
    * side OUR mutation paths construct is a freshLeaf'd delta key frame, and
    * layout stores additionally track genuine rewrite layers explicitly
    * (LayoutSeg.layers, bounded at write time), so the approximation is only
    * reachable from hand-built store plans.
    */
  private[graft] def tombstoneDepth(store: GraftStore): Option[Int] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LocalRelation}
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.LogicalRDD
    val plan = store.statements
      .filter(col("stype") === GraftStore.STYPE_INFERRED)
      .queryExecution.optimizedPlan
    def deltaLeaf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collectLeaves().forall {
        case _: LogicalRDD | _: LocalRelation => true
        case _ => false
      }
    var tombs = 0
    var bad = false
    plan.foreach {
      case _: Aggregate => bad = true
      case j: Join
        if (j.joinType == LeftAnti || j.joinType == LeftSemi) && deltaLeaf(j.right) =>
        tombs += 1
      case _: Join => bad = true
      case _ => ()
    }
    if (bad) None else Some(tombs)
  }

  /** Commit the store's materialized entailments: checkpoint the Inferred rows
    * so later queries (and delta truth maintenance) read a table instead of
    * re-evaluating the derivation pipeline — the at-rest posture in-session.
    * (GraftStore.save achieves the same durably.)
    */
  def materialize(store: GraftStore): GraftStore =
    if (inferredAtRest(store)) store
    else graft.engine.DfOps.noConstraints(store.spark)(store.withStatements(
      store.statements.filter(col("stype") =!= GraftStore.STYPE_INFERRED)
        .unionByName(store.statements
          .filter(col("stype") === GraftStore.STYPE_INFERRED).localCheckpoint())))

  /** Which TM path the last Update.withTruthMaintenance took ("delta" |
    * "full" | "none") — test/diagnostic instrumentation only. Thread-local:
    * every reader (TmAB, the TM suites) inspects it on the thread
    * that just performed the update, and suites now run concurrently in one
    * test JVM — a process-global would race across suites.
    */
  private val lastTmPathTl: ThreadLocal[String] =
    ThreadLocal.withInitial(() => "none")
  def lastTmPath: String = lastTmPathTl.get()
  def lastTmPath_=(v: String): Unit = lastTmPathTl.set(v)

  /** Test hooks for the `graft.tm.*` valves (deltaCap, cone.driverMax,
    * sa.driverMax, sa.pairCap): the TM suites force specific code paths by
    * shrinking a valve for one scenario. Thread-confined, because suites run
    * concurrently in one JVM and the valves are read on the mutating thread
    * (driver-side plan construction). There is no process-wide setting; the
    * defaults are constants.
    */
  private val tmPropsTl: ThreadLocal[Map[String, String]] =
    ThreadLocal.withInitial(() => Map.empty[String, String])
  def withTmProps[A](kv: (String, String)*)(f: => A): A = {
    val prev = tmPropsTl.get()
    tmPropsTl.set(prev ++ kv)
    try f finally tmPropsTl.set(prev)
  }
  private def tmLong(name: String, default: Long): Long =
    tmPropsTl.get().get(name).map(_.toLong).getOrElse(default)

  /** sameAs delta state for truthMaintainDelta: alias maps (xid → alias term;
    * OLD for the over-delete pass, NEW for re-derivation and the insert side)
    * plus the class-diff products when the delta touched sameAs edges.
    */
  private final case class SaDelta(
      aliasOld: DataFrame, aliasNew: DataFrame,
      lostTaint: Option[DataFrame], addSpo: Option[DataFrame],
      addAlias: Option[DataFrame], promSpo: Option[DataFrame])

  /** DELTA-RESTRICTED truth maintenance (DRed, delete-rederive): instead of the
    * drop-all + full-closure recompute above, propagate the retraction through
    * the rule program to an over-approximate SUSPECT set (entailments with ≥1
    * derivation touching the delta), then re-derive suspects against the
    * remaining facts under the new schema; suspects that fail re-derivation are
    * retracted. Every scan is pruned to the delta's predicates or semi-joined by
    * the (broadcast, delta-sized) suspect keys, so a small DELETE costs
    * O(affected partitions), not O(corpus) — the reference computes the same
    * incremental retraction with proof bookkeeping (`rdf/inf/TruthMaintenance
    * .java:1`); at rest in columnar storage the taint/re-derive joins replace
    * the proofs. The insert side of a Modify runs the SAME staged delta pass
    * forward (added facts/schema as taint) so mixed updates stay incremental.
    *
    * Returns None when the delta interacts with the non-local rule families —
    * sameAs/FP/IFP equivalence classes, transitive-property reachability, or
    * restriction/characteristic re-declarations — where only the fixpoint
    * recompute is safely incremental; the caller falls back to truthMaintain.
    */
  def truthMaintainDelta(next: GraftStore,
                         removed0: DataFrame, added0: DataFrame): Option[GraftStore] =
    graft.engine.DfOps.noConstraints(next.spark)(
      truthMaintainDeltaImpl(next, removed0, added0))

  // ---- the truth-maintenance phases ----
  // Each phase reads the values the earlier ones produced and either goes on
  // (Right) or ends the pass (Left): Left(None) routes the update to the
  // recompute, Left(Some(store)) is the result.
  private type Phase[A] = Either[Option[GraftStore], A]
  private val recompute: Phase[Nothing] = Left(None)

  private def truthMaintainDeltaImpl(next: GraftStore,
                         removed0: DataFrame, added0: DataFrame): Option[GraftStore] =
    (for {
      d <- probeDelta(next, removed0, added0)
      s = schemaDiff(d)
      f <- feederGates(d, s)
      cone <- transitiveCone(d, s, f)
      sa <- sameAsClassDiff(d, s, f)
      sus <- overDelete(d, s, cone, sa)
    } yield {
      val loss = applyLoss(d, rederiveSuspects(d, s, f, cone, sa, sus))
      applyLayout(d, loss, insertSide(d, s, cone, sa, loss))
    }).fold(identity, Some(_))

  /** Phase 1's product: the delta, committed once, and what its probe found. */
  private final case class TmDelta(next: GraftStore, delta0: DataFrame,
                                   pids: Set[Long], markRows: Array[Row]) {
    def spark: SparkSession = next.spark
    val removed: DataFrame = delta0.filter(col("__r")).drop("__r")
    val added: DataFrame = delta0.filter(!col("__r")).drop("__r")
    // sameAs edges in the delta: handled by the equivalence-class diff pass
    // (sameAsClassDiff) — no longer an automatic recompute
    def saTouched: Boolean = pids(sameAsId)
    // The caller routes here only when the entailment table is AT REST
    // (inferredAtRest) — a committed table, not a lazy derivation pipeline —
    // so every probe reads delta- or partition-sized data directly.
    val exp: DataFrame = next.statements.filter(col("stype") =!= GraftStore.STYPE_INFERRED)
    val inf: DataFrame = next.statements.filter(col("stype") === GraftStore.STYPE_INFERRED)
    val expFacts: DataFrame = exp.select(col("s"), col("p"), col("o"), col("p_id"))
    // old facts = (remaining ∪ removed); the pre-update lazy plan is never touched
    val oldFacts: DataFrame = expFacts
      .unionByName(inf.select(col("s"), col("p"), col("o"), col("p_id")))
      .unionByName(withPid(removed))
  }

  /** Phase 1: delta probe and guards. */
  private def probeDelta(next: GraftStore,
                         removed0: DataFrame, added0: DataFrame): Phase[TmDelta] = {
    // ONE job materializes both sides of the delta (tagged union); freshLeaf
    // (not bare localCheckpoint) because the buffers often share upstream
    // lineage (a Modify's delete and insert both instantiate from one
    // solution checkpoint) and every downstream union re-splits them
    val delta0 = graft.engine.DfOps.freshLeaf(removed0
      .select(col("s"), col("p"), col("o"), col("g"), col("stype"))
      .withColumn("__r", lit(true))
      .unionByName(added0
        .select(col("s"), col("p"), col("o"), col("g"), col("stype"))
        .withColumn("__r", lit(false))))
    // delta-size valve: the retraction/novelty key sets below ride broadcast
    // hash joins sized by the delta — a bulk mutation past broadcastable size
    // is better served by the recompute (count on the checkpointed frame is
    // metadata-cheap). Tests lower it through withTmProps.
    val deltaCap = tmLong("graft.tm.deltaCap", 10000000L)

    // ---- bounded delta probes + non-local-family fallback guards ----
    // ONE probe job: the delta's predicate set AND whether it re-declares a
    // property characteristic / restriction marker (type rows with char
    // objects). An empty pid set means an empty delta — no separate
    // emptiness job.
    val isMark = col("p")("id") === typeId && col("o")("id").isin(markIds: _*)
    val pidRows = collectAtMost(delta0
      .select(col("p")("id").as("pid"), isMark.as("chr"),
        when(isMark, col("o")("id")).as("moid"),
        when(isMark, col("s")).as("mprop"),
        when(isMark, col("__r")).as("mrem"))
      .distinct(), 1001)
    if (pidRows.isEmpty) return Left(Some(next))
    val deltaPids = pidRows.map(_.getLong(0)).toSet
    if (pidRows.length > 1000) return recompute
    // delta-size valve, AFTER the pid probe: empty/tiny deltas exit above on
    // the single probe job without paying a separate count action
    if (delta0.count() > deltaCap) return recompute
    if (deltaPids(onPropertyId) || deltaPids(hasValueId))
      return recompute
    // characteristic re-declarations: TRANSITIVE marks are delta-maintainable
    // (the cone treats an en/de-declared property as a whole-property
    // effective-edge delta — see the old transitive set in schemaDiff),
    // SYMMETRIC marks land in the symmetric relation's schema diff as a (p,p)
    // pair (r15 — deltaDerive's schema arm fires it over the closure's
    // premise frame), and FP/IFP marks feed the sameAs class diff with the
    // pairs they mint (r16 — see feederGates); RESTRICTION markers re-wire
    // rule machinery the delta arms don't model → recompute
    val markRows = pidRows.filter(_.getBoolean(1))
    if (markRows.exists(r => r.getLong(2) == restrictionId))
      return recompute
    Right(TmDelta(next, delta0, deltaPids, markRows))
  }

  /** Phase 2's product: vocabulary and rule schema under both views, and
    * the old view's characteristic rows (the new view's are in `vNew`).
    */
  private final case class TmSchema(oldExp: DataFrame, newExp: DataFrame,
      vOld: Vocab, vNew: Vocab, expHasSameAs: Boolean, symOld: Array[Row],
      funcOld: Array[Row], invFuncOld: Array[Row], transOld: Array[Row]) {
    // the rule program's schema relations under each view, and their diffs
    val sOld: RuleSchema = RuleSchema.of(vOld, symOld)
    val sNew: RuleSchema = RuleSchema.of(vNew, vNew.symProps)
    val dDel: RuleSchema = sOld.minus(sNew)
    val dAdd: RuleSchema = sNew.minus(sOld)

    // FEEDER CLOSURE: the set of predicates whose facts can (through any
    // chain of rdfs7 subproperty steps and inverse/symmetric flips) become
    // facts of a target predicate. Vocabulary-sized driver fixpoint; sp is
    // already transitively closed, but sp and ib compose (r ⊑ q, inv(q)=p),
    // so the closure iterates to quiescence.
    def feederClosure(targets: Set[Long]): Set[Long] = {
      val sps = (sOld.sp ++ sNew.sp).map(p => (idOf(p._1), idOf(p._2)))
      val ibs = (sOld.inv ++ sNew.inv).map(p => (idOf(p._1), idOf(p._2)))
      var f = targets
      var grown = true
      while (grown) {
        val next = f ++ sps.collect { case (p, q) if f(q) => p } ++
          ibs.flatMap { case (p, q) => if (f(p) || f(q)) Seq(p, q) else Nil }
        grown = next.size > f.size
        f = next
      }
      f
    }
    def restrictionMintsInto(closureF: Set[Long]): Boolean =
      (vOld.restrictions ++ vNew.restrictions).exists(r => closureF(idOf(r._2)))
    def feederStates(t0: Long): Set[(Long, Boolean)] =
      feederStatesOf(t0, sNew.sp, vNew.inv, vNew.symProps)
    def feederStatesOld(t0: Long): Set[(Long, Boolean)] =
      feederStatesOf(t0, sOld.sp, vOld.inv, symOld)
  }

  /** Phase 2: vocab and schema diff. */
  private def schemaDiff(d: TmDelta): TmSchema = {
    // old-state views reconstructed from (next ∪ removed) − added: the lazy
    // pre-update plan is never re-evaluated (collectVocab needs p_id, s, o).
    // The buffers are ACTUAL deltas (insert's post-novelty rows, delete's
    // purged rows — Update.insertCapture/deleteCapture), and the subtraction
    // is keyed on (s,p,o,g) — insert novelty is per quad, so an (s,p,o)-keyed
    // anti-join would wrongly drop a pre-existing copy of the triple living
    // in another graph from the old view
    def key4(df: DataFrame): DataFrame = keyed(df)
      .withColumn("__gk", coalesce(col("g")("id"), lit(0L)))
    val newExp = d.exp.select(col("p_id"), col("s"), col("o"))
    val oldExp = key4(d.exp)
      .join(broadcast(key4(d.added).select("__sk", "__pk", "__ok", "__gk")),
        Seq("__sk", "__pk", "__ok", "__gk"), "left_anti")
      .select(col("p_id"), col("s"), col("o"))
      .unionByName(d.removed.filter(col("stype") =!= GraftStore.STYPE_INFERRED)
        .select(col("p")("id").as("p_id"), col("s"), col("o")))
    // ONE driver action: both vocab views AND the explicit-side sameAs
    // presence probe (inferred sameAs rows can only derive from explicit
    // sameAs or FP/IFP declarations, the latter guarded via the vocabs; a
    // removed-side sameAs row is already caught by the deltaPids guard above)
    val (vOld, vNew, expHasSameAs) = collectVocab2(oldExp, newExp)
    // materialized sameAs state (explicit pairs in the new view, or a delta
    // touching the sameAs partition): no longer an automatic recompute — the
    // alias map IS the at-rest all-pairs sameAs partition (Case A: classes
    // unchanged), and a sameAs-edge delta rebuilds the affected classes and
    // diffs the all-pairs sets (Case B). Interactions with the OTHER non-local
    // families (directly-touched transitive properties) still fall back in
    // feederGates, which also derives `saPresent` once the FP/IFP minted-pair
    // state is known.

    // Characteristic re-declarations (the r14/r15 mark-delta pattern,
    // generalized): collectVocab2 shares one characteristic-marker scan
    // between the views (vOld.<char>Props == vNew.<char>Props == the NEW
    // table's truth), so each OLD characteristic set derives from the mark
    // delta plus one pruned old-view probe (re-asserts and multi-graph copies
    // keep the schema unchanged).
    // SYMMETRIC: the en/de-declared property lands in the symmetric
    // relation's schema diff as a (p,p) pair, fired by deltaDerive's schema
    // arm over closure()'s premise frame for that stage. FP/IFP (r16): the
    // old/new sets gate the minted-pair class-diff work in feederGates.
    // TRANSITIVE: a newly-transitive property gets statesOld = ∅ (all its
    // effective edges are bulk-ADDED); a de-declared one gets statesNew = ∅
    // (reach collapses, rederive keeps the rdfs7/inverse copies that remain
    // derivable). Untouched properties carry over from the new view.
    def oldCharRows(charId: Long, newRows: Array[Row]): Array[Row] = {
      val mk = d.markRows.filter(_.getLong(2) == charId)
      if (mk.isEmpty) newRows
      else {
        val newIdSet = newRows.map(idOf).toSet
        val touchedP = mk.map(_.getStruct(3)).map(idOf).distinct
        val oldHas = oldExp
          .filter(col("p_id") === typeId && col("o")("id") === charId &&
            col("s")("id").isin(touchedP: _*))
          .select(col("s")("id")).distinct().collect().map(_.getLong(0)).toSet
        val oldIds = (newIdSet -- touchedP) ++ touchedP.filter(oldHas)
        val oldOnly = mk.map(_.getStruct(3))
          .filter(r => oldIds(idOf(r)) && !newIdSet(idOf(r)))
          .map(r => idOf(r) -> r).toMap.values.toArray
        newRows.filter(r => oldIds(idOf(r))) ++ oldOnly
      }
    }
    TmSchema(oldExp, newExp, vOld, vNew, expHasSameAs,
      symOld = oldCharRows(symmetricId, vNew.symProps),
      funcOld = oldCharRows(functionalId, vNew.funcProps),
      invFuncOld = oldCharRows(invFunctionalId, vNew.invFuncProps),
      transOld = oldCharRows(transitiveId, vNew.transProps))
  }

  /** Derived schema STATEMENTS (rdfs5/11 + eq swaps) in the schema diff `d`
    * from view `va` to view `vb`, lost or gained outright: the closures are
    * already transitively complete, so no re-derivation check.
    */
  private def schemaStmtsDiff(spark: SparkSession,
                              d: RuleSchema, va: Vocab, vb: Vocab): DataFrame =
    schemaStmts(spark, d.sc, d.sp,
      minusPairs(va.eqc.map(_.swap).toSeq, vb.eqc.map(_.swap).toSeq),
      minusPairs(va.eqp.map(_.swap).toSeq, vb.eqp.map(_.swap).toSeq))

  /** (source pid, flipped) states whose explicit rows are base edges of t0.
    * NOT a free backward closure: closure() materializes t-edges in a FIXED
    * stage order — rdfs7 over EXPLICIT rows only, then one inverseOf flip
    * over (explicit ∪ rdfs7 output), then one symmetric flip of t's own
    * accumulated edges. The materialized feeder grammar is therefore
    * sp* → inv? → sym(t)?. A flip BEFORE an rdfs7 copy (a symmetric feeder
    * under a subPropertyOf chain, or q inverseOf p with p ⊑ t) produces NO
    * t-edge in the materializer; admitting such states would feed phantom
    * effective edges into the delta cone and break the delta-vs-recompute
    * invariant. Enumerated exactly; driver-side, schema-sized. Computed
    * under BOTH schema views: an sp/inverseOf delta that adds or removes a
    * state turns that partition's rows into a bulk effective-edge delta
    * (see the cone's statesAdd/statesRem arms).
    */
  private def feederStatesOf(t0: Long, spC: Seq[(Row, Row)], invArr: Array[(Row, Row)],
                             syms: Array[Row]): Set[(Long, Boolean)] = {
    val sps = spC.map(p => (idOf(p._1), idOf(p._2))).filter(p => p._1 != p._2)
    // inverseOf pairs ONLY (both directions): symmetric is a separate,
    // LATER stage in closure() and is handled as the final flip below —
    // treating a symProp self-pair as an inverse step here would mint the
    // phantom flip-then-rdfs7 paths this enumeration exists to exclude
    val invs = (invArr ++ invArr.map(_.swap))
      .map(p => (idOf(p._1), idOf(p._2))).toSet
    def spInto(r: Long): Set[Long] =
      sps.collect { case (p, q) if q == r => p }.toSet
    val straight: Set[(Long, Boolean)] =
      (spInto(t0) + t0).map(p => (p, false))
    val flipped: Set[(Long, Boolean)] =
      invs.collect { case (p, q) if q == t0 => p }
        .flatMap(p => spInto(p) + p).map(p => (p, true))
    val base = straight ++ flipped
    if (syms.exists(r => idOf(r) == t0))
      base ++ base.map { case (p, f) => (p, !f) }
    else base
  }

  /** Feeder-state translation: each (t, src, flip) state contributes src's
    * (p_id, a, b) id triples in `ids` — flipped when the feeder path's
    * inverse-parity is odd — as t-edges (p_id = t).
    */
  private def feederEdges(sts: Seq[(Long, Long, Boolean)], ids: DataFrame): DataFrame =
    if (sts.isEmpty) ids.select(col("p_id"), col("a"), col("b")).filter(lit(false))
    else sts.map { case (t0, src, flip) =>
      val part = ids.filter(col("p_id") === src)
      if (!flip) part.select(lit(t0).as("p_id"), col("a"), col("b"))
      else part.select(lit(t0).as("p_id"), col("b").as("a"), col("a").as("b"))
    }.reduce(_.unionByName(_))

  /** Phase 3's product: touched transitive properties with their (new, old)
    * feeder states, and the FP/IFP and sameAs verdicts.
    */
  private final case class TmFeeders(transIds: Set[Long],
      transStates: Map[Long, (Set[(Long, Boolean)], Set[(Long, Boolean)])],
      fpNew: Set[Long], ifpNew: Set[Long], fpBase: Set[Long],
      fpClassWork: Boolean, saPresent: Boolean) {
    def transTouched: Set[Long] = transStates.keySet
  }

  /** Phase 3: feeder states and the FP/IFP gates. */
  private def feederGates(d: TmDelta, s: TmSchema): Phase[TmFeeders] = {
    // Transitive reachability is non-local. The delta-cone pass handles a
    // transitive property t touched directly OR through a FEEDER partition —
    // any predicate whose facts become t-edges through a chain of rdfs7
    // subproperty steps (parity kept) and inverse/symmetric flips (parity
    // flipped). The cone then runs over t's EFFECTIVE base edge set: the
    // union of the feeder partitions' explicit rows, translated per the
    // path's parity. Still recompute: schema deltas that alter a feeder
    // structure, restrictions minting into the cone, rdf:type in the cone,
    // sameAs classes overlapping the effective partitions (substituted edge
    // copies would be invisible to the translation).
    // collectVocab2 shares ONE characteristic-marker scan between the views
    // (vOld.transProps == vNew.transProps == the NEW table's truth), so the
    // OLD transitive set is derived from the mark delta (schemaDiff's
    // oldCharRows).
    val transNewIdSet = s.vNew.transProps.map(idOf).toSet
    val transOldIdSet = s.transOld.map(idOf).toSet
    val transIds = transNewIdSet ++ transOldIdSet
    if (transIds.nonEmpty) {
      val cone = s.feederClosure(transIds) // includes transIds
      // r14: sp/inverseOf SCHEMA deltas into the cone no longer recompute —
      // the state-diff treats a feeder partition whose (pid, parity) state
      // appears/disappears as a bulk effective-edge delta (its rows enter
      // deltaT/remPairs wholesale), so the same reachability maintenance
      // covers ontology edits on a live store. Restrictions minting into the
      // cone and rdf:type cones still recompute.
      if (s.restrictionMintsInto(cone)) return recompute
      if (cone(typeId)) return recompute
    }

    // ---- FP/IFP (r16): minted-pair deltas ride the sameAs class diff ----
    // The rules derive owl:sameAs from two facts of a functional property
    // ((x p y),(x p z) → y sameAs z; IFP the mirror). Their entire effect on
    // the entailment set flows THROUGH the equivalence classes, and the
    // at-rest sameAs partition already encodes the OLD classes (closure()
    // materializes all pairs, minted or explicit). So a delta that
    // re-declares FP/IFP marks or lands facts in an FP/IFP property's feeder
    // partitions no longer recomputes: the NEW minted pairs (premise frames
    // translated per the materializer grammar, exactly the transitive cone's
    // discipline) join the explicit pairs as class-connectivity inputs, and
    // the existing class diff (sameAsClassDiff Case B) derives the lost/new
    // pairs and their substitution cascades. What still recomputes: rdf:type
    // or restriction outputs feeding the premise cone, transitive pairs in
    // the cone (premises would include fixpoint output), trans/sym
    // re-declarations on cone members, and sp/inverseOf schema deltas into
    // the cone (the premise translation is computed under the NEW view only).
    val fpNewIds = s.vNew.funcProps.map(idOf).toSet
    val fpOldIds = s.funcOld.map(idOf).toSet
    val ifpNewIds = s.vNew.invFuncProps.map(idOf).toSet
    val ifpOldIds = s.invFuncOld.map(idOf).toSet
    val fpBase = fpNewIds ++ fpOldIds ++ ifpNewIds ++ ifpOldIds
    val fpMarksChanged =
      fpNewIds != fpOldIds || ifpNewIds != ifpOldIds
    if (fpBase.nonEmpty) {
      val fpCone = s.feederClosure(fpBase)
      if (fpCone(typeId)) return recompute
      if (s.restrictionMintsInto(fpCone)) return recompute
      if ((s.vOld.transProps ++ s.vNew.transProps).exists(r => fpCone(idOf(r))) ||
          d.markRows.exists(r => (r.getLong(2) == transitiveId ||
            r.getLong(2) == symmetricId) && fpCone(idOf(r.getStruct(3)))))
        return recompute
      if ((s.dDel.sp ++ s.dAdd.sp).exists(p => fpCone(idOf(p._2)))) return recompute
      if ((s.dDel.inv ++ s.dAdd.inv ++ s.dDel.sym ++ s.dAdd.sym)
          .exists(p => fpCone(idOf(p._1)) || fpCone(idOf(p._2))))
        return recompute
    }
    val fpFeederTouched = fpBase.exists(p =>
      s.feederStates(p).exists(st => d.pids(st._1)))
    // plan-width valve on the minted-pair premise scans (cf. the transitive
    // cone's 256-state valve) — applies whenever the class diff will run
    // and therefore compute the minted pairs
    if (fpBase.nonEmpty && (fpMarksChanged || fpFeederTouched || d.saTouched) &&
        fpBase.iterator.map(p => s.feederStates(p).size).sum > 64)
      return recompute
    // the class diff must re-run whenever FP/IFP minting may have changed
    val fpClassWork = fpBase.nonEmpty && (fpMarksChanged || fpFeederTouched)
    // inferred sameAs rows can only stem from explicit sameAs (guarded via
    // expHasSameAs/saTouched) or FP/IFP minting — probe only when FP vocab
    // exists, pruned to the sameAs partition
    val infHasSameAs = fpBase.nonEmpty &&
      !d.inf.filter(col("p_id") === sameAsId).limit(1).isEmpty
    val saPresent = s.expHasSameAs || d.saTouched || infHasSameAs || fpClassWork

    // touched = a data delta lands in an (old or new) feeder partition, OR
    // the schema delta changed the state set itself (ontology edit)
    val transStates: Map[Long, (Set[(Long, Boolean)], Set[(Long, Boolean)])] =
      transIds.iterator.map(t0 => t0 -> ((
          if (transNewIdSet(t0)) s.feederStates(t0) else Set.empty[(Long, Boolean)],
          if (transOldIdSet(t0)) s.feederStatesOld(t0) else Set.empty[(Long, Boolean)])))
        .filter { case (_, (sn, so)) =>
          (sn ++ so).exists(st => d.pids(st._1)) || sn != so }
        .toMap
    // plan-width valve: each state is a pruned-partition scan in the
    // effective-edge union — a pathological schema fans out past it
    if (transStates.valuesIterator.map(p => (p._1 ++ p._2).size).sum > 256)
      return recompute
    // a touched transitive property whose EFFECTIVE partitions' nodes
    // intersect the sameAs classes breaks the translation's explicit-rows
    // assumption (substituted edge copies live as entailments) → recompute.
    // DISJOINT classes compose fine — gated on one pruned overlap probe.
    if (saPresent && transStates.nonEmpty) {
      val effPids = transStates.valuesIterator
        .flatMap(p => p._1 ++ p._2).map(_._1).toSeq.distinct
      val tNodes = (ends(d.next.statements.filter(col("p_id").isin(effPids: _*))) ++
          ends(d.removed.filter(col("p")("id").isin(effPids: _*))))
        .map(_.select(col("n")("id").as("n"))).reduce(_.unionByName(_))
      val saMembers = d.next.statements.filter(col("p_id") === sameAsId)
        .select(col("s")("id").as("n"))
        .unionByName(d.removed.filter(col("p")("id") === sameAsId)
          .select(col("s")("id").as("n")))
      if (!tNodes.join(saMembers, Seq("n"), "left_semi").limit(1).isEmpty)
        return recompute
    }
    Right(TmFeeders(transIds, transStates, fpNewIds, ifpNewIds, fpBase,
      fpClassWork, saPresent))
  }

  /** Phase 4's product: lost, new and promoted transitive pairs (s, p, o),
    * and the affected sources' new reach (p_id, x, y).
    */
  private final case class TmCone(lost: DataFrame, fresh: DataFrame,
                                  promoted: DataFrame, reach: DataFrame)

  /** Phase 4: the transitive delta cone (touched transitive properties).
    * EXACT per-property reachability maintenance in id space over the
    * EFFECTIVE base edge set (feeder partitions translated per parity).
    * Affected sources X = nodes that can reach a delta edge's tail (backward
    * BFS over new∪removed effective edges); a forward BFS from X over the
    * NEW effective edges yields their exact new reach. Then
    *   lost     = inferred pairs from X not in the new reach
    *   new      = new-reach pairs that did not previously hold
    *   promoted = removed explicit t-edges still in the new reach
    *   reach    = returned for suspect retention (a rule-arm t-suspect in
    *              the new reach is derivable by transitivity)
    * Everything prunes to the effective partitions; frontiers are cone-sized
    * and checkpointed — the shape of seededPathIds, keyed by p_id.
    */
  private def transitiveCone(d: TmDelta, s: TmSchema, f: TmFeeders): Phase[Option[TmCone]] = {
    if (f.transTouched.isEmpty) return Right(None)
    val tSeq = f.transTouched.toSeq
    def statesL(side: ((Set[(Long, Boolean)], Set[(Long, Boolean)])) => Set[(Long, Boolean)]) =
      f.transStates.toSeq.flatMap { case (t0, st) => side(st).toSeq.map(x => (t0, x._1, x._2)) }
    val (statesNewL, statesOldL) = (statesL(_._1), statesL(_._2))
    // schema-delta state diff: a state present only in the NEW view makes
    // that partition's surviving rows bulk-ADDED effective edges; only in
    // the OLD view, bulk-REMOVED (rows unchanged, their translation gone)
    val statesAdd = (statesNewL.toSet -- statesOldL.toSet).toSeq
    val statesRem = (statesOldL.toSet -- statesNewL.toSet).toSeq
    val srcAll = (statesNewL ++ statesOldL).map(_._2).distinct
    def ckpt(df: DataFrame): DataFrame = df.localCheckpoint()
    // effective edges: paths of mixed feeder edges compose under t's
    // transitivity
    def effOver(sts: Seq[(Long, Long, Boolean)])(idsDf: DataFrame): DataFrame =
      feederEdges(sts, idsDf).dropDuplicates("p_id", "a", "b")
    def effT(idsDf: DataFrame): DataFrame = effOver(statesNewL)(idsDf)
    def expAB(pids: Seq[Long]): DataFrame = idTriples(d.exp, pids)
    def remAB(pids: Seq[Long]): DataFrame = idTriples(withPid(d.removed), pids)
    val eNew = ckpt(effT(expAB(statesNewL.map(_._2).distinct)))
    val oldT = idTriples(d.oldFacts, tSeq).dropDuplicates("p_id", "a", "b")
    val remStates = effOver(statesRem)(expAB(statesRem.map(_._2).distinct)
      .unionByName(remAB(statesRem.map(_._2).distinct)))
    val deltaT = effT(idTriples(withPid(d.delta0), srcAll))
      .unionByName(effOver(statesAdd)(expAB(statesAdd.map(_._2).distinct)))
      .unionByName(remStates)
    val dTails = ckpt(deltaT.select(col("p_id"), col("a").as("b")).distinct())
    // remPairs feeds ONLY the backward-BFS edge superset (old ∪ new):
    // data-removed rows under the new states, plus whole partitions whose
    // state was schema-removed (their translated edges were in the old
    // graph and are absent from eNew)
    val remPairs = effT(remAB(srcAll)).unionByName(remStates)
    // Affected sources X are computed by ONE backward BFS over
    // eNew ∪ removedPairs — a superset of both the old and the new edge
    // sets (an old edge either survived into eNew or was purged into the
    // removed buffer), so the ancestor set over-approximates both graphs;
    // extra sources only cost forward-BFS work, the final reach stays
    // exact (it runs on eNew alone).
    val (xSrc, reach) = driverCone(d.spark, eNew, remPairs, dTails).getOrElse {
      val eAll = ckpt(eNew.unionByName(remPairs)
        .dropDuplicates("p_id", "a", "b"))
      val xS = graft.engine.DfOps.semiNaive(
        dTails.select(col("p_id"), col("b").as("n")), Seq("p_id", "n")) {
        (frontier, _) => eAll
          .join(frontier.select(col("p_id"), col("n").as("b")),
            Seq("p_id", "b"), "left_semi")
          .select(col("p_id"), col("a").as("n"))
      }
      // forward BFS: exact new reach of every affected source
      val rch = graft.engine.DfOps.closurePairs(eNew, Seq("p_id"),
        Some(xS.withColumnRenamed("n", "a")))
        .select(col("p_id"), col("a").as("x"), col("b").as("y"))
      (xS, rch)
    }
    // id → term dictionary from the effective partitions (old view:
    // includes removed rows' nodes — a fresh reach pair may involve nodes
    // seen only in a feeder partition); property terms are vocabulary-side
    val dict = ckpt(nodeDict(ends(d.oldFacts.filter(
      col("p_id").isin((tSeq ++ srcAll).distinct: _*))): _*))
    val transRows = (s.vOld.transProps ++ s.vNew.transProps ++ s.transOld)
      .filter(r => f.transTouched(idOf(r)))
      .map(r => idOf(r) -> r).toMap.values.toSeq
    def toSpo(ids: DataFrame): DataFrame = transSpo(d.spark, ids, dict, transRows, "x", "y")
    val infT = d.inf.filter(col("p_id").isin(tSeq: _*))
      .select(col("p_id"), col("s")("id").as("x"), col("o")("id").as("y"))
    val lostIds = infT
      .join(xSrc.select(col("p_id"), col("n").as("x")),
        Seq("p_id", "x"), "left_semi")
      .join(reach, Seq("p_id", "x", "y"), "left_anti")
    val newIds = reach.join(
      oldT.select(col("p_id"), col("a").as("x"), col("b").as("y")),
      Seq("p_id", "x", "y"), "left_anti")
    val remT = d.removed.filter(col("p")("id").isin(tSeq: _*))
      .select(col("s"), col("p"), col("o"),
        col("p")("id").as("p_id"), col("s")("id").as("x"),
        col("o")("id").as("y"))
      .join(reach, Seq("p_id", "x", "y"), "left_semi")
      .select(col("s"), col("p"), col("o"))
    val cone = TmCone(ckpt(toSpo(lostIds)), ckpt(toSpo(newIds)),
      ckpt(remT.dropDuplicates()), reach)
    // cone-size safety valve: the suspect machinery broadcasts the lost set —
    // a hub-edge delete whose cone approaches corpus scale is better served
    // by the recompute than by a corpus-sized broadcast. The frames are
    // already checkpointed; the counts are metadata-cheap.
    if (cone.lost.count() + cone.fresh.count() > 10000000L) recompute
    else Right(Some(cone))
  }

  /** The cone's DRIVER FAST PATH: a targeted retraction's pruned edge
    * partition is usually driver-bounded; collecting it turns ~2·diameter
    * iteration JOBS into zero (the sf0.1→x10 A/B showed fixed job overhead,
    * not data volume, dominating the distributed loop: 9.3M rows read but
    * 76 s wall). Returns (affected sources (p_id, n), their new reach
    * (p_id, x, y)), or None past its bounds — the distributed loops then run.
    */
  private def driverCone(spark: SparkSession, eNew: DataFrame,
                         remPairs: DataFrame, dTails: DataFrame): Option[(DataFrame, DataFrame)] = {
    val eCnt = eNew.count()
    // collect bound, default 2M edges (tests set graft.tm.cone.driverMax
    // to 0 through withTmProps to force the distributed loops)
    val driverMax = tmLong("graft.tm.cone.driverMax", 2000000L)
    if (eCnt > driverMax) return None
    val eArr = eNew.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val remArr = remPairs.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tails = dTails.collect().map(r => (r.getLong(0), r.getLong(1)))
    val revAll = (eArr ++ remArr).groupBy(e => (e._1, e._3))
      .map { case (k, es) => k -> es.map(_._2) }
    val xs = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    var bfr: Seq[(Long, Long)] = tails.toSeq.distinct
    bfr.foreach(xs += _)
    while (bfr.nonEmpty) {
      bfr = bfr.flatMap { case (p, n) =>
        revAll.getOrElse((p, n), Array.empty[Long]).map(a => (p, a)) }
        .distinct.filterNot(xs)
      bfr.foreach(xs += _)
    }
    // per-source forward BFS is O(|X|·E) worst case — keep it on the
    // driver only for small source sets; larger cones go distributed
    if (xs.size > 20000) return None
    val fwd = eArr.groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(_._3) }
    // packed primitive (p,x,y) triples — ~24 B/pair vs ~120 B for
    // Row objects — with the cap derived from the heap actually
    // free RIGHT NOW (≤1/8 of it), so the valve bounds memory
    // consumed, not just pair count: modest driver configs no
    // longer OOM at the threshold
    val rt = Runtime.getRuntime
    val heapRoom = (rt.maxMemory - (rt.totalMemory - rt.freeMemory)) / 8 / 24
    val pairCap = math.min(10000000L, math.max(1000000L, heapRoom))
    val reachB = scala.collection.mutable.ArrayBuffer.empty[Long]
    var overflow = false
    xs.foreach { case (p, x) =>
      if (!overflow) {
        val seen = scala.collection.mutable.HashSet.empty[Long]
        var fr: Seq[Long] =
          fwd.getOrElse((p, x), Array.empty[Long]).toSeq.distinct
        fr.foreach(seen += _)
        while (fr.nonEmpty && !overflow) {
          fr = fr.flatMap(m => fwd.getOrElse((p, m), Array.empty[Long]))
            .distinct.filterNot(seen)
          fr.foreach(seen += _)
          if (reachB.size / 3 + seen.size > pairCap) overflow = true
        }
        seen.foreach { y => reachB += p; reachB += x; reachB += y }
      }
    }
    if (overflow) return None
    val packed = reachB.toArray
    val nPairs = packed.length / 3
    // ship the packed array ONCE per executor (broadcast), mint
    // Rows distributed — the driver never holds Row objects
    val bc = spark.sparkContext.broadcast(packed)
    val pairsRdd = spark.sparkContext
      .parallelize(0 until nPairs, (nPairs / 500000 + 1))
      .map(i => Row(bc.value(3 * i), bc.value(3 * i + 1),
        bc.value(3 * i + 2)))
    Some((longFrame(spark, spark.sparkContext.parallelize(
        xs.toSeq.map { case (p, n) => Row(p, n) }, 1), "p_id", "n"),
      longFrame(spark, pairsRdd, "p_id", "x", "y")))
  }

  /** The sameAs class diff in id pairs (a, b): pairs lost, gained, and
    * removed edges the new classes still connect (promoted), with their
    * counts; `lostHeads` are the lost pairs' subject ids when the driver
    * already holds them.
    */
  private final case class ClassDiff(del: DataFrame, add: DataFrame, prom: DataFrame,
      nDel: Long, nAdd: Long, nProm: Long, lostHeads: Option[Seq[Long]])

  /** Phase 5: the sameAs class diff (materialized equivalence classes).
    * Case A — the delta never touches sameAs: classes are unchanged, and the
    * at-rest sameAs partition IS the exact all-pairs alias map (the closure
    * materializes all pairs of every class); the substitution arms in
    * deltaDerive/rederive read it directly — O(delta) joins, no class work.
    * Case B — the delta adds/removes sameAs edges: rebuild the classes from
    * the NEW explicit pairs (driver union-find over the collected partition,
    * bounded like the transitive cone's fast path), diff the all-pairs sets,
    * and treat lost/new pairs like lost/new transitive reach: member-fact
    * substitutions through the LOST aliases become suspects; substitutions
    * onto the NEW aliases become conclusions + forward taint. The reference
    * computes the same retraction with per-statement proof chains
    * (RDF/inf/TruthMaintenance.java:1); at rest in columnar storage the
    * class diff + substitution joins replace the proofs.
    */
  private def sameAsClassDiff(d: TmDelta, s: TmSchema, f: TmFeeders): Phase[Option[SaDelta]] = {
    if (!f.saPresent) return Right(None)
    val saCur = d.next.statements.filter(col("p_id") === sameAsId)
    if (!d.saTouched && !f.fpClassWork) {
      // Case A: classes unchanged (no sameAs-edge delta, no FP/IFP minting
      // change) — the at-rest partition IS the alias map, whether its pairs
      // came from explicit edges or FP/IFP minting
      val alias = saCur.select(col("s")("id").as("xid"), col("o").as("alias"))
      return Right(Some(SaDelta(alias, alias, None, None, None, None)))
    }
    val remSaRows = d.removed.filter(col("p")("id") === sameAsId)
    val remSaIds = abIds(remSaRows).dropDuplicates("a", "b")
    // the OLD pair view: current partition (post-mutation) minus the
    // edges THIS delta added, plus the ones it removed. An added edge
    // coinciding with a previously-inferred pair is harmlessly excluded —
    // it then shows up in dAdd and novelty drops its re-derivations.
    val addSaIds = abIds(d.added.filter(col("p")("id") === sameAsId))
      .dropDuplicates("a", "b")
    val oldIdsDf = abIds(saCur)
      .join(addSaIds, Seq("a", "b"), "left_anti")
      .unionByName(remSaIds).dropDuplicates("a", "b")
    // NEW-view class connectivity: explicit pairs ∪ FP/IFP-minted pairs
    // (the minted endpoints' terms extend the dictionary below — they may
    // never have appeared in a sameAs partition before)
    val minted = mintedNewPairs(d, s, f)
    val newExpIdsDf = (abIds(d.exp.filter(col("p_id") === sameAsId))
      +: minted.map(_._1).toSeq)
      .reduce(_.unionByName(_))
      .dropDuplicates("a", "b")
    // DRIVER FAST PATH up to `cap` rows per pair frame: collected arrays +
    // union-find (one probe job, zero shuffles). Past the cap — plain data
    // growth, e.g. an all-pairs partition of a few thousand-member classes
    // — the SAME class diff runs distributed: pointer-jumping CC over the
    // explicit pairs (gas/Gas.connectedComponents), all-pairs as a
    // per-class self-join, diffs as anti/semi joins. The recompute is no
    // longer the fallback for sheer class size; only the all-pairs
    // ESTIMATE blowing past its own valve (a mega-class whose pair set
    // approaches corpus scale) still routes there.
    // tests set graft.tm.sa.driverMax to 0 through withTmProps to force
    // the distributed class diff
    val cap = tmLong("graft.tm.sa.driverMax", 2000000L).toInt
    val (oldArr, newArr, remArr) = (
      oldIdsDf.limit(cap + 1).collect().map(r => (r.getLong(0), r.getLong(1))),
      newExpIdsDf.limit(cap + 1).collect().map(r => (r.getLong(0), r.getLong(1))),
      remSaIds.limit(cap + 1).collect().map(r => (r.getLong(0), r.getLong(1))))
    val driverFits =
      oldArr.length <= cap && newArr.length <= cap && remArr.length <= cap
    val diff =
      if (driverFits) driverClassDiff(d.spark, oldArr, newArr, remArr)
      else distributedClassDiff(oldIdsDf, newExpIdsDf, remSaIds)
    if (diff.isEmpty) return recompute
    val cd = diff.get
    // id → term dictionary from the sameAs partitions (old view), plus
    // the FP/IFP-minted endpoints' terms from the premise scan
    val saNodes = nodeDict(ends(saCur) ++ ends(remSaRows) ++ minted.map(_._2): _*)
      .localCheckpoint()
    def toSpo(ids: DataFrame): DataFrame = withTerms(ids, saNodes, "a" -> "s", "b" -> "o")
      .select(col("s"), Term.iri(OWL_SAMEAS).as("p"), col("o"))
    def toAlias(ids: DataFrame): DataFrame = withTerms(ids, saNodes, "b" -> "alias")
      .select(col("a").as("xid"), col("alias"))
    // alias maps: OLD = the materialized all-pairs (plus removed edges —
    // the pre-delete view); NEW = old ∪ added, minus lost (built by
    // delta-sized anti-joins rather than re-materializing all pairs)
    val aliasOld = toAlias(oldIdsDf)
    val aliasNew = toAlias(oldIdsDf.unionByName(cd.add)
      .dropDuplicates("a", "b")
      .join(cd.del, Seq("a", "b"), "left_anti"))
    // lost-pair taint: the pair rows themselves + member-fact
    // substitutions through the lost aliases (ONE pruned-by-broadcast
    // pass over the fact table; output is cone-sized)
    val lostTaint =
      if (cd.nDel == 0) None
      else {
        val dDelAlias = toAlias(cd.del).localCheckpoint()
        // the member-fact slice's head ids: the driver path supplies them
        // for free; the distributed path probes bounded
        val mIds = cd.lostHeads.getOrElse(
          collectAtMost(cd.del.select("a").distinct(), 2049).map(_.getLong(0)).toSeq)
        // size-guarded broadcast: a distributed-scale lost-pair set must
        // not be forced through the driver (same 4M-key policy as the
        // mutation paths' hints)
        val lostAlias = if (cd.nDel <= 4000000L) broadcast(dDelAlias) else dDelAlias
        Some((toSpo(cd.del) +: sameAsDeltaArms(memberFacts(d.oldFacts, mIds), lostAlias))
          .reduce(_.unionByName(_)).localCheckpoint())
      }
    def committed(n: Long, df: => DataFrame) = if (n == 0) None else Some(df.localCheckpoint())
    Right(Some(SaDelta(aliasOld, aliasNew, lostTaint, committed(cd.nAdd, toSpo(cd.add)),
      committed(cd.nAdd, toAlias(cd.add)), committed(cd.nProm, toSpo(cd.prom)))))
  }

  /** FP/IFP-minted sameAs id pairs (a, b) under the NEW view over the NEW
    * facts, plus the minted endpoints' terms (column `n`; they may never
    * have appeared in a sameAs partition). Premise frames follow closure()'s
    * materialization: feeder partitions translated per parity, flips drop
    * literal objects (the flip rules' resourceObj), FP keys on subject and
    * requires resource objects, IFP keys on object. Pruned to the feeder
    * partitions.
    */
  private def mintedNewPairs(d: TmDelta, s: TmSchema,
                             f: TmFeeders): Option[(DataFrame, DataFrame)] = {
    val fams = Seq((f.fpNew, true), (f.ifpNew, false))
    val parts = fams.flatMap { case (pids, isFp) =>
      pids.toSeq.flatMap { p =>
        s.feederStates(p).toSeq.map { case (src, flip) =>
          val part = s.newExp.filter(col("p_id") === src)
          val eff =
            if (!flip) part.select(col("s"), col("o"))
            else part.filter(col("o")("kind") =!= Term.KIND_LITERAL)
              .select(col("o").as("s"), col("s").as("o"))
          fpKeyed(eff, isFp, lit(p))
        }
      }
    }
    if (parts.isEmpty) return None
    val kv = parts.reduce(_.unionByName(_))
    val keys = kv.select(col("g"), col("k"), col("v")("id").as("v"))
      .dropDuplicates("g", "k", "v").localCheckpoint()
    val pairs = fpPairs(keys, identity)
      .select(col("b").as("a"), col("c").as("b"))
      .dropDuplicates("a", "b")
    Some((pairs, kv.select(col("v").as("n"))))
  }

  /** The class diff on the driver: union-find over the new explicit pairs →
    * components → all-pairs, diffed against the collected old pairs. None
    * when the all-pairs set blows past the driver's bound (→ recompute).
    */
  private def driverClassDiff(spark: SparkSession,
      oldArr: Array[(Long, Long)], newArr: Array[(Long, Long)],
      remArr: Array[(Long, Long)]): Option[ClassDiff] = {
    def idPairs(ps: Seq[(Long, Long)]): DataFrame = longFrame(spark,
      spark.sparkContext.parallelize(ps.map(p => Row(p._1, p._2)), (ps.size / 500000 + 1)),
      "a", "b")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    newArr.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b); if (ra != rb) parent(ra) = rb
    }
    val membersByRoot = newArr.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find)
    val nPairs = membersByRoot.valuesIterator
      .map(ms => ms.length.toLong * (ms.length - 1)).sum
    if (nPairs > 4000000L) return None // driver all-pairs blowup → recompute
    val newAll = membersByRoot.valuesIterator.flatMap(ms =>
      for (x <- ms.iterator; y <- ms if x != y) yield (x, y)).toSet
    val oldPairs = oldArr.toSet
    val dDel = (oldPairs diff newAll).toSeq
    val dAdd = (newAll diff oldPairs).toSeq
    val promPairs = remArr.filter(newAll).toSeq
    Some(ClassDiff(idPairs(dDel), idPairs(dAdd), idPairs(promPairs),
      dDel.size.toLong, dAdd.size.toLong, promPairs.size.toLong,
      Some(dDel.map(_._1).distinct)))
  }

  /** The same class diff distributed: pointer-jumping CC, all-pairs as a
    * per-class self-join, diffs as anti/semi joins. None when the all-pairs
    * estimate passes its valve (→ recompute).
    */
  private def distributedClassDiff(oldIdsDf: DataFrame, newExpIdsDf: DataFrame,
                                   remSaIds: DataFrame): Option[ClassDiff] = {
    val members = graft.gas.Gas.connectedComponents(
        newExpIdsDf.select(col("a").as("src"), col("b").as("dst")))
      .select(col("component"), col("vertex").as("nid"))
    // pair-count valve on the ESTIMATE (Σ size²) before the self-join
    // mints a quadratic frame (graft.tm.sa.pairCap in tests)
    val pairCap = tmLong("graft.tm.sa.pairCap", 64000000L)
    val est = members.groupBy("component").count()
      .agg(sum(col("count") * col("count")).as("e"))
      .head().getAs[Long]("e")
    if (est > pairCap) return None
    val newAllDf = classPairs(members)
      .select(col("nid_x").as("a"), col("nid_y").as("b"))
      .localCheckpoint()
    val dDelDf = oldIdsDf.join(newAllDf, Seq("a", "b"), "left_anti")
      .localCheckpoint()
    val dAddDf = newAllDf.join(oldIdsDf, Seq("a", "b"), "left_anti")
      .localCheckpoint()
    val promDf = remSaIds.join(newAllDf, Seq("a", "b"), "left_semi")
      .localCheckpoint()
    Some(ClassDiff(dDelDf, dAddDf, promDf,
      dDelDf.count(), dAddDf.count(), promDf.count(), None))
  }

  /** Phase 6's product: the suspect set, committed, its size and its keys. */
  private final case class TmSuspects(suspects: DataFrame, n: Long, keys: DataFrame)

  /** Phase 6: over-delete — suspects are the delta-tainted derivations under
    * the OLD schema.
    */
  private def overDelete(d: TmDelta, s: TmSchema, cone: Option[TmCone],
                         sa: Option[SaDelta]): Phase[TmSuspects] = {
    val removedTaint = (Seq(d.removed.select(col("s"), col("p"), col("o"))) ++
      sa.flatMap(_.lostTaint)).reduce(_.unionByName(_))
    // lost transitive pairs are POST-TRANSITIVE taint: closure() derives the
    // transitive fixpoint after rdfs7/inverse/hasValue, so their downstream
    // entailments live only in sameAs/dom/rng/rdfs9 — feeding them to the
    // earlier arms would suspect rows the materializer never derived
    val delSuspects = deltaDerive(d.spark, d.oldFacts, removedTaint, s.sOld, s.dDel,
      // old EXPLICIT view for the schema arms (closure premises)
      explicitFacts = d.expFacts.unionByName(
        withPid(d.removed.filter(col("stype") =!= GraftStore.STYPE_INFERRED))),
      sa = sa.map(_.aliasOld), lateTaint = cone.map(_.lost))
    // The removed rows THEMSELVES are suspects too: an entailment whose
    // materialization was novelty-suppressed by an explicit copy must be
    // PROMOTED to Inferred when that copy is deleted but it stays derivable
    // (the reference's TM re-asserts still-provable retracted statements), and
    // such rows are also the intermediates multi-step re-derivations pass
    // through — without them a suspect supported only via a suppressed
    // entailment would be wrongly lost.
    // the lost transitive pairs themselves enter the suspect set (they are
    // retracted unless the reach retains them); their downstream entailments
    // were suspected via the lateTaint arms above
    val suspects = graft.engine.DfOps.freshLeaf(dedup(
      (Seq(delSuspects, schemaStmtsDiff(d.spark, s.dDel, s.vOld, s.vNew), removedTaint) ++
        cone.map(_.lost)).reduce(_.unionByName(_))))
    // mega-cone valve: the suspect keys broadcast into every re-derivation
    // arm — a delta whose taint cone reaches corpus scale (a mega equivalence
    // class, a hub-heavy schema) is better served by the recompute than by a
    // corpus-sized broadcast (count on the checkpointed frame is metadata-cheap)
    // ONE action serves both valves: the mega-cone bound and the emptiness
    // gate in rederiveSuspects (a separate isEmpty probe was a whole extra
    // job per pass)
    val nSuspects = suspects.count()
    if (nSuspects > 10000000L) recompute
    else Right(TmSuspects(suspects, nSuspects, spoKeys(suspects)))
  }

  /** Phase 7: re-derive suspects from (explicit ∪ non-suspect inferred) under
    * the NEW schema. Returns the lost keys: suspects nothing re-derives.
    */
  private def rederiveSuspects(d: TmDelta, s: TmSchema, f: TmFeeders, cone: Option[TmCone],
                               sa: Option[SaDelta], sus: TmSuspects): DataFrame = {
    if (sus.n == 0) return sus.keys
    val keptInf = keyed(d.inf)
      .join(broadcast(sus.keys), spoKey, "left_anti")
      .drop(spoKey: _*)
    // a rule-arm t-suspect (e.g. an rdfs7/inverse copy whose feeder premise
    // was deleted) still in the new effective reach is derivable by
    // transitivity — the arms cannot see that, the cone's reach can. All
    // arm-minted t-suspects stem from delta tails, which are affected
    // sources by construction, so the X-restricted reach is decisive.
    // Materialized as SPO (delta-sized): both the retained-key set and a
    // premise re-entry (a dom/rng/rdfs9 suspect supported only through a
    // surviving t-pair must see it in the premise base).
    val reachKeptSpo: Option[DataFrame] = cone.map { c =>
      graft.engine.DfOps.freshLeaf(
        keyed(sus.suspects.filter(col("p")("id").isin(f.transTouched.toSeq: _*)))
          .join(c.reach.select(col("x").as("__sk"), col("p_id").as("__pk"),
            col("y").as("__ok")), spoKey, "left_semi")
          .drop(spoKey: _*))
    }
    // promoted-to-be transitive edges (removed explicit, still in the new
    // reach) and reach-retained t-suspects re-enter the premise base: an
    // entailment supported only through such a row — dom(t) on a surviving
    // (a t b) — must survive with it
    val base = (Seq(d.exp.unionByName(keptInf)) ++ cone.map(c => asInferred(c.promoted)) ++
      reachKeptSpo.map(asInferred)).reduce(_.unionByName(_))
    // premise base for the PRE-TRANSITIVE arms (rdfs7/inverse/hasValue):
    // closure() runs those stages before the transitive fixpoint, so a
    // transitive-partition row is a legitimate early premise ONLY when it is
    // an effective base EDGE (explicit, or a feeder copy) — transitive-
    // fixpoint pairs must not feed them (an inverse flip of a reach pair is
    // a row the materializer never derives). Inferred t-rows are kept iff
    // their id-triple matches the feeder-translated explicit edge set.
    val basePre =
      if (f.transIds.isEmpty) base
      else {
        val tAll = f.transIds.toSeq
        val statesAll = tAll.flatMap(t0 =>
          s.feederStates(t0).toSeq.map(st => (t0, st._1, st._2)))
        val edgeKeys = feederEdges(statesAll, idTriples(d.exp, statesAll.map(_._2).distinct))
          .select(col("a").as("__sk"), col("p_id").as("__pk"), col("b").as("__ok"))
        val keptEdges = keyed(keptInf.filter(col("p_id").isin(tAll: _*)))
          .join(edgeKeys, spoKey, "left_semi")
          .drop(spoKey: _*)
        d.exp.unionByName(keptInf.filter(!col("p_id").isin(tAll: _*)))
          .unionByName(keptEdges)
      }
    val retained = rederive(d.spark, base, basePre, sus.suspects, sus.keys, s.sNew,
      sa.map(_.aliasNew))
    // schema statements are re-derivable iff in the NEW driver-side closures
    // (rdfs5/11 run on the driver, not in rederive) — a removed-but-still-
    // derivable axiom must survive to be promoted below
    val retainedSchema = spoKeys(schemaStmts(d.spark, s.sNew.sc, s.sNew.sp,
      s.vNew.eqc.map(_.swap).toSeq, s.vNew.eqp.map(_.swap).toSeq))
    // transitive retention is decided by the cone pass, not the rule arms:
    // removed t-edges still in the new reach are retained (→ promotion).
    // sameAs retention is decided by the class diff: removed sameAs edges
    // whose endpoints remain connected in the new classes are retained
    val retainedAll = Seq(retained, retainedSchema) ++
      (cone.map(_.promoted) ++ sa.flatMap(_.promSpo) ++ reachKeptSpo).map(spoKeys)
    graft.engine.DfOps.freshLeaf(
      sus.keys.join(broadcast(retainedAll.reduce(_.unionByName(_))), spoKey, "left_anti"))
  }

  /** Phase 8's product: the store after loss and promotion, the promoted
    * rows, and the tombstone keys: the lost keys and the keys of explicit
    * inserts (which supersede a materialized entailment).
    */
  private final case class TmLoss(lostKeys: DataFrame, addedKeys: DataFrame,
                                   afterLoss: DataFrame, promStmts: DataFrame)
  private def tombstoned(src: DataFrame, lostKeys: DataFrame, addedKeys: DataFrame): DataFrame =
    keyed(src)
      .join(broadcast(lostKeys), spoKey, "left_anti")
      .join(broadcast(addedKeys), spoKey, "left_anti")
      .drop(spoKey: _*)

  /** Phase 8: loss, tombstone and promotion — only materialized entailments
    * are retracted.
    */
  private def applyLoss(d: TmDelta, lostKeys: DataFrame): TmLoss = {
    // an explicit copy just inserted supersedes a materialized entailment:
    // drop inferred rows whose (s,p,o) is in the added buffer too (the full
    // recompute's novelty check does this implicitly)
    val addedKeys = spoKeys(d.added)
    // Retraction applies as a delta-sized TOMBSTONE (lazy broadcast anti-join
    // over the inferred branch): the mutation itself stays O(delta) — no
    // partition rewrite — and tombstoneDepth counts these layers as still at
    // rest, so the NEXT mutation keeps the delta path. When the stack passes
    // its depth bound (chained-mutation streams), the pass COMPACTS: the
    // retraction keys' predicate set is delta-bounded (probed ≤1001), so only
    // those partitions re-materialize and the stack resets to zero. At 100 TB
    // a per-mutation partition rewrite would be O(partition) — measured
    // +1.8 s even at sf0.1 — so compaction is amortized, not per-mutation.
    // layout stores bound tombstone layers PER SEGMENT at application time
    // (applyLayout) — the legacy whole-inferred-branch compaction applies
    // only to stores without a partition-keyed layout
    val depth =
      if (d.next.layoutOpt.isDefined) 0 else tombstoneDepth(d.next).getOrElse(0)
    val afterLoss0 =
      if (depth < 6) d.exp.unionByName(tombstoned(d.inf, lostKeys, addedKeys))
      // accumulated layers live across ALL partitions, so compaction folds the
      // whole inferred branch once (delta-bounded layers over pruned scans);
      // one materialization per ~6 mutations, amortized O(inferred)/6
      else d.exp.unionByName(graft.engine.DfOps.freshLeaf(
        tombstoned(d.inf, lostKeys, addedKeys)))
    // promotion: removed rows that remain derivable come back as Inferred
    // (novelty against the post-loss store keeps explicit copies
    // authoritative). Presence is checked delta-side (presentKeys) and the
    // delta-sized hit set broadcasts back into the anti-join.
    // dedup: the delete of one triple from two graphs (or a Modify whose WHERE
    // hits it twice) yields multiple purged copies of the same (s,p,o) — the
    // promotion below must mint ONE Inferred row, like the full recompute
    val rKeys = keyed(d.removed.select(col("s"), col("p"), col("o")))
      .dropDuplicates(spoKey)
    val stillPresent = presentKeys(afterLoss0, Some(d.pids.toSeq), rKeys)
    val promoted = rKeys
      .join(broadcast(lostKeys), spoKey, "left_anti")
      .join(broadcast(stillPresent), spoKey, "left_anti")
      .drop(spoKey: _*)
    val promStmts = graft.engine.DfOps.freshLeaf(asInferred(promoted))
    TmLoss(lostKeys, addedKeys, afterLoss0.unionByName(promStmts), promStmts)
  }

  /** Phase 9: insert side — the same staged pass FORWARD (added facts/schema
    * as taint). Returns the fresh Inferred statements, if any.
    */
  private def insertSide(d: TmDelta, s: TmSchema, cone: Option[TmCone],
                         sa: Option[SaDelta], loss: TmLoss): Option[DataFrame] = {
    val hasInsertWork = collectAtMost(d.added, 1).nonEmpty || s.dAdd.nonEmpty ||
      sa.exists(_.addSpo.isDefined)
    if (!hasInsertWork) return None
    val afterLoss = loss.afterLoss
    // new transitive pairs from the cone (reach gained via added edges)
    // are conclusions AND taint: dom/rng/rdfs9 must fire on them. A
    // delete-only update cannot gain reach, so the None arm covers it.
    // Likewise new sameAs pairs from a class merge: the pairs themselves
    // plus the substitutions of the merged classes' surviving facts onto
    // the new aliases (one pruned-by-broadcast pass over the fact table;
    // deltaDerive's sameAs stage completes the class×class orbit closure()
    // materializes).
    val saAdds: Seq[DataFrame] = sa.toSeq.flatMap { sd =>
      sd.addSpo.toSeq.flatMap { aSpo =>
        val subs = sd.addAlias.toSeq.flatMap { aAl =>
          val members =
            collectAtMost(aAl.select(col("xid")).distinct(), 2049).map(_.getLong(0)).toSeq
          sameAsDeltaArms(memberFacts(afterLoss, members), broadcast(aAl))
        }
        aSpo +: subs
      }
    }
    // the cone's new pairs are POST-TRANSITIVE taint (lateTaint): closure() never
    // re-inverts / rdfs7-copies / hasValue-fires on transitive
    // conclusions — they feed only sameAs/dom/rng/rdfs9
    val addedTaint = (Seq(d.added.select(col("s"), col("p"), col("o"))) ++
      saAdds).reduce(_.unionByName(_))
    val newDerived = (Seq(deltaDerive(d.spark, afterLoss, addedTaint, s.sNew, s.dAdd,
        // new EXPLICIT view (added rows live in exp) for the schema arms
        explicitFacts = d.expFacts,
        sa = sa.map(_.aliasNew), lateTaint = cone.map(_.fresh)),
      schemaStmtsDiff(d.spark, s.dAdd, s.vNew, s.vOld)) ++
      cone.map(_.fresh) ++ saAdds).reduce(_.unionByName(_))
    // novelty: keep only entailments not already present (any stype).
    // Same delta-side shape as promotion: prune the store scan to the new
    // conclusions' predicates, SEMI-join it against the broadcast
    // conclusion keys, and anti-join the delta-sized hit set back.
    val ndKeys = graft.engine.DfOps.freshLeaf(keyed(dedup(newDerived)))
    val ndPidRows = collectAtMost(ndKeys.select(col("__pk")).distinct(), 1001)
    val already = presentKeys(afterLoss,
      if (ndPidRows.length > 1000) None else Some(ndPidRows.map(_.getLong(0)).toSeq),
      ndKeys)
    val fresh = ndKeys
      .join(broadcast(already), spoKey, "left_anti")
      .drop(spoKey: _*)
    Some(graft.engine.DfOps.freshLeaf(asInferred(fresh)))
  }

  /** Phase 10: layout apply — partition-keyed when the store carries a
    * layout. Only the partitions holding a tombstone key, a promotion, or a
    * fresh conclusion change; their segments are replaced wholesale
    * (untouched partitions keep their pruned scans and their existing segment
    * plans — no dead branches, no stacking). Per-segment layer depth folds
    * partition-sized past FOLD_LAYERS. Falls back to the legacy whole-frame
    * result when the touched-pid probe overflows (cone spanning >256
    * predicates — all touched pids land in ONE segment, so the cap guards the
    * isin literal width, not the segment count; a sameAs-merge substituting
    * member facts routinely touches ~100 predicates and must keep the
    * layout's pruned scans) or the store has no layout.
    */
  private def applyLayout(d: TmDelta, loss: TmLoss, freshStmts: Option[DataFrame]): GraftStore = {
    val next = d.next
    val laidOut: Option[GraftStore] = next.layoutOpt.flatMap { lay =>
      val touchedRows = collectAtMost((Seq(loss.lostKeys.select(col("__pk")),
          loss.addedKeys.select(col("__pk")),
          loss.promStmts.select(col("p_id").as("__pk"))) ++
          freshStmts.map(_.select(col("p_id").as("__pk"))))
        .reduce(_.unionByName(_))
        .distinct(), 257)
      if (touchedRows.length > 256) None
      else if (touchedRows.isEmpty) Some(next)
      else {
        val touched = touchedRows.map(_.getLong(0)).toSeq
        val slice = lay.slice(touched)
        val cols = GraftStore.columns.map(col)
        val sliceNew0 = graft.engine.DfOps.reid(
            slice.filter(col("stype") =!= GraftStore.STYPE_INFERRED))
          .unionByName(tombstoned(graft.engine.DfOps.reid(
              slice.filter(col("stype") === GraftStore.STYPE_INFERRED)),
            loss.lostKeys, loss.addedKeys))
          .select(cols: _*)
          .unionByName(loss.promStmts.select(cols: _*))
        val sliceNew = freshStmts.fold(sliceNew0)(f =>
          sliceNew0.unionByName(f.select(cols: _*)))
        val layers = lay.layersAt(touched) + 1
        val (frame2, layers2) =
          if (layers >= graft.engine.Update.FOLD_LAYERS)
            (graft.engine.DfOps.freshLeaf(sliceNew), 0)
          else (sliceNew, layers)
        // graph-probe hint: the TM result's multi-graph set is contained in
        // the pre-TM store's plus the touched pids (entailments are excluded
        // from the probes anyway; explicit rows only changed in `touched`)
        Some(next.withLayout(lay.replace(touched, frame2, layers2),
          gdelta = Some(touched.toSet)))
      }
    }
    laidOut.getOrElse {
      val result = freshStmts.fold(loss.afterLoss)(loss.afterLoss.unionByName)
      next.withStatements(result.select(GraftStore.columns.map(col): _*))
    }
  }

  /** Staged DELTA derivation: conclusions with ≥1 derivation (under `schema`,
    * the side's schema) using a fact from `taint0` or a schema pair from
    * `diff`. Runs the rule program's stages in order; each stage's output
    * re-feeds the later stages, exactly like closure()'s fact accumulation.
    * The transitive and sameAs families enter as `lateTaint` (the cone's
    * reach pairs) and the `sa` alias map. Taint-side joins are broadcast over
    * the delta; schema-side scans are pruned to the diff's partitions.
    * Returns (s,p,o).
    */
  private def deltaDerive(spark: SparkSession,
      allFacts0: DataFrame, taint0: DataFrame,
      schema: RuleSchema, diff: RuleSchema, explicitFacts: DataFrame,
      sa: Option[DataFrame], lateTaint: Option[DataFrame]): DataFrame = {
    val allFacts = allFacts0.select(col("s"), col("p"), col("o"), col("p_id"))

    var taint = withPid(taint0)
    var late: Option[DataFrame] = None
    var stages = List.empty[DataFrame]
    def addStage(d: DataFrame, isLate: Boolean): Unit = {
      val dd = withPid(graft.engine.DfOps.freshLeaf(dedup(d)))
      stages ::= dd
      taint = taint.unionByName(dd)
      if (isLate) late = Some(late.fold(dd)(_.unionByName(dd)))
    }

    // Premise frame of the early stages' schema arms: closure() fires them
    // over the EXPLICIT rows plus the earlier early stages' conclusions, so a
    // frame fed from allFacts would join inferred rows (transitive pairs,
    // dom-derived types) the materializer never touches — phantoms on the
    // insert side. The side's explicit rows are pruned to the predicates the
    // diffs can join, pulled back through the earlier stages' pairs (an
    // inverseOf diff on q joins the rdfs7 copies into q, a symmetric diff on p
    // joins the inverse flips into p), and pushed forward through those
    // narrowed stages.
    var need = Set.empty[Long]
    val narrowed = earlyStages.reverse.map { st =>
      val n = schema.restrict(Some(need), if (need(typeId)) None else Some(Set.empty))
      need = need ++ st.rules.flatMap(r => diff.premisePids(r) ++ n.premisePids(r))
      n
    }.reverse
    var expPrem = if (need.isEmpty) None else Some(explicitFacts
      .select(col("s"), col("p"), col("o"), col("p_id"))
      .filter(col("p_id").isin(need.toSeq: _*)))
    earlyStages.zip(narrowed).foreach { case (st, n) =>
      val viaFact = fireStage(spark, st, schema)(_ => taint)
      val viaSchema = expPrem.flatMap(e => fireStage(spark, st, diff)(_ => e))
      expPrem = expPrem.map(e =>
        fireStage(spark, st, n)(_ => e).fold(e)(d => e.unionByName(withPid(d))))
      (viaFact ++ viaSchema).reduceOption(_.unionByName(_)).foreach(addStage(_, isLate = false))
    }
    // POST-TRANSITIVE taint (the cone's lost/new reach pairs) joins here:
    // closure() runs the transitive fixpoint after the early stages, so
    // transitive conclusions feed sameAs and the late stages but are never
    // re-inverted, re-copied by rdfs7, or re-fed to hasValue.
    lateTaint.foreach(lt => taint = taint.unionByName(withPid(lt)))
    // owl:sameAs substitution (RuleOwlSameAs2/3): tainted facts substituted
    // through the materialized all-pairs alias map — subject side then object
    // side (non-literal), mirroring closure()'s one-pass stage order. The
    // taint is delta-sized; the alias map is a pruned partition scan keyed on
    // node id.
    sa.foreach { aliasOf =>
      val t0 = taint.filter(col("p_id") =!= sameAsId)
      val subj = subjSub(t0, aliasOf)
      // both-sided orbit member (closure() derives the full class×class orbit)
      addStage(subj.unionByName(objSub(t0, aliasOf)).unionByName(objSub(subj, aliasOf)),
        isLate = false)
    }
    // late stages: the schema arms read allFacts pruned to the diff's
    // partitions (closure() fires them over every fact); rdfs9's arm reads
    // only the diff's source classes' type rows (the pass's one data-sized
    // scan, pruned by the o.id filter in `fire`)
    lateStages.foreach { st =>
      val viaFact = (if (st.lateOnly) late else Some(taint))
        .flatMap(t => fireStage(spark, st, schema)(_ => t))
      val viaSchema = fireStage(spark, st, diff)(_ => allFacts)
      (viaFact ++ viaSchema).reduceOption(_.unionByName(_)).foreach(addStage(_, isLate = true))
    }
    if (stages.isEmpty) emptySpo(spark)
    else dedup(stages.reduce(_.unionByName(_)).select(col("s"), col("p"), col("o")))
  }

  /** Staged re-derivation RESTRICTED to the suspect set: which suspects remain
    * derivable from `base0` under the NEW schema? Premise scans are pruned to
    * the rule's predicate partitions AND semi-joined against the broadcast
    * suspect keys, so cost tracks the delta, not the corpus. Retained
    * suspects re-enter the premises of every later stage (a re-derived
    * (x q y) can support a suspect domain type, etc.), so a suspect
    * supported only through a promoted intermediate is found at stage depth,
    * no fixpoint needed. Returns the retained keys (__sk,__pk,__ok).
    */
  private def rederive(spark: SparkSession,
      base0: DataFrame, basePre0: DataFrame,
      suspects: DataFrame, sKeys: DataFrame,
      schema0: RuleSchema, sa: Option[DataFrame]): DataFrame = {
    var base = base0.select(col("s"), col("p"), col("o"), col("p_id"))
    // premise base for the early stages (see the caller's basePre)
    var basePre = basePre0.select(col("s"), col("p"), col("o"), col("p_id"))
    // suspect-key probes for premise pruning (all delta-sized, broadcast)
    val suspPairs = suspects
      .select(col("s")("id").as("__sk"), col("o")("id").as("__ok")).distinct()
    val suspTypeSubj = suspects.filter(col("p")("id") === typeId)
      .select(col("s")("id").as("__sid")).distinct()
    val suspSubj = suspects.select(col("s")("id").as("__sid")).distinct()
    // vocabulary-bounded driver probes: the suspect PREDICATES and TYPE CLASSES
    // restrict each rule's schema pairs to those whose conclusions can hit a
    // suspect at all — partitions of irrelevant predicates are never scanned
    // (caps fall back to unrestricted pairs, never to a wrong answer).
    // ONE tagged job collects both sets (each side capped at 1001 pre-union)
    val suspProbe = suspects.select(col("p")("id").as("v"), lit(true).as("isPk"))
      .distinct().limit(1001)
      .unionByName(suspects.filter(col("p")("id") === typeId)
        .select(col("o")("id").as("v"), lit(false).as("isPk"))
        .distinct().limit(1001))
      .collect()
    val (suspPkRows, suspClsRows) = suspProbe.partition(_.getBoolean(1))
    val suspPks: Option[Set[Long]] =
      if (suspPkRows.length > 1000) None else Some(suspPkRows.map(_.getLong(0)).toSet)
    val suspCls: Option[Set[Long]] =
      if (suspClsRows.length > 1000) None
      else Some(suspClsRows.map(_.getLong(0)).toSet)
    val schema = schema0.restrict(suspPks, suspCls)

    // a premise is relevant iff its conclusion can be a suspect: keyed on the
    // conclusion's (s, o) when both come from the premise (rdfs7, the flips),
    // else on its subject among the suspects' (type) subjects
    def relevant(rule: Rule, prem: DataFrame): DataFrame =
      if (rule.o == "s" || rule.o == "o")
        prem.join(broadcast(suspPairs),
          col(rule.s)("id") === col("__sk") && col(rule.o)("id") === col("__ok"), "left_semi")
      else prem.join(broadcast(if (rule.p.isEmpty) suspTypeSubj else suspSubj),
        col(rule.s)("id") === col("__sid"), "left_semi")

    var retainedAcc = keyed(emptySpo(spark)).select("__sk", "__pk", "__ok")
    def keep(concl: DataFrame): Unit = {
      val hit = graft.engine.DfOps.freshLeaf(keyed(concl)
        .join(broadcast(sKeys), Seq("__sk", "__pk", "__ok"), "left_semi")
        .dropDuplicates("__sk", "__pk", "__ok"))
      retainedAcc = retainedAcc.unionByName(hit.select("__sk", "__pk", "__ok"))
      val hitSpo = withPid(hit)
      base = base.unionByName(hitSpo)
      basePre = basePre.unionByName(hitSpo)
    }
    earlyStages.foreach(st => fireStage(spark, st, schema)(r => relevant(r, basePre)).foreach(keep))
    // sameAs substitution: a suspect (x' p y) is retained iff a surviving
    // fact (x p y) has x' among x's NEW aliases (mirror for the object
    // side). Premises are pruned to the suspects' predicate partitions AND
    // semi-joined by the suspects' (p,o) / (s,p) key pairs BEFORE the
    // alias join, so cost tracks the suspects, not the partitions.
    sa.foreach { aliasOf =>
      val s0 = suspects.filter(col("p")("id") =!= sameAsId)
      val po = s0.select(col("p")("id").as("__qpk"), col("o")("id").as("__qok"))
        .distinct()
      val sp0 = s0.select(col("s")("id").as("__qsk"), col("p")("id").as("__qpk2"))
        .distinct()
      val prem = (suspPks match {
        case Some(ids) => base.filter(col("p_id").isin(ids.toSeq: _*))
        case None => base
      }).filter(col("p_id") =!= sameAsId)
      val subj = subjSub(prem.join(broadcast(po),
          col("p")("id") === col("__qpk") && col("o")("id") === col("__qok"),
          "left_semi"), aliasOf)
      val obj = objSub(prem.join(broadcast(sp0),
          col("s")("id") === col("__qsk") && col("p")("id") === col("__qpk2"),
          "left_semi"), aliasOf)
      // both-sided orbit: premise pruned to the suspect predicates only
      // (neither endpoint key survives the double substitution)
      val both = objSub(subjSub(prem, aliasOf), aliasOf)
      keep(subj.unionByName(obj).unionByName(both))
    }
    lateStages.foreach(st => fireStage(spark, st, schema)(r => relevant(r, base)).foreach(keep))
    retainedAcc
  }

  /** Rule-program FIXPOINT: re-run the staged closure until no new statements
    * derive (the reference's InferenceEngine runs its rule set to quiescence;
    * `rdf/rules/InferenceEngine.java` computeClosure). One round = one full
    * staged pass, so this is the opt-in for ontologies whose derivations
    * cascade across the stage order — hasValue output re-feeding domain/range,
    * FP/IFP sameAs merge-of-merges (see SCALE.md §OWL). Each round's
    * entailments are checkpointed, so plan depth stays bounded by one pass.
    */
  def closureFixpoint(store: GraftStore, maxRounds: Int = 8): GraftStore = {
    var cur = store
    var prev = -1L
    var rounds = 0
    while (rounds < maxRounds) {
      val mat = closure(cur).statements.localCheckpoint()
      val n = mat.count()
      if (n == prev) return cur
      cur = cur.withStatements(mat)
      prev = n
      rounds += 1
    }
    cur
  }

  /** The vocabulary-sized schema relations + property characteristics of a
    * statement frame — ONE pruned driver action (see collectVocab).
    * `sc`/`sp` are already eq-folded (RuleOwlEquivalentClass/Property:
    * a ≡ b ⇔ a ⊑ b ∧ b ⊑ a).
    */
  private[inference] final case class Vocab(
      sc: Array[(Row, Row)], sp: Array[(Row, Row)],
      eqc: Array[(Row, Row)], eqp: Array[(Row, Row)],
      dom: Array[(Row, Row)], rng: Array[(Row, Row)], inv: Array[(Row, Row)],
      transProps: Array[Row], symProps: Array[Row],
      funcProps: Array[Row], invFuncProps: Array[Row],
      restrictions: Seq[(Long, Row, Row)])

  /** ONE pruned scan collects every (vocabulary-sized) schema relation AND the
    * property-characteristic/restriction-marker rows — a single driver action, not
    * one per vocabulary family (each action re-evaluates the statement plan, which
    * after updates/closures is more than a bare parquet scan).
    */
  // the two vocabulary sub-scans have very different costs: the schema-pid part
  // prunes to a handful of vocabulary-sized partitions, while the
  // characteristic/restriction-marker part (type rows with owl:* class objects)
  // must read the whole rdf:type partition — callers that KNOW the marker rows
  // are unchanged share one marker scan across both vocab views
  private def vocabSchemaPart(df: DataFrame): DataFrame = {
    val schemaPids = Seq(subClassId, subPropId, domainId, rangeId,
      inverseOfId, eqClassId, eqPropId, onPropertyId, hasValueId)
    df.filter(col("p_id").isin(schemaPids: _*))
      .select(col("p_id"), col("s"), col("o"), col("o")("id").as("o_id"))
  }
  private def vocabCharPart(df: DataFrame): DataFrame =
    df.filter(col("p_id") === typeId && col("o")("id").isin(markIds: _*))
      .select(col("p_id"), col("s"), col("o"), col("o")("id").as("o_id"))
  /** Cheap emptiness probe for the characteristic/restriction markers: the
    * full charPart scan decodes the WHOLE rdf:type partition's s/o term
    * structs (strings included) just to find marker rows that are absent on
    * schema-less data (TMPROF measured the vocab action at 0.75–1.4 s, almost
    * all of it this decode). Projecting only the 8-byte id fields lets the
    * parquet reader skip every string column; one extra tiny job buys the
    * skip of the expensive one whenever the probe comes back empty.
    */
  private def hasCharMarks(df: DataFrame): Boolean =
    !vocabCharPart(df).select(col("p_id")).limit(1).isEmpty
  private def vocabFilter(df: DataFrame): DataFrame =
    if (hasCharMarks(df)) vocabSchemaPart(df).unionByName(vocabCharPart(df))
    else vocabSchemaPart(df)

  private[inference] def collectVocab(stmts: DataFrame): Vocab =
    vocabFromRows(vocabFilter(stmts).collect())

  /** Two vocabularies (old/new views of a store) in ONE tagged driver action,
    * plus the new view's explicit-sameAs presence (folded into the same job —
    * a separate limit(1) probe was one more round-trip per TM pass).
    * PRECONDITION (guaranteed by truthMaintainDelta's marker guard): the
    * characteristic/restriction-marker rows are identical in both views, so the
    * expensive type-partition marker scan runs ONCE and is shared.
    */
  private[inference] def collectVocab2(oldStmts: DataFrame,
                                       newStmts: DataFrame): (Vocab, Vocab, Boolean) = {
    // char-marker arm gated by the id-only probe (see hasCharMarks): on
    // marker-free data the tagged action skips the type-partition struct
    // decode entirely
    val charArm =
      if (hasCharMarks(newStmts)) Some(vocabCharPart(newStmts).withColumn("__old", lit(null)))
      else None
    val rows = (Seq(
      vocabSchemaPart(oldStmts).withColumn("__old", lit(true)),
      vocabSchemaPart(newStmts).withColumn("__old", lit(false))) ++ charArm)
      .reduce(_.unionByName(_))
      .unionByName(newStmts.filter(col("p_id") === sameAsId).limit(1)
        .select(col("p_id"), col("s"), col("o"), col("o")("id").as("o_id"))
        .withColumn("__old", lit(null)))
      .collect()
    val (sameAs, tagged) = rows.partition(_.getLong(0) == sameAsId)
    val char = tagged.filter(_.isNullAt(4))
    (vocabFromRows(tagged.filter(r => !r.isNullAt(4) && r.getBoolean(4)) ++ char),
      vocabFromRows(tagged.filter(r => !r.isNullAt(4) && !r.getBoolean(4)) ++ char),
      sameAs.nonEmpty)
  }

  private def vocabFromRows(vocabRows: Array[Row]): Vocab = {
    val schemaRows: Map[Long, Array[(Row, Row)]] = vocabRows
      .filter(r => r.getLong(0) != typeId)
      .groupBy(_.getLong(0))
      .map { case (k, rs) => k -> rs.map(r => (r.getStruct(1), r.getStruct(2))) }
    def schema(pid: Long): Array[(Row, Row)] = schemaRows.getOrElse(pid, Array.empty)
    val eqc = schema(eqClassId)
    val eqp = schema(eqPropId)
    // property-characteristic declarations (transitive/symmetric/(inverse-)functional)
    // come from the same combined vocabulary scan, keyed by the type object
    val propChars: Map[Long, Array[Row]] = vocabRows
      .filter(r => r.getLong(0) == typeId && r.getLong(3) != restrictionId)
      .groupBy(_.getLong(3)).map { case (k, rs) => k -> rs.map(_.getStruct(1)) }
    // owl:hasValue restrictions (RuleOwlHasValue): a type owl:Restriction,
    // a owl:onProperty p, a owl:hasValue v — vocabulary-sized, keyed by a.id
    val restrictions: Seq[(Long, Row, Row)] = {
      val onP = schema(onPropertyId).map { case (a, p) => idOf(a) -> p }.toMap
      val hv = schema(hasValueId).map { case (a, v) => idOf(a) -> v }.toMap
      if (onP.isEmpty || hv.isEmpty) Nil
      else {
        val isRestriction = vocabRows
          .filter(r => r.getLong(0) == typeId && r.getLong(3) == restrictionId)
          .map(r => idOf(r.getStruct(1))).toSet
        (onP.keySet intersect hv.keySet).toSeq.filter(isRestriction)
          .map(a => (a, onP(a), hv(a)))
      }
    }
    Vocab(
      sc = schema(subClassId) ++ eqc ++ eqc.map(_.swap),
      sp = schema(subPropId) ++ eqp ++ eqp.map(_.swap),
      eqc = eqc, eqp = eqp,
      dom = schema(domainId), rng = schema(rangeId), inv = schema(inverseOfId),
      transProps = propChars.getOrElse(transitiveId, Array.empty[Row]),
      symProps = propChars.getOrElse(symmetricId, Array.empty[Row]),
      funcProps = propChars.getOrElse(functionalId, Array.empty[Row]),
      invFuncProps = propChars.getOrElse(invFunctionalId, Array.empty[Row]),
      restrictions = restrictions)
  }

  /** Materialize the closure; derived rows get stype=Inferred and the default graph. */
  def closure(store: GraftStore): GraftStore =
    graft.engine.DfOps.noConstraints(store.spark)(closureImpl(store))

  private def closureImpl(store: GraftStore): GraftStore = {
    val spark = store.spark
    val stmts = store.statements
    val v = collectVocab(stmts)
    val schema = RuleSchema.of(v, v.symProps)
    val transProps = v.transProps
    val funcProps = v.funcProps
    val invFuncProps = v.invFuncProps
    val hasSameAs = stmts.filter(col("p_id") === sameAsId).limit(1).count() > 0 ||
      funcProps.nonEmpty || invFuncProps.nonEmpty
    if (!schema.nonEmpty && transProps.isEmpty && !hasSameAs)
      return store

    var derived = Seq.empty[DataFrame]
    // rdfs5/11 (+owl equivalence): schema closures themselves (vocabulary-sized)
    val eqcSwap = v.eqc.map(_.swap).toSeq
    val eqpSwap = v.eqp.map(_.swap).toSeq
    if ((schema.sc ++ schema.sp ++ eqcSwap ++ eqpSwap).nonEmpty)
      derived :+= schemaStmts(spark, schema.sc, schema.sp, eqcSwap, eqpSwap)

    var facts = graft.engine.DfOps.reid(stmts.select(col("s"), col("p"), col("o"), col("p_id")))

    // Early stages over every fact so far. Each stage's conclusions are
    // materialized ONCE: they feed the later stages, FP/IFP, the transitive
    // fixpoint AND the novelty union, and a consumer's p_id filter cannot
    // prune a branch whose derived p comes from the broadcast side — lazily
    // the data-sized join would re-run per consumer.
    earlyStages.foreach { st =>
      fireStage(spark, st, schema)(_ => facts).foreach { d0 =>
        val d = d0.localCheckpoint()
        derived :+= d
        facts = facts.unionByName(withPid(graft.engine.DfOps.reid(d)))
      }
    }

    // RuleOwlTransitiveProperty1/2: per transitive property, id-space fixpoint
    if (transProps.nonEmpty) {
      val tIds = transProps.map(idOf).toSeq
      val tEdges = facts.filter(col("p_id").isin(tIds: _*))
      val dict = nodeDict(ends(tEdges): _*).localCheckpoint()
      val dTrans = transSpo(spark, graft.engine.DfOps.closurePairs(
          idTriples(tEdges, tIds), Seq("p_id")), dict, transProps.toSeq, "a", "b")
        .localCheckpoint() // multi-consumer delta (see the early stages)
      derived :+= dTrans
      facts = facts.unionByName(withPid(graft.engine.DfOps.reid(dTrans)))
    }

    // RuleOwlSameAs1/2/3: equivalence classes (CC in id space), all-pairs sameAs,
    // then subject/object substitution over the fact base. `sameAsActive` records
    // whether substitution actually RAN: FP/IFP declarations with clean data (the
    // common case) derive zero pairs, and the derived-predicate partition pruning
    // of the novelty anti-join below must not be forfeited for them.
    val saPairs: Option[DataFrame] = if (!hasSameAs) None else {
      val explicitSa = stmts.filter(col("p_id") === sameAsId).select(col("s"), col("o"))
      // RuleOwlFunctionalProperty: (p a owl:FunctionalProperty), (a p b), (a p c),
      // b≠c → (b sameAs c), keyed on (p_id, subject id);
      // RuleOwlInverseFunctionalProperty: (a p b), (c p b), a≠c → (a sameAs c) —
      // the mirror image, keyed on (p_id, object id)
      val minted = Seq((funcProps, true), (invFuncProps, false)).collect {
        case (props, functional) if props.nonEmpty =>
          fpPairs(fpKeyed(facts.filter(col("p_id").isin(props.map(idOf).toSeq: _*)),
              functional, col("p_id")), _("id"))
            .select(col("b").as("s"), col("c").as("o"))
      }
      val saStmts = (explicitSa +: minted)
        .map(graft.engine.DfOps.reid).reduce(_.unionByName(_)).localCheckpoint()
      // the checkpoint above already materialized the pair set — the emptiness
      // probe is a metadata-cheap scan of it, not a recompute
      if (saStmts.limit(1).count() > 0) Some(saStmts) else None
    }
    val sameAsActive = saPairs.isDefined
    saPairs.foreach { saStmts =>
      val comp = graft.gas.Gas.connectedComponents(
        saStmts.select(col("s")("id").as("src"), col("o")("id").as("dst")))
      val members = withTerms(comp, nodeDict(ends(saStmts): _*), "vertex" -> "n")
        .select(col("component"), col("vertex").as("nid"), col("n")).localCheckpoint()
      val aliasPairs = classPairs(members)
      derived :+= aliasPairs.select(col("n_x").as("s"), Term.iri(OWL_SAMEAS).as("p"),
        col("n_y").as("o"))
      val aliasOf = broadcast(aliasPairs.select(col("nid_x").as("xid"), col("n_y").as("alias"))
        .localCheckpoint())
      val nonSa = facts.filter(col("p_id") =!= sameAsId)
      val subjSubs = subjSub(nonSa, aliasOf)
        .localCheckpoint() // multi-consumer delta (see the early stages)
      val objSubs = objSub(nonSa, aliasOf).localCheckpoint()
      // BOTH-sided substitution (the full class×class orbit): the reference's
      // RuleOwlSameAs2/3 run inside an iterative rule engine to quiescence, so
      // (x' p y') derives whenever x'~x AND y'~y — one more join off the
      // already-substituted subjects closes the orbit in a single pass, and
      // makes the materialized state CLOSED under substitution (which the
      // delta TM pass relies on: substituting a materialized copy must never
      // leave the orbit).
      val bothSubs = objSub(subjSubs, aliasOf).localCheckpoint()
      derived :+= subjSubs
      derived :+= objSubs
      derived :+= bothSubs
      facts = facts.unionByName(withPid(graft.engine.DfOps.reid(bothSubs)))
      facts = facts.unionByName(withPid(graft.engine.DfOps.reid(subjSubs)))
        .unionByName(withPid(graft.engine.DfOps.reid(objSubs)))
    }

    // Late stages over every fact incl. the property/owl entailments; the
    // lateOnly hasValue firing reads just the late stages' types
    // (restriction membership derived by rdfs2/rdfs3/rdfs9)
    var late: Option[DataFrame] = None
    lateStages.foreach { st =>
      (if (st.lateOnly) late else Some(facts))
        .flatMap(prem => fireStage(spark, st, schema)(_ => prem))
        .foreach { d =>
          derived :+= d
          val dp = withPid(graft.engine.DfOps.reid(d))
          facts = facts.unionByName(dp)
          late = Some(late.fold(dp)(_.unionByName(dp)))
        }
    }

    if (derived.isEmpty) return store
    // dedup + novelty anti-join in id space: 24-byte keys, not wide term structs
    val derivedKeys = keyed(derived.map(d => graft.engine.DfOps.reid(d.select("s", "p", "o")))
      .reduce(_.unionByName(_))).dropDuplicates(spoKey)
    // Without sameAs substitution every derived predicate is KNOWN (schema constants,
    // rdfs7 superproperties, inverses, transitive props), so the anti-join's existing-
    // statements side prunes to those p_id partitions instead of scanning the store.
    // Keyed on sameAsActive, not hasSameAs: FP/IFP vocabulary with zero derived
    // pairs keeps the pruning.
    val derivedPids: Option[Seq[Long]] =
      if (sameAsActive) None
      else Some((Seq(subClassId, subPropId, eqClassId, eqPropId, typeId) ++
        (schema.sp ++ schema.inv ++ schema.sym).map(p => idOf(p._2)) ++
        transProps.map(idOf) ++ schema.hv.map(r => idOf(r._2))).distinct)
    val existing = derivedPids match {
      case Some(pids) => stmts.filter(col("p_id").isin(pids: _*))
      case None => stmts
    }
    val allDerived = derivedKeys.join(existing.select(col("s")("id").as("__sk"),
        col("p_id").as("__pk"), col("o")("id").as("__ok")), spoKey, "left_anti")
      .drop(spoKey: _*)
    val inferred = asInferred(allDerived)
    // the union stays LAZY: a downstream query's p_id filter pushes into the
    // derivation branches and prunes most of the closure work (measured faster than
    // eagerly materializing the delta — single-consumer closures dominate)
    store.withStatements(store.statements.unionByName(inferred))
  }
}
