package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{array, col, element_at, explode, typedLit}
import org.apache.spark.sql.types.{LongType, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object DfOps {
  /** Re-alias every column (fresh expression ids). Self-unions in fixpoint loops can
    * otherwise hit Catalyst's Union constraint-rewrite with duplicate attribute ids
    * ("key not found: x#N") — one cheap projection decouples the lineages.
    */
  def reid(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)).toSeq: _*)

  /** The one cap on rows held on the driver: a fixpoint round's frontier in
    * `semiNaive`'s driver rounds, and the seed ids of the subject sidecar probe.
    */
  val SEED_CAP = 1024

  /** True when `df` is driver-resident: its optimized plan is one LocalRelation
    * (a projection or filter of one folds into it), so collecting it starts no job.
    */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** At most `n` rows of `df` in one job: every partition stops after `n` rows.
    * A driver-resident `df` is read without a job, and so is one that adaptive
    * execution finds empty at run time (after its shuffle stages). `limit(n)
    * .collect()` instead may run several incremental jobs, each scanning more
    * partitions, so how much it reads depends on task scheduling.
    */
  def collectAtMost(df: DataFrame, n: Int): Array[Row] =
    if (isLocal(df)) df.collect().take(n)
    else {
      // on df's own plan: planned once, its rows copied out of the reused buffer.
      // A plan replaced by an empty relation has no partitions; collecting it
      // would still start a (zero-task) job.
      val rdd = df.queryExecution.toRdd
      if (rdd.partitions.isEmpty) Array.empty
      else {
        val toRow = ExpressionEncoder(RowEncoder.encoderFor(df.schema)).resolveAndBind()
          .createDeserializer()
        rdd.mapPartitions(_.take(n).map(_.copy())).collect().take(n).map(toRow)
      }
    }

  /** A driver-resident frame (one LocalRelation) of `rows` on `spark`, with
    * `schema`'s columns made nullable.
    */
  def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(schema.map(_.copy(nullable = true))))

  /** Semi-naive fixpoint, the one iteration driver of property paths, DESCRIBE's
    * bnode chase, the transitive-property closure, truth maintenance's cone BFS
    * and GAS BFS. Round 0's frontier is `init`; round r's is `step(frontier, r)`,
    * deduplicated on `keys`, minus every row reached so far (anti-join on `keys`).
    * Stops when a round adds nothing or after `maxRounds` rounds.
    *
    * Driver rounds. A driver-resident `init` (`isLocal`) starts on the driver:
    * the frontier is a LocalRelation of at most `SEED_CAP` rows, the reached keys
    * a driver hash set. A round collects its step output in one job with a
    * per-partition cap (`collectAtMost`), then deduplicates and anti-joins it on
    * the driver; a probe of the edge side through `probe` is then a pushed-down
    * filter with no exchange or broadcast. The reached rows come back as one
    * LocalRelation on `init`'s session (`localFrame`).
    *
    * Distributed rounds. Any other `init`, and the round whose step output
    * exceeds `SEED_CAP` rows (or whose columns differ from `init`'s in type), run
    * distributed from then on: each frontier is a LAZY localCheckpoint that its
    * own count() materializes, and the result is a `reid` union over the
    * frontiers. That count is one action, but under AQE every exchange and
    * broadcast of the round's plan is a job of its own: 5–6 jobs for a round over
    * a tiny frontier. A distributed `init` is neither counted (an empty one ends
    * the loop after round 1) nor checkpointed, and every round's anti-join reads
    * it: pass it distinct on `keys` and checkpointed (a lazy checkpoint is
    * enough, round 1's count materializes it) unless it is cheap to rebuild.
    */
  def semiNaive(init: DataFrame, keys: Seq[String], maxRounds: Int = Int.MaxValue)
               (step: (DataFrame, Int) => DataFrame): DataFrame = {
    if (!isLocal(init)) return distributedRounds(init, init, keys, 0, maxRounds, step)
    val spark = init.sparkSession
    val schema = init.schema
    val names = schema.fieldNames.toSeq
    val types = schema.map(f => f.name -> f.dataType).toMap
    val keyAt = keys.map(names.indexOf(_))
    val reached = mutable.ArrayBuffer.from(init.collect())
    val seen = mutable.HashSet.from(reached.map(r => keyAt.map(r.get)))
    var frontier = reached.toSeq
    var round = 0
    while (frontier.nonEmpty && round < maxRounds) {
      val prev = localFrame(spark, frontier, schema)
      val out = step(prev, round + 1)
      val fits = out.schema.size == names.size &&
        out.schema.forall(f => types.get(f.name).contains(f.dataType))
      val got = if (fits) collectAtMost(out, SEED_CAP + 1) else Array.empty[Row]
      if (!fits || got.length > SEED_CAP)
        return distributedRounds(localFrame(spark, reached.toSeq, schema), prev, keys,
          round, maxRounds, step)
      round += 1
      val at = names.map(out.schema.fieldIndex)
      frontier = got.iterator.map(r => Row.fromSeq(at.map(r.get)))
        .filter(r => seen.add(keyAt.map(r.get))).toVector
      reached ++= frontier
    }
    localFrame(spark, reached.toSeq, schema)
  }

  /** `semiNaive`'s distributed rounds, from round `round0 + 1` on. */
  private def distributedRounds(init: DataFrame, frontier0: DataFrame, keys: Seq[String],
                                round0: Int, maxRounds: Int,
                                step: (DataFrame, Int) => DataFrame): DataFrame = {
    var acc = init
    var frontier = frontier0
    var n = 1L
    var round = round0
    while (n > 0 && round < maxRounds) {
      round += 1
      frontier = step(frontier, round).dropDuplicates(keys)
        .join(acc.select(keys.map(col): _*), keys, "left_anti").localCheckpoint(false)
      n = frontier.count()
      if (n > 0) acc = acc.unionByName(reid(frontier))
    }
    acc
  }

  /** A fixpoint round's probe of the edge side by key: `frontier` joined with
    * `edges` on the columns `on` both carry. `how` is "inner" (the columns of
    * `frontier.join(edges, on)`) or "left_semi" (the `edges` rows with a match).
    *
    * A driver-resident frontier (semiNaive's driver rounds pass one) whose `on`
    * and other columns are non-null LONG ids becomes an `isin` filter per key on
    * `edges`, which parquet pushes down, and an inner probe reads the frontier's
    * other columns from a literal map by key: no exchange and no broadcast job.
    * Any other frontier runs the join against `joinEdges`, which is only built
    * then (a caller's keyed copy of `edges`, say).
    */
  def probe(edges: DataFrame, frontier: DataFrame, on: Seq[String], how: String,
            joinEdges: => DataFrame): DataFrame = {
    val others = frontier.columns.toSeq.filterNot(on.contains)
    val ids = if (how == "inner") on ++ others else on
    def driverRows: Option[Seq[Row]] =
      if ((how == "left_semi" && on.size > 1) || !isLocal(frontier) ||
          !ids.forall(c => frontier.schema(c).dataType == LongType)) None
      else Some(frontier.collect().toSeq)
        .filter(_.forall(r => ids.forall(c => !r.isNullAt(r.fieldIndex(c)))))
    driverRows match {
      case None if how == "left_semi" =>
        joinEdges.join(frontier.select(on.map(col): _*), on, "left_semi")
      case None => frontier.join(joinEdges, on, how)
      case Some(rows) =>
        val pushed = on.foldLeft(edges) { (e, c) =>
          e.filter(col(c).isin(rows.map(_.getAs[Long](c)).distinct: _*))
        }
        if (how == "left_semi") pushed
        else {
          val byKey = rows.groupBy(r => on.map(r.getAs[Long]))
            .map { case (k, rs) => k -> rs.map(r => others.map(r.getAs[Long])) }
          // a scalar key, when there is one, looks up faster than a 1-array
          val found =
            if (on.size == 1)
              element_at(typedLit(byKey.map { case (k, v) => k.head -> v }), col(on.head))
            else element_at(typedLit(byKey), array(on.map(col): _*))
          pushed.withColumn("__found", explode(found)).select(
            on.map(col) ++ others.indices.map(i => col("__found")(i).as(others(i))) ++
              edges.columns.toSeq.filterNot(on.contains).map(col): _*)
        }
    }
  }

  /** `probe` joining against `edges` itself. */
  def probe(edges: DataFrame, frontier: DataFrame, on: Seq[String], how: String): DataFrame =
    probe(edges, frontier, on, how, edges)

  /** Transitive closure (paths of length ≥ 1) of (group…, a, b) edge pairs within
    * each group, from every source or, given `seeds` (columns group… and `a`), from
    * the seeds only. Output: the distinct reached (group…, a, b) pairs.
    *
    * Driver-resident `seeds` whose edges fit `SEED_CAP` start `semiNaive`'s driver
    * rounds: round 0 is one bounded collect of their edges, and every round probes
    * `edges` with a pushed-down filter. Otherwise, and from the first round that
    * goes distributed, the edge relation is keyed on group ++ a ONCE (a subset of
    * the dedup keys, so the distinct runs on the same exchange): every round probes
    * it on the frontier's `b`, and an (a,b)-hashed layout would re-shuffle the
    * whole relation per round. The keyed copy is built only then.
    */
  def closurePairs(edges: DataFrame, group: Seq[String] = Nil,
                   seeds: Option[DataFrame] = None): DataFrame = {
    val on = group :+ "a"
    val pair = on :+ "b"
    val raw = edges.select(pair.map(col): _*)
    lazy val keyed = raw.repartition(on.map(col): _*)
      .dropDuplicates(pair).sortWithinPartitions(on.map(col): _*).localCheckpoint(false)
    val driverInit = seeds.filter(isLocal).flatMap { s =>
      val rows = collectAtMost(probe(raw, s.select(on.map(col): _*), on, "left_semi"), SEED_CAP + 1)
      if (rows.length > SEED_CAP) None
      else Some(localFrame(raw.sparkSession, rows.distinct.toSeq, raw.schema))
    }
    val init = driverInit.getOrElse(seeds.fold(keyed)(s =>
      keyed.join(s.select(on.map(col): _*), on, "left_semi").localCheckpoint(false)))
    val rawM = raw.withColumnRenamed("a", "m")
    semiNaive(init, pair) { (frontier, _) =>
      probe(rawM, frontier.withColumnRenamed("b", "m"), group :+ "m", "inner",
        keyed.withColumnRenamed("a", "m")).select(pair.map(col): _*)
    }
  }

  /** Materialize AND cut attribute lineage. localCheckpoint keeps the plan's
    * expression ids, so two checkpointed frames sharing an upstream scan put
    * duplicate attribute ids into sibling Union children — Catalyst's Union
    * constraint rewriting then resolves a constraint against the wrong child
    * (NoSuchElementException "key not found: x#N" in AttributeMap), and reid's
    * aliases can be stripped again by RemoveRedundantAliases. A fresh
    * LogicalRDD leaf over the checkpointed rows has new ids and no inherited
    * constraints. Delta-sized frames only: each consumer re-reads the blocks
    * through a row-conversion pass.
    */
  def freshLeaf(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Run `f` with Catalyst constraint propagation OFF, restoring the previous
    * setting after. localCheckpoint captures the origin plan's constraint set
    * into the LogicalRDD leaf, keyed by the OPTIMIZED plan's attribute ids;
    * when DeduplicateRelations re-ids attributes inside self-joining fixpoint
    * plans (Spark WARNs "output columns are expected to the same"), the
    * captured constraints reference attributes absent from the leaf's output,
    * and ANY later Union over that leaf dies in rewriteConstraints
    * ("key not found: x#N"). With propagation off during the checkpoint the
    * captured set is empty — the leaf is permanently clean, whatever the
    * session setting is when it is later queried. Constraint propagation also
    * has known super-linear planning cost on wide union fixpoint plans, so the
    * inference/update paths lose nothing by running without it.
    */
  // refcounted PER SESSION: the flag lives on the session conf, which
  // concurrent TM/update work shares (parallel test suites, concurrent
  // mutations). A plain set/restore bracket would re-enable propagation while
  // a sibling invocation is mid-checkpoint, re-poisoning its leaf. Restore only
  // when the LAST concurrent invocation on that session exits; `prev` is
  // captured at its first entry. Keyed by session, not process-wide: at-rest
  // stores run on an interpreted sibling (GraftStore.execSession) and
  // in-memory stores on the caller's session, and a process-wide count would
  // skip the set on the second session and restore the first session's value
  // onto it. An entry lives only while an
  // invocation on its session runs.
  private val ncState =
    scala.collection.mutable.HashMap.empty[org.apache.spark.sql.SparkSession, (Int, Option[String])]
  def noConstraints[A](spark: org.apache.spark.sql.SparkSession)(f: => A): A = {
    val k = "spark.sql.constraintPropagation.enabled"
    ncState.synchronized {
      val (depth, prev) = ncState.getOrElse(spark, {
        val p = spark.conf.getOption(k); spark.conf.set(k, "false"); (0, p)
      })
      ncState(spark) = (depth + 1, prev)
    }
    try f
    finally ncState.synchronized {
      val (depth, prev) = ncState(spark)
      if (depth > 1) ncState(spark) = (depth - 1, prev)
      else {
        ncState.remove(spark)
        prev match {
          case Some(v) => spark.conf.set(k, v)
          case None => spark.conf.unset(k)
        }
      }
    }
  }

  /** Spread a narrow input across the session's cores. A small parquet table often
    * arrives as ONE split, so per-row pipelines (shingling, hashing, feature extraction)
    * run single-threaded; one cheap round-robin shuffle restores parallelism. No-op
    * when the input is already wide enough (the at-scale case).
    */
  def spread(df: DataFrame, actualBytes: Option[Long] = None): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Decide from the optimizer's size estimate, not .rdd.getNumPartitions: the
    // .rdd probe forces a full physical-planning pass per call (~10× the cost of
    // stats, measured), and the planned RDD is then thrown away. ≥4 MB/core means
    // the scan already splits wide enough that a round-robin shuffle buys nothing.
    // `actualBytes` (the store's at-rest dir size for the pruned partition)
    // overrides the estimate: path-based reads keep FULL-store stats after
    // pruning, so without it a big store never spreads — a 39 MB/1M-row scan
    // feeding per-row-fat BIND compute ran 3-wide on 32 cores (measured 30 s
    // of q_geo_service's 33 s at ~sf1).
    actualBytes match {
      // accurate-bytes path (statement-store scans): unlike the stats path it
      // can SEE per-row-scale scans, so it also applies a floor — below ~1 MB
      // the round-robin exchange costs more than the parallelism buys (a
      // 20 KB mutation WHERE scan must keep its shuffle-free single-stage
      // shape; measured +1 s on q_update_insert without the floor). Above it
      // spread: even a 4 MB/100k-row scan feeding per-row-fat BIND compute
      // (~50 µs/row) halves on the exchange (q_geo_service sf0.1 measured).
      case Some(b) =>
        if (b >= (1L << 20) && BigInt(b) < BigInt(target) * (4L << 20))
          df.repartition(target)
        else df
      case None =>
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        if (bytes >= BigInt(target) * (4L << 20)) df else df.repartition(target)
    }
  }

  /** Global row_number WITHOUT a single-partition window: range-repartition on the
    * sort key, count per partition (tiny collect — one row per partition), broadcast
    * the cumulative offsets back as a literal map, and add a partition-LOCAL
    * row_number. The classic distributed rank (what RDD.zipWithIndex does under the
    * hood), expressed in DataFrame-land so the result stays a DataFrame.
    *
    * The input is materialized (localCheckpoint) before the offset job: range
    * partitioner boundaries are sampled, so an unmaterialized plan could re-sample
    * different boundaries between the count job and the final pass, skewing ranks.
    */
  def globalRowNumber(df: DataFrame, ord: Seq[org.apache.spark.sql.Column],
                      out: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val sorted = df.repartitionByRange(ord: _*).sortWithinPartitions(ord: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint()
    val counts = sorted.groupBy(col("__pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (pid, n) => val o = acc; acc += n; (pid, o) }.toMap
    val offCol =
      if (offsets.isEmpty) lit(0L)
      else element_at(typedLit(offsets), col("__pid"))
    val local = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(ord: _*)
    sorted.withColumn(out, offCol + row_number().over(local)).drop("__pid")
  }

  /** Salted equi-join for skewed keys (SURVEY §7 "salting for skew"): the build side is
    * replicated `salt` times, the probe side gets a random salt in [0, salt), and the
    * exchange partitions on (key, salt) — spreading a hot key over `salt` reducers.
    * AQE's skew-join split handles moderate skew automatically; this is the explicit
    * lever for pathological keys (e.g. a celebrity node in a 100 TB graph).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 salt: Int, how: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = probe.withColumn("__salt", (rand(42) * salt).cast("int"))
    val b = build.withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
    p.join(b, Seq(key, "__salt"), how).drop("__salt")
  }

  /** As-of join: for each left row, the single most recent right row with
    * `right.timeCol <= left.timeCol` on the same key (event attribution, feature
    * snapshots at training time, slowly-changing-dimension lookup).
    *
    * Catalyst has no asof operator; the naive formulation (theta join + per-row
    * max) is a nested-loop cliff. This is the scalable shape: tag both sides,
    * union, ONE exchange on the key, and a running `last(ignoreNulls)` window
    * carries each right row forward to the left rows it answers — no join at
    * all, cost = one shuffle + one sort, linear in rows. At equal timestamps the
    * right row sorts first (asof `<=` semantics, like DuckDB ASOF JOIN / pandas
    * merge_asof). Left rows with no prior right row are dropped (inner asof).
    *
    * `rightCols` are the right-side payload columns to carry; they arrive
    * prefixed with `matched_`.
    */
  def asofJoin(leftDf: DataFrame, rightDf: DataFrame, key: String, time: String,
               rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val leftCols = leftDf.columns.toSeq
    val l = leftDf.withColumn("__side", lit(1))
    val r = rightDf.select((Seq(col(key), col(time).as("__rt"), lit(0).as("__side")) ++
      rightCols.map(c => col(c).as(s"matched_$c"))): _*)
      .withColumn(time, col("__rt"))
    val all = l.unionByName(r.drop("__rt"), allowMissingColumns = true)
    val w = Window.partitionBy(key).orderBy(col(time).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.foldLeft(all) { (df, c) =>
      df.withColumn(s"matched_$c", last(col(s"matched_$c"), ignoreNulls = true).over(w))
    }.withColumn("matched_" + time,
      last(when(col("__side") === 0, col(time)), ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1 && col(s"matched_${rightCols.head}").isNotNull)
      .select((leftCols ++ rightCols.map("matched_" + _) :+ s"matched_$time").map(col): _*)
  }

  /** Banded range join: rows of `points` matched to rows of `ranges` with
    * `lo <= v < hi`. The naive theta join is BroadcastNestedLoopJoin — quadratic
    * work per partition pair. Banding makes it an equi-join: each range explodes
    * to the `band`-width buckets it covers, each point hashes to its bucket, and
    * the exact predicate filters within the (tiny) bucket-local candidate set —
    * linear in points + range coverage, shuffle keyed on the bucket. Pick `band`
    * near the typical range width: wider bands = fewer replicas, more post-filter.
    */
  def rangeJoin(points: DataFrame, vCol: String, ranges: DataFrame,
                loCol: String, hiCol: String, band: Double): DataFrame = {
    import org.apache.spark.sql.functions._
    // empty intervals (lo >= hi) match nothing; dropping them up front also keeps
    // sequence() from running DESCENDING (its start>stop behavior) into junk bands
    val rb = ranges.filter(col(loCol) < col(hiCol)).withColumn("__b", explode(sequence(
      floor(col(loCol) / band).cast("long"),
      floor((col(hiCol) - lit(1e-9)) / band).cast("long"))))
    val pb = points.withColumn("__b", floor(col(vCol) / band).cast("long"))
    pb.join(rb, Seq("__b")).filter(col(vCol) >= col(loCol) && col(vCol) < col(hiCol))
      .drop("__b")
  }
}
