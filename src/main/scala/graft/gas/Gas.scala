package graft.gas

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gather-Apply-Scatter graph analytics, DataFrame-native.
  *
  * The reference exposes BFS/SSSP/CC/PageRank through its GAS API
  * (`bigdata-gas/src/main/java/com/bigdata/rdf/graph/IGASProgram.java`, algorithms in
  * `…/graph/analytics/{BFS,SSSP,CC,PR}.java`) as `SERVICE gas:program {…}` calls. Here
  * each algorithm is an iterate-aggregate loop over an edges DataFrame — the
  * `aggregateMessages` pattern expressed with joins + groupBy so Catalyst/AQE handle
  * physical planning; `localCheckpoint()` per round cuts lineage. Frontier-based
  * algorithms (BFS/SSSP) touch only the active frontier per round; label-propagation
  * (CC) and PageRank are full-graph per iteration — both shapes partition by vertex id
  * and scale horizontally.
  *
  * Edges: DataFrame(src: long, dst: long[, weight: double]).
  */
object Gas {

  /** Undirected adjacency, deduped, hash-partitioned and sorted by `src`, materialized.
    * Every per-round join probes the adjacency on `src`; fixing its partitioning once
    * means no round re-shuffles or re-sorts the (large, static) edge side — only the
    * (small, changing) frontier/label side moves. This is the Spark analog of the
    * reference holding the statics in a B+Tree while streaming solutions past it.
    */
  private def undirected(edges: DataFrame): DataFrame =
    directed(edges.select("src", "dst")
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))))

  /** Dedup + hash-partition + sort an edge list in ONE exchange: partitioning on
    * `src` already co-locates equal (src,dst) pairs (src ⊆ the dedup keys), so the
    * distinct aggregate runs on the repartition shuffle without a second exchange —
    * the old dedup-then-repartition shape moved the full edge list twice.
    */
  private def directed(edges: DataFrame): DataFrame =
    edges.repartition(col("src"))
      .dropDuplicates("src", "dst")
      .sortWithinPartitions("src")
      .localCheckpoint()

  /** BFS levels from a source vertex: (vertex, level), over the edges taken in
    * both directions. Each round probes `edges` by key from both ends
    * (`DfOps.probe`): from a driver-resident frontier that is two pushed-down
    * filters in one job, and no whole-graph adjacency is built.
    */
  def bfs(edges: DataFrame, source: Long, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val sides = Seq(
      edges.select(col("src").as("vertex"), col("dst").as("next")),
      edges.select(col("dst").as("vertex"), col("src").as("next")))
    graft.engine.DfOps.semiNaive(Seq((source, 0)).toDF("vertex", "level"),
      Seq("vertex"), maxIter) { (frontier, level) =>
      val f = frontier.select("vertex")
      sides.map(graft.engine.DfOps.probe(_, f, Seq("vertex"), "left_semi"))
        .reduce(_.unionByName(_)).select(col("next").as("vertex"), lit(level).as("level"))
    }
  }

  /** Single-source shortest paths (weighted, Bellman-Ford style frontier relaxation). */
  def sssp(edges: DataFrame, source: Long, maxIter: Int = 50): DataFrame =
    multiSssp(edges, Seq(source), maxIter).drop("seed")

  /** Multi-source SSSP: ONE fixpoint relaxes every seed together, state keyed
    * (seed, vertex). Rounds = the max relaxation depth over seeds (not the sum),
    * and each round's shuffle carries all seeds' frontiers in the same exchange —
    * the batched form of what the reference runs as one GAS program per source
    * (`analytics/SSSP.java`). Output: (seed, vertex, dist).
    */
  def multiSssp(edges: DataFrame, seeds: Seq[Long], maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val w = if (edges.columns.contains("weight")) edges
      else edges.withColumn("weight", lit(1.0))
    val adj = w.select("src", "dst", "weight")
      .unionByName(w.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .repartition(col("src")) // one exchange: src ⊆ the grouping keys (see directed)
      .groupBy("src", "dst").agg(min("weight").as("weight"))
      .sortWithinPartitions("src")
      .localCheckpoint()
    var dist = seeds.distinct.map(v => (v, v, 0.0)).toDF("seed", "vertex", "dist")
      .localCheckpoint()
    var frontier = dist
    var iter = 0
    var n = 1L
    while (n > 0 && iter < maxIter) {
      iter += 1
      val cand = frontier.join(adj, col("vertex") === col("src"))
        .select(col("seed"), col("dst").as("vertex"), (col("dist") + col("weight")).as("nd"))
        .groupBy("seed", "vertex").agg(min("nd").as("nd"))
      // lazy checkpoint + count fusion (see DfOps.semiNaive's distributed
      // rounds): one action per round, one job per exchange under AQE
      val improved = cand.join(dist, Seq("seed", "vertex"), "left_outer")
        .filter(col("dist").isNull || col("nd") < col("dist"))
        .select(col("seed"), col("vertex"), col("nd").as("dist")).localCheckpoint(false)
      n = improved.count()
      if (n > 0) {
        // dist stays checkpointed (re-joined each round) but LAZY: the next
        // round's count job (or the caller's final action) materializes it —
        // no standalone materialization job per round
        dist = dist.join(improved, Seq("seed", "vertex"), "left_anti")
          .unionByName(graft.engine.DfOps.reid(improved)).localCheckpoint(false)
        frontier = improved
      }
    }
    dist
  }

  /** Connected components by min-label propagation: (vertex, component = min id).
    *
    * Delta-propagating: after the first full round only vertices whose label
    * IMPROVED last round scatter to their neighbors (the reference's GAS scatter
    * set, `IGASProgram` frontier semantics) — a vertex's min can only drop when a
    * neighbor's dropped. Per-round shuffle volume tracks the shrinking change
    * frontier instead of staying |E| every round.
    *
    * When the change frontier STOPS SHRINKING (the high-diameter signature —
    * a chain/lattice propagates a near-constant wavefront for O(diameter)
    * rounds), each round additionally POINTER-JUMPS the label map
    * (L(v) ← min(L(v), L(L(v))) — valid because L(v) is always a reachable
    * vertex): jumping doubles the label-shortcut length per round, collapsing
    * convergence to ~log(d) rounds. Low-diameter graphs (the common case —
    * their frontier shrinks geometrically) never trigger the jump and never
    * pay its |V| self-join; jump-driven label changes re-enter the delta set,
    * so jump + delta-scatter compose.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val adj = undirected(edges)
    var labels = adj.select(col("src").as("vertex"))
      .unionByName(adj.select(col("dst").as("vertex")))
      .dropDuplicates("vertex").withColumn("label", col("vertex")).localCheckpoint()
    val nV = labels.count()
    var delta = labels // every vertex is "changed" at initialization
    var changed = 1L
    var prevChanged = Long.MaxValue
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      iter += 1
      val push = delta.join(adj, col("vertex") === col("src"))
        .groupBy(col("dst").as("v2")).agg(min("label").as("nl"))
      val prop = labels.join(push, col("vertex") === col("v2"), "left_outer")
        .select(col("vertex"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label2"),
          col("label"))
        .localCheckpoint(false) // lazy: the changed-count job materializes it; delta and next labels reuse the blocks
      // jump only from round 3 on, and only on slow convergence of a LARGE
      // frontier: not-halving signals high diameter, but a small hovering
      // tail frontier makes propagation cheap while the jump still costs a
      // full |V| self-join — there the jump is a pure tax (measured 5× on an
      // amplified low-diameter graph). ≥5% of |V| keeps the jump for
      // wavefronts that actually dominate the runtime.
      val updated = if (iter < 3 || changed * 2 < prevChanged ||
          changed * 20 < nV) prop else {
        // prop self-joins here: materialize it first (one job) so the join's
        // two concurrently-running input stages read blocks instead of each
        // recomputing prop's lineage
        prop.count()
        val m = prop.select(col("vertex").as("__mv"), col("label2").as("__ml"))
        prop.join(m, col("label2") === col("__mv"), "left_outer")
          .select(col("vertex"),
            least(col("label2"), coalesce(col("__ml"), col("label2"))).as("label2"),
            col("label"))
          .localCheckpoint(false)
      }
      prevChanged = changed
      changed = updated.filter(col("label2") < col("label")).count()
      delta = updated.filter(col("label2") < col("label"))
        .select(col("vertex"), col("label2").as("label"))
      labels = updated.select(col("vertex"), col("label2").as("label"))
    }
    labels.withColumnRenamed("label", "component")
  }

  /** PageRank with fixed iteration count (dangling mass redistributed uniformly).
    *
    * One Spark job per iteration: the dangling-vertex mass is folded in as a 1-row
    * aggregate broadcast-crossjoined into the rank update (no per-iteration
    * driver-side collect), and edges + out-degrees carry annotated adjacency
    * pre-partitioned on the probe key.
    */
  def pageRank(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val out = directed(edges.select("src", "dst"))
    val vertices = out.select(col("src").as("vertex"))
      .unionByName(out.select(col("dst").as("vertex")))
      .repartition(col("vertex")).dropDuplicates("vertex")
      .sortWithinPartitions("vertex").localCheckpoint()
    val nV = vertices.count().toDouble
    // static per-iteration inputs, annotated ONCE: adjacency carrying its
    // out-degree (the old loop re-joined ranks↔deg↔out every round), and the
    // dangling vertex set (no out-edges) as a semi-join probe for the mass sum.
    // out is already hash-partitioned + sorted on src, so the count window runs
    // in place — no exchange, no sort, no join
    // static per-iteration inputs checkpoint LAZILY: the first iteration's
    // jobs materialize them once; no standalone materialization jobs
    val adjDeg = out.withColumn("outdeg",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .localCheckpoint(false)
    val danglingV = vertices.join(out.select("src").dropDuplicates("src"),
        col("vertex") === col("src"), "left_anti")
      .select("vertex").localCheckpoint(false)
    var ranks = vertices.withColumn("rank", lit(1.0 / nV)).localCheckpoint()
    for (_ <- 1 to iters) {
      val contribs = ranks.join(adjDeg, col("vertex") === col("src"))
        .select(col("dst").as("vertex"), (col("rank") / col("outdeg")).as("c"))
        .groupBy("vertex").agg(sum("c").as("recv"))
      // dangling mass as a DRIVER SCALAR off the (already materialized) rank
      // blocks: one bounded 1-row fetch replaces the per-iteration
      // BroadcastExchange build job + crossJoin — same arithmetic, same FP
      // order (the sum still runs distributed), ~2 fewer jobs per iteration
      val dm = ranks.join(danglingV, Seq("vertex"), "left_semi")
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dm")).first().getDouble(0)
      val inbound = vertices.join(contribs, Seq("vertex"), "left_outer")
        .select(col("vertex"), coalesce(col("recv"), lit(0.0)).as("recv"))
      // LAZY checkpoint: the next iteration's dangling-mass fetch is the
      // single next consumer and materializes these blocks inside its own
      // job (the final iteration's ranks materialize under the caller's
      // action) — no standalone materialization job per iteration
      ranks = inbound
        .select(col("vertex"),
          (lit((1.0 - damping) / nV) +
            lit(damping) * (col("recv") + lit(dm) / nV)).as("rank"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** Fuzzy shortest-path subgraph (`analytics/FuzzySSSP.java`): for each
    * (source, target) pair collect the vertices ON shortest paths
    * (d_s(v) + d_t(v) = d(s, t)), merge-dedup, then BFS-expand the merged set
    * until at most `n` vertices total — an "interesting subgraph" around the
    * shortest paths. Unreachable pairs contribute nothing (the reference marks
    * them -1 and skips). Output: (vertex, depth), depth 0 = on a shortest path.
    *
    * Scale shape: ONE multi-source SSSP fixpoint covers every distinct endpoint
    * (per-round shuffles carry all seeds together; rounds = max depth, not the
    * sum — the round-7 version serialized one fixpoint per endpoint through the
    * driver), then a single relational join of the seed-keyed distance map with
    * itself recovers all pairs' shortest-path vertex sets; the expansion
    * truncates each round deterministically by vertex id to land exactly on `n`.
    */
  def fuzzySssp(edges: DataFrame, sources: Seq[Long], targets: Seq[Long], n: Long,
                maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val d = multiSssp(edges, (sources ++ targets).distinct, maxIter) // (seed, vertex, dist)
    val pairs = (for (s <- sources; t <- targets) yield (s, t)).distinct.toDF("s", "t")
    // d(s,t) per pair = the s-seeded map evaluated at t; inner join drops
    // unreachable pairs (the reference marks them -1 and skips)
    val dTotal = pairs.join(d, pairs("s") === d("seed") && pairs("t") === d("vertex"))
      .select(col("s"), col("t"), col("dist").as("d_total"))
    val ds = d.select(col("seed").as("s"), col("vertex"), col("dist").as("ds"))
    val dt = graft.engine.DfOps.reid(d)
      .select(col("seed").as("t"), col("vertex"), col("dist").as("dt"))
    val spSet = ds.join(dt, "vertex")
      .join(broadcast(dTotal), Seq("s", "t")) // |pairs| rows — broadcast
      .filter(col("ds") + col("dt") === col("d_total"))
      .select("vertex").dropDuplicates("vertex")
    val adj = undirected(edges)
    var out = spSet.withColumn("depth", lit(0)).localCheckpoint(false)
    var frontier = out
    var total = out.count() // materializes the lazy checkpoint — one fused job
    var depth = 0
    while (total < n && depth < maxIter && frontier != null) {
      depth += 1
      val next = frontier.join(adj, col("vertex") === col("src"))
        .select(col("dst").as("vertex")).dropDuplicates("vertex")
        .join(out, Seq("vertex"), "left_anti")
        .withColumn("depth", lit(depth)).localCheckpoint(false)
      val c = next.count() // fused materialize+count: one action, a job per exchange under AQE
      if (c == 0) frontier = null
      else {
        val room = n - total
        val take = if (c <= room) next
          else next.orderBy("vertex").limit(room.toInt).localCheckpoint()
        out = out.unionByName(graft.engine.DfOps.reid(take))
        frontier = take
        total += math.min(c, room)
      }
    }
    out
  }

  /** Exact triangle census + global clustering coefficient (compact-forward):
    * canonicalize undirected edges, orient every edge from its (degree, id)-
    * smaller endpoint to the larger — the classic degree-ordering that bounds
    * every vertex's oriented out-degree by O(sqrt(m)) — then count wedges
    * (u→v, u→w) closed by an oriented edge (v→w). Each triangle {a<b<c by the
    * order} is counted exactly once, at its lowest-degree corner. All joins
    * hash on vertex ids; the wedge join is the m^1.5 worst-case bound that
    * exact triangle counting cannot beat, reached with zero nested loops.
    * Returns one row: (triangles, wedges, clustering = 3T/W rounded to 9).
    */
  def triangleStats(edges0: DataFrame): DataFrame = {
    val e = edges0
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).dropDuplicates("a", "b")
      .localCheckpoint()
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wd = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val aFirst = (col("da") < col("db")) || (col("da") === col("db") && col("a") < col("b"))
    val o = wd.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint()
    // Deliberately UNHINTED joins. localCheckpoint hides size stats, so the
    // closure join defaults to a shuffle rather than broadcasting the edge set;
    // a measured A/B (SCALE.md round-10 note) put an
    // explicit broadcast(edges) hint at parity locally — and at cluster scale
    // broadcast REPLICATES the edge set per executor (|edges|·N moved) while
    // the shuffle moves each wedge once, so past ~|wedges|/|edges| executors
    // the shuffle is strictly cheaper. The declarative form stays.
    val x = o.select(col("src"), col("dst").as("v"), col("ddeg").as("vd"))
    val y = o.select(col("src"), col("dst").as("w"), col("ddeg").as("wdg"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("vd") < col("wdg") || (col("vd") === col("wdg") && col("v") < col("w")))
      .select("v", "w")
    val t = wedges.join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .count()
    // coalesce: sum() over an empty edge set is null, and W=0 must yield
    // clustering 0.0 (not NaN) for a graph with no wedges
    val wTot = deg.agg(coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0)).cast("long"))
      .first().getLong(0)
    val spark = edges0.sparkSession
    import spark.implicits._
    // clustering = 3T/W from exact integers — the same IEEE ops in any engine,
    // so the double is bit-identical without rounding
    Seq((t, wTot, if (wTot == 0L) 0.0 else 3.0 * t / wTot)).toDF("triangles", "wedges", "clustering")
  }

  /** SAMPLED triangle census / clustering estimate — the 100 TB tier next to
    * the exact `triangleStats`. The exact census is answer-bounded (~m^1.5
    * growth); at 100× scale an estimate with a fixed budget is the right
    * default. Wedges are sampled by DETERMINISTIC edge sub-sampling: a
    * directed (degree-ordered) adjacency edge survives iff the first hex
    * digit of md5("src#dst") is '0' repeated `bits` times (rate 16^-bits per
    * edge, 16^-2bits per wedge — both edges must survive). Closure is checked
    * against the FULL adjacency. Compact-forward orientation closes each
    * triangle at EXACTLY one oriented wedge (its lowest-degree corner — the
    * exact census above returns the closed-wedge count as `triangles` with no
    * division), so a closed wedge survives sampling at 16^-2bits and
    *   triangles_est  = closed · 16^2bits          (unbiased; bits=0 is exact)
    *   clustering_est = 3 · triangles_est / W      (same estimand as the exact
    *                                                census's transitivity 3T/W,
    *                                                W = Σ d(d−1)/2 exact)
    * No /3: that correction applies only to UNoriented wedge sampling where
    * each triangle closes three wedges. md5-on-string is engine-portable
    * (same hex in DuckDB), so the oracle reproduces the estimate bit-for-bit.
    * Cost: the wedge self-join runs on the 16^-bits-sampled adjacency —
    * 16^-2bits of the exact join's pairs — and the closure probe is
    * sampled-wedges-sized; W reuses the degree frame the preamble builds.
    */
  def triangleStatsSampled(edges0: DataFrame, bits: Int = 1): DataFrame = {
    val e = edges0
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).dropDuplicates("a", "b")
      .localCheckpoint()
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val wd = e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
    val aFirst = (col("da") < col("db")) || (col("da") === col("db") && col("a") < col("b"))
    val o = wd.select(
        when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
      .localCheckpoint()
    val keep = substring(md5(concat(col("src").cast("string"), lit("#"),
      col("dst").cast("string"))), 1, bits) === "0" * bits
    val oS = o.filter(keep)
    val x = oS.select(col("src"), col("dst").as("v"), col("ddeg").as("vd"))
    val y = oS.select(col("src"), col("dst").as("w"), col("ddeg").as("wdg"))
    val wedges = x.join(y, Seq("src"))
      .filter(col("vd") < col("wdg") || (col("vd") === col("wdg") && col("v") < col("w")))
      .select("v", "w")
    val sampled = wedges.count()
    val closed = wedges.join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
      .count()
    val wTot = deg.agg(coalesce(sum(col("deg") * (col("deg") - 1) / 2), lit(0)).cast("long"))
      .first().getLong(0)
    val inv = math.pow(16.0, 2.0 * bits)
    val spark = edges0.sparkSession
    import spark.implicits._
    Seq((sampled, closed,
      closed * inv,
      if (wTot == 0L) 0.0 else 3.0 * (closed * inv) / wTot))
      .toDF("sampled_wedges", "closed_wedges", "triangles_est", "clustering_est")
  }

  /** PER-VERTEX sampled clustering coefficients — the r14-verdict stretch
    * that makes the census tier usable for graph-quality FILTERING at 100 TB
    * (drop/keep vertices by local clustering, not just report one global
    * number). Wedges centered at v (unordered neighbor pairs) are sampled by
    * the same deterministic md5 edge sub-sampling as the global tier — an
    * UNDIRECTED canonical edge survives iff the md5("a#b") hex prefix is
    * '0'·bits — so a wedge survives at 16^-2bits and
    *   tri_est(v) = closed_v · 16^(2·bits)        (unbiased per vertex;
    *                                               bits=0 is exact)
    *   cc_est(v)  = tri_est(v) / (d(d−1)/2)       (exact degrees)
    * Closure probes the FULL adjacency. Cost: the neighbor-pair self-join
    * runs on the sampled adjacency — Σ(d/16)² pairs, 16^-2bits of the exact
    * local census — and every vertex keeps a row (deg < 2 or no sampled
    * wedge → zero estimates), so the output is a per-vertex quality column,
    * join-ready. md5-on-string is engine-portable: the oracle reproduces the
    * estimates bit-for-bit.
    */
  def localClusteringSampled(edges0: DataFrame, bits: Int = 1): DataFrame = {
    val e = edges0
      .select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).dropDuplicates("a", "b")
      .localCheckpoint()
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val keep = substring(md5(concat(col("a").cast("string"), lit("#"),
      col("b").cast("string"))), 1, bits) === "0" * bits
    val eS = e.filter(keep)
    // sampled adjacency, both directions: center v, neighbor n
    val adjS = eS.select(col("a").as("v"), col("b").as("n"))
      .unionByName(eS.select(col("b").as("v"), col("a").as("n")))
    val x = adjS.select(col("v"), col("n").as("u"))
    val y = adjS.select(col("v"), col("n").as("w"))
    val wedges = x.join(y, Seq("v")).filter(col("u") < col("w"))
    val closed = wedges
      .join(e.select(col("a").as("u"), col("b").as("w")), Seq("u", "w"))
      .groupBy("v").agg(count(lit(1)).as("closed"))
    val sampled = wedges.groupBy("v").agg(count(lit(1)).as("sampled"))
    val inv = math.pow(16.0, 2.0 * bits)
    deg.join(sampled, Seq("v"), "left").join(closed, Seq("v"), "left")
      .select(col("v").as("vertex"), col("deg"),
        coalesce(col("sampled"), lit(0L)).as("sampled_wedges"),
        coalesce(col("closed"), lit(0L)).as("closed_wedges"),
        (coalesce(col("closed"), lit(0L)) * inv).as("tri_est"),
        when(col("deg") < 2, 0.0).otherwise(
          (coalesce(col("closed"), lit(0L)) * inv) /
            (col("deg") * (col("deg") - 1) / 2.0)).as("cc_est"))
  }

}
