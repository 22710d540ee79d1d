package graft

import graft.pipeline.{Dedup, Similarity, TextStats}
import graft.gas.Gas
import org.apache.spark.sql.functions._

class PipelineSpec extends GraftSuite {
  private val ss = SharedSpark.spark
  import ss.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "der schnelle braune fuchs springt und der hund")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per text") {
    val keep = Dedup.exactKeepers(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted
    assert(keep.toSeq == Seq(1L, 2L, 3L, 5L))
    val pairs = Dedup.exactPairs(docs, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 4L)))
  }

  test("minhash finds near-dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // one-word diff
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash bucketCap drops a synthetic mega-family, keeps small buckets") {
    // 200 identical docs (one band bucket of 200 → 19,900 pairs uncapped)
    // plus a small genuine near-dup pair that must survive the cap
    val mega = (100L until 300L).map(i =>
      (i, "mirror mirror on the wall who is the fairest of them all"))
    val d = (mega ++ Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat")
    )).toDF("doc_id", "text")
    val uncapped = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5)
    assert(uncapped.count() >= 19900L) // the quadratic blowup the cap prevents
    val capped = Dedup.minhashPairs(d, "doc_id", "text", threshold = 0.5,
      bucketCap = 50).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists(p => p._1 >= 100L)) // mega-family buckets dropped
    assert(capped.contains((1L, 2L))) // small-bucket near-dup survives
  }

  test("ngram jaccard: exact dup = 1.0") {
    val d = docs
    val j = Dedup.ngramJaccard(d, "doc_id", "text",
      Seq((1L, 4L)).toDF("a", "b"))
      .first().getDouble(2)
    assert(j == 1.0)
  }

  test("simhash hamming 0 for identical docs") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSeq
    assert(pairs.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 0L))
  }

  test("dup clusters collapse transitive near-dups to one keeper") {
    // 1≈2 and 2≈3 but 1≉3 (jaccard .78/.78/.60 at threshold .7): one cluster
    val d = Seq(
      (1L, "zz b c d e f g h i k"),
      (2L, "zz b c d e f g h i m"),
      (3L, "zy b c d e f g h i m"),
      (9L, "completely unrelated text about something else entirely here")
    ).toDF("doc_id", "text")
    val cl = Dedup.dupClusters(d, "doc_id", "text", threshold = 0.7)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("cosine topk ranks the most similar vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.topKForId(emb, "vec_id", "embedding", 0L, 2).collect()
    assert(top(0).getLong(0) == 1L)
    assert(top(0).getDouble(1) > 0.99)
  }

  test("lsh pairs find the close pair") {
    val emb = Seq(
      (0L, Array.fill(16)(1.0f)),
      (1L, Array.fill(16)(0.99f)),
      (2L, Array.tabulate(16)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.lshPairs(emb, "vec_id", "embedding", bits = 6, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("kmeans-trained IVF reaches recall@10 >= 0.9 vs brute force") {
    val e = ss.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val qid = e.agg(min("vec_id")).first().getLong(0)
    val brute = Similarity.topKForId(e, "vec_id", "embedding", qid, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", qid, 10,
      m = 16, probes = 8, trainIters = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & ivf).size / 10.0
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("trained PQ reaches useful recall@10 vs exact L2, shuffle-free encode") {
    val e = ss.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val qid = e.agg(min("vec_id")).first().getLong(0)
    // exact-L2 baseline (PQ/ADC approximates L2², not cosine)
    val dv = e.select(col("vec_id"), transform(col("embedding"),
      x => x.cast("double")).as("v"))
    val qv = dv.filter(col("vec_id") === qid).select(col("v").as("qv"))
    val exact = dv.filter(col("vec_id") =!= qid).crossJoin(broadcast(qv))
      .select(col("vec_id"), aggregate(zip_with(col("v"), col("qv"),
        (x, y) => (x - y) * (x - y)), lit(0.0d), (a, b) => a + b).as("d2"))
      .orderBy(col("d2").asc, col("vec_id").asc).limit(10)
      .collect().map(_.getLong(0)).toSet
    // PQ is a lossy code per vector — its role at memory-bound scale is
    // CANDIDATE GENERATION (ADC shortlist → exact rerank), so the bar is
    // candidate recall: the ADC top-50 must capture the exact top-10
    val cand = Similarity.pqTopK(e, "vec_id", "embedding", qid, 50,
      m = 16, codes = 32, trainIters = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = (exact & cand).size / 10.0
    assert(recall >= 0.8, s"PQ candidate recall@50 vs exact-L2 top-10 = $recall")
    // encode is a pure map: no window over corpus-derived rows anywhere in the
    // oracle-mode plan — every Window sits above a limit (the codes-sized
    // codebook rank) — asserted on the logical plan (the AQE root hides the
    // physical tree from collect)
    val plan = Similarity.pqTopK(e, "vec_id", "embedding", qid, 10)
      .queryExecution.optimizedPlan
    val windowsOnCorpus = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.collectFirst {
          case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
        }.isEmpty => w
    }
    assert(windowsOnCorpus.isEmpty,
      s"PQ encode must not window over corpus-derived rows:\n$plan")
  }

  test("triangle census: exact count on a known graph, no nested loop") {
    // K4 minus one edge: triangles {1,2,3} and {1,2,4} (edge 3-4 absent)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("src", "dst")
    val out = Gas.triangleStats(edges)
    val r = out.first()
    assert(r.getLong(0) == 2, s"triangles = ${r.getLong(0)}")
    // wedges = sum deg*(deg-1)/2 = 3+3+1+1 = 8; clustering = 6/8
    assert(r.getLong(1) == 8)
    assert(math.abs(r.getDouble(2) - 0.75) < 1e-12)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"triangle census must be hash joins only:\n$plan")
  }

  test("sampled triangle census: unbiased vs the exact census") {
    // bits=0 keeps every wedge — the estimator must REPRODUCE the exact census
    // (this is what catches a stray /3: compact-forward closes each triangle
    // at exactly one oriented wedge, so no multiplicity correction applies).
    // K4 minus edge 3-4: T=2, W=8, transitivity 6/8 — the verdict's
    // counter-example where closed/sampled (oriented closure fraction) is 1.0.
    val k4m = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val ex = Gas.triangleStats(k4m).first()
    val s0 = Gas.triangleStatsSampled(k4m, bits = 0).first()
    assert(s0.getDouble(2) == ex.getLong(0).toDouble,
      s"bits=0 triangles_est ${s0.getDouble(2)} != exact ${ex.getLong(0)}")
    assert(math.abs(s0.getDouble(3) - ex.getDouble(2)) < 1e-12,
      s"bits=0 clustering_est ${s0.getDouble(3)} != exact transitivity ${ex.getDouble(2)}")
    // bits=1 on a triangle-rich graph: 200 disjoint 12-cliques → T = 200·C(12,3)
    // = 44,000, so E[closed] = T/256 ≈ 172 and a 3σ-ish band is ~±25%; assert
    // the looser ±50% to stay robust to the per-edge sampling correlation
    // within a clique. md5 sampling is deterministic, so this never flakes.
    val cl = (0 until 200).flatMap { c =>
      val base = c * 12L
      for (i <- 0 until 12; j <- i + 1 until 12) yield (base + i, base + j)
    }.toDF("src", "dst")
    val exT = Gas.triangleStats(cl).first()
    val s1 = Gas.triangleStatsSampled(cl, bits = 1).first()
    assert(exT.getLong(0) == 44000L)
    val rel = math.abs(s1.getDouble(2) - 44000.0) / 44000.0
    assert(rel <= 0.5, s"triangles_est ${s1.getDouble(2)} off exact 44000 by $rel")
    // clustering_est estimates the SAME quantity as the exact census (3T/W);
    // disjoint cliques have transitivity 1.0
    assert(exT.getDouble(2) == 1.0)
    assert(math.abs(s1.getDouble(3) - 1.0) <= 0.5,
      s"clustering_est ${s1.getDouble(3)} should track exact transitivity 1.0")
  }

  test("per-vertex sampled clustering: bits=0 exact, bits=1 unbiased in aggregate") {
    // disjoint 12-cliques: every vertex has deg 11, tri(v) = C(11,2) = 55,
    // cc(v) = 1.0 — bits=0 must reproduce those exactly for EVERY vertex
    val cl = (0 until 50).flatMap { c =>
      val base = c * 12L
      for (i <- 0 until 12; j <- i + 1 until 12) yield (base + i, base + j)
    }.toDF("src", "dst")
    val ex = Gas.localClusteringSampled(cl, bits = 0)
    assert(ex.count() === 600L) // every vertex keeps a row
    assert(ex.filter(col("deg") =!= 11 || col("tri_est") =!= 55.0 ||
      col("cc_est") =!= 1.0).count() === 0L)
    // bits=1: per-vertex estimates are noisy (E[closed_v] = 55/256) but the
    // AGGREGATE is unbiased — the summed tri_est tracks 3·T·(per-vertex sum
    // counts each triangle at its 3 corners) = 50·220·3/... : Σ tri(v) =
    // 3·triangles = 3·50·220 = 33000; assert ±50% (deterministic md5, no flake)
    val s1 = Gas.localClusteringSampled(cl, bits = 1)
    val tot = s1.agg(sum(col("tri_est"))).first().getDouble(0)
    assert(math.abs(tot - 33000.0) / 33000.0 <= 0.5,
      s"summed per-vertex tri_est $tot off 33000")
    // degrees stay exact regardless of sampling
    assert(s1.filter(col("deg") =!= 11).count() === 0L)
  }

  test("shard manifest: deterministic routing, one keyed exchange") {
    val out = graft.pipeline.Curate.shardManifest(docs, "doc_id", "text", 4)
    val rows = out.collect()
    assert(rows.map(_.getLong(1)).sum == docs.count()) // every doc in exactly one shard
    // re-derivation reproduces the manifest exactly (determinism)
    val again = graft.pipeline.Curate.shardManifest(docs, "doc_id", "text", 4).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet)
    val exchanges = out.queryExecution.executedPlan.toString
      .linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1, s"shard manifest should be one keyed exchange, saw $exchanges")
  }

  test("token count and quality features") {
    val tc = docs.select(col("doc_id"), TextStats.tokenCount(col("text")).as("t"))
      .filter(col("doc_id") === 1L).first().getLong(1)
    assert(tc == 9)
    val qf = TextStats.qualityFeatures(docs, "doc_id", "text")
      .filter(col("doc_id") === 1L).first()
    assert(qf.getAs[Double]("words") == 9.0)
    assert(qf.getAs[Double]("stopword_ratio") > 0.2) // "the" x2, "over"
  }

  test("token concentration: top-token and distinct fractions, shuffle-free") {
    val out = TextStats.tokenConcentration(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // doc 1: 9 tokens, "the" ×2 → top 2/9, distinct 8/9
    assert(math.abs(out(1L)._1 - 2.0 / 9) < 1e-12)
    assert(math.abs(out(1L)._2 - 8.0 / 9) < 1e-12)
    // doc 3: all distinct → top 1/6, distinct 1.0
    assert(math.abs(out(3L)._2 - 1.0) < 1e-12)
    // no exchange: per-doc lambda only, the plan must not aggregate or explode
    val plan = TextStats.tokenConcentration(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("Aggregate"), plan)
  }

  test("duplicatedSpans marks cross-doc k-token windows at any offset") {
    val d = Seq(
      // docs 1 and 2 share the 4-token span "a b c d" at DIFFERENT offsets
      (1L, "a b c d x y"),
      (2L, "z a b c d"),
      // doc 3 repeats its own span but shares nothing across docs
      (3L, "p q r s p q r s"),
      // doc 4 is too short for any window
      (4L, "t u")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(d, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: windows = abcd, bcdx, cdxy → 3 total, 1 dup; doc 2: zabc, abcd → 1 dup
    // doc 3: 5 windows, self-repetition only → 0 dup; doc 4: 0 windows
    assert(out == Map(1L -> ((3L, 1L)), 2L -> ((2L, 1L)),
      3L -> ((5L, 0L)), 4L -> ((0L, 0L))))
  }

  test("bpeEncodeCounts applies merges in rank order over a vocab-sized encode") {
    val d = Seq((1L, "ab abc xx"), (2L, "abc abc")).toDF("doc_id", "text")
    // merge 1: a+b -> ab; merge 2: ab+c -> abc
    val out = TextStats.bpeEncodeCounts(d, "doc_id", "text",
        Seq("a" -> "b", "ab" -> "c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1: "ab"->1 piece, "abc"->1, "xx"->2 (no merge applies) = 4
    assert(out == Map(1L -> 4L, 2L -> 2L))
  }

  test("capPerKey keeps the K smallest ids per key, drops the rest") {
    val d = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"), (5L, "b"), (6L, "c"))
      .toDF("doc_id", "source")
    val kept = graft.pipeline.Curate.capPerKey(d, "source", "doc_id", 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L, 5L, 6L))
  }

  test("repetition ratio flags degenerate text, PII counts find emails/IPs") {
    val d = Seq(
      (1L, "buy now buy now buy now buy now buy now buy now"),
      (2L, "a normal sentence with no repeated phrases inside it"),
      (3L, "contact me at alice@example.com or 10.0.0.1 or +1 (555) 123-4567")
    ).toDF("doc_id", "text")
    val rep = d.select(col("doc_id"), TextStats.repetitionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rep(1L) > 0.7 && rep(2L) == 0.0)
    val pii = TextStats.piiCounts(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(pii(3L)._1 == 1L && pii(3L)._3 == 1L && pii(3L)._2 >= 1L)
    assert(pii(2L) == ((0L, 0L, 0L)))
  }

  test("langid separates english from german") {
    val preds = TextStats.langId(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en")
    assert(preds(5L) == "de")
  }

  test("fingerprint equal for identical docs, differs for different") {
    val fp = TextStats.fingerprint(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) == fp(4L))
    assert(fp(1L) != fp(3L))
  }

  test("bfs levels and connected components on a path graph") {
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val levels = Gas.bfs(edges, 1L).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(levels == Map(1L -> 0, 2L -> 1, 3L -> 2))
    val cc = Gas.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
  }

  // driver-side reference: every (a, b) joined by a path of length >= 1
  private def refClosure(es: Seq[(Long, Long)], from: Set[Long] => Set[Long] = identity)
      : Set[(Long, Long)] = {
    val out = es.groupBy(_._1).map { case (a, xs) => a -> xs.map(_._2).toSet }
    from(es.map(_._1).toSet).flatMap { s =>
      var seen = Set.empty[Long]
      var fr = out.getOrElse(s, Set.empty[Long])
      while (fr.nonEmpty) { seen ++= fr; fr = fr.flatMap(out.getOrElse(_, Set.empty[Long])) -- seen }
      seen.map(s -> _)
    }
  }

  test("semiNaive/closurePairs match a driver-side closure on a cyclic graph") {
    import graft.engine.DfOps
    val g1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 6L), (5L, 5L), (7L, 8L), (1L, 2L))
    val g2 = Seq((1L, 3L), (3L, 2L), (2L, 1L), (6L, 7L))
    def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // ungrouped, unseeded: distinct pairs, no duplicates in the union
    val all = pairs(DfOps.closurePairs(g1.toDF("a", "b")))
    assert(all.size == all.distinct.size && all.toSet == refClosure(g1))
    // ungrouped, seeded
    val seeded = pairs(DfOps.closurePairs(g1.toDF("a", "b"), seeds = Some(Seq(4L, 7L).toDF("a"))))
    assert(seeded.size == seeded.distinct.size && seeded.toSet == refClosure(g1, _ => Set(4L, 7L)))
    // p_id-grouped: a path never crosses groups
    val grouped = (g1.map(e => (10L, e._1, e._2)) ++ g2.map(e => (20L, e._1, e._2)))
      .toDF("p_id", "a", "b")
    def byGroup(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select("p_id", "a", "b").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def ref(p: Long, es: Seq[(Long, Long)], f: Set[Long] => Set[Long] = identity) =
      refClosure(es, f).map { case (a, b) => (p, a, b) }
    assert(byGroup(DfOps.closurePairs(grouped, Seq("p_id"))) == ref(10L, g1) ++ ref(20L, g2))
    val gSeeds = Seq((10L, 4L), (20L, 6L), (20L, 1L)).toDF("p_id", "a")
    assert(byGroup(DfOps.closurePairs(grouped, Seq("p_id"), Some(gSeeds))) ==
      ref(10L, g1, _ => Set(4L)) ++ ref(20L, g2, _ => Set(6L, 1L)))
  }

  test("semiNaive stops at maxRounds and runs one job per round") {
    import graft.engine.DfOps
    // AQE submits every exchange as a job of its own and each broadcast is a
    // collect job: off on this private session, a job is one action, the
    // bounded collect of a driver round's step output
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val k = 8
    val chain = (0L until k.toLong).map(i => (i, i + 1)).toDF("src", "dst").localCheckpoint()
    def reach(maxRounds: Int) = DfOps.semiNaive(Seq((0L, 0)).toDF("v", "round"), Seq("v"),
      maxRounds) { (frontier, r) =>
      frontier.join(chain, col("v") === col("src")).select(col("dst").as("v"), lit(r).as("round"))
    }
    def levels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(levels(reach(3)) == (0 to 3).map(i => i.toLong -> i).toMap)
    // rounds 1..k reach the chain's end and round k+1 finds nothing: k + 1
    // rounds; the result is driver-resident, so the caller's collect is free
    val (lv, m) = graft.tools.JobMeter.measure(s2)(levels(reach(Int.MaxValue)))
    assert(lv == (0 to k).map(i => i.toLong -> i).toMap)
    assert(m.jobs.sum() <= (k + 1) + 1, s"${m.jobs.sum()} jobs for ${k + 1} rounds")
  }

  test("a seeded closurePairs over a k-chain runs on the driver, one job per round") {
    import graft.engine.DfOps
    val k = 8
    // checkpointed, so every probe of the chain is a real job
    val chain = (0L until k.toLong).map(i => (i, i + 1)).toDF("a", "b").localCheckpoint()
    val seeds = Seq(0L).toDF("a")
    val (reached, m) = graft.tools.JobMeter.measure(spark) {
      val out = DfOps.closurePairs(chain, seeds = Some(seeds))
      assert(DfOps.isLocal(out))
      out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(reached == (1L to k.toLong).map(0L -> _).toSet)
    // round 0 (the seed's edges) and rounds 1..k: one bounded collect each, on
    // the shared AQE session
    assert(m.jobs.sum() <= k + 3, s"${m.jobs.sum()} jobs for a $k-chain")
  }

  test("a star above the driver cap crosses over to distributed rounds") {
    import graft.engine.DfOps
    // s -> hub -> (cap + 100 leaves) -> sink -> end: the hub's round overflows
    val n = DfOps.SEED_CAP + 100
    val leaves = (1L to n.toLong).map(_ + 10L)
    val es = Seq((1L, 2L)) ++ leaves.map(l => (2L, l)) ++ leaves.map(l => (l, 5L)) ++
      Seq((5L, 6L), (6L, 1L), (7L, 8L))
    val edges = es.toDF("a", "b").localCheckpoint()
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val seeded = DfOps.closurePairs(edges, seeds = Some(Seq(1L, 7L).toDF("a")))
    assert(!DfOps.isLocal(seeded))
    val got = pairs(seeded)
    assert(got.size == got.distinct.size && got.toSet == refClosure(es, _ => Set(1L, 7L)))
    // a seed whose own edges exceed the cap starts distributed
    val hub = pairs(DfOps.closurePairs(edges, seeds = Some(Seq(2L).toDF("a"))))
    assert(hub.size == hub.distinct.size && hub.toSet == refClosure(es, _ => Set(2L)))
  }

  test("Gas.bfs levels match a driver-side BFS on both sides of the driver cap") {
    import graft.engine.DfOps
    // driver-side reference over the undirected edges
    def refBfs(es: Seq[(Long, Long)], source: Long): Map[Long, Int] = {
      val adj = (es ++ es.map(_.swap)).groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
      var levels = Map(source -> 0)
      var frontier = Seq(source)
      var level = 0
      while (frontier.nonEmpty) {
        level += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct.filterNot(levels.contains)
        levels ++= frontier.map(_ -> level)
      }
      levels
    }
    val small = Seq((1L, 2L), (3L, 2L), (3L, 4L), (4L, 4L), (9L, 1L), (20L, 21L))
    val wide = small ++ (1L to (DfOps.SEED_CAP + 50).toLong).map(i => (4L, 100L + i)) :+ ((150L, 30L))
    for ((es, driverOnly) <- Seq(small -> true, wide -> false)) {
      val out = Gas.bfs(es.toDF("src", "dst").localCheckpoint(), 1L)
      assert(DfOps.isLocal(out) == driverOnly)
      val levels = out.collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
      assert(levels.size == levels.toMap.size && levels.toMap == refBfs(es, 1L))
    }
  }

  test("connectedComponents converges on a long chain via pointer-jumping") {
    // 60-vertex chain: pure propagation needs 59 rounds; with jumps from round 3
    // the label-shortcut length doubles per round, so 14 rounds must suffice
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = Gas.connectedComponents(edges, maxIter = 14)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 60 && cc.values.forall(_ == 1L), s"unconverged: $cc")
  }

  test("sssp picks the shorter weighted path") {
    val edges = Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val dist = Gas.sssp(edges, 1L).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist(2L) == 2.0)
  }

  test("multiSssp relaxes all seeds in one fixpoint, per-seed maps independent") {
    val edges = Seq((1L, 2L, 10.0), (1L, 3L, 1.0), (3L, 2L, 1.0), (4L, 2L, 5.0))
      .toDF("src", "dst", "weight")
    val d = Gas.multiSssp(edges, Seq(1L, 4L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(d((1L, 2L)) == 2.0) // via 1-3-2, not the direct 10.0 edge
    assert(d((4L, 2L)) == 5.0)
    assert(d((4L, 3L)) == 6.0) // 4-2-3 through the undirected 3->2 edge
    assert(d((1L, 1L)) == 0.0 && d((4L, 4L)) == 0.0)
  }

  test("pagerank mass conserved and symmetric graph uniform") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val pr = Gas.pageRank(edges, iters = 3).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr.values.sum - 1.0) < 1e-9)
    assert(math.abs(pr(1L) - pr(2L)) < 1e-12)
  }

  test("rdfs closure derives transitive subclass types") {
    import graft.model.{GraftStore, Term}
    val t = Seq(
      ("urn:i:x", Term.RDF_TYPE, "urn:c:A"),
      ("urn:c:A", Term.RDFS_SUBCLASSOF, "urn:c:B"),
      ("urn:c:B", Term.RDFS_SUBCLASSOF, "urn:c:C")
    ).toDF("si", "pi", "oi")
      .select(Term.iri(col("si")).as("s"), Term.iri(col("pi")).as("p"),
        Term.iri(col("oi")).as("o"), Term.nullTerm.as("g"),
        lit(0).cast("byte").as("stype"))
    val st = GraftStore.cached(spark, t)
    val closed = graft.inference.Rdfs.closure(st)
    val types = graft.engine.Engine.query(closed,
      "SELECT ?c WHERE { <urn:i:x> a ?c }").collect()
      .map(_.getStruct(0).getAs[String]("str")).toSet
    assert(types == Set("urn:c:A", "urn:c:B", "urn:c:C"))
  }

  test("unigram frequency stats: common tokens raise sum_freq; surprisal ranks rare text") {
    val d = Seq(
      (1L, "the the the the"),             // only common tokens
      (2L, "the zxqv the plmw")            // half rare tokens
    ).toDF("doc_id", "text")
    val stats = TextStats.unigramFreqStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(1L) == ((4L, 24L))) // 4 toks × cnt("the")=6
    assert(stats(2L) == ((4L, 14L))) // 2×6 + 2×1
    val sur = TextStats.unigramSurprisal(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sur(2L) > sur(1L)) // rarer tokens → higher surprisal
  }

  test("fuzzySssp: shortest-path vertices at depth 0, bounded expansion, exact cap") {
    // path graph 1-2-3-4-5 with a branch 3-10-11-12
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (3L, 10L), (10L, 11L), (11L, 12L)).toDF("src", "dst")
    val out = graft.gas.Gas.fuzzySssp(edges, Seq(1L), Seq(5L), n = 7L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // SP vertices 1..5 at depth 0; expansion adds exactly 2 more (cap 7),
    // deterministically the smallest vertex ids of the depth-1 frontier
    assert(out.filter(_._2 == 0).keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(out.size == 7)
    assert(out(10L) == 1)
    // multi-pair: both pairs' shortest-path sets merge at depth 0
    val out2 = graft.gas.Gas.fuzzySssp(edges, Seq(1L, 12L), Seq(5L), n = 100L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out2.filter(_._2 == 0).keySet ==
      Set(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L))
  }

  test("stratified sampling keeps 1-in-rate per stratum, deterministic") {
    val d = (0L until 100L).map(i => (i, if (i < 50) "en" else "de"))
      .toDF("doc_id", "text_lang")
    val out = graft.pipeline.Curate.stratifiedSample(
      d, "text_lang", "doc_id", Map("en" -> 2, "de" -> 10))
    val byLang = out.groupBy("text_lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") == 25) // ids 0..49, every 2nd
    assert(byLang("de") == 5) // ids 50..99, every 10th
  }

  test("asof join carries the latest prior right row per key, no nested loop") {
    val l = Seq((1L, "u1", 100L), (2L, "u1", 200L), (3L, "u2", 50L), (4L, "u3", 10L))
      .toDF("event_id", "user", "t")
    val r = Seq(("u1", 90L, 7L), ("u1", 150L, 8L), ("u1", 200L, 9L), ("u2", 60L, 10L))
      .toDF("user", "t", "vid")
    val out = graft.engine.DfOps.asofJoin(l, r, "user", "t", Seq("vid"))
    val m = out.collect().map(x => x.getLong(0) -> x.getAs[Long]("matched_vid")).toMap
    assert(m == Map(1L -> 7L, 2L -> 9L)) // 2: equal ts matches; 3: right later; 4: no right
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"asof must not nested-loop:\n$plan")
    assert(plan.contains("Window"), s"expected window carry:\n$plan")
  }

  test("range join bands to an equi-join, exact within-bucket filter") {
    val pts = Seq((1L, 5.0), (2L, 14.9), (3L, 15.0), (4L, 99.0)).toDF("id", "v")
    val rng = Seq(("a", 0.0, 15.0), ("b", 15.0, 40.0), ("c", 90.0, 120.0))
      .toDF("name", "lo", "hi")
    val out = graft.engine.DfOps.rangeJoin(pts, "v", rng, "lo", "hi", band = 10.0)
    val m = out.collect().map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(m == Map(1L -> "a", 2L -> "a", 3L -> "b", 4L -> "c"))
    // empty interval matches nothing (and does not explode junk bands)
    val empty = Seq(("e", 5.0, 5.0)).toDF("name", "lo", "hi")
    assert(graft.engine.DfOps.rangeJoin(pts, "v", empty, "lo", "hi", 10.0).count() == 0)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"range join must be an equi-join:\n$plan")
  }

  test("temperature sampling upweights small sources, deterministic, no data shuffle") {
    // src "big": 90 docs of mass 100; src "small": 10 docs of mass 100
    val d = (0L until 100L).map(i => (i, if (i < 90) "big" else "small", 100L))
      .toDF("doc_id", "source", "n_chars")
    val out = graft.pipeline.Curate.temperatureSample(
      d, "source", "doc_id", "n_chars", temperature = 2.0, targetFrac = 0.5)
    val kept = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // T=2 weights: w ∝ sqrt(m) → big gets rate 0.5·(tm·w_b)/(tw·m_b) ≈ 0.395,
    // small gets min(1, 3·0.395) ≈ 1.0: every small-source doc survives
    assert(kept("small") == 10, s"small source should be fully kept: $kept")
    assert(kept("big") > 20 && kept("big") < 55, s"big source ≈ 40%: $kept")
    // deterministic: second run selects the identical ids
    val ids1 = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = graft.pipeline.Curate.temperatureSample(
      d, "source", "doc_id", "n_chars", 2.0, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    // rates broadcast onto the scan — the document side is never shuffled
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast rates join:\n$plan")
  }

  test("sequence packing bins follow the per-source cumulative token law") {
    val d = Seq(
      (1L, "s", Seq.fill(1000)("w").mkString(" ")), // cum 1000, starts bin 0
      (2L, "s", Seq.fill(1500)("w").mkString(" ")), // starts at 1000 → bin 0
      (3L, "s", Seq.fill(100)("w").mkString(" ")),  // starts at 2500 → bin 1
      (4L, "t", Seq.fill(50)("w").mkString(" "))    // other source → own bin 0
    ).toDF("doc_id", "source", "text")
    val out = graft.pipeline.Curate.packSequences(d, "source", "doc_id", "text", 2048)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out(("s", 0L)) == (2L, 2500L))
    assert(out(("s", 1L)) == (1L, 100L))
    assert(out(("t", 0L)) == (1L, 50L))
  }

  test("curate composes quality floor, lang allowlist, dedup and decontamination") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and it was a good day for all of the animals", "en"),
      (2L, "the quick brown fox jumps over the lazy dog and it was a good day for all of the animals", "en"), // dup of 1
      (3L, "%%% ### 12345 67890 !!!! ????", "en"), // low quality
      (4L, "der schnelle braune fuchs springt an dem guten tag und all das war es dann auch schon hier", "de"),
      (5L, "esta es una frase en otro idioma que no esta permitida aqui por la lista de idiomas", "es"), // lang filtered
      (6L, "this document contains the secret benchmark answer phrase inside it and that is why it is for removal today", "en")
    ).toDF("doc_id", "text", "lang")
    val probes = Seq((100L, "the secret benchmark answer phrase", "en"))
      .toDF("doc_id", "text", "lang")
    val kept = graft.pipeline.Curate.curate(
      corpus, probes, "doc_id", "text", "lang", Seq("en", "de"), minScore = 0.3)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L)) // 2 deduped, 3 low quality, 5 wrong lang, 6 contaminated
  }

  test("decontamination flags n-gram overlap with the probe set, broadcast-joined") {
    val probes = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    val out = graft.pipeline.Decontaminate.overlap(docs, probes, "doc_id", "text")
    val flagged = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1, 2, 4 share "the quick brown"/"quick brown fox"/"brown fox jumps"
    assert(flagged.keySet == Set(1L, 2L, 4L))
    assert(flagged(1L) == 3L)
    // plan: probe grams broadcast; the corpus side is never shuffled pre-join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast join for probe grams:\n$plan")
  }

  test("quality classifier: trained LR separates prose from spam, scoring is UDF-free") {
    import graft.pipeline.QualityModel
    val prose = (1L to 30L).map(i => (i,
      s"the value of this line is that it was written by a person with care and it reads well $i", 1.0))
    val spam = (31L to 60L).map(i => (i,
      s"$i 77341 9921 !!! ??? 00 11 22 33 44 55 66 $i%%% 8120 3 4 5 6 ${i * 7}", 0.0))
    val labeled = (prose ++ spam).toDF("doc_id", "text", "label")
    val wts = QualityModel.train(labeled, "doc_id", "text", "label")
    val scored = QualityModel.score(labeled, "doc_id", "text", wts)
    val byId = scored.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val proseMin = (1L to 30L).map(byId).min
    val spamMax = (31L to 60L).map(byId).max
    assert(proseMin > spamMax,
      s"trained model must separate: prose min $proseMin vs spam max $spamMax")
    // the corpus-wide pass is pure columnar arithmetic — no ml transformer,
    // no ScalaUDF, no vector column in the plan
    val plan = QualityModel.score(labeled, "doc_id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"scoring must stay codegen-able:\n$plan")
    // default weights also rank prose above spam (usable untrained)
    val d = QualityModel.score(labeled, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert((1L to 30L).map(d).min > (31L to 60L).map(d).max)
  }

  test("hybrid retrieval: lexical recall stage feeds dense rerank, scale-safe plan") {
    val corpus = Seq(
      (1L, "spark engines process data with spark speed"), // 2×spark
      (2L, "a stream of data in the stream engine"),       // 2×stream, no spark
      (3L, "nothing relevant here at all"),
      (4L, "spark stream spark stream spark stream")       // top lexical hit
    ).toDF("doc_id", "text")
    // embeddings: query vec (id 0) nearly parallel to doc 2's, orthogonal-ish to 4's
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.1f)),
      (1L, Array(0.5f, 0.5f, 0.0f)),
      (2L, Array(0.9f, 0.05f, 0.1f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.9f, 0.4f))
    ).toDF("vec_id", "embedding")
    val out = graft.pipeline.Retrieval.hybridTopK(corpus, vecs,
      "doc_id", "text", "vec_id", "embedding",
      Seq("spark", "stream"), queryVecId = 0L, candK = 3, k = 2)
    val rows = out.collect().map(r => (r.getLong(0), r.getDouble(2)))
    // doc 3 never enters (no query terms); doc 2 outranks 4 on cosine despite
    // 4 winning the lexical stage
    assert(rows.map(_._1).toSeq == Seq(2L, 1L), rows.mkString(","))
    assert(rows.head._2 > 0.9)
    val plan = out.queryExecution.executedPlan.toString
    // recall stage: top-candK via TakeOrdered, never a global sort of the corpus
    assert(plan.contains("TakeOrderedAndProject"), s"expected TakeOrdered:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected candidates broadcast into the rerank join:\n$plan")
  }

  test("bpeTrainMerges learns frequency-ranked merges with greedy run semantics") {
    val d = Seq((1L, "ban ban banana")).toDF("doc_id", "text")
    val m = TextStats.bpeTrainMerges(d, "doc_id", "text", merges = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    // (a,n) wins 4; then (b,an) 3; then the count-1 tie breaks lexicographically
    assert(m.toSeq == Seq((1, "a", "n", 4L), (2, "b", "an", 3L), (3, "an", "a", 1L)), m.mkString(","))
    // odd run: "aaaa" merges greedily left-to-right into [aa, aa]
    val d2 = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val m2 = TextStats.bpeTrainMerges(d2, "doc_id", "text", merges = 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(m2.toSeq == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)), m2.mkString(","))
  }

  test("chunkTokens: stride-spaced overlapping windows, short tail, no shuffle") {
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "x y")).toDF("doc_id", "text")
    val out = graft.pipeline.Curate.chunkTokens(d, "doc_id", "text",
      chunkSize = 4, overlap = 2)
    val rows = out.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val d1 = rows.filter(_._1 == 1L).sortBy(_._2)
    // stride 2: starts 0,2,4,6,8 → 5 chunks; the last is the 2-token tail
    assert(d1.map(_._3).toSeq == Seq("a b c d", "c d e f", "e f g h", "g h i j", "i j"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L, 4L, 2L))
    assert(rows.filter(_._1 == 2L).map(_._3).toSeq == Seq("x y"))
    // pure per-row map: no exchange anywhere in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("canonicalKeepers picks the highest-quality cluster member, not min id") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", 10L),
      (2L, "the quick brown fox jumps over the lazy cat", 99L), // best quality
      (3L, "totally unrelated text with no pair at all", 50L)
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.canonicalKeepers(d, "doc_id", "text", "n_chars")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((2L, true)))  // 1 is a dup of canonical 2
    assert(out(2L) == ((2L, false)))
    assert(!out.contains(3L))        // unclustered docs are out of scope
  }

  test("dupRate counts cross-corpus dups per group, docs never shuffled whole") {
    val d = Seq(
      (1L, "same text", "s1"), (2L, "same text", "s2"), (3L, "same text", "s2"),
      (4L, "unique a", "s1"), (5L, "unique b", "s2")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dupRate(d, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("s1") == ((2L, 0L)))  // doc 1 is the first occurrence — not a dup
    assert(out("s2") == ((3L, 2L)))  // docs 2,3 duplicate doc 1 cross-source
  }

  test("centroidOutliers flags the farthest-from-centroid member per label") {
    // label 0: three near-identical vectors + one opposite-direction outlier
    val e = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0),
      (3L, Array(1.0f, 0.1f), 0), (4L, Array(-1.0f, -0.2f), 0),
      (5L, Array(0.0f, 1.0f), 1), (6L, Array(0.1f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.pipeline.Similarity.centroidOutliers(e, "vec_id", "embedding",
      "label", k = 1).collect().map(r => r.getInt(1) -> r.getLong(0)).toMap
    assert(out(0) == 4L) // the anti-parallel vector is label 0's worst member
    assert(Set(5L, 6L).contains(out(1)))
  }

  test("trainValTestSplit folds are a stable pure function of the id") {
    def folds(d: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Curate.trainValTestSplit(d, "doc_id", 0.3, 0.3)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val base = folds(docs)
    assert(base.values.toSet.subsetOf(Set("train", "val", "test")))
    // corpus growth never migrates an existing document between folds
    val grown = folds(docs.unionByName(
      Seq((6L, "new doc one"), (7L, "new doc two")).toDF("doc_id", "text")))
    assert(base.forall { case (id, f) => grown(id) == f })
  }

  test("collocations rank a repeated adjacent pair above independent pairs") {
    // "quick brown" co-occurs in 4/5 docs; "the quick" too, but "the" is far
    // more frequent alone, so PMI(quick,brown) > PMI(the,quick)
    val out = TextStats.collocations(docs, "text", minCount = 2L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out.contains(("quick", "brown")) && out.contains(("the", "quick")))
    assert(out(("quick", "brown")) > out(("the", "quick")))
    // counts below minCount are dropped entirely
    assert(!out.keys.exists(_ == ("der", "schnelle")))
  }

  test("tfidf keywords: corpus-wide tokens score zero, rare tokens rank first") {
    val kw = TextStats.tfidfKeywords(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
    val byDoc = kw.groupBy(_._1)
    assert(byDoc.forall(_._2.length == 2)) // exactly k rows per doc
    assert(byDoc.forall(_._2.exists(_._4 == 1)))
    // doc 2's distinguishing token is "cat" (df=1): tf·ln(5/1) beats every
    // shared-vocabulary token, so it must rank first
    assert(byDoc(2L).find(_._4 == 1).get._2 == "cat")
    // doc-unique "cat" (ln 5) outscores "the" (df=3 -> 2·ln(5/3)) in doc 2
    val d2 = byDoc(2L).map(r => r._2 -> r._3).toMap
    assert(d2("cat") > d2.getOrElse("the", 0.0))
  }

  test("multimodal magic sniff preserves real-decode and stub fallback") {
    import graft.pipeline.Multimodal
    // a real 3x2 PNG: the sniffed fast path must still REALLY decode it
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val meta = Multimodal.decodeReal(png)
    assert(meta.isDefined && meta.get.getString(0) == "png" &&
      meta.get.getInt(1) == 3 && meta.get.getInt(2) == 2)
    assert(Multimodal.resizeReal(png, 4, 4).isDefined)
    assert(Multimodal.featuresReal(png, 4).isDefined)
    // a real WAV header: the audio path must still decode format + duration
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, true, false)
    val data = new Array[Byte](8000) // 1 s of frames
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, 8000)
    val wbos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wbos)
    val audio = Multimodal.decodeAudioReal(wbos.toByteArray)
    assert(audio.isDefined && audio.get.getString(0) == "wave" &&
      audio.get.getLong(3) == 1000L)
    // text payloads (no magic) take the same None/stub path as the old
    // reader-registry walk — byte-identical results, none of the cost
    val text = "plain ascii document text".getBytes("UTF-8")
    assert(Multimodal.decodeReal(text).isEmpty)
    assert(Multimodal.decodeAudioReal(text).isEmpty)
    assert(Multimodal.resizeReal(text, 4, 4).isEmpty)
    assert(Multimodal.featuresReal(text, 4).isEmpty)
  }

  test("magic-byte sniff covers exactly the registered decoder SPIs") {
    // The sniff short-circuits the per-row reader-registry walk on the
    // invariant that the registry can read ONLY the sniffed formats. A new
    // classpath SPI (e.g. a WebP ImageIO plugin) would silently bypass real
    // decode for formats the registry could then read — fail loudly instead
    // (r16 advice).
    val sniffedImage = Set("jpeg", "jpg", "png", "gif", "bmp", "tif", "tiff",
      "wbmp")
    val registryImage = javax.imageio.ImageIO.getReaderFormatNames
      .map(_.toLowerCase).toSet
    assert(registryImage.subsetOf(sniffedImage),
      s"ImageIO registry reads formats the magic sniff never routes to it: " +
        s"${(registryImage -- sniffedImage).toSeq.sorted.mkString(", ")} — " +
        "extend Multimodal.imageMagic or the invariant breaks silently")
    val sniffedAudio = Set("wave", "wav", "aiff", "aiff-c", "au", "snd")
    val registryAudio = javax.sound.sampled.AudioSystem.getAudioFileTypes
      .map(_.toString.toLowerCase).toSet
    assert(registryAudio.subsetOf(sniffedAudio),
      s"audio SPI registry exceeds the magic sniff: " +
        s"${(registryAudio -- sniffedAudio).toSeq.sorted.mkString(", ")}")
  }
}
