package graft

import graft.pipeline.{Events, TextStats}
import org.apache.spark.sql.functions._

class EventsSpec extends GraftSuite {
  private val ss = SharedSpark.spark
  import ss.implicits._

  // (key, ts, event_id, value) — ts in plain units, tsPerSec=1 below
  private lazy val ev = Seq(
    (1L, 10L, 100L, 1.00), (1L, 20L, 101L, 2.50), (1L, 200L, 102L, 0.75),
    (1L, 205L, 103L, 2.50), // tie on value with 101
    (2L, 5L, 200L, 9.99)
  ).toDF("k", "t", "eid", "v")

  test("sessionize splits on gap, aggregates bounds") {
    val out = Events.sessionize(ev, "k", "t", gapSec = 50, tsPerSec = 1L)
      .orderBy("k", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // key 1: {10,20} then gap 180 > 50 → {200,205}; key 2: one session
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 10L, 20L), (1L, 2L, 2L, 200L, 205L), (2L, 1L, 1L, 5L, 5L)))
  }

  test("topKPerKey: descending with deterministic tie-break") {
    val top = Events.topKPerKey(ev, "k", "v", "eid", k = 2)
      .select("k", "eid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // value 2.50 tie between eid 101 and 103 → 101 ranks first
    assert(top == Set((1L, 101L, 1), (1L, 103L, 2), (2L, 200L, 1)))
  }

  test("rollingFeatures: frame-bounded exact sums, ratio mean") {
    val out = Events.rollingFeatures(ev, "k", "t", "eid", "v", frame = 2)
      .filter(col("k") === 1L).orderBy("seq")
      .collect().map(r => (r.getLong(3), r.getLong(4), r.getDouble(5)))
    // cents: 100, 250, 75, 250 — rolling pairs
    assert(out.toSeq == Seq(
      (100L, 1L, 1.00), (350L, 2L, 1.75), (325L, 2L, 1.625), (325L, 2L, 1.625)))
  }

  test("percentilesPerKey: discrete rank selection") {
    val out = Events.percentilesPerKey(ev.filter(col("k") === 1L), "k", "v",
      Seq(0.25, 0.5, 1.0)).collect().head
    // sorted cents: 75, 100, 250, 250; ranks ceil(q*4) = 1, 2, 4
    assert(out.getLong(1) == 4L)
    assert((out.getLong(2), out.getLong(3), out.getLong(4)) == (75L, 100L, 250L))
  }

  test("heavyHitters: exact counts, lexicographic tie order") {
    val d = Seq((1L, "b b a c a b"), (2L, "a c")).toDF("doc_id", "text")
    val hh = TextStats.heavyHitters(d, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(hh.toSeq == Seq(("a", 3L), ("b", 3L), ("c", 2L)))
  }

  test("redactPii replaces typed spans") {
    val d = Seq((1L, "mail a.b@x.org and 10.0.0.1 and +1 (555) 123-4567 end"))
      .toDF("doc_id", "text")
    val r = TextStats.redactPii(d, "doc_id", "text").first().getString(1)
    assert(r == "mail [EMAIL] and [IP] and [PHONE] end")
  }

  test("sessionize over the generated event log covers every event exactly once") {
    val ev0 = table("events")
    val ev = ev0.withColumn("ts_us", Events.tsEpochUs(ev0.schema("ts").dataType))
    val sess = Events.sessionize(ev, "user_id", "ts_us", gapSec = 1800, tsPerSec = 1000000L)
    assert(sess.agg(sum("n_events")).first().getLong(0) == ev0.count())
  }
}
