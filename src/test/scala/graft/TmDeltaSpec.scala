package graft

import graft.model.{GraftStore, Term}
import graft.inference.Rdfs
import graft.engine.Update
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta truth maintenance (DRed) vs the fixpoint recompute: the two paths must
  * produce identical statement sets on every scenario, including the novelty-
  * promotion case (an entailment suppressed by an explicit copy must surface as
  * Inferred when the copy is deleted but it stays derivable).
  */
abstract class TmDeltaScenarios(part: Int, of: Int) extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  /** Register every scenario once, but materialize only this class's modulo
    * slice as ScalaTest cases: the file's 79 scenarios total ~43 min of
    * Spark-fixpoint wall, which single-handedly blew the CI test budget when
    * they ran as one sequential suite. The slices are separate suites, so the
    * forked-parallel test runner executes them concurrently; names and bodies
    * are untouched and the union of the slices is exactly the original suite.
    */
  private var scenarioIdx = -1
  protected def scenario(name: String)(body: => Unit): Unit = {
    scenarioIdx += 1
    if (scenarioIdx % of == part) test(name)(body)
  }

  val RDFS = "http://www.w3.org/2000/01/rdf-schema#"
  val OWL = "http://www.w3.org/2002/07/owl#"

  def store(turtle: String): GraftStore =
    new GraftStore(spark, graft.sources.Rio.readTrig(spark, turtle))

  /** At-rest closed store (saved + reloaded parquet — the delta TM posture). */
  def atRest(turtle: String, tag: String): GraftStore = {
    val p = s"/tmp/graft-tmdelta-$tag"
    GraftStore.save(Rdfs.closure(store(turtle)).statements, p)
    GraftStore.load(spark, p)
  }

  def keys(st: GraftStore): Set[(Long, Long, Long, Long, Byte)] =
    st.statements.select(col("s")("id"), col("p")("id"), col("o")("id"),
      coalesce(col("g")("id"), lit(0L)), col("stype")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getByte(4))).toSet

  /** Assert the delta path ran AND matches the full recompute — including row
    * COUNTS (key sets miss duplicate identical statements, e.g. a promotion
    * minting two copies of one Inferred row).
    */
  def check(closed: GraftStore, update: String, expectDelta: Boolean = true): Unit = {
    val viaApi = Update.withTruthMaintenance(closed, update)
    // which path actually ran, per the instrumentation — not a proxy probe
    assert(Rdfs.lastTmPath === (if (expectDelta) "delta" else "full"),
      s"expected the ${if (expectDelta) "delta" else "fallback"} TM path")
    val full = Rdfs.truthMaintain(
      graft.sparql.Parser.parseUpdate(update).foldLeft(closed)(Update.applyOp))
    assert(keys(viaApi) === keys(full))
    assert(viaApi.statements.count() === full.statements.count())
  }

  val base = s"""
    @prefix : <urn:x:> .
    @prefix rdfs: <$RDFS> .
    @prefix owl: <$OWL> .
    :g {
      :B rdfs:subClassOf :A .
      :C rdfs:subClassOf :B .
      :name rdfs:domain :B .
      :likes rdfs:range :B .
      :nick rdfs:subPropertyOf :name .
      :u1 a :C .
      :u2 :name "two" .
      :u3 :nick "three" .
      :u4 :likes :u5 .
      :u6 a :B .
    }
  """

  scenario("instance type delete: dependent rdfs9 entailments retract") {
    val st = atRest(base, "t1")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u1> a <urn:x:C> . } }")
  }

  scenario("schema subClassOf delete: transitive closure entailments retract") {
    val st = atRest(base, "t2")
    check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:B> <${RDFS}subClassOf> <urn:x:A> . } }")
  }

  scenario("domain-axiom delete: rdfs2 types retract unless otherwise derivable") {
    val st = atRest(base, "t3")
    check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:name> <${RDFS}domain> <urn:x:B> . } }")
  }

  scenario("instance fact delete: domain/range entailments retract") {
    val st = atRest(base, "t4")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u2> <urn:x:name> \"two\" . } }")
  }

  scenario("promotion: explicit copy of a derivable type deleted, stays as Inferred") {
    // u6 a :B is explicit AND derivable via domain(name)=B once u6 has a name
    val t = base.replace(":u6 a :B .", ":u6 a :B ; :name \"six\" .")
    val st = atRest(t, "t5")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u6> a <urn:x:B> . } }")
  }

  scenario("multi-step rederivation through a promoted intermediate") {
    // delete u1's explicit :C type while :C-membership is separately derivable:
    // (x type C) ← domain(cname)=C; the suspect (x type B)/(x type A) must
    // re-derive THROUGH the promoted (x type C)
    val t = base.replace(":u1 a :C .", ":u1 a :C ; :cname \"one\" .")
      .replace(":name rdfs:domain :B .",
        ":name rdfs:domain :B . :cname rdfs:domain :C .")
    val st = atRest(t, "t6")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u1> a <urn:x:C> . } }")
  }

  scenario("subPropertyOf delete: rdfs7 entailments retract") {
    val st = atRest(base, "t7")
    check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:nick> <${RDFS}subPropertyOf> <urn:x:name> . } }")
  }

  scenario("mixed Modify: delete one axiom, insert another") {
    val st = atRest(base, "t8")
    check(st,
      s"""DELETE { GRAPH <urn:x:g> { <urn:x:C> <${RDFS}subClassOf> <urn:x:B> . } }
         |INSERT { GRAPH <urn:x:g> { <urn:x:C> <${RDFS}subClassOf> <urn:x:A> . } }
         |WHERE { }""".stripMargin)
  }

  scenario("insert-only closure delta: new subclass axiom derives new types") {
    val st = atRest(base, "t9")
    // Modify with empty delete still routes through TM (retracts=true for
    // Modify) — the insert side must derive the new entailments
    check(st,
      s"""DELETE { }
         |INSERT { GRAPH <urn:x:g> { <urn:x:A> <${RDFS}subClassOf> <urn:x:Top> . } }
         |WHERE { }""".stripMargin)
  }

  scenario("inverse-of entailments retract with the instance fact") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g2 {
        :parentOf owl:inverseOf :childOf .
        :p1 :parentOf :p2 .
      }
    """
    val st = atRest(t, "t10")
    check(st, "DELETE DATA { GRAPH <urn:x:g2> { <urn:x:p1> <urn:x:parentOf> <urn:x:p2> . } }")
  }

  scenario("transitive edge delete: downstream closure pairs retract (delta cone)") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :a :anc :b . :b :anc :c . :c :anc :d .
      }
    """
    // deleting (a anc b) retracts (a anc c) and (a anc d); (b anc d) survives
    val st = atRest(t, "t11")
    check(st,
      "DELETE DATA { GRAPH <urn:x:g3> { <urn:x:a> <urn:x:anc> <urn:x:b> . } }")
  }

  scenario("transitive edge delete with an alternate path: pair survives") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :a :anc :b . :b :anc :c . :a :anc :x . :x :anc :c .
      }
    """
    // (a anc c) keeps its derivation through :x after (b anc c) goes
    val st = atRest(t, "t11b")
    check(st,
      "DELETE DATA { GRAPH <urn:x:g3> { <urn:x:b> <urn:x:anc> <urn:x:c> . } }")
  }

  scenario("transitive promotion: explicit edge still derivable becomes Inferred") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :a :anc :b . :b :anc :c . :a :anc :c .
      }
    """
    // explicit (a anc c) deleted but still entailed via a→b→c → promoted
    val st = atRest(t, "t11c")
    check(st,
      "DELETE DATA { GRAPH <urn:x:g3> { <urn:x:a> <urn:x:anc> <urn:x:c> . } }")
  }

  scenario("transitive edge insert: new reach pairs derive (delta cone forward)") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :a :anc :b . :c :anc :d .
      }
    """
    // inserting (b anc c) mints (a anc c), (a anc d), (b anc d)
    val st = atRest(t, "t11d")
    check(st,
      s"""DELETE { GRAPH <urn:x:g> { <urn:x:u2> <urn:x:name> "two" . } }
         |INSERT { GRAPH <urn:x:g3> { <urn:x:b> <urn:x:anc> <urn:x:c> . } }
         |WHERE { }""".stripMargin)
  }

  scenario("transitive delete cascades into range types through the lost pairs") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix rdfs: <$RDFS> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :anc rdfs:range :Node .
        :a :anc :b . :b :anc :c .
      }
    """
    // deleting (b anc c) loses (a anc c); (c type Node)'s every support goes
    val st = atRest(t, "t11e")
    check(st,
      "DELETE DATA { GRAPH <urn:x:g3> { <urn:x:b> <urn:x:anc> <urn:x:c> . } }")
  }

  scenario("transitive cycle delete terminates and retracts exactly") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :a :anc :b . :b :anc :a . :b :anc :c .
      }
    """
    // the cycle entails (a,a),(b,b),(a,c); deleting (b anc a) drops all three
    val st = atRest(t, "t11f")
    check(st,
      "DELETE DATA { GRAPH <urn:x:g3> { <urn:x:b> <urn:x:anc> <urn:x:a> . } }")
  }

  scenario("transitive cone distributed path (driver collect disabled) is identical") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :a :anc :b . :b :anc :c . :c :anc :d . :a :anc :c .
      }
    """
    val st = atRest(t, "t11i")
    Rdfs.withTmProps("graft.tm.cone.driverMax" -> "0")(check(st,
      """DELETE { <urn:x:a> <urn:x:anc> <urn:x:c> . }
        |INSERT { <urn:x:d> <urn:x:anc> <urn:x:e> . }
        |WHERE {}""".stripMargin))
  }

  scenario("transitive property fed by a subproperty stays on the delta path") {
    // pre-r13 this recomputed; the cone now runs over the EFFECTIVE base
    // edges (feeder partitions translated per parity), so it stays O(delta)
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix rdfs: <$RDFS> .
      @prefix owl: <$OWL> .
      :g3 {
        :anc a owl:TransitiveProperty .
        :parent rdfs:subPropertyOf :anc .
        :a :parent :b . :b :anc :c .
      }
    """
    val st = atRest(t, "t11g")
    check(st,
      "DELETE DATA { GRAPH <urn:x:g3> { <urn:x:b> <urn:x:anc> <urn:x:c> . } }")
  }

  scenario("symmetric transitive property stays on the delta path") {
    // pre-r13 this recomputed; symmetric = a flipped self-feeder state
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 {
        :conn a owl:TransitiveProperty , owl:SymmetricProperty .
        :a :conn :b . :b :conn :c .
      }
    """
    val st = atRest(t, "t11h")
    check(st,
      "DELETE DATA { GRAPH <urn:x:g3> { <urn:x:a> <urn:x:conn> <urn:x:b> . } }")
  }

  scenario("FP declared but untouched: unrelated delete stays on the delta path") {
    // an ontology that merely declares a FunctionalProperty (clean data — no
    // sameAs ever derived) must not pay the recompute for unrelated deletes
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g5 {
        :ssn a owl:FunctionalProperty .
        :p1 :ssn :id1 .
      }
    """
    val st = atRest(t, "t17")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u1> a <urn:x:C> . } }")
  }

  scenario("delete in the FP property's own partition: minted-pair diff, delta path (r16)") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g5 {
        :ssn a owl:FunctionalProperty .
        :p1 :ssn :id1 .
      }
    """
    val st = atRest(t, "t18")
    check(st, "DELETE DATA { GRAPH <urn:x:g5> { <urn:x:p1> <urn:x:ssn> <urn:x:id1> . } }")
  }

  scenario("delete in a subproperty feeding the FP property: premise translation, delta path (r16)") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix rdfs: <$RDFS> .
      @prefix owl: <$OWL> .
      :g5 {
        :ssn a owl:FunctionalProperty .
        :taxId rdfs:subPropertyOf :ssn .
        :p1 :taxId :id1 .
      }
    """
    val st = atRest(t, "t19")
    check(st, "DELETE DATA { GRAPH <urn:x:g5> { <urn:x:p1> <urn:x:taxId> <urn:x:id1> . } }")
  }

  scenario("FP-minted sameAs at rest, unrelated delete: Case A alias maps, delta path (r16)") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g5 {
        :ssn a owl:FunctionalProperty .
        :p1 :ssn :id1 . :p1 :ssn :id2 .
      }
    """
    val st = atRest(t, "t20")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u1> a <urn:x:C> . } }")
  }

  scenario("sameAs store: fact delete of an aliased node stays on the delta path") {
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g4 { :m owl:sameAs :n . :m :name "m" . }
    """
    val st = atRest(t, "t12")
    check(st, "DELETE DATA { GRAPH <urn:x:g4> { <urn:x:m> <urn:x:name> \"m\" . } }")
  }

  // ---- sameAs DRed: materialized equivalence classes ----

  /** Chain class {m,n,o2} (two explicit edges), a second class {q,r}, facts on
    * members, and a domain axiom so substituted copies cascade into rdfs2/9.
    */
  val saBase = s"""
    @prefix : <urn:x:> .
    @prefix rdfs: <$RDFS> .
    @prefix owl: <$OWL> .
    :g {
      :name rdfs:domain :B .
      :B rdfs:subClassOf :A .
      :m owl:sameAs :n .
      :n owl:sameAs :o2 .
      :m :name "m" .
      :p :name "p" .
      :q owl:sameAs :r .
      :q :likes :m .
    }
  """

  scenario("sameAs: deleting a member fact retracts its substituted copies (delta)") {
    val st = atRest(saBase, "sa1")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:m> <urn:x:name> \"m\" . } }")
  }

  scenario("sameAs: removed fact still derivable via an alias copy is promoted") {
    val t = saBase + """
      @prefix : <urn:x:> .
      :g2 { :n :name "m" . }
    """
    val st = atRest(t, "sa2")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:m> <urn:x:name> \"m\" . } }")
  }

  scenario("sameAs edge delete splits the class: lost pairs + lost copies retract") {
    val st = atRest(saBase, "sa3")
    check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:n> <${OWL}sameAs> <urn:x:o2> . } }")
  }

  scenario("sameAs edge delete with an alternate connection: pairs survive, edge promotes") {
    val t = saBase + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g3 { :m owl:sameAs :o2 . }
    """
    val st = atRest(t, "sa4")
    check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:n> <${OWL}sameAs> <urn:x:o2> . } }")
  }

  scenario("sameAs edge insert merges two classes: new pairs + member substitutions") {
    val st = atRest(saBase, "sa5")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { <urn:x:o2> <${OWL}sameAs> <urn:x:q> . }
         |WHERE {}""".stripMargin)
  }

  scenario("sameAs past the driver bound: split runs the DISTRIBUTED class diff") {
    // -Dgraft.tm.sa.driverMax=0 forces the pointer-jumping-CC + anti-join
    // path that replaces the driver union-find past 2M collected pairs —
    // plain data growth must not fall back to the full recompute
    val st = atRest(saBase, "sa9")
    Rdfs.withTmProps("graft.tm.sa.driverMax" -> "0")(check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:n> <${OWL}sameAs> <urn:x:o2> . } }"))
  }

  scenario("sameAs past the driver bound: merge runs the DISTRIBUTED class diff") {
    val st = atRest(saBase, "sa10")
    Rdfs.withTmProps("graft.tm.sa.driverMax" -> "0")(check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { <urn:x:o2> <${OWL}sameAs> <urn:x:q> . }
         |WHERE {}""".stripMargin))
  }

  scenario("sameAs distributed diff: pair-estimate valve still routes to recompute") {
    val st = atRest(saBase, "sa11")
    Rdfs.withTmProps("graft.tm.sa.driverMax" -> "0",
        "graft.tm.sa.pairCap" -> "1")(check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:n> <${OWL}sameAs> <urn:x:o2> . } }",
      expectDelta = false))
  }

  scenario("sameAs: member fact insert derives substituted copies forward (delta)") {
    val st = atRest(saBase, "sa6")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { <urn:x:n> <urn:x:name> "fresh" . }
         |WHERE {}""".stripMargin)
  }

  scenario("explicit sameAs + FP vocabulary: unrelated delete stays on the delta path (r16)") {
    val t = saBase + s"""
      @prefix : <urn:x:> .
      @prefix owl: <$OWL> .
      :g6 { :ssn a owl:FunctionalProperty . }
    """
    val st = atRest(t, "sa7")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:m> <urn:x:name> \"m\" . } }")
  }

  scenario("phantom delete (row absent) is a no-op on the statement set") {
    val st = atRest(base, "t13")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u9> a <urn:x:C> . } }")
  }

  scenario("phantom re-insert of an existing axiom keeps the old vocabulary intact") {
    // X ⊑ Y already exists; the Modify re-inserts it (zero actual delta) while
    // deleting u7's only support. BOTH (u7 type X) and (u7 type Y) must
    // retract — a candidate-buffer add would subtract the pre-existing axiom
    // from the old view, under-approximate suspects, and leave (u7 type Y)
    val t = base + s"""
      @prefix : <urn:x:> .
      @prefix rdfs: <$RDFS> .
      :g {
        :X rdfs:subClassOf :Y .
        :name2 rdfs:domain :X .
        :u7 :name2 "v" .
      }
    """
    val st = atRest(t, "t14")
    check(st,
      s"""DELETE { GRAPH <urn:x:g> { <urn:x:u7> <urn:x:name2> "v" . } }
         |INSERT { GRAPH <urn:x:g> { <urn:x:X> <${RDFS}subClassOf> <urn:x:Y> . } }
         |WHERE { }""".stripMargin)
  }

  scenario("insert of a triple into a second graph keeps the first graph's copy in the old view") {
    // B ⊑ A lives in :g; the update inserts a copy into :g2 (novel per quad)
    // and deletes u2's name. The old-state reconstruction must retain the :g
    // copy — an (s,p,o)-keyed subtraction would drop both, lose B ⊑ A from
    // the old schema, and leave (u2 type A) stale
    val st = atRest(base, "t15")
    check(st,
      s"""DELETE DATA { GRAPH <urn:x:g> { <urn:x:u2> <urn:x:name> "two" . } } ;
         |INSERT DATA { GRAPH <urn:x:g2> { <urn:x:B> <${RDFS}subClassOf> <urn:x:A> . } }""".stripMargin)
  }

  scenario("chained mutations stay on the delta path (result re-committed at rest)") {
    val st = atRest(base, "t21")
    val st1 = Update.withTruthMaintenance(st,
      "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u1> a <urn:x:C> . } }")
    assert(Rdfs.lastTmPath === "delta")
    assert(Rdfs.inferredAtRest(st1),
      "delta TM must leave the store AT REST or the next mutation recomputes")
    val st2 = Update.withTruthMaintenance(st1,
      "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u2> <urn:x:name> \"two\" . } }")
    assert(Rdfs.lastTmPath === "delta", "second mutation must stay on the delta path")
    val full = Rdfs.truthMaintain(Seq(
      "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u1> a <urn:x:C> . } }",
      "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u2> <urn:x:name> \"two\" . } }")
      .flatMap(graft.sparql.Parser.parseUpdate)
      .foldLeft(st)(Update.applyOp))
    assert(keys(st2) === keys(full))
    assert(st2.statements.count() === full.statements.count())
  }

  scenario("same triple deleted from two graphs promotes ONE Inferred row") {
    // u6 a :B is explicit in :g AND :g2, and derivable via domain(name)=B;
    // deleting both copies must mint exactly one promoted Inferred row
    val t = base.replace(":u6 a :B .", ":u6 a :B ; :name \"six\" .") + """
      @prefix : <urn:x:> .
      :g2 { :u6 a :B . }
    """
    val st = atRest(t, "t16")
    check(st,
      """DELETE DATA {
        |  GRAPH <urn:x:g> { <urn:x:u6> a <urn:x:B> . }
        |  GRAPH <urn:x:g2> { <urn:x:u6> a <urn:x:B> . } }""".stripMargin)
  }

  // feeder-fed transitive properties: the cone runs over the EFFECTIVE base
  // edge set (feeder partitions translated per inverse-parity), so deltas on
  // a subproperty / inverse / the property's own symmetric copies stay O(delta)
  val feederBase = s"""
    @prefix : <urn:f:> .
    @prefix rdfs: <$RDFS> .
    @prefix owl: <$OWL> .
    :g {
      :anc a owl:TransitiveProperty .
      :part rdfs:subPropertyOf :anc .
      :childOf owl:inverseOf :anc .
      :a :part :b .
      :b :part :c .
      :d :childOf :c .
      :e :anc :a .
    }
  """

  scenario("subproperty-fed transitive: deleting a feeder edge retracts reach") {
    // :b part :c feeds anc; e→a→b→c→d chains break at b
    val st = atRest(feederBase, "tf1")
    check(st, "DELETE DATA { GRAPH <urn:f:g> { <urn:f:b> <urn:f:part> <urn:f:c> . } }")
  }

  scenario("inverse-fed transitive: deleting the flipped feeder edge retracts reach") {
    // :d childOf :c is the flipped base edge (c anc d)
    val st = atRest(feederBase, "tf2")
    check(st, "DELETE DATA { GRAPH <urn:f:g> { <urn:f:d> <urn:f:childOf> <urn:f:c> . } }")
  }

  scenario("feeder insert: a new subproperty edge extends reach incrementally") {
    // pure inserts skip TM (retracts gate) — drive it as a Modify, like t11d
    val st = atRest(feederBase, "tf3")
    check(st,
      """DELETE { GRAPH <urn:f:g> { <urn:f:e> <urn:f:anc> <urn:f:a> . } }
        |INSERT { GRAPH <urn:f:g> { <urn:f:c> <urn:f:part> <urn:f:e> . } }
        |WHERE { }""".stripMargin)
  }

  scenario("mixed feeder mutation: delete one feeder edge, insert another") {
    val st = atRest(feederBase, "tf4")
    check(st,
      """DELETE DATA { GRAPH <urn:f:g> { <urn:f:a> <urn:f:part> <urn:f:b> . } } ;
        |INSERT DATA { GRAPH <urn:f:g> { <urn:f:b> <urn:f:childOf> <urn:f:a> . } }""".stripMargin)
  }

  scenario("promotion with a feeder backup: deleted explicit edge stays reachable") {
    // (a anc b) explicit AND (a part b): deleting the explicit copy must
    // promote it to Inferred (still in reach via the feeder partition)
    val t = feederBase.replace(":a :part :b .", ":a :part :b . :a :anc :b .")
    val st = atRest(t, "tf5")
    check(st, "DELETE DATA { GRAPH <urn:f:g> { <urn:f:a> <urn:f:anc> <urn:f:b> . } }")
  }

  scenario("symmetric transitive property: edge delete retracts both orientations") {
    val t = s"""
      @prefix : <urn:f2:> .
      @prefix owl: <$OWL> .
      :g {
        :conn a owl:TransitiveProperty , owl:SymmetricProperty .
        :a :conn :b .
        :b :conn :c .
        :d :conn :c .
      }
    """
    val st = atRest(t, "tf6")
    check(st, "DELETE DATA { GRAPH <urn:f2:g> { <urn:f2:b> <urn:f2:conn> <urn:f2:c> . } }")
  }

  // schema deltas INTO a transitive cone (r14): adding/removing a
  // subPropertyOf or inverseOf edge changes the feeder STATE SET — the cone
  // treats the affected partition's rows as a bulk effective-edge delta
  // instead of falling back to the full recompute (ontology edits on a live
  // store are O(touched partitions))
  scenario("sp-edge DELETE into the cone: feeder partition's reach retracts (delta)") {
    val st = atRest(feederBase, "ts1")
    check(st,
      s"DELETE DATA { GRAPH <urn:f:g> { <urn:f:part> <${RDFS}subPropertyOf> <urn:f:anc> . } }")
  }

  scenario("sp-edge INSERT into the cone: new feeder's rows extend reach (delta)") {
    // :extra holds edges but is not yet a subproperty of :anc
    val t = feederBase.replace(":e :anc :a .", ":e :anc :a . :x :extra :e .")
    val st = atRest(t, "ts2")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:f:g> { <urn:f:extra> <${RDFS}subPropertyOf> <urn:f:anc> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("inverseOf-edge DELETE into the cone: flipped feeder's reach retracts") {
    val st = atRest(feederBase, "ts3")
    check(st,
      s"DELETE DATA { GRAPH <urn:f:g> { <urn:f:childOf> <${OWL}inverseOf> <urn:f:anc> . } }")
  }

  scenario("inverseOf-edge INSERT into the cone: new flipped feeder extends reach") {
    val t = feederBase.replace(":e :anc :a .", ":e :anc :a . :a :pred :z .")
    val st = atRest(t, "ts4")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:f:g> { <urn:f:pred> <${OWL}inverseOf> <urn:f:anc> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("mixed schema+data delta into the cone stays on the delta path") {
    val st = atRest(feederBase, "ts5")
    check(st,
      s"""DELETE DATA { GRAPH <urn:f:g> {
         |  <urn:f:part> <${RDFS}subPropertyOf> <urn:f:anc> .
         |  <urn:f:e> <urn:f:anc> <urn:f:a> . } }""".stripMargin)
  }

  // transitive RE-DECLARATION on a live store (r14): en/de-declaring
  // owl:TransitiveProperty is a whole-property effective-edge delta through
  // the same cone — no longer an automatic recompute (other characteristic
  // marks still fall back)
  val charBase = s"""
    @prefix : <urn:cb:> .
    @prefix owl: <$OWL> .
    :g {
      :anc a owl:TransitiveProperty .
      :a :anc :b .
      :b :anc :c .
      :p :lnk :q .
      :q :lnk :r .
      :r :lnk :s2 .
    }
  """

  scenario("transitive mark ADDED on a live store: closure pairs derive (delta)") {
    val st = atRest(charBase, "tc1")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:cb:g> { <urn:cb:lnk> a <${OWL}TransitiveProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("transitive mark REMOVED: reach pairs retract, explicit edges stay") {
    val st = atRest(charBase, "tc2")
    check(st,
      s"DELETE DATA { GRAPH <urn:cb:g> { <urn:cb:anc> a <${OWL}TransitiveProperty> . } }")
  }

  scenario("transitive mark REMOVED with a feeder: rdfs7 copies survive the retraction") {
    val st = atRest(feederBase, "tc3")
    check(st,
      s"DELETE DATA { GRAPH <urn:f:g> { <urn:f:anc> a <${OWL}TransitiveProperty> . } }")
  }

  scenario("transitive mark re-asserted in another graph: schema unchanged, delta path") {
    val st = atRest(charBase, "tc4")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:cb:g2> { <urn:cb:anc> a <${OWL}TransitiveProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("FP re-declaration on clean data rides the delta path (r16)") {
    val st = atRest(charBase, "tc5")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:cb:g> { <urn:cb:lnk> a <${OWL}FunctionalProperty> . } }
         |WHERE {}""".stripMargin)
  }

  // symmetric RE-DECLARATION on a live store (r15): en/de-declaring
  // owl:SymmetricProperty lands in the dIb schema diff as a (p,p) self-pair —
  // flips of the property's accumulated rows (explicit, rdfs7 copies, inverse
  // outputs) derive/retract as an O(delta) schema arm, no recompute
  val symBase = s"""
    @prefix : <urn:sy:> .
    @prefix rdfs: <$RDFS> .
    @prefix owl: <$OWL> .
    :g {
      :knows a owl:SymmetricProperty .
      :a :knows :b .
      :b :knows :c .
      :x :likes :y .
      :y :likes :z .
      :m :tight :n .
      :n :tight :m .
      :close rdfs:subPropertyOf :knows .
      :d :close :e .
      :parentOf owl:inverseOf :childOf .
      :p1 :parentOf :k1 .
      :k2 :childOf :p2 .
    }
  """

  scenario("symmetric mark ADDED on a live store: flips derive (delta)") {
    val st = atRest(symBase, "sy1")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:sy:g> { <urn:sy:likes> a <${OWL}SymmetricProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("symmetric mark REMOVED: flips retract, rdfs7-fed flips included") {
    // :knows accumulates explicit rows AND rdfs7 copies from :close — the
    // de-declaration must retract the flips of BOTH (sp*-expanded premise)
    val st = atRest(symBase, "sy2")
    check(st,
      s"DELETE DATA { GRAPH <urn:sy:g> { <urn:sy:knows> a <${OWL}SymmetricProperty> . } }")
  }

  scenario("symmetric mark ADDED to a property with explicit both-way rows: no-op flips dedupe") {
    val st = atRest(symBase, "sy3")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:sy:g> { <urn:sy:tight> a <${OWL}SymmetricProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("symmetric mark ADDED to an inverseOf partner: straight copies derive") {
    // closure order is inverse THEN symmetric: :parentOf rows flip into
    // :childOf by inverseOf, then the new symmetric mark flips them BACK as
    // straight :childOf copies — the dIbStraight premise expansion
    val st = atRest(symBase, "sy4")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:sy:g> { <urn:sy:childOf> a <${OWL}SymmetricProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("symmetric mark REMOVED from an inverseOf partner: straight copies retract") {
    val symInvBase = symBase.replace(":parentOf owl:inverseOf :childOf .",
      ":parentOf owl:inverseOf :childOf .\n      :childOf a owl:SymmetricProperty .")
    val st = atRest(symInvBase, "sy5")
    check(st,
      s"DELETE DATA { GRAPH <urn:sy:g> { <urn:sy:childOf> a <${OWL}SymmetricProperty> . } }")
  }

  scenario("symmetric re-declaration of a TRANSITIVE property rides the cone (delta)") {
    // sym mark change on a transitive property flips its feeder-state
    // parities — the cone's statesAdd/statesRem arms take the bulk delta
    val symTransBase = symBase.replace(":knows a owl:SymmetricProperty .",
      ":knows a owl:SymmetricProperty .\n      :reach a owl:TransitiveProperty .\n      :r1 :reach :r2 .\n      :r2 :reach :r3 .")
    val st = atRest(symTransBase, "sy6")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:sy:g> { <urn:sy:reach> a <${OWL}SymmetricProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("symmetric mark re-asserted in another graph: schema unchanged, delta path") {
    val st = atRest(symBase, "sy7")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { GRAPH <urn:sy:g2> { <urn:sy:knows> a <${OWL}SymmetricProperty> . } }
         |WHERE {}""".stripMargin)
  }

  // stage-order feeder grammar: closure() runs rdfs7 over EXPLICIT rows only,
  // THEN the inverse/symmetric flips — so a flip-then-rdfs7 path (a symmetric
  // feeder under subPropertyOf, or inverseOf-a-subproperty) never materializes
  // t-edges, and the delta cone must not treat such predicates as feeders
  // (phantom effective edges would break the delta-vs-recompute invariant)
  scenario("symmetric FEEDER under subPropertyOf: flipped copies are not t-edges") {
    // :part is symmetric and ⊑ :anc; dSym's flipped :part rows are NOT
    // rdfs7-copied to :anc (stage order), so deleting (b part d) must not
    // leave the cone minting reach pairs from the flipped orientation
    val t = s"""
      @prefix : <urn:sf:> .
      @prefix rdfs: <$RDFS> .
      @prefix owl: <$OWL> .
      :g {
        :anc a owl:TransitiveProperty .
        :part a owl:SymmetricProperty .
        :part rdfs:subPropertyOf :anc .
        :a :part :b .
        :b :part :d .
      }
    """
    val st = atRest(t, "tf7")
    check(st, "DELETE DATA { GRAPH <urn:sf:g> { <urn:sf:b> <urn:sf:part> <urn:sf:d> . } }")
  }

  scenario("inverseOf-a-subproperty: flip-then-rdfs7 path is not a feeder") {
    // :q inverseOf :part, :part ⊑ :anc — dInv2's (b part c) copy of (c q b)
    // exists as an Inferred :part row but is NOT rdfs7-copied to :anc; the
    // surviving :q row must not surface as a phantom :anc effective edge
    // while the cone processes the unrelated :part delete
    val t = s"""
      @prefix : <urn:iq:> .
      @prefix rdfs: <$RDFS> .
      @prefix owl: <$OWL> .
      :g {
        :anc a owl:TransitiveProperty .
        :part rdfs:subPropertyOf :anc .
        :q owl:inverseOf :part .
        :a :part :b .
        :b :part :d .
        :c :q :b .
      }
    """
    val st = atRest(t, "tf8")
    check(st, "DELETE DATA { GRAPH <urn:iq:g> { <urn:iq:b> <urn:iq:part> <urn:iq:d> . } }")
  }

  scenario("symmetric TARGET with a subproperty feeder: all four parities are real") {
    // :conn itself symmetric+transitive with :part ⊑ :conn — here the final
    // dSym flip DOES apply to the rdfs7 copies, so (part, flipped) is a
    // legitimate state and the restricted grammar must keep it
    val t = s"""
      @prefix : <urn:st:> .
      @prefix rdfs: <$RDFS> .
      @prefix owl: <$OWL> .
      :g {
        :conn a owl:TransitiveProperty , owl:SymmetricProperty .
        :part rdfs:subPropertyOf :conn .
        :a :part :b .
        :b :conn :c .
      }
    """
    val st = atRest(t, "tf9")
    check(st, "DELETE DATA { GRAPH <urn:st:g> { <urn:st:a> <urn:st:part> <urn:st:b> . } }")
  }

  scenario("delta-size valve: a bulk delta routes to the recompute, same result") {
    // every retraction/novelty key set rides a broadcast hash join sized by
    // the delta — past the (prop-overridable) cap the pass must fall back to
    // the fixpoint recompute rather than force a corpus-sized broadcast
    val st = atRest(base, "t17")
    Rdfs.withTmProps("graft.tm.deltaCap" -> "1")(check(st,
      "DELETE DATA { GRAPH <urn:x:g> { <urn:x:u1> a <urn:x:C> . " +
        "<urn:x:u2> <urn:x:name> \"two\" . } }", expectDelta = false))
  }

  // ---- FP/IFP re-declarations + premise-data deltas on the delta path (r16):
  // minted sameAs pairs feed the class diff; the at-rest sameAs partition
  // encodes the OLD classes, so only the NEW minted set is ever computed ----

  val fpBase1 = s"""
    @prefix : <urn:fp:> .
    @prefix rdfs: <$RDFS> .
    @prefix owl: <$OWL> .
    :g {
      :Person rdfs:subClassOf :Agent .
      :mbox rdfs:domain :Person .
      :p1 :mbox :m1 .
      :p2 :mbox :m1 .
      :p1 :age :a33 .
      :p2 :nick "pp" .
      :p3 :ssn :s1 .
      :p3 :ssn :s2 .
      :s1 :label :L1 .
    }
  """

  scenario("fp declare (dirty data): minted sameAs + substitution cascade, delta path") {
    val st = atRest(fpBase1, "fp1")
    check(st,
      s"""DELETE { <urn:fp:none> <urn:fp:never> <urn:fp:nope> . }
         |INSERT { GRAPH <urn:fp:g> { <urn:fp:ssn> a <${OWL}FunctionalProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("fp un-declare: minted pairs + substituted copies retract, delta path") {
    val st = atRest(fpBase1 +
      s"\n<urn:fp:ssn> a <${OWL}FunctionalProperty> .", "fp2")
    check(st, s"DELETE DATA { <urn:fp:ssn> a <${OWL}FunctionalProperty> . }")
  }

  scenario("fp declare on clean data: no pairs minted, delta path") {
    val st = atRest(fpBase1, "fp3")
    check(st,
      s"""DELETE { <urn:fp:none> <urn:fp:never> <urn:fp:nope> . }
         |INSERT { GRAPH <urn:fp:g> { <urn:fp:age> a <${OWL}FunctionalProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("fp premise delete: the violating fact goes, minted pair + cascade retract") {
    val st = atRest(fpBase1 +
      s"\n<urn:fp:ssn> a <${OWL}FunctionalProperty> .", "fp4")
    check(st, "DELETE DATA { GRAPH <urn:fp:g> { <urn:fp:p3> <urn:fp:ssn> <urn:fp:s2> . } }")
  }

  scenario("fp premise insert: first violation mints a pair into a clean FP store") {
    val st = atRest(fpBase1 +
      s"\n<urn:fp:age> a <${OWL}FunctionalProperty> .", "fp5")
    check(st,
      """DELETE { <urn:fp:none> <urn:fp:never> <urn:fp:nope> . }
        |INSERT { GRAPH <urn:fp:g> { <urn:fp:p1> <urn:fp:age> <urn:fp:a34> . } }
        |WHERE {}""".stripMargin)
  }

  scenario("ifp declare: object-keyed minting + domain/rdfs9 over substituted copies") {
    val st = atRest(fpBase1, "fp6")
    check(st,
      s"""DELETE { <urn:fp:none> <urn:fp:never> <urn:fp:nope> . }
         |INSERT { GRAPH <urn:fp:g> { <urn:fp:mbox> a <${OWL}InverseFunctionalProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("fp with a subPropertyOf feeder: rdfs7 copies are premise facts") {
    // :ssn2 ⊑ :ssn — the p3 fact arrives via :ssn2 and must still violate
    val st = atRest(fpBase1 +
      s"""
      <urn:fp:ssn2> <${RDFS}subPropertyOf> <urn:fp:ssn> .
      <urn:fp:p4> <urn:fp:ssn> <urn:fp:s3> .
      <urn:fp:p4> <urn:fp:ssn2> <urn:fp:s4> .
      """, "fp7")
    check(st,
      s"""DELETE { <urn:fp:none> <urn:fp:never> <urn:fp:nope> . }
         |INSERT { GRAPH <urn:fp:g> { <urn:fp:ssn> a <${OWL}FunctionalProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("fp with an inverseOf feeder: flipped copies are premise facts") {
    val st = atRest(fpBase1 +
      s"""
      <urn:fp:ssnOf> <${OWL}inverseOf> <urn:fp:ssn> .
      <urn:fp:s3> <urn:fp:ssnOf> <urn:fp:p4> .
      <urn:fp:p4> <urn:fp:ssn> <urn:fp:s4> .
      """, "fp8")
    check(st,
      s"""DELETE { <urn:fp:none> <urn:fp:never> <urn:fp:nope> . }
         |INSERT { GRAPH <urn:fp:g> { <urn:fp:ssn> a <${OWL}FunctionalProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("fp declare alongside standing explicit sameAs: classes merge across sources") {
    val st = atRest(fpBase1 +
      s"\n<urn:fp:s1> <${OWL}sameAs> <urn:fp:s9> .", "fp9")
    check(st,
      s"""DELETE { <urn:fp:none> <urn:fp:never> <urn:fp:nope> . }
         |INSERT { GRAPH <urn:fp:g> { <urn:fp:ssn> a <${OWL}FunctionalProperty> . } }
         |WHERE {}""".stripMargin)
  }

  scenario("unrelated delete on a store with FP-minted sameAs at rest: Case A delta") {
    // minted pairs exist (inferred sameAs) but the delta never touches the
    // cone or the marks — previously an automatic recompute (r15 residue)
    val st = atRest(fpBase1 +
      s"\n<urn:fp:ssn> a <${OWL}FunctionalProperty> .", "fp10")
    check(st, "DELETE DATA { GRAPH <urn:fp:g> { <urn:fp:p2> <urn:fp:nick> \"pp\" . } }")
  }

  scenario("restriction re-declaration still recomputes (guarded residue)") {
    val st = atRest(fpBase1 + s"""
      <urn:fp:R> a <${OWL}Restriction> .
      <urn:fp:R> <${OWL}onProperty> <urn:fp:flag> .
      <urn:fp:R> <${OWL}hasValue> <urn:fp:yes> .
      """, "fp11")
    check(st, s"DELETE DATA { <urn:fp:R> a <${OWL}Restriction> . }",
      expectDelta = false)
  }

  // DATA deltas through an inverse into a symmetric property: closure() runs
  // the inverseOf stage and then the symmetric stage, so an inverse output
  // in a symmetric property is flipped again. The delta passes must run the
  // same two stages (appended last so the earlier scenarios keep their slice)
  val invSymBase = symBase.replace(":parentOf owl:inverseOf :childOf .",
    ":parentOf owl:inverseOf :childOf .\n      :childOf a owl:SymmetricProperty .")

  scenario("inverse output in a symmetric property: data delete retracts both flips") {
    val st = atRest(invSymBase, "sy8")
    check(st, "DELETE DATA { GRAPH <urn:sy:g> { <urn:sy:p1> <urn:sy:parentOf> <urn:sy:k1> } }")
  }

  scenario("inverse output in a symmetric property: Modify insert derives both flips") {
    val st = atRest(invSymBase, "sy9")
    check(st,
      """DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
        |INSERT { GRAPH <urn:sy:g> { <urn:sy:p3> <urn:sy:parentOf> <urn:sy:k3> . } }
        |WHERE {}""".stripMargin)
  }

  // facts whose subject AND object are sameAs class members ({q,r} likes
  // {m,n,o2}): the object arm and the both-sided orbit of every substitution
  // site (appended last so the earlier scenarios keep their slice)
  scenario("sameAs: fact delete between two classes retracts its orbit copies (delta)") {
    val st = atRest(saBase, "sa13")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:q> <urn:x:likes> <urn:x:m> . } }")
  }

  scenario("sameAs: orbit copies stay derivable from an explicit alias fact (delta)") {
    val t = saBase + """
      @prefix : <urn:x:> .
      :g5 { :q :likes :n . }
    """
    val st = atRest(t, "sa14")
    check(st, "DELETE DATA { GRAPH <urn:x:g> { <urn:x:q> <urn:x:likes> <urn:x:m> . } }")
  }

  // a fact whose subject has no aliases and whose object is in a class the
  // delta splits or merges: only the class diff's object arm reaches it
  val saObjBase = saBase + """
    @prefix : <urn:x:> .
    :g6 { :p :likes :o2 . }
  """

  scenario("sameAs: edge delete splits the class under an unaliased subject's fact (delta)") {
    val st = atRest(saObjBase, "sa15")
    check(st,
      s"DELETE DATA { GRAPH <urn:x:g> { <urn:x:n> <${OWL}sameAs> <urn:x:o2> . } }")
  }

  scenario("sameAs: edge insert merges classes under an unaliased subject's fact (delta)") {
    val st = atRest(saObjBase, "sa16")
    check(st,
      s"""DELETE { <urn:x:none> <urn:x:never> <urn:x:nope> . }
         |INSERT { <urn:x:o2> <${OWL}sameAs> <urn:x:q> . }
         |WHERE {}""".stripMargin)
  }
}

/** The 6 concurrent slices of the TM scenario corpus (see TmDeltaScenarios). */
class TmDeltaSpec extends TmDeltaScenarios(0, 6)
class TmDeltaBSpec extends TmDeltaScenarios(1, 6)
class TmDeltaCSpec extends TmDeltaScenarios(2, 6)
class TmDeltaDSpec extends TmDeltaScenarios(3, 6)
class TmDeltaESpec extends TmDeltaScenarios(4, 6)
class TmDeltaFSpec extends TmDeltaScenarios(5, 6)
