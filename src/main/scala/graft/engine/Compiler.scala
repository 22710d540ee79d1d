package graft.engine

import graft.model.{GraftStore, Term}
import graft.sparql.{Algebra, Ast, Parser}
import graft.sparql.Algebra._
import graft.sparql.Ast._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Eagerly-evaluated term identity hashes (constant-side of the Term.idOf convention). */
object TermIds {
  import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
  import org.apache.spark.unsafe.types.UTF8String

  def id(kind: Byte, str: String, dt: String, lang: String): Long = {
    def s(v: String) = Literal(UTF8String.fromString(if (v == null) " " else v), StringType)
    XxHash64(Seq(Literal(kind, ByteType), s(str), s(dt), s(lang)), 42L)
      .eval(null).asInstanceOf[Long]
  }

  def iriId(iri: String): Long = id(Term.KIND_IRI, iri, null, null)

  def nodeId(n: Node): Long = n match {
    case IriNode(i) => iriId(i)
    case LitNode(lex, dt, lang) => id(Term.KIND_LITERAL, lex, dt.orNull, lang.orNull)
    case VarNode(v) => throw new IllegalArgumentException(s"variable ?$v has no constant id")
  }
}

object Compiler {
  /** The openrdf nullGraph IRI addressing context-less statements in a quads
    * store (`rdf/store/BD.java:158`).
    */
  val NULL_GRAPH = "http://www.bigdata.com/rdf#nullGraph"

  /** `hint:Query hint:defaultGraphDistinctFilter "false"` disables the
    * distinct-SPO filter on union-default-graph access paths
    * (QueryHints.DEFAULT_GRAPH_DISTINCT_FILTER; TestDefaultGraphs 01k expects
    * the duplicate to come back when disabled).
    */
  val defaultGraphDistinct = new scala.util.DynamicVariable[Boolean](true)
}

final case class DatasetSpec(defaults: Option[Seq[String]], named: Option[Seq[String]])
object DatasetSpec {
  val all: DatasetSpec = DatasetSpec(None, None)
  /** Per SPARQL 1.1 §13.2, FROM/USING clauses define the dataset EXACTLY: a
    * NAMED-only clause list means the default graph is empty (Some(Nil)), not
    * the whole store — bare patterns then match nothing.
    */
  def from(ds: Seq[(String, Boolean)]): DatasetSpec =
    if (ds.isEmpty) all
    else DatasetSpec(
      Some(ds.collect { case (g, false) => g }),
      // a FROM-only clause list leaves the NAMED section exactly empty (GRAPH
      // matches nothing — TestNamedGraphs 01b), not unrestricted
      Some(ds.collect { case (g, true) => g }))
}

/** SPARQL algebra → DataFrame compiler.
  *
  * The whole vectored operator pipeline of the reference
  * (`bop/engine/ChunkedRunningQuery.java:92`, `bop/join/PipelineJoin.java:113`,
  * hash-join family `bop/join/HashIndexOp.java` / `SolutionSetHashJoinOp.java`) collapses
  * into one lazy Catalyst DAG: a solution set is a DataFrame with one nullable
  * term-struct column per SPARQL variable (null = unbound, matching left-join
  * semantics natively); join variables are shared column names. Catalyst + AQE pick
  * broadcast/shuffled-hash/sort-merge physical joins — the JVM/HTree operator split
  * (`JVMHashJoinOp` vs `HTreeHashJoinOp`) is subsumed by Tungsten spill.
  */
/** @param spreadScans round-robin a narrow pruned scan across the session's cores
  *   before downstream work. UPDATE WHERE clauses set this: their solutions feed
  *   expensive per-row template/BIND expression pipelines and a materializing
  *   checkpoint, and a small predicate partition otherwise arrives as ONE split,
  *   serializing all of it on a single task. No-op once a scan is already wide
  *   (the at-scale case), so it costs nothing on big inputs.
  */
final class Compiler(val store: GraftStore, ds: DatasetSpec,
                     spreadScans: Boolean = false) {
  private val spark = store.spark
  /** Named solution sets from WITH … AS %name (evaluated once, INCLUDE reuses). */
  private var namedSets: Map[String, DataFrame] = Map.empty
  /** Maybe-unbound vars per named set, computed from its AST at registration —
    * feeds the compatibility-join analysis when an INCLUDE is joined.
    */
  private var namedSetUnbound: Map[String, Set[String]] = Map.empty
  /** Declared-but-not-yet-compiled WITH bodies: a named subquery may INCLUDE a
    * sibling declared AFTER it (TestTicket1763 bg1763b), so registration is lazy
    * and resolution recurses in dependency order.
    */
  private var pendingSets: Map[String, SelectQuery] = Map.empty
  private var resolvingSets: Set[String] = Set.empty
  import Exprs.{Env => _, _}

  private def env(df: DataFrame): Exprs.Env = Exprs.Env(df.columns.toSet)

  /** One-row, zero-column solution (the Join identity / StartOp analog). */
  private def unitDf: DataFrame = spark.range(1).select()

  // ======== BGP ========
  private def isSimpleP(p: Path): Boolean = p match {
    case PNeg(set) => !set.exists(_._2) // mixed ^-sets route through pathTriple
    case PLink(_) => true
    case PInv(PLink(_)) => true
    case _ => false
  }

  /** Selectivity heuristic for initial join order (ASTStaticJoinOptimizer's
    * bound-position weighting, `rdf/sparql/ast/optimizers/ASTStaticJoinOptimizer.java`);
    * AQE refines at runtime.
    */
  private def score(t: Triple): Int = {
    var s = 0
    if (!t.s.isInstanceOf[VarNode]) s += 4
    t.p match { case PLink(i) if !i.startsWith("?") => s += 2; case _ => () }
    if (!t.o.isInstanceOf[VarNode]) s += 3
    if (t.g.exists(g => !g.isInstanceOf[VarNode])) s += 1
    s
  }

  private val BDS_NS = "http://www.bigdata.com/rdf/search#"
  private val GEO_NS = "http://www.bigdata.com/rdf/geospatial#"
  private val HINT_NS = "http://www.bigdata.com/queryHints#"

  private def isMagic(t: Triple): Boolean = t.p match {
    case PLink(i) => i.startsWith(BDS_NS) || i.startsWith(GEO_NS)
    case _ => false
  }

  /** Query-hint magic triples (ASTQueryHintOptimizer, `rdf/sparql/ast/hints/`):
    * stripped from the pattern; `hint:optimizer "None"` preserves the author's join
    * order for the group. The reference's other hints steer machinery Catalyst/AQE
    * replaces (analytic mode, chunk sizes, RTO sampling) and are accepted as no-ops.
    */
  private def isHint(t: Triple): Boolean = t.p match {
    case PLink(i) => i.startsWith(HINT_NS)
    case _ => false
  }

  private def optimizerOff(hints: Seq[Triple]): Boolean = hints.exists { t =>
    t.p == PLink(HINT_NS + "optimizer") && (t.o match {
      case LitNode("None", _, _) => true
      case _ => false
    })
  }

  /** bds:search magic-predicate group → solution DataFrame
    * (SearchServiceFactory + ASTSearchOptimizer analog): the group's subject var binds
    * to matching literals; bds:relevance/bds:rank bind score columns.
    */
  private[engine] def searchScan(subjVar: String, ts: Seq[Triple]): DataFrame = {
    def constStr(p: String): Option[String] = ts.collectFirst {
      case Triple(_, PLink(pp), LitNode(lex, _, _), _) if pp == BDS_NS + p => lex
    }
    def varOf(p: String): Option[String] = ts.collectFirst {
      case Triple(_, PLink(pp), VarNode(v), _) if pp == BDS_NS + p => v
    }
    val query = constStr("search").getOrElse(
      throw new IllegalArgumentException("bds: group without bds:search"))
    val idx = graft.search.TextIndex.forStore(store)
    val hits = idx.search(query,
      matchAllTerms = constStr("matchAllTerms").contains("true"),
      minRelevance = constStr("minRelevance").map(_.toDouble).getOrElse(0.0),
      maxRank = constStr("maxRank").map(_.toDouble.toInt).getOrElse(Int.MaxValue),
      needRank = varOf("rank").isDefined,
      prefixMatch = constStr("prefixMatch").contains("true"),
      matchRegex = constStr("matchRegex").contains("true"))
    var sels = Seq(col("lit").as(subjVar))
    varOf("relevance").foreach(v => sels :+= Term.doubleLit(col("relevance")).as(v))
    varOf("rank").foreach(v => sels :+= Term.intLit(col("rank")).as(v))
    // a bds: group under GRAPH restricts hits to literals occurring in the active
    // named graph(s) and binds a var label (TestSearch search-named-graphs*)
    ts.head.g match {
      case None => hits.select(sels: _*)
      case Some(gNode) =>
        var stmts = store.statements.filter(col("g").isNotNull)
        ds.named.foreach(gs => stmts = stmts.filter(col("g")("str").isin(gs: _*)))
        gNode match {
          case VarNode(gv) =>
            val occ = stmts.select(col("o")("id").as("__lid"), col("g").as(gv))
              .dropDuplicates("__lid", gv)
            hits.join(occ, col("lit")("id") === col("__lid"))
              .select(sels :+ col(gv): _*)
          case IriNode(i) =>
            val occ = stmts.filter(col("g")("str") === i)
              .select(col("o")("id").as("__lid")).dropDuplicates("__lid")
            hits.join(occ, col("lit")("id") === col("__lid"), "left_semi")
              .select(sels: _*)
          case other =>
            throw new IllegalArgumentException(s"GRAPH label: $other")
        }
    }
  }

  /** INPUT parameters of a geo:search group (GeoSpatial.java magic predicates);
    * vars in their object position make the service correlated. Output-binding
    * predicates (locationValue, latValue, …) are excluded.
    */
  private[engine] val geoInputParams: Set[String] = Set(
    "search", "predicate", "searchDatatype", "context", "spatialCircleCenter",
    "spatialCircleRadius", "spatialRectangleSouthWest", "spatialRectangleNorthEast",
    "spatialUnit", "timeStart", "timeEnd",
    "customFields", "customFieldsLowerBounds", "customFieldsUpperBounds")

  /** geo:search magic-predicate group → solution DataFrame (the
    * GeoSpatialServiceFactory analog, vocabulary GeoSpatial.java:64-84): the group's
    * subject var binds to subjects whose geo:predicate object is a packed
    * "lat#lon(#time)" literal inside the requested circle/rectangle (and time range).
    * The reference range-scans a z-order B+Tree with a BigMin advancer; here the scan
    * is a p_id-pruned statement scan + two sargable range predicates (+ exact
    * haversine for circles) — the columnar replacement for the index trick, with
    * Geo.zorder available as a clustering key at scale.
    */
  private[engine] def geoScan(subjVar: String, ts: Seq[Triple],
                              frame: Option[DataFrame] = None): DataFrame = {
    def constStr(p: String): Option[String] = ts.collectFirst {
      case Triple(_, PLink(pp), LitNode(lex, _, _), _) if pp == GEO_NS + p => lex
    }
    def varOf(p: String): Option[String] = ts.collectFirst {
      case Triple(_, PLink(pp), VarNode(v), _) if pp == GEO_NS + p => v
    }
    val pred = ts.collectFirst {
      case Triple(_, PLink(pp), IriNode(i), _) if pp == GEO_NS + "predicate" => i
    }.getOrElse(throw new IllegalArgumentException("geo: group without geo:predicate"))
    // datatype configuration (GeoSpatialDatatypeConfiguration): geo:searchDatatype
    // picks a registered config, else the default datatype's; the config carries
    // the packed-slot order and the per-field storage multipliers. Rectangle
    // bounds snap onto the storage grid (encode∘decode — the reference encodes
    // bounds with the literal codec before its z-order range scan), so a bound
    // with more precision than the grid (e.g. 1.100000001111 at 1e5) matches the
    // grid values it rounds over. Stored literals are already canonicalized at
    // load by the same config (Term.Datatypes lexical canonicalizer).
    import graft.search.GeoDatatypes
    val dtExplicit = ts.collectFirst {
      case Triple(_, PLink(pp), IriNode(i), _) if pp == GEO_NS + "searchDatatype" => i
    }
    val cfg = dtExplicit.map(u => GeoDatatypes.get(u).getOrElse(
        throw new IllegalArgumentException(s"unregistered geo:searchDatatype <$u>")))
      .orElse(GeoDatatypes.defaultConfig)
    val latIdx = cfg.flatMap(_.idx("LATITUDE")).getOrElse(0)
    val lonIdx = cfg.flatMap(_.idx("LONGITUDE")).getOrElse(1)
    val timeIdx = cfg.flatMap(_.idx("TIME")).getOrElse(2)
    def latLon(p: String): Option[(Double, Double)] = constStr(p).map { s =>
      val a = s.split("#")
      cfg match {
        case Some(c) => (c.truncBound(latIdx, a(0)), c.truncBound(lonIdx, a(1)))
        case None => (a(0).toDouble, a(1).toDouble)
      }
    }
    // DEFAULT_GEO_SPATIAL_UNIT = Kilometers (GeoSpatial.java:125)
    val unitMeters = constStr("spatialUnit").getOrElse("Kilometers") match {
      case "Kilometers" => 1000.0
      case "Meters" => 1.0
      case "Miles" => 1609.344
      case u => throw new IllegalArgumentException(s"unknown geo:spatialUnit $u")
    }
    val base0 = scanTriple(Triple(VarNode("__gs"), PLink(pred), VarNode("__gv"), None))
    // an EXPLICIT search datatype restricts the scan to literals of that datatype
    // (the reference searches exactly that datatype's index); the default-config
    // path keeps matching untyped packed literals for compatibility
    val base = dtExplicit.fold(base0)(u => base0.filter(col("__gv")("dt") === u))
    val parts = split(col("__gv")("str"), "#")
    var df = base
      // try_element_at: a malformed/short packed literal yields NULL (row fails the
      // spatial filter and drops out) instead of an ANSI array-index error killing
      // the whole scan — one bad literal in a 100 TB corpus must not fail the query
      .withColumn("__lat", try_element_at(parts, lit(latIdx + 1)).cast("double"))
      .withColumn("__lon", try_element_at(parts, lit(lonIdx + 1)).cast("double"))
      .withColumn("__gt", try_element_at(parts, lit(timeIdx + 1)).cast("long"))
    val func = constStr("search").getOrElse("inCircle") // default GeoFunction.IN_CIRCLE
    // (lat, lon) of the circle center as COLUMNS — literals for a constant
    // center, frame-joined parse for a variable one (feeds distanceValue too)
    var centerCols: Option[(Column, Column)] = None
    // a var in object position of an input param makes the service CORRELATED:
    // the reference evaluates geo search per incoming binding (pipelined
    // "search with incoming bindings", GeoSpatialServiceFactory's
    // GeoSpatialServiceCall accepts them via the IBindingSet); here the small
    // distinct set of incoming center values broadcast-joins the candidate
    // scan, and the bound var column rides in the output for the outer
    // equi-join to correlate on
    val centerVar = varOf("spatialCircleCenter")
    func match {
      case "inCircle" =>
        val r = constStr("spatialCircleRadius").getOrElse(
          throw new IllegalArgumentException("inCircle without geo:spatialCircleRadius"))
          .toDouble * unitMeters
        centerVar match {
          case Some(cv) =>
            val fr = frame.filter(_.columns.contains(cv)).getOrElse(
              throw new IllegalArgumentException(
                s"inCircle with variable geo:spatialCircleCenter ?$cv requires it bound by a sibling pattern"))
            val centers = fr.select(col(cv)).dropDuplicates(cv)
            val cparts = split(col(cv)("str"), "#")
            val clat = try_element_at(cparts, lit(latIdx + 1)).cast("double")
            val clon = try_element_at(cparts, lit(lonIdx + 1)).cast("double")
            df = df.crossJoin(broadcast(centers))
              .filter(graft.search.Geo.haversineMeters(
                col("__lat"), col("__lon"), clat, clon) <= lit(r))
            centerCols = Some((clat, clon))
          case None =>
            val c = latLon("spatialCircleCenter").getOrElse(
              throw new IllegalArgumentException("inCircle without geo:spatialCircleCenter"))
            centerCols = Some((lit(c._1), lit(c._2)))
            df = df.filter(graft.search.Geo.inCircle(col("__lat"), col("__lon"), c._1, c._2, r))
        }
      case "inRectangle" =>
        val sw = latLon("spatialRectangleSouthWest").getOrElse(
          throw new IllegalArgumentException("inRectangle without geo:spatialRectangleSouthWest"))
        val ne = latLon("spatialRectangleNorthEast").getOrElse(
          throw new IllegalArgumentException("inRectangle without geo:spatialRectangleNorthEast"))
        df = df.filter(graft.search.Geo.inRectangle(
          col("__lat"), col("__lon"), sw._1, sw._2, ne._1, ne._2))
      case other => throw new IllegalArgumentException(s"unknown geo:search function $other")
    }
    constStr("timeStart").foreach(t => df = df.filter(col("__gt") >= t.toLong))
    constStr("timeEnd").foreach(t => df = df.filter(col("__gt") <= t.toLong))
    // custom dimensions beyond lat/lon/time (GeoSpatial.java:232-242): declared
    // field names map positionally onto the packed literal's remaining "#" slots;
    // lower/upper bound lists filter them as sargable numeric ranges
    val customBase = cfg.map(_.fields.size).getOrElse(3) + 1 // first slot after the configured fields
    val customN = constStr("customFields").map(_.split("#").length).getOrElse(0)
    if (customN > 0) {
      (0 until customN).foreach { i =>
        df = df.withColumn(s"__cf$i",
          try_element_at(parts, lit(customBase + i)).cast("double"))
      }
      def bounds(key: String): Option[Array[String]] = constStr(key).map { bs =>
        val arr = bs.split("#")
        if (arr.length > customN) throw new IllegalArgumentException(
          s"geo:$key has ${arr.length} components but geo:customFields declares only $customN")
        arr
      }
      bounds("customFieldsLowerBounds").foreach(_.zipWithIndex.foreach { case (b, i) =>
        df = df.filter(col(s"__cf$i") >= b.toDouble)
      })
      bounds("customFieldsUpperBounds").foreach(_.zipWithIndex.foreach { case (b, i) =>
        df = df.filter(col(s"__cf$i") <= b.toDouble)
      })
    }
    var sels = Seq(col("__gs").as(subjVar))
    // a variable center rides in the output so the enclosing join correlates on it
    centerVar.foreach(cv => sels :+= col(cv))
    varOf("locationValue").foreach(v => sels :+= col("__gv").as(v))
    varOf("latValue").foreach(v => sels :+= Term.doubleLit(col("__lat")).as(v))
    varOf("lonValue").foreach(v => sels :+= Term.doubleLit(col("__lon")).as(v))
    varOf("timeValue").foreach(v => sels :+= Term.intLit(col("__gt")).as(v))
    // customFieldsValues binds the custom components re-packed with the separator,
    // preserving each slot's ORIGINAL lexical form ("7#0.5", not the double-cast
    // "7.0#0.5") — the packed literal is the source of truth, not the filter cast
    varOf("customFieldsValues").foreach { v =>
      if (customN == 0) throw new IllegalArgumentException(
        "geo:customFieldsValues requires geo:customFields")
      sels :+= Term.strLit(concat_ws("#",
        (0 until customN).map(i => try_element_at(parts, lit(customBase + i))): _*)).as(v)
    }
    varOf("distanceValue").foreach { v =>
      val (clat, clon) = centerCols.getOrElse(throw new IllegalArgumentException(
        "geo:distanceValue requires an inCircle search"))
      sels :+= Term.doubleLit(graft.search.Geo.haversineMeters(
        col("__lat"), col("__lon"), clat, clon) / unitMeters).as(v)
    }
    df.select(sels: _*)
  }

  /** Does the path contain a closure (fixpoint) component that benefits from
    * seeded (restricted-frontier) evaluation rather than the all-pairs relation?
    * Zero-or-one counts: seeded evaluation emits the reference's (seed, seed)
    * self-pair for ANY bound endpoint (ArbitraryLengthPathTask.java:384), which
    * the unseeded relation — whose zero domain is the edge-vertex set — cannot
    * (TestTicket739 optpp).
    */
  private def containsClosure(p: Path): Boolean = p match {
    case PZeroOrMore(_) | POneOrMore(_) => true
    case PInv(q) => containsClosure(q)
    case PZeroOrOne(_) | PZero(_) => true
    case PSeq(q, r) => containsClosure(q) || containsClosure(r)
    case PAlt(q, r) => containsClosure(q) || containsClosure(r)
    case _ => false
  }

  /** Defer var–var path triples: once the plain part of a group has bound one
    * endpoint, the path evaluates seeded from those values (BFS from the
    * restricted frontier) instead of as the all-pairs relation — the
    * ASTRangeOptimizer-style restriction pushdown the reference applies to ALP
    * nodes. Seeding pays off when it turns an all-pairs fixpoint into a BFS;
    * plain seq/alt/inv relations join fine as-is. A dataset clause (FROM
    * defaults) scopes the zero-length node domain like an explicit graph, so
    * those paths are not seedable against the store-global domain.
    */
  private def deferrablePath(t: Triple): Boolean = containsClosure(t.p) &&
    t.s.isInstanceOf[VarNode] && t.o.isInstanceOf[VarNode] &&
    ((t.g.isEmpty && ds.defaults.isEmpty) || !containsZero(t.p))

  /** SERVICE bds:searchInSearch { ?s bds:searchInSearch "query" } — keeps the
    * INCOMING ?s bindings that link (as subject of any statement) to a literal
    * the full-text index matches (SearchInSearchServiceFactory.java:78-90).
    * Correlated by definition: with no incoming ?s bindings it produces
    * nothing, so the OpJoin deferral evaluates it once the frame binds ?s.
    */
  private[engine] def searchInSearchScan(ts: Seq[Triple], frame: DataFrame): DataFrame = {
    val (sv, query) = ts.collectFirst {
      case Triple(VarNode(v), PLink(p), LitNode(q, _, _), _)
        if p == BDS_NS + "searchInSearch" => (v, q)
    }.getOrElse(throw new IllegalArgumentException(
      "bds:searchInSearch needs `?s bds:searchInSearch \"query\"`"))
    if (!frame.columns.contains(sv))
      throw new IllegalArgumentException(
        s"bds:searchInSearch requires incoming bindings for ?$sv")
    val hits = graft.search.TextIndex.forStore(store).search(query)
      .select(col("lit")("id").as("__lid"))
    // hits are search-result-sized; the statement join prunes to rows whose
    // OBJECT is a hit before touching the frame
    store.statements
      .join(hits, col("o")("id") === col("__lid"))
      .select(col("s").as(sv)).dropDuplicates(sv)
  }

  def compileBgp(triples1: Seq[Triple]): DataFrame = {
    val (hintT, triples0) = triples1.partition(isHint)
    val keepOrder = optimizerOff(hintT)
    val (magicT, triples) = triples0.partition(isMagic)
    def isGeo(ts: Seq[Triple]): Boolean = ts.exists {
      case Triple(_, PLink(i), _, _) => i.startsWith(GEO_NS)
      case _ => false
    }
    // magic groups compile LAZILY against the frame the plain triples build —
    // a geo group with a variable input param (e.g. spatialCircleCenter bound
    // by a sibling triple) evaluates correlated against those bindings
    val searchFns: Seq[Option[DataFrame] => DataFrame] = magicT.groupBy(_.s).toSeq.map {
      case (VarNode(v), ts) =>
        if (isGeo(ts)) (fr: Option[DataFrame]) => geoScan(v, ts, fr)
        else (_: Option[DataFrame]) => searchScan(v, ts)
      case (other, _) => throw new IllegalArgumentException(s"bds: subject must be a var, got $other")
    }
    def foldSearch(df0: DataFrame): DataFrame =
      searchFns.foldLeft(df0)((d, fn) =>
        joinDf(d, fn(Option(d)), "inner"))
    if (triples.isEmpty && searchFns.isEmpty) return unitDf
    if (triples.isEmpty) return searchFns.foldLeft(null: DataFrame)((d, fn) =>
      if (d == null) fn(None) else joinDf(d, fn(Some(d)), "inner"))
    def deferrable(t: Triple): Boolean = deferrablePath(t)
    if (keepOrder) {
      // hint:optimizer "None": the author's join order verbatim — closure paths are
      // NOT hoisted behind the plain triples; they still evaluate seeded when an
      // endpoint is already bound at their position in the sequence
      var df: DataFrame = null
      var bound = Set.empty[String]
      triples.foreach { t =>
        val seedHere = deferrable(t) && df != null &&
          (bound(t.s.asInstanceOf[VarNode].name) || bound(t.o.asInstanceOf[VarNode].name))
        if (seedHere) df = joinSeededPath(df, t, bound)
        else df = joinPlainTriple(df, t, bound)
        bound ++= Algebra.tripleVars(t)
      }
      return foldSearch(df)
    }
    val (deferred0, plain) = triples.partition(deferrable)
    val deferred = scala.collection.mutable.ArrayBuffer(deferred0: _*)
    var df: DataFrame = null
    var bound = Set.empty[String]
    if (plain.nonEmpty) {
      // greedy join order: most selective first, prefer var-connected next.
      // Scans materialize at JOIN time (not upfront) so a subject-star triple
      // can see which of its vars the accumulated solutions already bind and
      // take the seeded access path.
      val remaining = scala.collection.mutable.ArrayBuffer(plain.sortBy(t => -score(t)): _*)
      val t0 = remaining.remove(0)
      df = joinPlainTriple(null, t0, Set.empty)
      bound = Algebra.tripleVars(t0).toSet
      while (remaining.nonEmpty) {
        val idx = remaining.indexWhere(t => Algebra.tripleVars(t).exists(bound))
        val t = remaining.remove(if (idx >= 0) idx else 0)
        df = joinPlainTriple(df, t, bound)
        bound ++= Algebra.tripleVars(t)
      }
    }
    while (deferred.nonEmpty) {
      // seedable only when an ENDPOINT var is bound (a shared graph var is not a seed)
      val idx = deferred.indexWhere(t =>
        bound(t.s.asInstanceOf[VarNode].name) || bound(t.o.asInstanceOf[VarNode].name))
      if (idx < 0 || df == null) {
        val t = deferred.remove(0)
        val next = pathTriple(t)
        df = if (df == null) next else joinDf(df, next, "inner")
        bound ++= Algebra.tripleVars(t)
      } else {
        val t = deferred.remove(idx)
        df = joinSeededPath(df, t, bound)
        bound ++= Algebra.tripleVars(t)
      }
    }
    foldSearch(df)
  }

  /** MINUS whose right side is a BGP with a path triple sharing a definitely-bound
    * var: evaluate the right side AS-BOUND, seeded from the left's values — exactly
    * the reference's pipelined sub-group evaluation (the ALP receives the incoming
    * solutions and emits a (seed, seed) zero-length self-pair for each:
    * ArbitraryLengthPathTask.java:384, observable in ticket_bg2066 where
    * `MINUS { ?o <knows>* [] }` must remove EVERY bound ?o). Beyond conformance
    * this is the scale path: the anti-join side explores only the frontier
    * reachable from the left's bindings instead of a store-wide closure.
    * Returns None when the shape doesn't apply (falls back to independent eval).
    */
  private def asBoundMinus(l: Op, r: Op, dl: DataFrame): Option[DataFrame] = r match {
    case OpBgp(ts) if ts.nonEmpty =>
      val lBound = dl.columns.toSet -- unboundOf(l)
      def endpoints(t: Triple): Seq[String] = Seq(t.s, t.o).collect { case VarNode(v) => v }
      val pathTs = ts.filterNot(t => isSimpleP(t.p))
      // every path triple must have a bound endpoint to seed from, every triple a
      // plain (non-magic) predicate, and no left shared var may be maybe-unbound
      val applies = pathTs.nonEmpty &&
        pathTs.forall(t => endpoints(t).exists(lBound) &&
          t.s.isInstanceOf[VarNode] && t.o.isInstanceOf[VarNode]) &&
        (Algebra.vars(r) & unboundOf(l)).isEmpty
      if (!applies) None
      else {
        val seedVars = (ts.flatMap(Algebra.tripleVars).toSet & lBound).toSeq.sorted
        if (seedVars.isEmpty) return None
        var df = dl.select(seedVars.map(col): _*).dropDuplicates(seedVars)
        var bound = seedVars.toSet
        ts.foreach { t =>
          if (!isSimpleP(t.p) && endpoints(t).exists(bound))
            df = joinSeededPath(df, t, bound)
          else {
            val next = if (isSimpleP(t.p)) scanTriple(t) else pathTriple(t)
            df = joinDf(df, next, "inner")
          }
          bound ++= Algebra.tripleVars(t)
        }
        val shared = dl.columns.intersect(df.columns).toSeq
        Some(joinDf(dl, df.select(shared.map(col): _*).dropDuplicates(shared), "left_anti"))
      }
    case _ => None
  }

  /** Join the next plain (non-path) triple into the accumulated solutions. A
    * triple whose predicate is UNBOUND while its subject var is already bound
    * is the subject-star shape (entity fetch, BSBM Q11): with no predicate to
    * prune by, an independent scan reads every p_id partition's s-column.
    * When the store has a subject sidecar (SubjectIndex), evaluate it SEEDED
    * instead — the binding-propagation analog of the reference's
    * `bop/join/PipelineJoin.java:113` feeding incoming solutions into the SPO
    * access path.
    */
  private def joinPlainTriple(df: DataFrame, t: Triple, bound: Set[String]): DataFrame = {
    def plainScan = if (isSimpleP(t.p)) scanTriple(t) else pathTriple(t)
    if (df == null) return plainScan
    val seeded = t.s match {
      case VarNode(sv) if unboundPred(t) && bound(sv) => seededSubjectScan(df, t, sv)
      case _ => None
    }
    seeded.getOrElse(joinDf(df, plainScan, "inner"))
  }

  /** Predicate gives the scan no pruning dimension (wildcard var, or a plain
    * negated set — everything BUT a few predicates).
    */
  private def unboundPred(t: Triple): Boolean = t.p match {
    case PLink(i) => i.startsWith("?")
    case PNeg(set) => !set.exists(_._2)
    case _ => false
  }

  /** Evaluate a bound-subject/unbound-predicate triple through the subject
    * sidecar, seeded by the accumulated solutions' distinct subject ids (one
    * bounded driver-side collect — the reference's chunked index-nested-loop
    * does the same binding propagation). None ⇒ shape doesn't pay (no sidecar,
    * more than `DfOps.SEED_CAP` seeds, where the probe degrades into a broad In
    * filter with no row-group locality) and the caller falls back to the scan join.
    */
  private def seededSubjectScan(df: DataFrame, t: Triple, sv: String): Option[DataFrame] = {
    if (!store.hasSubjectIndex) return None
    val rows = DfOps.collectAtMost(df.select(col(sv)("id").as("__seed"))
      .filter(col("__seed").isNotNull)
      .dropDuplicates("__seed"), DfOps.SEED_CAP + 1)
    if (rows.length > DfOps.SEED_CAP) return None
    val sids = rows.map(_.getLong(0)).toSeq
    if (sids.isEmpty)
      // no live seeds: the inner join is empty whatever the scan returns
      return Some(joinDf(df, scanTriple(t, Some(store.statements.filter(lit(false)))), "inner"))
    store.subjectSlice(sids).map(sl => joinDf(df, scanTriple(t, Some(sl)), "inner"))
  }

  /** Join a deferred var–var path triple against solutions that already bind one (or
    * both) endpoints, evaluating the path seeded from the bound values.
    */
  private def joinSeededPath(df: DataFrame, t: Triple, bound: Set[String]): DataFrame = {
    val sv = t.s.asInstanceOf[VarNode].name
    val ov = t.o.asInstanceOf[VarNode].name
    if (sv == ov) {
      val seeds = df.select(col(sv)("id").as("seed")).dropDuplicates("seed")
      // inner join (not semi): a path relation can connect the endpoint to itself via
      // multiple intermediates, and solution cardinality must match the unseeded
      // evaluation of the same pattern
      val pairs = seededPathIds(t.p, t.g, seeds, fromSubject = true, seedsInDomain = true)
        .filter(col("a") === col("b"))
      return df.join(pairs.select(col("a").as("__pa")),
        col(sv)("id") === col("__pa")).drop("__pa")
    }
    val fromSubject = bound(sv)
    val seedVar = if (fromSubject) sv else ov
    val seeds = df.select(col(seedVar)("id").as("seed")).dropDuplicates("seed")
    val pairs = seededPathIds(t.p, t.g, seeds, fromSubject, seedsInDomain = true)
      .select(col("a").as("__pa"), col("b").as("__pb"))
    if (bound(sv) && bound(ov))
      df.join(pairs, col(sv)("id") === col("__pa") && col(ov)("id") === col("__pb"))
        .drop("__pa", "__pb")
    else if (fromSubject)
      df.join(attachTerm(pairs, "__pb", ov, t.p), col(sv)("id") === col("__pa"))
        .drop("__pa", "__pb")
    else
      df.join(attachTerm(pairs, "__pa", sv, t.p), col(ov)("id") === col("__pb"))
        .drop("__pa", "__pb")
  }

  /** Natural join on shared variable columns.
    *
    * The join condition compares term *ids* (LONG), not full structs: Catalyst then
    * partitions/sorts the exchange on an 8-byte key instead of an 8-field struct with
    * strings — the shuffle-width payoff of dictionary encoding. Equal ids ⇒ equal terms
    * by construction (Term.idOf).
    */
  private def joinDf(l: DataFrame, r0: DataFrame, how: String): DataFrame = {
    if (l.columns.isEmpty) return r0
    if (r0.columns.isEmpty) return l.crossJoin(r0) // preserves row-multiplicity of r
    val shared = l.columns.intersect(r0.columns).toSeq
    if (shared.isEmpty) return l.crossJoin(r0)
    val r = shared.foldLeft(r0)((d, c) => d.withColumnRenamed(c, "__j_" + c))
    val cond = shared.map(c => col(c)("id") === col("__j_" + c)("id")).reduce(_ && _)
    val joined = l.join(r, cond, how)
    how match {
      case "left_semi" | "left_anti" => joined
      case _ => joined.drop(shared.map("__j_" + _): _*)
    }
  }

  /** Single statement-pattern scan (the Predicate/SPOAccessPath analog,
    * `bop/ap/Predicate.java`): constants → pushed-down filters (p via the p_id
    * partition column = POS index selection), variables → projected columns.
    */
  def scanTriple(t: Triple): DataFrame = scanTriple(t, None)

  /** As `scanTriple`, with an optional pre-restricted statements view (the
    * seeded subject access path hands in its slice; all constant/graph filters
    * below still apply on top of it).
    */
  private[engine] def scanTriple(t: Triple, baseOverride: Option[DataFrame]): DataFrame = {
    // inverse link: swap endpoints
    t.p match {
      case PInv(p) => return scanTriple(Triple(t.o, p, t.s, t.g), baseOverride)
      case _ => ()
    }
    // constant subject → the s-keyed sidecar when the store has one at rest
    // (the SPO access-path analog, `rdf/spo/SPOKeyOrder.java:112-127`): bucket
    // dirs + a pushed s.id filter replace the all-partitions s-column scan.
    // The s.id constant filter below still applies (idempotent on the slice).
    var df = baseOverride.getOrElse(t.s match {
      case VarNode(_) => store.statements
      case n => store.subjectSlice(Seq(TermIds.nodeId(n))).getOrElse(store.statements)
    })
    // default-graph scans over multi-graph stores need a distinct-SPO filter
    // (RDF merge semantics); applied AFTER the constant filters below so the
    // parquet scan still prunes, and only the pruned slice pays the shuffle
    var dedupSpo = false
    t.g match {
      case None =>
        ds.defaults match {
          case None =>
            dedupSpo = Compiler.defaultGraphDistinct.value && store.defaultGraphNeedsDedup
          case Some(gs) =>
            df = df.filter(col("g").isNotNull && col("g")("str").isin(gs: _*))
            // FROM merges graphs (RDF merge = distinct SPO) when several contribute
            dedupSpo = gs.size > 1
        }
      case Some(IriNode(g)) if g == Compiler.NULL_GRAPH =>
        // the openrdf nullGraph addresses context-less statements (BD.java:158)
        df = df.filter(col("g").isNull)
      case Some(IriNode(g)) =>
        df = df.filter(col("g").isNotNull && col("g")("id") === TermIds.iriId(g))
      case Some(VarNode(_)) =>
        // quads-mode GRAPH ?g: context-less statements belong to the openrdf
        // nullGraph and bind ?g to it (BD.NULL_GRAPH — TestTickets bg1760a:
        // `GRAPH ?g {?s ?p ?o}` over a triples-only load still matches)
        df = df.withColumn("g",
          when(col("g").isNull, Term.iri(Compiler.NULL_GRAPH)).otherwise(col("g")))
        ds.named.foreach(gs => df = df.filter(col("g")("str").isin(gs: _*)))
      case Some(other) => throw new IllegalArgumentException(s"bad graph term $other")
    }
    t.p match {
      case PLink(iri) if !iri.startsWith("?") =>
        df = df.filter(col("p_id") === TermIds.iriId(iri))
        // a predicate living in a single graph cannot duplicate across graphs
        dedupSpo &&= t.g.isEmpty && store.multiGraphPids(TermIds.iriId(iri))
      case PLink(_) =>
        // variable predicate: a sid's reification decomposition (sid rdf:subject s,
        // …) is VIRTUAL in the reference (SidIV unpacks on demand) — here it is
        // materialized, so a wildcard ?p over a KIND_SID subject must not surface
        // it (rdr-04: `<<?s ?p ?o>> ?p1 ?o1` returns annotations only). Explicit
        // reification on non-sid subjects (bnode rdf:subject quads) stays visible.
        val decomp = Seq(Term.RDF_SUBJECT, Term.RDF_PREDICATE, Term.RDF_OBJECT)
          .map(TermIds.iriId)
        df = df.filter(col("s")("kind") =!= Term.KIND_SID ||
          !col("p_id").isin(decomp: _*))
      case PNeg(set) =>
        val fwd = set.collect { case (i, false) => TermIds.iriId(i) }
        if (set.exists(_._2))
          throw new UnsupportedOperationException("inverted members in negated property set")
        df = df.filter(!col("p_id").isin(fwd: _*))
      case other => throw new IllegalStateException(s"non-simple path $other in scan")
    }
    t.s match {
      case VarNode(_) => ()
      case n => df = df.filter(col("s")("id") === TermIds.nodeId(n))
    }
    t.o match {
      case VarNode(_) => ()
      case n =>
        df = df.filter(col("o")("id") === TermIds.nodeId(n))
        // constant-object scan over a multi-graph predicate: only (p, o) pairs
        // that actually span graphs can duplicate (`?s rdf:type <Class>` skips
        // the distinct when the class lives in one graph)
        if (dedupSpo) t.p match {
          case PLink(iri) if !iri.startsWith("?") =>
            // hint-aware on mutated lineages (no full-store pair scan)
            dedupSpo &&= store.mayDupPO(TermIds.iriId(iri), TermIds.nodeId(n))
          case _ => ()
        }
    }
    if (dedupSpo)
      df = df.withColumn("__sid", col("s")("id")).withColumn("__oid", col("o")("id"))
        .dropDuplicates("__sid", "p_id", "__oid").drop("__sid", "__oid")
    // project variable positions; equal vars within the triple → equality filter
    val positions = Seq(
      "s" -> (t.s match { case VarNode(n) => Some(n); case _ => None }),
      "p" -> (t.p match { case PLink(i) if i.startsWith("?") => Some(i.substring(1)); case _ => None }),
      "o" -> (t.o match { case VarNode(n) => Some(n); case _ => None }),
      "g" -> (t.g match { case Some(VarNode(n)) => Some(n); case _ => None }))
    val byVar = positions.collect { case (pos, Some(v)) => (v, pos) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byVar.values.filter(_.size > 1).foreach { ps =>
      ps.tail.foreach(p2 => df = df.filter(col(ps.head)("id") === col(p2)("id")))
    }
    val sels = byVar.toSeq.map { case (v, ps) => col(ps.head).as(v) }
    // accurate spread input for constant-predicate scans of an unmutated
    // partition: the at-rest dir's bytes (optimizer stats on a path-based
    // read never reflect partition pruning — see GraftStore.partitionDiskBytes)
    val bytesHint = t.p match {
      case PLink(iri) if !iri.startsWith("?") && baseOverride.isEmpty =>
        store.scanBytesFor(TermIds.iriId(iri))
      case _ => None
    }
    if (sels.isEmpty) df.select(lit(1).as("__exists")).limit(1).drop("__exists")
    else if (spreadScans) DfOps.spread(df.select(sels: _*), bytesHint)
    else df.select(sels: _*)
  }

  // ======== property paths (bop/paths/ArbitraryLengthPathOp.java:48) ========
  //
  // All path relations are computed as (a: LONG, b: LONG) term-id pairs — the
  // dictionary-encoding payoff: every seq-join/closure shuffle moves 16 bytes per row
  // (and the leaf parquet scans read only the nested id columns), with term structs
  // re-attached once at the end via the cached store.nodeTerms lexicon.

  /** All (a,b) id pairs connected by the path — the inner "edge" relation. */
  def pathPairIds(p: Path, g: Option[Node]): DataFrame = p match {
    case PNeg(set) if set.exists(_._2) =>
      // mixed negated property set (SPARQL §9.1): !(p…|^q…) splits into a forward
      // part excluding {p…} and an inverse part excluding {q…}; each direction
      // participates iff it has members
      val fwd = set.collect { case (i, false) => (i, false) }
      val bwd = set.collect { case (i, true) => (i, false) }
      val parts = Seq(
        if (fwd.nonEmpty) Some(pathPairIds(PNeg(fwd), g)) else None,
        if (bwd.nonEmpty) Some(pathPairIds(PNeg(bwd), g)
          .select(col("b").as("a"), col("a").as("b"))) else None).flatten
      parts.reduce(_.unionByName(_))
    case PLink(_) | PNeg(_) =>
      scanTriple(Triple(VarNode("a"), p, VarNode("b"), g))
        .select(col("a")("id").as("a"), col("b")("id").as("b"))
    case PInv(q) => pathPairIds(q, g)
      .select(col("b").as("a"), col("a").as("b"))
    case PSeq(q, r) =>
      // pipeline the zero-bearing side SEEDED from the other side's frontier —
      // the reference decomposes a seq path into chained ALP ops, so the second
      // leg's zero-length self-pairs come from the first leg's OUTPUTS (any
      // term), not from the second predicate's edge vertices (blzg_1495:
      // `<p1>/<unknown>?` must yield (s1, s2) though <unknown> has no edges).
      // Seeding is also the scale win: the second leg explores the reachable
      // frontier instead of materializing its whole relation.
      if (containsZero(r)) {
        val lq = pathPairIds(q, g)
        val seeds = lq.select(col("b").as("seed")).dropDuplicates("seed")
        val rq = seededPathIds(r, g, seeds, fromSubject = true, seedsInDomain = true)
        lq.select(col("a"), col("b").as("m"))
          .join(rq.select(col("a").as("m"), col("b")), Seq("m")).select("a", "b")
      } else if (containsZero(q)) {
        val rq = pathPairIds(r, g)
        val seeds = rq.select(col("a").as("seed")).dropDuplicates("seed")
        val lq = seededPathIds(q, g, seeds, fromSubject = false, seedsInDomain = true)
        lq.select(col("a"), col("b").as("m"))
          .join(rq.select(col("a").as("m"), col("b")), Seq("m")).select("a", "b")
      } else {
        val lq = pathPairIds(q, g).select(col("a"), col("b").as("m"))
        val rq = pathPairIds(r, g).select(col("a").as("m"), col("b"))
        lq.join(rq, Seq("m")).select("a", "b")
      }
    case PAlt(q, r) => pathPairIds(q, g).unionByName(pathPairIds(r, g))
    // Unrestricted (both endpoints open) zero-length domain: the reference's ALP
    // emits (v,v) for the VERTICES of the path's edge set, not for every term in
    // the graph (ArbitraryLengthPathTask gears from the edge relation;
    // TestPropertyPaths someSharedVars encodes this). Bound-endpoint evaluation
    // goes through seededPathIds, which keeps the full term domain for (x,x).
    case PZeroOrMore(q) =>
      val edges = pathPairIds(q, g).dropDuplicates("a", "b").localCheckpoint()
      DfOps.closurePairs(edges).unionByName(pathVertexPairs(edges)).dropDuplicates("a", "b")
    case POneOrMore(q) => DfOps.closurePairs(pathPairIds(q, g))
    case PZeroOrOne(q) =>
      val edges = pathPairIds(q, g).dropDuplicates("a", "b").localCheckpoint()
      pathVertexPairs(edges).unionByName(edges).dropDuplicates("a", "b")
    case PZero(q) => pathVertexPairs(pathPairIds(q, g))
  }

  private def pathVertexPairs(edges: DataFrame): DataFrame =
    edges.select(col("a").as("n")).unionByName(edges.select(col("b").as("n")))
      .dropDuplicates("n").select(col("n").as("a"), col("n").as("b"))

  /** True when the path can relate a node to itself with zero steps (needs the
    * graph-scoped node domain, which the seeded evaluation approximates globally).
    */
  private def containsZero(p: Path): Boolean = p match {
    case PZeroOrMore(_) | PZeroOrOne(_) | PZero(_) => true
    case PInv(q) => containsZero(q)
    case PSeq(q, r) => containsZero(q) && containsZero(r)
    case PAlt(q, r) => containsZero(q) || containsZero(r)
    case _ => false
  }

  /** Path relation restricted to a seed set on one endpoint — the bound-endpoint /
    * BGP-restricted evaluation: seeds push into the first leg of sequences, both arms
    * of alternations, and turn closures into BFS from the seed frontier instead of the
    * all-pairs fixpoint (critical at scale). `seeds0`: one LONG column named `seed`.
    */
  private[graft] def seededPathIds(p: Path, g: Option[Node], seeds0: DataFrame,
                                    fromSubject: Boolean,
                                    seedsInDomain: Boolean = false): DataFrame = p match {
    case PInv(q) =>
      seededPathIds(q, g, seeds0, !fromSubject, seedsInDomain)
        .select(col("b").as("a"), col("a").as("b"))
    case PAlt(q, r) =>
      seededPathIds(q, g, seeds0, fromSubject, seedsInDomain)
        .unionByName(seededPathIds(r, g, seeds0, fromSubject, seedsInDomain))
    case PSeq(q, r) =>
      // chained seeds come off statement scans, so they are in-domain by construction
      if (fromSubject) {
        val lseg = seededPathIds(q, g, seeds0, fromSubject = true, seedsInDomain)
        val seeds2 = lseg.select(col("b").as("seed")).dropDuplicates("seed")
        val rseg = seededPathIds(r, g, seeds2, fromSubject = true, seedsInDomain = true)
        lseg.select(col("a"), col("b").as("m"))
          .join(rseg.select(col("a").as("m"), col("b")), Seq("m")).select("a", "b")
      } else {
        val rseg = seededPathIds(r, g, seeds0, fromSubject = false, seedsInDomain)
        val seeds2 = rseg.select(col("a").as("seed")).dropDuplicates("seed")
        val lseg = seededPathIds(q, g, seeds2, fromSubject = false, seedsInDomain = true)
        lseg.select(col("a"), col("b").as("m"))
          .join(rseg.select(col("a").as("m"), col("b")), Seq("m")).select("a", "b")
      }
    case PZeroOrMore(q) =>
      seededClosureIds(q, g, seeds0, fromSubject, includeZero = true, seedsInDomain)
    case POneOrMore(q) =>
      seededClosureIds(q, g, seeds0, fromSubject, includeZero = false, seedsInDomain)
    case PZeroOrOne(q) =>
      seedSelfPairs(seeds0, seedsInDomain)
        .unionByName(seededPathIds(q, g, seeds0, fromSubject, seedsInDomain))
        .dropDuplicates("a", "b")
    case PZero(_) => seedSelfPairs(seeds0, seedsInDomain).dropDuplicates("a", "b")
    case PLink(_) | PNeg(_) =>
      val raw = pathPairIds(p, g)
      val key = if (fromSubject) "a" else "b"
      raw.join(seeds0.withColumnRenamed("seed", key), Seq(key)).select("a", "b")
  }

  /** Zero-length (seed, seed) pairs of the in-domain seeds. */
  private def seedSelfPairs(seeds0: DataFrame, seedsInDomain: Boolean): DataFrame = {
    val inDom = if (seedsInDomain) seeds0
      else seeds0.join(zeroDomainIds.withColumnRenamed("nid", "seed"), Seq("seed"))
    inDom.select(col("seed").as("a"), col("seed").as("b"))
  }

  /** BFS closure from a seed frontier (semi-naive, id space). */
  private def seededClosureIds(inner: Path, g: Option[Node], seeds0: DataFrame,
                               fromSubject: Boolean, includeZero: Boolean,
                               seedsInDomain: Boolean = false): DataFrame = {
    val raw = pathPairIds(inner, g)
    val oriented = if (fromSubject) raw else raw.select(col("b").as("a"), col("a").as("b"))
    // a driver-resident seed set stays one (closurePairs then seeds its rounds
    // on the driver); the zero-length union below is deduplicated anyway
    val named = seeds0.select(col("seed").as("a"))
    val seeds = if (DfOps.isLocal(named)) named else named.dropDuplicates("a")
    val acc = DfOps.closurePairs(oriented, seeds = Some(seeds))
    val out =
      if (!includeZero) acc
      else {
        // zero-length: every in-domain seed relates to itself (node-domain semantics);
        // seeds bound by statement scans are in-domain by construction
        val inDom = if (seedsInDomain) seeds
          else seeds.join(zeroDomainIds.withColumnRenamed("nid", "a"), Seq("a"))
        acc.unionByName(inDom.select(col("a"), col("a").as("b")))
          .dropDuplicates("a", "b")
      }
    if (fromSubject) out else out.select(col("b").as("a"), col("a").as("b"))
  }

  /** Constant predicate ids of a path, when fully enumerable (dictionary pruning). */
  private def pathPredIds(p: Path): Option[Seq[Long]] = p match {
    case PLink(i) if !i.startsWith("?") => Some(Seq(TermIds.iriId(i)))
    case PLink(_) | PNeg(_) => None
    case PInv(q) => pathPredIds(q)
    case PSeq(q, r) => for { a <- pathPredIds(q); b <- pathPredIds(r) } yield a ++ b
    case PAlt(q, r) => for { a <- pathPredIds(q); b <- pathPredIds(r) } yield a ++ b
    case PZeroOrMore(q) => pathPredIds(q)
    case POneOrMore(q) => pathPredIds(q)
    case PZeroOrOne(q) => pathPredIds(q)
    case PZero(q) => pathPredIds(q)
  }

  /** id→term dictionary for re-attaching path endpoints. A load-time store serves its
    * cached lexicon; a mutated store (lexicon invalidated) derives the dictionary from
    * a p_id-pruned scan of the path's own predicates — never a full-corpus rebuild.
    * Zero-including paths can relate any domain node to itself, so they need the
    * unpruned dictionary.
    */
  private def termDict(p: Path): DataFrame =
    if (store.lexiconPath.isDefined) store.nodeTerms // cached + fixed-partitioned
    else {
      // mutated store (no cached lexicon): dictionary from the path's own pruned
      // partitions — never a full-corpus rebuild
      val pids = if (containsZero(p)) None else pathPredIds(p)
      val base = pids match {
        case Some(ids) => store.statements.filter(col("p_id").isin(ids: _*))
        case None => store.statements
      }
      base.select(col("s").as("n")).unionByName(base.select(col("o").as("n")))
        .withColumn("nid", col("n")("id")).dropDuplicates("nid")
    }

  /** Node-domain ids for zero-length membership checks (store-cached). */
  private def zeroDomainIds: DataFrame = store.domainIds

  /** Attach term structs to an id column via the path's dictionary. */
  private def attachTerm(d: DataFrame, idCol: String, v: String, p: Path): DataFrame =
    d.join(termDict(p).select(col("nid").as(idCol), col("n").as(v)), Seq(idCol))

  /** A constant seed, driver-resident: reading it starts no job. */
  private def singleSeed(id: Long): DataFrame =
    DfOps.localFrame(spark, Seq(Row(id)), StructType(Seq(StructField("seed", LongType))))

  private def closureFree(p: Path): Boolean = p match {
    case PZeroOrMore(_) | POneOrMore(_) | PZeroOrOne(_) | PZero(_) => false
    case PInv(q) => closureFree(q)
    case PSeq(q, r) => closureFree(q) && closureFree(r)
    case PAlt(q, r) => closureFree(q) && closureFree(r)
    case PLink(_) | PNeg(_) => true
  }

  /** (endpoint, endpoint) TERM-STRUCT pairs for a closure-free path: legs stay the
    * statement scans themselves (columns `__ta`/`__tb`), sequences join on the 8-byte
    * mid id, and no lexicon re-attach is ever paid. Constant endpoints push down into
    * the leg scans through the joins (Catalyst), so this needs no explicit seeding —
    * the round-1 shape that the id-space+attach detour regressed from.
    */
  private def pathTermPairs(p: Path, g: Option[Node]): DataFrame = p match {
    case PNeg(set) if set.exists(_._2) =>
      val fwd = set.collect { case (i, false) => (i, false) }
      val bwd = set.collect { case (i, true) => (i, false) }
      val parts = Seq(
        if (fwd.nonEmpty) Some(pathTermPairs(PNeg(fwd), g)) else None,
        if (bwd.nonEmpty) Some(pathTermPairs(PNeg(bwd), g)
          .select(col("__tb").as("__ta"), col("__ta").as("__tb"))) else None).flatten
      parts.reduce(_.unionByName(_))
    case PLink(_) | PNeg(_) =>
      scanTriple(Triple(VarNode("__ta"), p, VarNode("__tb"), g)).select("__ta", "__tb")
    case PInv(q) => pathTermPairs(q, g)
      .select(col("__tb").as("__ta"), col("__ta").as("__tb"))
    case PSeq(q, r) =>
      val lq = pathTermPairs(q, g).select(col("__ta"), col("__tb")("id").as("__tm"))
      val rq = pathTermPairs(r, g).select(col("__ta")("id").as("__tm"), col("__tb"))
      lq.join(rq, Seq("__tm")).select("__ta", "__tb")
    case PAlt(q, r) => // bag union, same multiset semantics as pathPairIds
      pathTermPairs(q, g).unionByName(pathTermPairs(r, g))
    case _ => throw new IllegalStateException(s"not closure-free: $p")
  }

  /** Bind a path relation into the pattern's endpoint terms. */
  def pathTriple(t: Triple): DataFrame = {
    if (closureFree(t.p)) {
      var df = pathTermPairs(t.p, t.g)
      t.s match {
        case VarNode(_) => ()
        case n => df = df.filter(col("__ta")("id") === TermIds.nodeId(n))
      }
      t.o match {
        case VarNode(_) => ()
        case n => df = df.filter(col("__tb")("id") === TermIds.nodeId(n))
      }
      return (t.s, t.o) match {
        case (VarNode(sv), VarNode(ov)) if sv == ov =>
          df.filter(col("__ta")("id") === col("__tb")("id"))
            .select(col("__ta").as(sv))
        case (VarNode(sv), VarNode(ov)) =>
          df.select(col("__ta").as(sv), col("__tb").as(ov))
        case (VarNode(sv), _) => df.select(col("__ta").as(sv))
        case (_, VarNode(ov)) => df.select(col("__tb").as(ov))
        case _ => df.select(lit(1).as("__e")).limit(1).drop("__e")
      }
    }
    // seeded evaluation from a constant endpoint; global-domain zero approximation is
    // wrong for GRAPH-scoped (or FROM-scoped) zero paths → full relation fallback
    val seedable = (t.g.isEmpty && ds.defaults.isEmpty) || !containsZero(t.p)
    // a CONSTANT endpoint's zero-length self-pair holds by TERM EQUALITY, not
    // graph membership (`<a> <p>* <a>` matches over the empty graph;
    // property-path-734-C) — constant seeds are in-domain by definition
    val pairs = (t.s, t.o) match {
      case (sN, _) if !sN.isInstanceOf[VarNode] && seedable =>
        seededPathIds(t.p, t.g, singleSeed(TermIds.nodeId(sN)), fromSubject = true,
          seedsInDomain = true)
      case (_, oN) if !oN.isInstanceOf[VarNode] && seedable =>
        seededPathIds(t.p, t.g, singleSeed(TermIds.nodeId(oN)), fromSubject = false,
          seedsInDomain = true)
      case _ => pathPairIds(t.p, t.g)
    }
    // reserved endpoint-id names: user vars may themselves be called ?a / ?b
    var df = pairs.select(col("a").as("__pa"), col("b").as("__pb"))
    t.s match {
      case VarNode(_) => ()
      case n => df = df.filter(col("__pa") === TermIds.nodeId(n))
    }
    t.o match {
      case VarNode(_) => ()
      case n => df = df.filter(col("__pb") === TermIds.nodeId(n))
    }
    (t.s, t.o) match {
      case (VarNode(sv), VarNode(ov)) if sv == ov =>
        attachTerm(df.filter(col("__pa") === col("__pb")), "__pa", sv, t.p).select(col(sv))
      case (VarNode(sv), VarNode(ov)) =>
        attachTerm(attachTerm(df, "__pa", sv, t.p), "__pb", ov, t.p).select(col(sv), col(ov))
      case (VarNode(sv), _) => attachTerm(df, "__pa", sv, t.p).select(col(sv))
      case (_, VarNode(ov)) => attachTerm(df, "__pb", ov, t.p).select(col(ov))
      case _ => df.select(lit(1).as("__e")).limit(1).drop("__e")
    }
  }

  /** Solution-compatibility join (SPARQL μ1 ~ μ2): rows join when every shared var is
    * equal OR unbound on either side; merged value = the bound one. Required when a
    * shared var is maybe-unbound (UNION arms, OPTIONAL output, UNDEF, errored BIND) —
    * the bottom-up-semantics case the fast equi-join gets wrong
    * (ASTBottomUpOptimizer / StaticAnalysis territory). Slower (theta join), so the
    * compiler only picks it when Algebra.maybeUnbound flags an overlap.
    */
  private def compatJoin(l: DataFrame, r0: DataFrame, how: String,
                         risky: Set[String] = Set.empty): DataFrame = {
    val shared = l.columns.intersect(r0.columns).toSeq
    if (shared.isEmpty) return joinDf(l, r0, how)
    val r = shared.foldLeft(r0)((d, c) => d.withColumnRenamed(c, "__c_" + c))
    def merge(j: DataFrame): DataFrame = {
      val cols = j.columns.filterNot(_.startsWith("__c_")).map {
        case c if shared.contains(c) => coalesce(col(c), col("__c_" + c)).as(c)
        case c => col(c)
      }
      j.select(cols.toSeq: _*)
    }
    // Maybe-unbound shared vars on an inner/left-outer join: decompose by the
    // null pattern instead of the OR-null theta condition (which can only
    // execute as a nested-loop join). Rows partition into 2^k null-classes per
    // side (k = decomposition vars, capped at 2 → ≤16 branch pairs); a pair of
    // classes equi-joins on the vars bound on BOTH sides, so the pair space
    // partitions exactly, the bound×bound bulk is a plain equi-join, and only
    // the (typically tiny) all-null classes cross — the scale-safe shape. With
    // ≥3 risky vars, the 2 LEAST-OFTEN-UNBOUND vars (one cheap count per side)
    // are decomposed — they route the bulk of rows into the equi branch — and
    // the rest apply as residual compat FILTERS inside each branch: still a
    // hash join, never a nested loop. For left-outer, unmatched left rows
    // (tracked by a row id on the materialized left) are re-appended null-padded.
    // Semi/anti decompose through the same branch space: matched left-row ids
    // from the branches, then one rid-keyed semi/anti join back — for anti
    // (MINUS), branch pairs with no both-bound var are SKIPPED outright
    // (disjoint domains remove nothing), so the anti path never crosses at all
    // when ≤ 2 risky vars decompose exactly.
    if (Seq("inner", "left_outer", "left_semi", "left_anti", "exists_anti")
          .contains(how) && risky.nonEmpty && risky.forall(shared.contains)) {
      val all = risky.toSeq.sorted
      // multi-var: each side is re-scanned once per null-class (and, for k ≥ 3,
      // once more by the selectivity probe) — materialize both sides first.
      // Semi/anti also probe right-class nonemptiness at planning time, so the
      // right side materializes even for k = 1.
      val isSemiAnti = Seq("left_semi", "left_anti", "exists_anti").contains(how)
      val lM = if (all.length > 1) l.localCheckpoint() else l
      val rM = if (all.length > 1 || isSemiAnti) r.localCheckpoint() else r
      def compatCond(v: String): Column =
        col(v).isNull || col("__c_" + v).isNull || col(v)("id") === col("__c_" + v)("id")
      val (vs, residual) =
        if (all.length <= 2) (all, Seq.empty[String])
        else {
          val nullsOf = (d: DataFrame, name: String => Column) => {
            val row = d.select(all.map(v =>
              (count(lit(1)) - count(name(v))).as(v)): _*).first()
            all.map(v => v -> row.getAs[Long](v)).toMap
          }
          val (lN, rN) = (nullsOf(lM, col), nullsOf(rM, v => col("__c_" + v)))
          val picked = all.sortBy(v => (lN(v) + rN(v), v)).take(2).sorted
          (picked, all.filterNot(picked.contains))
        }
      val sure = shared.filterNot(risky.contains)
      def eq(c: String) = col(c)("id") === col("__c_" + c)("id")
      def equiOn(a: DataFrame, b: DataFrame, keys: Seq[String]) =
        if (keys.isEmpty) a.crossJoin(b) else a.join(b, keys.map(eq).reduce(_ && _))
      val masks = 0 until (1 << vs.length)
      def cls(d: DataFrame, mask: Int, name: String => Column): DataFrame =
        vs.zipWithIndex.foldLeft(d) { case (acc, (v, i)) =>
          acc.filter(if (((mask >> i) & 1) == 1) name(v).isNotNull else name(v).isNull)
        }
      def branchKeys(lm: Int, rm: Int): Seq[String] =
        sure ++ vs.zipWithIndex.collect {
          case (v, i) if ((lm >> i) & 1) == 1 && ((rm >> i) & 1) == 1 => v
        }
      def branches(lhs: DataFrame): DataFrame = {
        val outs = for { lm <- masks; rm <- masks } yield {
          val joined = equiOn(cls(lhs, lm, col), cls(rM, rm, v => col("__c_" + v)),
            branchKeys(lm, rm))
          residual.map(compatCond).reduceOption(_ && _)
            .map(joined.filter).getOrElse(joined)
        }
        outs.map(graft.engine.DfOps.reid).reduce(_.unionByName(_))
      }
      if (how == "inner") return merge(branches(lM))
      val lk = lM.withColumn("__rid", monotonically_increasing_id()).localCheckpoint()
      if (how == "left_semi" || how == "left_anti" || how == "exists_anti") {
        // Semi/anti only need the MATCHED left-row ids, so even the null-class
        // pairs avoid a cross join: a keys-empty pair is compatible wholesale,
        // so its left class matches iff the right class is NON-EMPTY — a
        // planning-time check against the (materialized) right side. MINUS-
        // style left_anti additionally requires an overlapping bound var, so
        // its keys-empty pairs are skipped outright (disjoint domains remove
        // nothing); exists_anti (NOT EXISTS) removes on bare compatibility.
        // The k ≥ 3 corner (keys empty but residual vars in play) keeps the
        // filtered cross over the all-null classes, like the inner case.
        val needOverlap = how == "left_anti"
        val rNonEmpty = scala.collection.mutable.Map.empty[Int, Boolean]
        def rightNonEmpty(rm: Int): Boolean = rNonEmpty.getOrElseUpdate(rm,
          !cls(rM, rm, v => col("__c_" + v)).isEmpty)
        val parts = for { lm <- masks; rm <- masks } yield {
          val keys = branchKeys(lm, rm)
          if (keys.isEmpty && residual.isEmpty) {
            if (needOverlap || !rightNonEmpty(rm)) None
            else Some(cls(lk, lm, col).select("__rid"))
          } else {
            val joined = equiOn(cls(lk, lm, col), cls(rM, rm, v => col("__c_" + v)), keys)
            val fs = residual.map(compatCond) ++
              (if (needOverlap && keys.isEmpty)
                 Seq(residual.map(v => col(v).isNotNull && col("__c_" + v).isNotNull)
                   .reduce(_ || _))
               else Seq.empty)
            Some(fs.reduceOption(_ && _).map(joined.filter).getOrElse(joined)
              .select("__rid"))
          }
        }
        val joinHow = if (how == "exists_anti") "left_anti" else how
        val matched = parts.flatten.map(graft.engine.DfOps.reid)
          .reduceOption(_.unionByName(_)).map(_.dropDuplicates("__rid"))
        return (matched match {
          case Some(m) => lk.join(m, Seq("__rid"), joinHow)
          case None => if (joinHow == "left_anti") lk else lk.limit(0)
        }).drop("__rid")
      }
      // left_outer: inner matches + null-padded unmatched left rows
      val inner = branches(lk)
      val unmatched = lk.join(inner.select("__rid").dropDuplicates("__rid"),
        Seq("__rid"), "left_anti")
      // solution columns are all term structs → pad the right side with typed nulls
      val padded = r.columns.foldLeft(unmatched)((d, c) => d.withColumn(c, Term.nullTerm))
      return merge(inner.unionByName(padded)).drop("__rid")
    }
    val cond = shared.map { c =>
      col(c).isNull || col("__c_" + c).isNull || col(c)("id") === col("__c_" + c)("id")
    }.reduce(_ && _)
    how match {
      case "left_semi" => l.join(r, cond, how)
      case "exists_anti" => l.join(r, cond, "left_anti") // NOT EXISTS: no overlap needed
      case "left_anti" =>
        // MINUS-style anti: compatible AND at least one shared var bound on both
        // sides (disjoint domains remove nothing)
        val overlap = shared.map(c => col(c)("id") === col("__c_" + c)("id"))
          .reduce(_ || _)
        l.join(r, cond && overlap, how)
      case _ => merge(l.join(r, cond, how))
    }
  }

  /** Push an initial-bindings VALUES block beneath left-joins/filters so OPTIONAL
    * sees the pre-bound vars (the reference's BINDINGS evaluation order).
    */
  private def pushValues(v: Algebra.OpValues, op: Op): Op = op match {
    case OpLeftJoin(l, r, c) => OpLeftJoin(pushValues(v, l), r, c)
    // STOP at FILTER and BIND: the initial bindings join before OPTIONAL (the
    // reference's BINDINGS evaluation order) but are NOT in scope for filters
    // or assignments inside the WHERE group — bottom-up, FILTER(!bound(?s))
    // with a trailing VALUES ?s evaluates with ?s unbound, and BIND(?obj AS
    // ?obj2) with BINDINGS ?obj assigns unbound (TestBindings
    // bindingsAndBottomUp03*, ticket_bg1141, ticket_bg1463)
    case OpJoin(l, r) => OpJoin(pushValues(v, l), r)
    case other => OpJoin(v, other)
  }

  /** Evaluate `SERVICE ?v { inner }` against the endpoints bound to ?v by the
    * sibling `l`. Endpoint count is bounded (these are catalog entries, not
    * data); each endpoint's answers are tagged with its endpoint IRI term so
    * the join pairs solutions with their own endpoint's results.
    */
  private def varServiceJoin(l: Op, svc: Op, v: String, inner: Op,
                             silent: Boolean): DataFrame = {
    val dl = compile(l)
    if (!dl.columns.contains(v))
      throw new UnsupportedOperationException(
        s"SERVICE ?$v: the endpoint variable is not bound by the group")
    val eps = dl.filter(col(v).isNotNull && col(v)("kind") === Term.KIND_IRI)
      .select(col(v)("str").as("__ep")).distinct().limit(33)
      .collect().map(_.getString(0)).toSeq
    if (eps.size > 32)
      throw new UnsupportedOperationException(
        s"SERVICE ?$v: more than 32 distinct endpoints bound")
    val branches = eps.map { ep =>
      Services.dispatchIri(this, ep, inner, silent).withColumn(v, Term.iri(ep))
    }
    val dr = branches.reduceOption(_.unionByName(_))
      .getOrElse(unitDf.withColumn(v, Term.nullTerm).filter(lit(false)))
    joinOp(l, svc, dl, dr, "inner")
  }

  /** Pick equi- vs compatibility-join based on static unbound analysis. */
  private def joinOp(lOp: Op, rOp: Op, dl: DataFrame, dr: DataFrame, how: String): DataFrame = {
    val shared = dl.columns.intersect(dr.columns).toSet
    val risky = (unboundOf(lOp) ++ unboundOf(rOp)) & shared
    if (risky.nonEmpty) compatJoin(dl, dr, how, risky) else joinDf(dl, dr, how)
  }

  // ======== algebra ========
  def compile(op: Op): DataFrame = op match {
    case OpUnit => unitDf
    case OpBgp(ts) => compileBgp(ts)
    // remote SERVICE joined against local solutions: vector the outer bindings
    // into the remote query as VALUES when small (ServiceCallJoin.java:105)
    case OpJoin(l, svc @ OpService(IriNode(i), inner, silent))
        if RemoteService.isRemoteIri(i) && !Services.has(i) =>
      val dl = compile(l)
      val dr = RemoteService.evaluateWith(spark, i, inner, silent, dl)
      joinOp(l, svc, dl, dr, "inner")
    case OpJoin(svc @ OpService(IriNode(i), inner, silent), r)
        if RemoteService.isRemoteIri(i) && !Services.has(i) =>
      val dr = compile(r)
      val dl = RemoteService.evaluateWith(spark, i, inner, silent, dr)
      joinOp(r, svc, dr, dl, "inner")
    // SERVICE with a VARIABLE endpoint (SPARQL 1.1 Federated Query §4; the
    // reference routes these through its ServiceRegistry aliases —
    // eval/ServiceRegistry.java). The variable must be bound by the join
    // sibling; the bound endpoint IRIs are vocabulary-sized by nature, so the
    // probe collects them (bounded) and evaluates the service once per
    // endpoint, tagging each result with its endpoint term — the join then
    // keeps each solution paired with its own endpoint's answers.
    case OpJoin(l, svc @ OpService(VarNode(v), inner, silent)) =>
      varServiceJoin(l, svc, v, inner, silent)
    case OpJoin(svc @ OpService(VarNode(v), inner, silent), r) =>
      varServiceJoin(r, svc, v, inner, silent)
    case j @ OpJoin(_, _) =>
      // BIND/VALUES split a group's triples into separate OpBgp conjuncts, but
      // the reference's pipelined ALP still seeds a closure path from solutions
      // produced by its JOIN SIBLINGS (TestTickets 739B/E: `?X <part>? ?part`
      // must self-pair the ?part values bound by a later conjunct, not its own
      // edge-vertex zero domain). Flatten the conjunct tree, compile the
      // non-path conjuncts first, and seed deferred path BGPs from the
      // accumulated frame — the cross-conjunct analog of compileBgp's deferral.
      def conjuncts(op: Op): Seq[Op] = op match {
        case OpJoin(a, b) => conjuncts(a) ++ conjuncts(b)
        case o => Seq(o)
      }
      val parts = conjuncts(j)
      val isRemoteSvc: Op => Boolean = {
        case OpService(IriNode(i), _, _) => RemoteService.isRemoteIri(i) && !Services.has(i)
        case _ => false
      }
      def pathOf(op: Op): Option[Triple] = op match {
        case OpBgp(Seq(t)) if deferrablePath(t) => Some(t)
        case _ => None
      }
      // a CORRELATED service — a geo SERVICE with a VARIABLE input parameter
      // (spatialCircleCenter bound by a sibling triple), or bds:searchInSearch
      // (defined over incoming ?s bindings) — defers until the frame binds its
      // parameter vars, then evaluates frame-aware (the reference's pipelined
      // "search with incoming bindings" through the service IBindingSet)
      def svcOf(op: Op): Option[(String, Seq[Triple], Set[String])] = op match {
        case OpService(IriNode(i), OpBgp(ts), _) if i == GEO_NS + "search" =>
          val pv = ts.collect {
            case Triple(_, PLink(pp), VarNode(v), _)
              if pp.startsWith(GEO_NS) && geoInputParams(pp.stripPrefix(GEO_NS)) => v
          }.toSet
          if (pv.nonEmpty) Some((i, ts, pv)) else None
        case OpService(IriNode(i), OpBgp(ts), _) if i == BDS_NS + "searchInSearch" =>
          ts.collectFirst {
            case Triple(VarNode(v), PLink(pp), _, _)
              if pp == BDS_NS + "searchInSearch" => (i, ts, Set(v))
          }
        case _ => None
      }
      val (defParts, rest) = parts.partition(p => pathOf(p).isDefined || svcOf(p).isDefined)
      if (defParts.isEmpty || rest.isEmpty || parts.exists(isRemoteSvc)) {
        val (lo, ro) = (j.l, j.r)
        joinOp(lo, ro, compile(lo), compile(ro), "inner")
      } else {
        var accOp = rest.head
        var accDf = compile(accOp)
        rest.tail.foreach { o =>
          accDf = joinOp(accOp, o, accDf, compile(o), "inner")
          accOp = OpJoin(accOp, o)
        }
        val deferred = scala.collection.mutable.ArrayBuffer(defParts: _*)
        while (deferred.nonEmpty) {
          // seed only from DEFINITELY-bound vars: a maybe-unbound endpoint (e.g.
          // optional-produced ?type1 in property-paths-7) must fall through to
          // the compat join, where its null class joins the FULL path relation
          val cols = accDf.columns.toSet
          val bound = cols -- unboundOf(accOp)
          // an endpoint that is PRESENT but maybe-unbound blocks seeding outright
          // (its null class must meet the full relation, and a seeded join would
          // try to re-attach an existing column)
          def seedable(t: Triple): Boolean = {
            val (sv, ov) = (t.s.asInstanceOf[VarNode].name, t.o.asInstanceOf[VarNode].name)
            (bound(sv) && (bound(ov) || !cols(ov))) ||
            (bound(ov) && (bound(sv) || !cols(sv)))
          }
          val idx = deferred.indexWhere(p =>
            pathOf(p).exists(seedable) || svcOf(p).exists(_._3.subsetOf(bound)))
          val op2 = deferred.remove(if (idx >= 0) idx else 0)
          accDf = (pathOf(op2), svcOf(op2)) match {
            case (Some(t), _) if idx >= 0 => joinSeededPath(accDf, t, bound)
            case (_, Some((svcIri, ts, _))) if idx >= 0 && svcIri == BDS_NS + "searchInSearch" =>
              joinDf(accDf, searchInSearchScan(ts, accDf), "inner")
            case (_, Some((_, ts, _))) if idx >= 0 =>
              val subj = ts.head.s match {
                case VarNode(v) => v
                case other => throw new IllegalArgumentException(s"service subject must be a var: $other")
              }
              joinDf(accDf, geoScan(subj, ts, Some(accDf)), "inner")
            case _ => joinOp(accOp, op2, accDf, compile(op2), "inner")
          }
          accOp = OpJoin(accOp, op2)
        }
        accDf
      }
    case OpLeftJoin(l, r, cond) =>
      val (dl, dr) = (compile(l), compile(r))
      val shared = dl.columns.intersect(dr.columns).toSet
      val risky = (unboundOf(l) ++ unboundOf(r)) & shared
      if (cond.isEmpty && risky.nonEmpty) compatJoin(dl, dr, "left_outer", risky)
      else leftJoin(dl, dr, cond, risky)
    case OpUnion(l, r) =>
      val (dl, dr) = (compile(l), compile(r))
      val allCols = (dl.columns ++ dr.columns).distinct
      def pad(d: DataFrame) = d.select(allCols.map(c =>
        if (d.columns.contains(c)) col(c) else Term.nullTerm.as(c)): _*)
      pad(dl).unionByName(pad(dr))
    case OpMinus(l, r) =>
      val dl = compile(l)
      asBoundMinus(l, r, dl).getOrElse {
        val dr = compile(r)
        val shared = dl.columns.intersect(dr.columns).toSeq
        if (shared.isEmpty) dl // disjoint domains: MINUS removes nothing
        else {
          val risky = (unboundOf(l) ++ unboundOf(r)) & shared.toSet
          if (risky.nonEmpty)
            compatJoin(dl, dr.select(shared.map(col): _*), "left_anti", risky)
          else joinDf(dl, dr.select(shared.map(col): _*), "left_anti")
        }
      }
    case OpFilter(exprs, child) =>
      exprs.foldLeft(compile(child))((df, e) => applyFilter(df, e, unboundOf(child)))
    case OpExtend(child, name, expr) =>
      val df = compile(child)
      val (df1, e1, exTemps) = stageExists(df, expr)
      val st = Exprs.stageSubexprs(df1, e1, env(df1))
      val value = Exprs.term(st.expr, st.env)
      val out =
        if (!st.df.columns.contains(name))
          st.df.withColumn(name, value)
        else {
          // BIND onto an in-scope variable: strict SPARQL makes this a syntax error,
          // but the reference accepts it with conditional-bind semantics
          // (bop/ConditionalBind.java:107-176): a bound row survives iff the computed
          // value equals the existing binding (an errored expression fails it); an
          // unbound row takes the assignment (an errored expression leaves it unbound)
          val cb = "__cbind_" + name
          st.df.withColumn(cb, value)
            .filter(col(name).isNull ||
              (col(cb).isNotNull && col(cb)("id") === col(name)("id")))
            .withColumn(name, coalesce(col(name), col(cb)))
            .drop(cb)
        }
      out.drop(st.temps: _*).drop(exTemps: _*)
    case OpValues(v) => valuesDf(v)
    case OpSubquery(q) => compileSelect(q)
    case OpService(iri, inner, silent) => Services.dispatch(this, iri, inner, silent)
    case OpInclude(name) => resolveNamedSet(name)
      .orElse(SolutionSets.view(store).get(name))
      .getOrElse(
        throw new IllegalArgumentException(s"INCLUDE %$name: no such named subquery"))
    case OpGraphs(gn) =>
      // `GRAPH ?g {}` / `GRAPH <g> {}`: enumerate (or probe) the named graphs,
      // honoring a FROM NAMED dataset restriction
      var graphs = store.namedGraphs.select(col("g")).dropDuplicates("g")
      ds.named.foreach(gs => graphs = graphs.filter(col("g")("str").isin(gs: _*)))
      gn match {
        case VarNode(n) => graphs.select(col("g").as(n))
        case IriNode(i) =>
          graphs.filter(col("g")("str") === i).limit(1).select()
        case other =>
          throw new IllegalArgumentException(s"GRAPH label must be var or IRI: $other")
      }
  }

  private def applyFilter(df: DataFrame, e: Expr,
                          outerUnbound: Set[String] = Set.empty): DataFrame = e match {
    case EExists(gp, not) =>
      val op = Algebra.lower(gp)
      // CORRELATED filters — inner FILTERs referencing outer-solution vars the
      // pattern itself doesn't bind (W3C exists-06 `FILTER NOT EXISTS { ?a :q ?m .
      // FILTER(?n = ?m) }`) — lift into the semi/anti join condition
      val (innerOp, corr) = op match {
        case Algebra.OpFilter(fs, child) =>
          val innerVars = Algebra.vars(child)
          val (correlated, local) = fs.partition(f =>
            (Algebra.exprVars(f) -- innerVars).intersect(df.columns.toSet).nonEmpty)
          (if (local.nonEmpty) Algebra.OpFilter(local, child) else child, correlated)
        case o => (o, Nil)
      }
      val sub = compile(innerOp)
      val shared = df.columns.intersect(sub.columns).toSeq
      val how = if (not) "left_anti" else "left_semi"
      if (corr.nonEmpty) {
        val ren = sub.columns.foldLeft(sub)((d, c) => d.withColumnRenamed(c, "__x_" + c))
        val envC = Exprs.Env(df.columns.toSet ++ sub.columns,
          sub.columns.map(c => c -> col("__x_" + c)).toMap)
        val eqs = shared.map(c => col(c)("id") === col("__x_" + c)("id"))
        val preds = corr.map(f => Exprs.filterPred(f, envC))
        df.join(ren, (eqs ++ preds).reduce(_ && _), how)
      }
      else if (shared.isEmpty) df.join(sub.limit(1), lit(true), how)
      else {
        // substitution semantics: a shared var UNBOUND in the outer solution
        // constrains nothing — the row matches iff the sub-pattern has any
        // solution. The equi semi/anti join gets that wrong when a shared var
        // is maybe-unbound on either side → route through the compatibility
        // join (which decomposes into null-class hash joins, never a BNLJ).
        val risky = (outerUnbound ++ unboundOf(innerOp)) & shared.toSet
        // NOT EXISTS anti is overlap-free (unlike MINUS: a row whose shared
        // vars are all unbound IS removed when the sub-pattern is non-empty)
        val compatHow = if (not) "exists_anti" else how
        if (risky.nonEmpty) compatJoin(df, sub.select(shared.map(col): _*), compatHow, risky)
        else joinDf(df, sub, how)
      }
    case other =>
      val (df1, e1, exTemps) = stageExists(df, other)
      val st = Exprs.stageSubexprs(df1, e1, env(df1))
      Exprs.filterStaged(st).drop(st.temps: _*).drop(exTemps: _*)
  }

  private val existsIds = new java.util.concurrent.atomic.AtomicLong()

  /** EXISTS in EXPRESSION position — IF(EXISTS{…}, …), BIND(EXISTS{…} AS ?v),
    * FILTER(EXISTS{…} && …) — per ExistsNode/NotExistsNode, which the reference
    * evaluates as an askable subquery wherever an expression appears. Each
    * EExists node becomes an xsd:boolean term column computed by ONE marker
    * left-join against the subpattern's (deduped, shared-var-projected)
    * solutions; the FILTER-root case above keeps its plain semi/anti join.
    * Returns (augmented frame, rewritten expr, temp columns to drop).
    */
  private def stageExists(df0: DataFrame, e0: Expr): (DataFrame, Expr, Seq[String]) = {
    var df = df0
    var temps = List.empty[String]
    def walk(e: Expr): Expr = e match {
      case EExists(gp, not) =>
        val sub = compile(Algebra.lower(gp))
        val shared = df.columns.intersect(sub.columns).toSeq
        val name = s"__exists${existsIds.incrementAndGet()}"
        if (shared.isEmpty) {
          // uncorrelated: one bounded emptiness probe, not a per-row join
          val nonEmpty = sub.limit(1).count() > 0
          df = df.withColumn(name, Exprs.boolTerm(lit(nonEmpty != not)))
        } else {
          val mk = "__m" + name
          val marker = shared.foldLeft(
            sub.select(shared.map(col): _*).dropDuplicates(shared)
              .withColumn(mk, lit(true)))((d, c) => d.withColumnRenamed(c, "__j_" + c))
          val cond = shared.map(c => col(c)("id") === col("__j_" + c)("id")).reduce(_ && _)
          df = df.join(marker, cond, "left_outer")
            .withColumn(name, Exprs.boolTerm(lit(not) =!= coalesce(col(mk), lit(false))))
            .drop(mk +: shared.map("__j_" + _): _*)
        }
        temps ::= name
        EVar(name)
      case EBinary(op, l, r) => EBinary(op, walk(l), walk(r))
      case EUnary(op, x) => EUnary(op, walk(x))
      case EIn(x, list, not) => EIn(walk(x), list.map(walk), not)
      case ECall(fn, args) => ECall(fn, args.map(walk))
      case ESid(s, p, o) => ESid(walk(s), walk(p), walk(o))
      case other => other
    }
    val e1 = walk(e0)
    (df, e1, temps)
  }

  private def leftJoin(dl: DataFrame, dr: DataFrame, cond: Seq[Expr],
                       risky: Set[String] = Set.empty): DataFrame = {
    val shared = dl.columns.intersect(dr.columns).toSeq
    if (cond.isEmpty) {
      // NO schema-empty shortcut to dr: LeftJoin(unit, R) over an EMPTY R is one
      // all-null row, not zero rows (TestTickets 933a/c, explainHints
      // joingrouporder01: a group whose OPTIONAL comes first and misses still
      // yields the unit solution) — the lit(true) left join gives exactly that
      if (shared.isEmpty) dl.join(dr, lit(true), "left_outer")
      else joinDf(dl, dr, "left_outer")
    } else {
      // FILTER inside OPTIONAL joins on the condition (left-join scope rules).
      // A maybe-unbound shared var joins with the null-tolerant compatibility
      // condition (μ1 ~ μ2) and is coalesce-merged afterwards.
      val renamed = shared.foldLeft(dr)((d, c) => d.withColumnRenamed(c, "__r_" + c))
      val eqs = shared.map { c =>
        if (risky(c))
          col(c).isNull || col("__r_" + c).isNull || col(c)("id") === col("__r_" + c)("id")
        else col(c)("id") === col("__r_" + c)("id")
      }
      val mergedCols = (dl.columns ++ dr.columns).distinct.toSet
      val overrides = shared.filter(risky)
        .map(c => c -> coalesce(col(c), col("__r_" + c))).toMap
      val fEnv = Exprs.Env(mergedCols, overrides)
      val fcs = cond.map(e => Exprs.filterPred(e, fEnv))
      val condition = (eqs ++ fcs).reduce(_ && _)
      val joined = dl.join(renamed, condition, "left_outer")
      if (risky.isEmpty) joined.drop(shared.map("__r_" + _): _*)
      else {
        val out = joined.columns.filterNot(_.startsWith("__r_")).map {
          case c if risky(c) => coalesce(col(c), col("__r_" + c)).as(c)
          case c => col(c)
        }
        joined.select(out.toSeq: _*)
      }
    }
  }

  private def valuesDf(v: ValuesGP): DataFrame = {
    val rows = v.rows.map { row =>
      unitDf.select(v.vars.zip(row).map { case (vr, cell) =>
        cell.map(Exprs.constTerm).getOrElse(Term.nullTerm).as(vr.name)
      }: _*)
    }
    rows.reduce(_.unionByName(_))
  }

  /** Compile a WITH … AS %name body on first reference (declaration order is not
    * dependency order: bg1763b's %main INCLUDEs the later-declared %sub). The
    * result is checkpointed — named sets evaluate ONCE (HTreeNamedSubqueryOp).
    */
  private def resolveNamedSet(name: String): Option[DataFrame] =
    namedSets.get(name).orElse(pendingSets.get(name).map { sub =>
      if (resolvingSets(name))
        throw new IllegalArgumentException(s"INCLUDE %$name: cyclic named-subquery reference")
      resolvingSets += name
      try {
        val df = compileSelect(sub).localCheckpoint()
        namedSetUnbound += name ->
          Algebra.maybeUnbound(Algebra.OpSubquery(sub), n => namedSetUnbound.getOrElse(n, Set.empty))
        namedSets += name -> df
        df
      } finally resolvingSets -= name
    })

  /** INCLUDE-aware maybe-unbound analysis (named sets resolve to the sets
    * computed at registration; stored solution sets are assumed fully bound).
    * A SERVICE registered as may-yield-unbound contributes all its pattern vars.
    */
  private[engine] def unboundOf(op: Op): Set[String] = {
    def svcUnbound(o: Op): Set[String] = o match {
      case OpService(IriNode(i), inner, _) if Services.mayYieldUnbound(i) =>
        Algebra.vars(inner)
      case OpJoin(l, r) => svcUnbound(l) ++ svcUnbound(r)
      case OpLeftJoin(l, r, _) => svcUnbound(l) ++ svcUnbound(r)
      case OpUnion(l, r) => svcUnbound(l) ++ svcUnbound(r)
      case OpMinus(l, r) => svcUnbound(l) ++ svcUnbound(r)
      case OpFilter(_, c) => svcUnbound(c)
      case OpExtend(c, _, _) => svcUnbound(c)
      case _ => Set.empty
    }
    Algebra.maybeUnbound(op, n => namedSetUnbound.getOrElse(n, Set.empty)) ++ svcUnbound(op)
  }

  // ======== SELECT pipeline (projection/modifiers) ========
  def compileSelect(q: SelectQuery): DataFrame =
    // hint:regexMatchNonString (QueryHints.REGEX_MATCH_NON_STRING): REGEX
    // applies to ANY literal's lexical form instead of erroring on non-strings
    Exprs.regexMatchNonString.withValue(
      queryHintLit(Some(q.where), "regexMatchNonString").contains("true"))(
      Compiler.defaultGraphDistinct.withValue(
        !queryHintLit(Some(q.where), "defaultGraphDistinctFilter").contains("false"))(
        compileSelect0(q)))

  private def compileSelect0(q: SelectQuery): DataFrame = {
    // named subqueries: evaluate ONCE, materialize, then INCLUDE hash-joins the cached
    // set (HTreeNamedSubqueryOp / NamedSubqueryInclude semantics)
    pendingSets ++= q.withSubqueries
    q.withSubqueries.foreach { case (name, _) => resolveNamedSet(name) }
    // The trailing VALUES/BINDINGS block acts as INITIAL bindings (the protocol
    // semantics the reference implements): pushed into the LEFT side of left-joins
    // so an OPTIONAL evaluates against the pre-bound vars — sparql11-bindings-04's
    // expected answers need the pre-bound ?o2 to survive an OPTIONAL miss
    val whereOp = Algebra.lower(q.where)
    val fullOp = q.values match {
      case Some(v) => pushValues(Algebra.OpValues(v), whereOp)
      case None => whereOp
    }
    var df = compile(fullOp)

    val projItems: Seq[(Expr, String)] = (q.projection match {
      case Star => df.columns.filterNot(_.startsWith("-")).map(c => (EVar(c): Expr, c)).toSeq
      case ProjVars(items) => items.map {
        case (EVar(n), None) => (EVar(n): Expr, n)
        case (e2, Some(a)) => (e2, a)
        case (e2, None) => throw new IllegalArgumentException(s"projection expr needs AS: $e2")
      }
    }).map { case (e, n) => (Aggregates.resolveCustom(e), n) }
    // HAVING runs pre-projection, so SELECT aliases are not columns yet; resolve
    // alias references to their expressions up front (HAVING(?n > 1) with
    // (COUNT(*) AS ?n) — accepted by the reference and most engines). Passthrough
    // projections (?k AS ?k / bare ?k) are real solution columns, not aliases.
    val selAliases: Map[String, Expr] = projItems.collect {
      case (e, name) if e != EVar(name) => name -> e
    }.toMap
    val havingE = q.having.map(h =>
      Aggregates.resolveCustom(Algebra.substVars(h, selAliases)))
    val orderByE = q.orderBy.map { case (e, asc) => (Aggregates.resolveCustom(e), asc) }

    val aggsNeeded = (projItems.map(_._1) ++ havingE ++ orderByE.map(_._1))
      .flatMap(Algebra.collectAggs).distinct
    val grouped = q.groupBy.nonEmpty || aggsNeeded.nonEmpty || havingE.nonEmpty

    var aggMap = Map.empty[EAgg, String]
    if (grouped) {
      // group keys (GroupByOp/GroupByState analog)
      var keyCols = Seq.empty[String]
      q.groupBy.zipWithIndex.foreach { case ((e, alias), i) =>
        (e, alias) match {
          case (EVar(n), None) => keyCols :+= n
          case (e2, aliasOpt) =>
            val name = aliasOpt.getOrElse(s"__gk$i")
            val st = Exprs.stageSubexprs(df, e2, env(df))
            df = st.df.withColumn(name, Exprs.term(st.expr, st.env)).drop(st.temps: _*)
            keyCols :+= name
        }
      }
      // NOTE: the 64KB-codegen fence (Exprs.stageFiltered) guards the two Filter
      // sites only. These Project staging sites (group keys above, agg args
      // below) still rely on CollapseProject inlining staying sub-64KB — the
      // expression sweep currently shows no blow-up, but if a projection-side
      // codegen failure appears, fence these the same way (or checkpoint).
      aggMap = aggsNeeded.zipWithIndex.map { case (a, i) => a -> s"__ag$i" }.toMap
      // COUNT(DISTINCT *) counts over the solution columns as they stood here
      // (staged agg-arg temps below are functions of them — excluded)
      val solCols = df.columns.toSeq
      // stage each aggregate's argument as a pre-aggregation column: the agg
      // compiles over a plain column reference instead of re-inlining the
      // argument tree once per promotion branch
      val stagedAggs = aggsNeeded.zipWithIndex.map { case (a, i) =>
        a.arg match {
          case Some(arg) if !arg.isInstanceOf[EVar] =>
            val st = Exprs.stageSubexprs(df, arg, env(df))
            val name = s"__aa$i"
            df = st.df.withColumn(name, Exprs.term(st.expr, st.env)).drop(st.temps: _*)
            a.copy(arg = Some(EVar(name)))
          case _ => a
        }
      }
      val preEnv = env(df)
      val aggCols = stagedAggs.zipWithIndex.map { case (a, i) =>
        Aggregates.compile(a, preEnv, solCols).as(s"__ag$i")
      }
      df =
        if (aggCols.isEmpty) df.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__n")).drop("__n")
        else df.groupBy(keyCols.map(col): _*).agg(aggCols.head, aggCols.tail: _*)
      // HAVING (post-aggregation ConditionalRoutingOp)
      havingE.foreach { h =>
        val (df1, h1, exTemps) = stageExists(df, Algebra.replaceAggs(h, aggMap))
        val st = Exprs.stageSubexprs(df1, h1, env(df1))
        df = Exprs.filterStaged(st).drop(st.temps: _*).drop(exTemps: _*)
      }
    }

    // computed projections become columns (AssignmentNode/ProjectionOp)
    var outNames = Seq.empty[String]
    projItems.foreach { case (e, name) =>
      val e2 = Algebra.replaceAggs(e, aggMap)
      e2 match {
        case EVar(n) if n == name => () // passthrough (may be absent → padded below)
        case _ =>
          val (df1, e3, exTemps) = stageExists(df, e2)
          val st = Exprs.stageSubexprs(df1, e3, env(df1))
          val value = Exprs.term(st.expr, st.env)
          df =
            if (!st.df.columns.contains(name)) st.df.withColumn(name, value)
            else {
              // projection alias onto an in-scope variable: ConditionalBind (the
              // reference's projection assignments, ConditionalBind.isProjection) —
              // a bound row survives iff the computed value equals the binding
              val cb = "__cbp_" + outNames.size
              st.df.withColumn(cb, value)
                .filter(col(name).isNull ||
                  (col(cb).isNotNull && col(cb)("id") === col(name)("id")))
                .withColumn(name, coalesce(col(name), col(cb)))
                .drop(cb)
            }
          df = df.drop(st.temps: _*).drop(exTemps: _*)
      }
      outNames :+= name
    }
    // pad vars never bound
    outNames.filterNot(df.columns.contains).foreach { n =>
      df = df.withColumn(n, Term.nullTerm)
    }

    // ORDER BY via SPARQL total-order sort keys (MemorySortOp + IVComparator).
    // Computed keys are staged as temp columns (dropped by the final select).
    val sortCols = orderByE.zipWithIndex.map { case ((e, asc), i) =>
      val e2 = Algebra.replaceAggs(e, aggMap)
      val k = e2 match {
        case EVar(_) => Exprs.sortKey(Exprs.term(e2, env(df)))
        case _ =>
          val st = Exprs.stageSubexprs(df, e2, env(df))
          df = st.df.withColumn(s"__sk$i", Exprs.sortKey(Exprs.term(st.expr, st.env)))
            .drop(st.temps: _*)
          col(s"__sk$i")
      }
      if (asc) k.asc else k.desc
    }

    if (q.distinct || q.reduced) {
      if (sortCols.nonEmpty)
        df = df.dropDuplicates(outNames).orderBy(sortCols: _*).select(outNames.map(col): _*)
      else df = df.select(outNames.map(col): _*).dropDuplicates(outNames)
    } else {
      if (sortCols.nonEmpty) df = df.orderBy(sortCols: _*)
      df = df.select(outNames.map(col): _*)
    }

    // SliceOp. LIMIT without ORDER BY returns an arbitrary subset; under
    // spark.graft.deterministicLimit (off by default — it forces a sort that has
    // no place in a scale-out plan) the subset is made reproducible by ordering
    // on the projected terms' lexical forms, which coincides with the
    // reference's index order for its data-driven expected answers (ticket_944
    // takes the SPO-least solution of an unordered LIMIT 1 subquery).
    if (q.limit.isDefined && sortCols.isEmpty &&
        spark.conf.getOption("spark.graft.deterministicLimit").contains("true"))
      df = df.orderBy(outNames.map(c => struct(
        col(c)("kind"), col(c)("str"), col(c)("dt"), col(c)("lang")).asc_nulls_first): _*)
    q.offset.foreach(o => df = df.offset(o.toInt))
    q.limit.foreach(l => df = df.limit(l.toInt))
    df
  }

  def compileAsk(q: AskQuery): DataFrame = {
    val nonEmpty = compile(Algebra.lower(q.where)).limit(1).count() > 0
    spark.sql(s"SELECT $nonEmpty AS ask")
  }

  /** CONSTRUCT: template instantiation + distinct-SPO
    * (rdf/sparql/ast/eval/ASTConstructIterator.java).
    */
  def compileConstruct(q: ConstructQuery): DataFrame = {
    var sol = compile(Algebra.lower(q.where))
    q.offset.foreach(o => sol = sol.offset(o.toInt))
    q.limit.foreach(l => sol = sol.limit(l.toInt))
    val e = env(sol)
    def nodeCol(n: Node): Column = n match {
      case VarNode(v) => e.termOf(v)
      case other => Exprs.constTerm(other)
    }
    val parts = q.template.map { t =>
      val p = t.p match {
        case PLink(i) => IriNode(i)
        case other => throw new IllegalArgumentException(s"path in template: $other")
      }
      sol.select(nodeCol(t.s).as("s"), Exprs.constTerm(p).as("p"), nodeCol(t.o).as("o"))
    }
    parts.reduce(_.unionByName(_))
      .filter(col("s").isNotNull && col("o").isNotNull &&
        col("s")("kind") =!= Term.KIND_LITERAL)
      .dropDuplicates("s", "p", "o")
  }

  /** DESCRIBE with mode selection (rdf/sparql/ast/DescribeModeEnum.java via the
    * `hint:describeMode` query hint, QueryHints.java:587):
    *
    *  - ForwardOneStep — attributes and forward links only (subject = target);
    *  - SymmetricOneStep — forward plus backward links (object = target);
    *  - CBD (default here) — forward links, then the bnode-OBJECT fixed point
    *    (rdf/sparql/ast/eval/CBD.java; its statement-reification expansion is out
    *    of scope — no explicit reification quads in this store);
    *  - SCBD — CBD plus the reverse closure: backward links, recursing through
    *    bnode SUBJECTS (DescribeModeEnum.java:127 SCBD semantics).
    *
    * The bnode chase is a `DfOps.semiNaive` fixpoint over node ids: each round is
    * one `DfOps.probe` of the statement table by the (small) bnode frontier, and
    * the answer is one more probe by every reached id. Constant targets start it
    * on the driver, where each probe is a pushed-down filter.
    */
  def compileDescribe(q: DescribeQuery): DataFrame = {
    val mode = describeModeHint(q.where).getOrElse("CBD")
    val consts = q.targets.collect { case IriNode(i) => i }
    val vars = q.targets.collect { case VarNode(v) => v }
    val nodeDfs =
      consts.map(i => unitDf.select(Term.iri(i).as("n"))) ++
        vars.map { v =>
          val sol = compile(Algebra.lower(q.where.getOrElse(GroupGP(Nil))))
          sol.select(col(v).as("n")).filter(col("n").isNotNull)
        }
    val nodes = nodeDfs.reduce(_.unionByName(_)).dropDuplicates("n")
    val stmts = store.statements
    def byId(side: String): DataFrame =
      stmts.select(col("s"), col("p"), col("o"), col(side)("id").as("nid"))
    def forward(ids: DataFrame): DataFrame =
      DfOps.probe(byId("s"), ids, Seq("nid"), "left_semi").select("s", "p", "o")
    def reverse(ids: DataFrame): DataFrame =
      DfOps.probe(byId("o"), ids, Seq("nid"), "left_semi").select("s", "p", "o")
    /** Fixed point: the statements `step` reaches from `startIds` and from every
      * bnode on their `bnodeSide`, transitively (depth-bounded at 50 rounds;
      * cycles terminate regardless, a bnode is chased once).
      */
    def closure(startIds: DataFrame, step: DataFrame => DataFrame,
                bnodeSide: String): DataFrame =
      step(DfOps.semiNaive(
        if (DfOps.isLocal(startIds)) startIds else startIds.localCheckpoint(false),
        Seq("nid"), maxRounds = 50) {
        (frontier, _) => step(frontier)
          .filter(col(bnodeSide)("kind") === Term.KIND_BNODE)
          .select(col(bnodeSide)("id").as("nid"))
      })
    val ids =
      if (vars.isEmpty && consts.nonEmpty)
        DfOps.localFrame(spark, consts.distinct.map(i => Row(TermIds.iriId(i))),
          StructType(Seq(StructField("nid", LongType))))
      else nodes.select(col("n")("id").as("nid"))
    val acc = mode match {
      case "ForwardOneStep" => forward(ids)
      case "SymmetricOneStep" => forward(ids).unionByName(reverse(ids))
      case "SCBD" =>
        closure(ids, forward, "o").unionByName(closure(ids, reverse, "s"))
      case _ => closure(ids, forward, "o") // CBD
    }
    acc.dropDuplicates("s", "p", "o")
  }

  /** Extract the literal object of `hint:Query hint:<local> "<value>"` from the
    * WHERE group (ASTQueryHintOptimizer scope-Query hints).
    */
  private[engine] def queryHintLit(where: Option[GP], local: String): Option[String] = {
    def scan(gp: GP): Seq[String] = gp match {
      case TripleGP(_, PLink(p), LitNode(m, _, _)) if p == HINT_NS + local => Seq(m)
      case GroupGP(es) => es.flatMap(scan)
      case _ => Nil
    }
    where.toSeq.flatMap(scan).headOption
  }

  /** Extract `hint:Query hint:describeMode "<mode>"` from the WHERE group
    * (ASTDescribeOptimizer reads QueryHints.DESCRIBE_MODE; modes:
    * DescribeModeEnum.{ForwardOneStep,SymmetricOneStep,CBD,SCBD}).
    */
  private def describeModeHint(where: Option[GP]): Option[String] = {
    val found = queryHintLit(where, "describeMode").toSeq
    found.foreach { m =>
      require(Set("ForwardOneStep", "SymmetricOneStep", "CBD", "SCBD")(m),
        s"unknown describeMode '$m' (DescribeModeEnum: ForwardOneStep, SymmetricOneStep, CBD, SCBD)")
    }
    found.headOption
  }
}

/** SERVICE dispatch — the ServiceRegistry analog
  * (`rdf/sparql/ast/service/ServiceRegistry.java:117-177`, where the reference registers
  * BDS search, geospatial, GAS, values/sample/slice services).
  */
object Services {
  type ServiceFn = (Compiler, Op, Boolean) => DataFrame
  private val registry = scala.collection.concurrent.TrieMap.empty[String, ServiceFn]
  /** Services whose solutions may leave pattern vars UNBOUND (the reference's
    * mock/stored services return arbitrary binding sets): their join goes
    * through the compatibility path. The built-ins (gas/geo/bds) bind every
    * var they expose, so they stay on the fast equi-join.
    */
  private val unboundOk = scala.collection.concurrent.TrieMap.empty[String, Unit]
  def register(iri: String, fn: ServiceFn, mayYieldUnbound: Boolean = false): Unit = {
    registry.put(iri, fn)
    if (mayYieldUnbound) unboundOk.put(iri, ()) else unboundOk.remove(iri)
  }
  def unregister(iri: String): Unit = { registry.remove(iri); unboundOk.remove(iri) }
  def mayYieldUnbound(iri: String): Boolean = unboundOk.contains(iri)
  def has(iri: String): Boolean = { BuiltinServices.init; registry.contains(iri) }
  def dispatch(c: Compiler, iri: Ast.Node, inner: Op, silent: Boolean): DataFrame = {
    iri match {
      case IriNode(i) => dispatchIri(c, i, inner, silent)
      case Ast.VarNode(v) => throw new UnsupportedOperationException(
        s"SERVICE ?$v: the endpoint variable is not bound by the group")
      case other => throw new UnsupportedOperationException(s"SERVICE with $other")
    }
  }

  def dispatchIri(c: Compiler, i: String, inner: Op, silent: Boolean): DataFrame = {
    BuiltinServices.init
    registry.get(i) match {
      case Some(fn) => fn(c, inner, silent)
      // unregistered http(s) endpoint → SPARQL-protocol federation
      case None if RemoteService.isRemoteIri(i) =>
        RemoteService.evaluate(c.store.spark, i, inner, silent)
      case None => throw new UnsupportedOperationException(s"no service registered for <$i>")
    }
  }
}

/** Built-in services: `SERVICE gas:service { … }` graph analytics
  * (GASService, registered at ServiceRegistry.java:176; programs
  * `bigdata-gas/…/analytics/{BFS,SSSP,CC,PR}.java`).
  *
  * Config triples inside the service group (gas: = http://www.bigdata.com/rdf/gas#):
  *   [] gas:program "BFS"|"SSSP"|"CC"|"PR" ; gas:linkType <p> ; gas:in <seed> ;
  *      gas:out ?vertex ; gas:out1 ?value ; gas:maxIterations n .
  */
object BuiltinServices {
  val GAS_NS = "http://www.bigdata.com/rdf/gas#"

  val BD_NS = "http://www.bigdata.com/rdf#"

  lazy val init: Unit = {
    Services.register(GAS_NS + "service", gasService)
    // explicit SERVICE forms of the magic-predicate groups — the reference
    // registers both (ServiceRegistry.java:117-177): SERVICE geo:search { … } and
    // SERVICE bds:search { … } route to the same scans as the inline groups
    Services.register("http://www.bigdata.com/rdf/geospatial#search",
      magicService(c => (v, ts) => c.geoScan(v, ts)))
    Services.register("http://www.bigdata.com/rdf/search#search", magicService(_.searchScan))
    // bds:searchInSearch is correlated-only (filters INCOMING bindings:
    // SearchInSearchServiceFactory.java:85-90) — the OpJoin deferral routes it
    // frame-aware; a standalone evaluation has no bindings to filter
    Services.register("http://www.bigdata.com/rdf/search#searchInSearch", (_, _, _) =>
      throw new IllegalArgumentException(
        "bds:searchInSearch requires incoming bindings (join it with a pattern binding its subject)"))
    // the statement-pattern utility services the registry also installs
    // (ServiceRegistry.java:140-147: SampleServiceFactory, SliceServiceFactory,
    // ValuesServiceFactory)
    Services.register(BD_NS + "sample", sampleService)
    Services.register(BD_NS + "slice", sliceService)
    Services.register(BD_NS + "values", valuesService)
  }

  /** `bd:serviceParam <ns><key> value` triples of a service group, key → values
    * in author order (ServiceParams.java convention).
    */
  private def svcParams(ts: Seq[Triple], ns: String): Map[String, Seq[Node]] =
    ts.collect {
      case Triple(IriNode(s), PLink(p), o, _)
        if s == BD_NS + "serviceParam" && p.startsWith(ns) => (p.stripPrefix(ns), o)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  private def patternOf(ts: Seq[Triple], what: String): Triple = {
    val pats = ts.filterNot {
      case Triple(IriNode(s), _, _, _) => s == BD_NS + "serviceParam"
      case _ => false
    }
    if (pats.size != 1)
      throw new IllegalArgumentException(s"$what expects exactly one statement pattern, got ${pats.size}")
    pats.head
  }

  private def lexOf(n: Node): String = n match {
    case LitNode(lex, _, _) => lex
    case IriNode(i) => i
    case other => throw new IllegalArgumentException(s"expected a constant, got $other")
  }

  /** SERVICE bd:sample { <pattern> . bd:serviceParam bd:sample.limit N ;
    * bd:sample.seed S ; bd:sample.sampleType "RANDOM"|"EVEN"|"DENSE" } —
    * the SampleIndex service (SampleServiceFactory.java:74-96; defaults
    * SampleIndex.java:128-150: limit 100, seed 0, RANDOM). RANDOM is a
    * deterministic hash order keyed by the seed (engine-stable analog of the
    * reference's seeded index sampling), EVEN strides the id-ordered scan,
    * DENSE takes its head.
    */
  private def sampleService(c: Compiler, inner: Op, silent: Boolean): DataFrame = {
    val ts = inner match {
      case OpBgp(t) => t
      case other => throw new IllegalArgumentException(s"bd:sample expects a BGP, got $other")
    }
    val p = svcParams(ts, BD_NS + "sample.")
    val limit = p.get("limit").map(v => lexOf(v.head).toInt).getOrElse(100)
    val seed = p.get("seed").map(v => lexOf(v.head).toLong).getOrElse(0L)
    val typ = p.get("sampleType").map(v => lexOf(v.head)).getOrElse("RANDOM")
    val df = c.scanTriple(patternOf(ts, "bd:sample"))
    val idCols = df.columns.toSeq.map(cn => col(cn)("id"))
    typ match {
      case "RANDOM" =>
        df.orderBy(xxhash64((idCols :+ lit(seed)): _*)).limit(limit)
      case "DENSE" => df.orderBy(idCols: _*).limit(limit)
      case "EVEN" =>
        val total = df.count()
        val stride = math.max(1L, total / math.max(1, limit))
        val w = org.apache.spark.sql.expressions.Window.orderBy(idCols: _*)
        df.withColumn("__rn", row_number().over(w))
          .filter((col("__rn") - 1) % stride === 0).drop("__rn").limit(limit)
      case other => throw new IllegalArgumentException(s"unknown bd:sample.sampleType $other")
    }
  }

  /** SERVICE bd:slice { <pattern> . bd:serviceParam bd:slice.offset O ;
    * bd:slice.limit N } — a deterministic slice of the id-ordered access path;
    * with `bd:slice.range ?var` instead, binds the pattern's range COUNT
    * (SliceServiceFactory.java:81-103).
    */
  private def sliceService(c: Compiler, inner: Op, silent: Boolean): DataFrame = {
    val ts = inner match {
      case OpBgp(t) => t
      case other => throw new IllegalArgumentException(s"bd:slice expects a BGP, got $other")
    }
    val p = svcParams(ts, BD_NS + "slice.")
    val df = c.scanTriple(patternOf(ts, "bd:slice"))
    p.get("range").map(_.head) match {
      case Some(VarNode(v)) =>
        df.agg(count(lit(1)).as("__n")).select(Term.intLit(col("__n")).as(v))
      case Some(other) =>
        throw new IllegalArgumentException(s"bd:slice.range expects a variable, got $other")
      case None =>
        val offset = p.get("offset").map(v => lexOf(v.head).toLong).getOrElse(0L)
        val limit = p.get("limit").map(v => lexOf(v.head).toLong).getOrElse(
          throw new IllegalArgumentException("bd:slice needs bd:slice.limit (or bd:slice.range)"))
        val idCols = df.columns.toSeq.map(cn => col(cn)("id"))
        val w = org.apache.spark.sql.expressions.Window.orderBy(idCols: _*)
        df.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > offset && col("__rn") <= offset + limit).drop("__rn")
    }
  }

  /** SERVICE bd:values { bd:serviceParam bd:values.var ?v . bd:serviceParam
    * bd:values.val <v1> … } — the VALUES-simulation service
    * (ValuesServiceFactory.java:74-83). Values chunk row-major across the
    * declared vars.
    */
  private def valuesService(c: Compiler, inner: Op, silent: Boolean): DataFrame = {
    val ts = inner match {
      case OpBgp(t) => t
      case other => throw new IllegalArgumentException(s"bd:values expects a BGP, got $other")
    }
    val p = svcParams(ts, BD_NS + "values.")
    val vars = p.getOrElse("var", Nil).collect { case VarNode(v) => v }
    if (vars.isEmpty) throw new IllegalArgumentException("bd:values needs bd:values.var")
    val vals = p.getOrElse("val", Nil)
    if (vals.isEmpty || vals.size % vars.size != 0)
      throw new IllegalArgumentException(
        s"bd:values needs a multiple of ${vars.size} bd:values.val entries, got ${vals.size}")
    val spark = c.store.spark
    vals.grouped(vars.size).map { row =>
      spark.range(1).select(vars.zip(row).map { case (v, n) =>
        graft.engine.Exprs.constTerm(n).as(v) }: _*)
    }.reduce(_.unionByName(_))
  }

  private def magicService(scan: Compiler => (String, Seq[Algebra.Triple]) => DataFrame)
      : Services.ServiceFn = (c, inner, _) => {
    val ts = inner match {
      case OpBgp(t) => t
      case other => throw new IllegalArgumentException(s"service expects a BGP, got $other")
    }
    val subj = ts.head.s match {
      case VarNode(v) => v
      case other => throw new IllegalArgumentException(s"service subject must be a var: $other")
    }
    scan(c)(subj, ts)
  }

  private def gasService(c: Compiler, inner: Op, silent: Boolean): DataFrame = {
    val ts = inner match {
      case OpBgp(t) => t
      case other => throw new IllegalArgumentException(s"gas:service expects a BGP, got $other")
    }
    def constStr(p: String): Option[String] = ts.collectFirst {
      case Algebra.Triple(_, PLink(pp), LitNode(lex, _, _), _) if pp == GAS_NS + p => lex
    }
    def constIri(p: String): Option[String] = ts.collectFirst {
      case Algebra.Triple(_, PLink(pp), IriNode(i), _) if pp == GAS_NS + p => i
    }
    def varOf(p: String): Option[String] = ts.collectFirst {
      case Algebra.Triple(_, PLink(pp), VarNode(v), _) if pp == GAS_NS + p => v
    }
    val program = constStr("program").getOrElse(
      throw new IllegalArgumentException("gas:service needs gas:program"))
    val linkType = constIri("linkType").getOrElse(Term.RDF_TYPE)
    val outVar = varOf("out").getOrElse("out")
    val out1Var = varOf("out1")
    val maxIter = constStr("maxIterations").map(_.toInt).getOrElse(20)

    val stmts = c.store.statements.filter(col("p_id") === TermIds.iriId(linkType))
      .filter(col("o")("kind") =!= Term.KIND_LITERAL)
    val edges = stmts.select(col("s")("id").as("src"), col("o")("id").as("dst"))
    // terms for the result ids: the store's lexicon when it has one (as
    // termDict); a mutated store's link partition otherwise
    val nodes =
      if (c.store.lexiconPath.isDefined) c.store.nodeTerms.select("nid", "n")
      else stmts.select(col("s").as("n")).unionByName(stmts.select(col("o").as("n")))
        .withColumn("nid", col("n")("id")).dropDuplicates("nid").localCheckpoint()
    def seedId: Long = constIri("in").map(TermIds.iriId).getOrElse(
      throw new IllegalArgumentException(s"gas:program $program needs gas:in seed"))

    val result = program.toUpperCase match {
      case "BFS" => graft.gas.Gas.bfs(edges, seedId, maxIter)
        .select(col("vertex").as("nid"), Term.intLit(col("level")).as("value"))
      case "SSSP" => graft.gas.Gas.sssp(edges, seedId, maxIter)
        .select(col("vertex").as("nid"), Term.doubleLit(col("dist")).as("value"))
      case "CC" => graft.gas.Gas.connectedComponents(edges, maxIter)
        .select(col("vertex").as("nid"), Term.intLit(col("component")).as("value"))
      case "PR" => graft.gas.Gas.pageRank(edges, maxIter)
        .select(col("vertex").as("nid"), Term.doubleLit(col("rank")).as("value"))
      case other => throw new UnsupportedOperationException(s"gas:program $other")
    }
    val joined = result.join(nodes, Seq("nid")).select(
      (col("n").as(outVar) +: out1Var.map(v => col("value").as(v)).toSeq): _*)
    joined
  }
}

/** Cross-query named solution sets (`rdf/sparql/ast/ssets/`,
  * `bop/solutions/SolutionSetStream.java`): a solution set cached under a name once
  * and hash-joined by `INCLUDE %name` from ANY later query on the same store.
  */
object SolutionSets {
  private val MaxEntries = 64
  // insertion-ordered with a hard cap: stores are immutable (every Update makes a new
  // one), so entries for superseded stores must age out rather than pin checkpointed
  // blocks for the process lifetime
  private val cache = new java.util.LinkedHashMap[(GraftStore, String), DataFrame](
    16, 0.75f, /*accessOrder=*/ true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(GraftStore, String), DataFrame]): Boolean =
      size() > MaxEntries
  }

  /** Evaluate and cache a named solution set (materialized once). */
  def put(store: GraftStore, name: String, sparql: String): DataFrame = cache.synchronized {
    val df = Engine.query(store, sparql).localCheckpoint()
    cache.put((store, name), df)
    df
  }

  def drop(store: GraftStore, name: String): Unit =
    cache.synchronized { cache.remove((store, name)) }

  /** Append solutions to a named set (creating it), `INSERT INTO %set` —
    * solution sets are multisets, so this is a bag union.
    */
  def insertSolutions(store: GraftStore, name: String, sols: DataFrame): Unit =
    cache.synchronized {
      val next = cache.asScalaGet(store, name) match {
        case Some(cur) => cur.unionByName(sols, allowMissingColumns = true)
        case None => sols
      }
      cache.put((store, name), next.localCheckpoint())
    }

  /** Remove from a named set every solution that agrees with some projected
    * solution on the projection's columns (null-safe term-id equality),
    * `DELETE FROM %set`.
    */
  def deleteSolutions(store: GraftStore, name: String, sols: DataFrame): Unit =
    cache.synchronized {
      cache.asScalaGet(store, name).foreach { cur =>
        val shared = sols.columns.filter(cur.columns.contains)
        val next =
          if (shared.isEmpty) cur
          else {
            val d = sols.select(shared.map(col): _*).localCheckpoint()
            cur.join(d, shared.map(c => cur(c)("id") <=> d(c)("id")).reduce(_ && _),
              "left_anti")
          }
        cache.put((store, name), next.localCheckpoint())
      }
    }

  private implicit class CacheOps(
      m: java.util.LinkedHashMap[(GraftStore, String), DataFrame]) {
    def asScalaGet(store: GraftStore, name: String): Option[DataFrame] =
      Option(m.get((store, name)))
  }

  private[engine] def view(store: GraftStore): Map[String, DataFrame] = cache.synchronized {
    import scala.jdk.CollectionConverters._
    cache.asScala.collect { case ((s, n), df) if s eq store => n -> df }.toMap
  }
}

/** Front door: parse → dataset clause → compile (the ASTEvalHelper analog). */
object Engine {
  /** `bd:virtualGraph` membership predicate (BD.java:199). */
  val VIRTUAL_GRAPH = "http://www.bigdata.com/rdf#virtualGraph"

  /** Expand `FROM [NAMED] VIRTUAL GRAPH <vg>` entries to the member graphs the
    * data declares via `<vg> bd:virtualGraph <g>` triples (TestVirtualGraphs).
    * Membership is store metadata — tiny — so the driver-side collect is fine.
    */
  private def expandVirtual(store: GraftStore,
      ds: Seq[(String, Boolean)]): Seq[(String, Boolean)] =
    if (!ds.exists(_._1.startsWith(Ast.VirtualGraphMarker))) ds
    else ds.flatMap {
      case (iri, named) if iri.startsWith(Ast.VirtualGraphMarker) =>
        val vg = iri.stripPrefix(Ast.VirtualGraphMarker)
        store.statements
          .filter(col("p")("str") === VIRTUAL_GRAPH && col("s")("str") === vg)
          .select(col("o")("str")).distinct().collect()
          .map(r => (r.getString(0), named)).toSeq
      case other => Seq(other)
    }

  def query(store: GraftStore, sparql: String): DataFrame =
    query(store, Parser.parseQuery(sparql))

  /** Compile an already-parsed query (a caller that also inspects the AST,
    * e.g. for the query form, parses once).
    */
  def query(store: GraftStore, q: Query): DataFrame = {
    val c = new Compiler(store, DatasetSpec.from(expandVirtual(store, q.datasets)))
    q match {
      case s: SelectQuery => c.compileSelect(s)
      case a: AskQuery => c.compileAsk(a)
      case cq: ConstructQuery => c.compileConstruct(cq)
      case d: DescribeQuery => c.compileDescribe(d)
    }
  }

  /** Formatted physical plan for a SPARQL query (the QueryLog/EXPLAIN analog). */
  def explain(store: GraftStore, sparql: String): String =
    query(store, sparql).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** Evaluate with a deadline; cancels the Spark job group on timeout
    * (QueryDeadline / AbstractRunningQuery.cancel analog via cancelJobGroup).
    */
  def queryWithTimeout(store: GraftStore, sparql: String,
                       timeoutMs: Long): Array[org.apache.spark.sql.Row] = {
    val spark = store.spark
    val group = "graft-" + java.util.UUID.randomUUID()
    val result = new java.util.concurrent.CompletableFuture[Array[org.apache.spark.sql.Row]]()
    val t = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(group, sparql, interruptOnCancel = true)
        result.complete(query(store, sparql).collect())
      } catch { case e: Throwable => result.completeExceptionally(e) }
      finally spark.sparkContext.clearJobGroup()
    })
    t.setDaemon(true)
    t.start()
    try result.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        // cancel until the worker thread actually dies: cancelJobGroup only kills
        // ACTIVE jobs, so a cancel racing with planning/submission must be retried
        var waited = 0
        while (t.isAlive && waited < 30000) {
          spark.sparkContext.cancelJobGroup(group)
          t.interrupt()
          Thread.sleep(100)
          waited += 100
        }
        throw new java.util.concurrent.TimeoutException(
          s"query exceeded ${timeoutMs}ms and was cancelled")
      case e: java.util.concurrent.ExecutionException => throw e.getCause
    }
  }
}
