package graft

import graft.engine.{Engine, Update}
import org.apache.spark.sql.functions._

/** geo:search magic-predicate service (GeoSpatial.java:64-84,
  * GeoSpatialServiceFactory.java): packed "lat#lon(#time)" literals matched by
  * inCircle / inRectangle with optional time range and value bindings.
  */
class GeoServiceSpec extends GraftSuite {

  private lazy val geoStore = Update(store,
    """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
      |INSERT DATA {
      |  <urn:pt:a> <urn:p:pos> "1.0#1.0#100"^^geo:geoSpatialLiteral .
      |  <urn:pt:b> <urn:p:pos> "1.5#1.5#200"^^geo:geoSpatialLiteral .
      |  <urn:pt:c> <urn:p:pos> "10.0#10.0#150"^^geo:geoSpatialLiteral .
      |  <urn:pt:d> <urn:p:pos> "-1.0#179.0#100"^^geo:geoSpatialLiteral .
      |}""".stripMargin)

  private def subjects(df: org.apache.spark.sql.DataFrame, v: String = "res"): Set[String] =
    df.select(col(v)("str")).collect().map(_.getString(0)).toSet

  test("inRectangle matches points inside the box only") {
    val df = Engine.query(geoStore,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res WHERE {
        |  ?res geo:search "inRectangle" ;
        |       geo:predicate <urn:p:pos> ;
        |       geo:spatialRectangleSouthWest "0#0" ;
        |       geo:spatialRectangleNorthEast "5#5" }""".stripMargin)
    assert(subjects(df) == Set("urn:pt:a", "urn:pt:b"))
  }

  test("inCircle with default Kilometers unit and distanceValue binding") {
    // 100 km around (1,1): only a (0 km) and b (~78.6 km) qualify
    val df = Engine.query(geoStore,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res ?d WHERE {
        |  ?res geo:search "inCircle" ;
        |       geo:predicate <urn:p:pos> ;
        |       geo:spatialCircleCenter "1#1" ;
        |       geo:spatialCircleRadius "100" ;
        |       geo:distanceValue ?d }""".stripMargin)
    assert(subjects(df) == Set("urn:pt:a", "urn:pt:b"))
    val dists = df.select(col("res")("str"), col("d")("num")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(dists("urn:pt:a") == 0.0)
    assert(dists("urn:pt:b") > 78.0 && dists("urn:pt:b") < 79.0) // km
  }

  test("spatialUnit Meters rescales the radius") {
    val df = Engine.query(geoStore,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res WHERE {
        |  ?res geo:search "inCircle" ;
        |       geo:predicate <urn:p:pos> ;
        |       geo:spatialCircleCenter "1#1" ;
        |       geo:spatialCircleRadius "1000" ;
        |       geo:spatialUnit "Meters" }""".stripMargin)
    assert(subjects(df) == Set("urn:pt:a")) // 1 km radius: only the center point
  }

  test("timeStart/timeEnd restrict on the packed time dimension") {
    val df = Engine.query(geoStore,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res ?t WHERE {
        |  ?res geo:search "inRectangle" ;
        |       geo:predicate <urn:p:pos> ;
        |       geo:spatialRectangleSouthWest "0#0" ;
        |       geo:spatialRectangleNorthEast "20#20" ;
        |       geo:timeStart "120" ; geo:timeEnd "250" ;
        |       geo:timeValue ?t }""".stripMargin)
    assert(subjects(df) == Set("urn:pt:b", "urn:pt:c"))
    val ts = df.select(col("t")("lng")).collect().map(_.getLong(0)).toSet
    assert(ts == Set(200L, 150L))
  }

  test("custom fields filter as numeric ranges and bind re-packed values") {
    val st = Update(store,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |INSERT DATA {
        |  <urn:cf:a> <urn:p:pos2> "1.0#1.0#100#7#0.5"^^geo:geoSpatialLiteral .
        |  <urn:cf:b> <urn:p:pos2> "1.5#1.5#200#9#0.9"^^geo:geoSpatialLiteral .
        |  <urn:cf:c> <urn:p:pos2> "2.0#2.0#150#3#0.2"^^geo:geoSpatialLiteral .
        |}""".stripMargin)
    val df = Engine.query(st,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res ?cv WHERE {
        |  ?res geo:search "inRectangle" ;
        |       geo:predicate <urn:p:pos2> ;
        |       geo:spatialRectangleSouthWest "0#0" ;
        |       geo:spatialRectangleNorthEast "5#5" ;
        |       geo:customFields "severity#confidence" ;
        |       geo:customFieldsLowerBounds "5#0.4" ;
        |       geo:customFieldsUpperBounds "10#1.0" ;
        |       geo:customFieldsValues ?cv }""".stripMargin)
    assert(subjects(df) == Set("urn:cf:a", "urn:cf:b"))
    // slots keep their ORIGINAL lexical form from the packed literal ("7", not
    // the filter's double-cast "7.0")
    val vals = df.select(col("cv")("str")).collect().map(_.getString(0)).toSet
    assert(vals == Set("7#0.5", "9#0.9"))
  }

  test("lat/lon/location value bindings join into the surrounding BGP") {
    val df = Engine.query(geoStore,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res ?lat ?lon ?loc WHERE {
        |  ?res geo:search "inRectangle" ;
        |       geo:predicate <urn:p:pos> ;
        |       geo:spatialRectangleSouthWest "-5#170" ;
        |       geo:spatialRectangleNorthEast "5#180" ;
        |       geo:latValue ?lat ; geo:lonValue ?lon ; geo:locationValue ?loc }""".stripMargin)
    val r = df.select(col("res")("str"), col("lat")("num"), col("lon")("num"),
      col("loc")("str")).collect()
    assert(r.length == 1)
    assert(r(0).getString(0) == "urn:pt:d" && r(0).getDouble(1) == -1.0 &&
      r(0).getDouble(2) == 179.0 && r(0).getString(3) == "-1.0#179.0#100")
  }

  test("unknown geo:search function and missing predicate are clean errors") {
    val e1 = intercept[IllegalArgumentException] {
      Engine.query(geoStore,
        """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
          |SELECT ?r WHERE { ?r geo:search "inPolygon" ; geo:predicate <urn:p:pos> ;
          |  geo:spatialCircleCenter "0#0" ; geo:spatialCircleRadius "1" }""".stripMargin)
    }
    assert(e1.getMessage.contains("inPolygon"))
    val e2 = intercept[IllegalArgumentException] {
      Engine.query(geoStore,
        """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
          |SELECT ?r WHERE { ?r geo:search "inCircle" ;
          |  geo:spatialCircleCenter "0#0" ; geo:spatialCircleRadius "1" }""".stripMargin)
    }
    assert(e2.getMessage.contains("geo:predicate"))
    // bounds list longer than the declared customFields: a clear arity error,
    // not an unresolved-column analysis failure
    val e3 = intercept[IllegalArgumentException] {
      Engine.query(geoStore,
        """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
          |SELECT ?r WHERE { ?r geo:search "inRectangle" ;
          |  geo:predicate <urn:p:pos2> ;
          |  geo:spatialRectangleSouthWest "0#0" ;
          |  geo:spatialRectangleNorthEast "5#5" ;
          |  geo:customFields "severity" ;
          |  geo:customFieldsLowerBounds "5#0.4" }""".stripMargin)
    }
    assert(e3.getMessage.contains("customFieldsLowerBounds"))
  }

  test("datatype config: literals canonicalize to the storage grid, bounds snap") {
    // default geoSpatialLiteral config = lat/lon ×1e5: a 7-decimal lon truncates
    // at load (GeoSpatialLiteralExtension encode∘decode), and a bound with more
    // precision than the grid snaps down onto it
    val st = Update(store,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |INSERT DATA {
        |  <urn:gp:a> <urn:p:gpos> "6.666666#6.6666666#0"^^geo:geoSpatialLiteral .
        |  <urn:gp:b> <urn:p:gpos> "6.66667#1.1#0"^^geo:geoSpatialLiteral .
        |}""".stripMargin)
    val lex = Engine.query(st,
      "SELECT ?o WHERE { <urn:gp:a> <urn:p:gpos> ?o }")
      .select(col("o")("str")).first().getString(0)
    assert(lex == "6.66666#6.66666#0", lex) // ×1e5 truncation, Java-Double print
    val df = Engine.query(st,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res WHERE {
        |  ?res geo:search "inRectangle" ;
        |       geo:predicate <urn:p:gpos> ;
        |       geo:spatialRectangleSouthWest "1.10#1.100000001111" ;
        |       geo:spatialRectangleNorthEast "6.666666#7" }""".stripMargin)
    // bound lon 1.100000001111 snaps to 1.1 → b qualifies; a's lat 6.66666 is
    // inside; b's lat 6.66667 would exceed an unsnapped 6.666666 bound? No —
    // 6.66667 > 6.666666, b is excluded on latitude; a included
    assert(subjects(df) == Set("urn:gp:a"))
    // and with the SW lon bound unsnapped, b's lon 1.1 < 1.100000001111 would
    // also have excluded it — verify the snap by querying just b's cell
    val df2 = Engine.query(st,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?res WHERE {
        |  ?res geo:search "inRectangle" ;
        |       geo:predicate <urn:p:gpos> ;
        |       geo:spatialRectangleSouthWest "6.66667#1.100000001111" ;
        |       geo:spatialRectangleNorthEast "7#1.1" }""".stripMargin)
    assert(subjects(df2) == Set("urn:gp:b"))
  }

  test("STRDT mints opaque typed literals for non-xsd datatypes") {
    val df = Engine.query(store,
      """SELECT ?x WHERE { VALUES ?s { "7#8" }
        |  BIND(STRDT(?s, <urn:dt:custom>) AS ?x) }""".stripMargin)
    val r = df.select(col("x")("str"), col("x")("dt")).first()
    assert(r.getString(0) == "7#8" && r.getString(1) == "urn:dt:custom")
  }

  test("a packed literal with fewer components than the custom fields is skipped") {
    val st = Update(store,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |INSERT DATA { <urn:cfv:x> <urn:p:pos6> "2#3#0#7#0.5"^^geo:geoSpatialLiteral .
        |  <urn:cfv:bad> <urn:p:pos6> "1#1"^^geo:geoSpatialLiteral . }""".stripMargin)
    val cv = Engine.query(st,
      """PREFIX geo: <http://www.bigdata.com/rdf/geospatial#>
        |SELECT ?cv WHERE { ?r geo:search "inRectangle" ; geo:predicate <urn:p:pos6> ;
        |  geo:spatialRectangleSouthWest "0#0" ; geo:spatialRectangleNorthEast "5#5" ;
        |  geo:customFields "sev#conf" ; geo:customFieldsLowerBounds "0#0" ;
        |  geo:customFieldsValues ?cv }""".stripMargin)
      .select(col("cv")("str")).collect().map(_.getString(0)).toSeq
    assert(cv == Seq("7#0.5"))
  }
}
