package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.model.Term
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** One normalized rendering shared by engine results and oracle rows: IRIs
  * and plain strings as their text, integers in canonical decimal, doubles in
  * full precision, timestamps as epoch seconds, unbound as the empty string;
  * fields joined by a tab. `sameRows`/`subRows` compare rendered rows as
  * multisets, doubles within a relative 1e-9 (summation order differs
  * between the engine and the oracle).
  */
object Render {
  private val Xsd = "http://www.w3.org/2001/XMLSchema#"
  private val IntTypes = Set("integer", "long", "int", "short", "byte", "nonNegativeInteger")
    .map(Xsd + _)
  private val RealTypes = Set("double", "float", "decimal").map(Xsd + _)

  def num(d: Double): String = java.lang.Double.toString(d)

  private def sameField(a: String, b: String): Boolean =
    a == b || ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
      case _ => false
    })

  private def sameRow(a: String, b: String): Boolean = {
    val (x, y) = (a.split("\t", -1), b.split("\t", -1))
    x.length == y.length && x.indices.forall(i => sameField(x(i), y(i)))
  }

  /** Rows of `got` matched one-to-one into `want`; the unmatched rows of `got`. */
  def unmatched(got: Seq[String], want: Seq[String]): Seq[String] = {
    val pool = scala.collection.mutable.ArrayBuffer.from(want)
    got.filterNot { g =>
      val i = { val e = pool.indexOf(g); if (e >= 0) e else pool.indexWhere(sameRow(g, _)) }
      if (i >= 0) pool.remove(i)
      i >= 0
    }
  }

  def sameRows(got: Seq[String], want: Seq[String]): Boolean =
    got.size == want.size && unmatched(got, want).isEmpty

  def subRows(got: Seq[String], want: Seq[String]): Boolean = unmatched(got, want).isEmpty

  def literal(lex: String, dt: String): String =
    if (dt == null) lex
    else if (IntTypes(dt)) BigDecimal(lex.trim).toBigInt.toString
    else if (RealTypes(dt)) num(lex.trim.toDouble)
    else if (dt == Xsd + "dateTime")
      java.time.OffsetDateTime.parse(if (lex.endsWith("Z") || lex.matches(".*[+-]\\d\\d:\\d\\d$")) lex
        else lex + "Z").toEpochSecond.toString
    else lex

  /** A term struct (`Term.schema`) column value. */
  def term(t: Row): String =
    if (t == null) ""
    else if (t.getAs[Byte]("kind") == Term.KIND_LITERAL)
      literal(t.getAs[String]("str"), t.getAs[String]("dt"))
    else t.getAs[String]("str")

  /** Rows of a solutions frame of term columns, or of a plain-typed SQL frame. */
  def rows(df: DataFrame, collected: Array[Row]): Seq[String] = {
    val fields = df.schema.fields
    collected.toSeq.map(r => fields.indices.map(i => value(fields(i).dataType, r, i)).mkString("\t"))
  }

  def value(t: DataType, r: Row, i: Int): String =
    if (r.isNullAt(i)) ""
    else t match {
      case _: StructType => term(r.getStruct(i))
      case DoubleType => num(r.getDouble(i))
      case FloatType => num(r.getFloat(i).toDouble)
      case _: DecimalType => num(r.getDecimal(i).doubleValue)
      case TimestampType => (r.getTimestamp(i).getTime / 1000L).toString
      case BooleanType => r.getBoolean(i).toString
      case _ => r.get(i).toString
    }

  private val mapper = new ObjectMapper()

  /** `application/sparql-results+json` body → rows (vars in head order). */
  def sparqlJson(body: String): Seq[String] = {
    val root = mapper.readTree(body)
    if (root.has("boolean")) return Seq(root.get("boolean").asBoolean.toString)
    val vars = Iterator.from(0).take(root.get("head").get("vars").size)
      .map(root.get("head").get("vars").get(_).asText).toSeq
    val out = Seq.newBuilder[String]
    root.get("results").get("bindings").elements().forEachRemaining { b =>
      out += vars.map { v =>
        val n = b.get(v)
        if (n == null) ""
        else if (n.get("type").asText == "literal")
          literal(n.get("value").asText, Option(n.get("datatype")).map(_.asText).orNull)
        else n.get("value").asText
      }.mkString("\t")
    }
    out.result()
  }

  private val NtTerm = "<([^>]*)>|_:(\\S+)|\"((?:[^\"\\\\]|\\\\.)*)\"(?:\\^\\^<([^>]*)>|@([A-Za-z0-9-]+))?".r

  /** N-Triples / N-Quads lines → subject, predicate, object rows. */
  def ntLines(body: String): Seq[String] =
    body.split("\n").toSeq.filter(_.trim.nonEmpty).map { line =>
      NtTerm.findAllMatchIn(line).take(3).map { m =>
        if (m.group(1) != null) m.group(1)
        else if (m.group(2) != null) "_:" + m.group(2)
        else literal(unescape(m.group(3)), m.group(4))
      }.mkString("\t")
    }

  private def unescape(s: String): String =
    if (!s.contains('\\')) s
    else s.replace("\\\"", "\"").replace("\\n", "\n").replace("\\r", "\r")
      .replace("\\t", "\t").replace("\\\\", "\\")
}
