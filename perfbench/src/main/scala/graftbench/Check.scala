package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Order-insensitive comparison of a step's rows with a reference
  * computed outside graft.
  *
  * Both sides are reduced to the same value tree: numbers compare by
  * value (an INT from one engine equals a DOUBLE 3.0 from the other),
  * integral numbers exactly and the rest within a relative tolerance;
  * dates and timestamps are UTC epoch microseconds; structs compare by
  * position. Columns are matched by lower-cased name, rows as a
  * multiset (sorted by a rounded rendering, then compared pairwise).
  */
object Check {
  sealed trait V
  case object VNull extends V
  final case class VBool(b: Boolean) extends V
  final case class VNum(d: BigDecimal, integral: Boolean) extends V
  final case class VDbl(d: Double) extends V
  final case class VStr(s: String) extends V
  final case class VTime(micros: Long) extends V
  final case class VList(xs: Seq[V]) extends V

  final case class Table(columns: Seq[String], rows: Seq[Seq[V]])

  val RelTol = 1e-9

  // ------------------------------------------------------------ spark side

  def fromSpark(x: Any): V = x match {
    case null => VNull
    case b: Boolean => VBool(b)
    case n: Byte => VNum(BigDecimal(n.toInt), integral = true)
    case n: Short => VNum(BigDecimal(n.toInt), integral = true)
    case n: Int => VNum(BigDecimal(n), integral = true)
    case n: Long => VNum(BigDecimal(n), integral = true)
    case f: Float => dbl(f.toDouble)
    case d: Double => dbl(d)
    case d: java.math.BigDecimal => num(BigDecimal(d))
    case d: BigDecimal => num(d)
    case s: String => VStr(s)
    case t: java.sql.Timestamp => VTime(micros(t.toInstant))
    case t: java.time.Instant => VTime(micros(t))
    case t: java.time.LocalDateTime => VTime(micros(t.toInstant(java.time.ZoneOffset.UTC)))
    case d: java.sql.Date => VTime(d.toLocalDate.toEpochDay * 86400L * 1000000L)
    case d: java.time.LocalDate => VTime(d.toEpochDay * 86400L * 1000000L)
    case b: Array[Byte] => VStr(b.map("%02x".format(_)).mkString("x:", "", ""))
    case r: Row => VList(r.toSeq.map(fromSpark))
    case m: scala.collection.Map[_, _] =>
      VList(m.toSeq.map { case (k, v) => VList(Seq(fromSpark(k), fromSpark(v))) }
        .sortBy(render))
    case s: scala.collection.Seq[_] => VList(s.toSeq.map(fromSpark))
    case a: Array[_] => VList(a.toSeq.map(fromSpark))
    case other => VStr(other.toString)
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000

  private def dbl(d: Double): V =
    if (d.isNaN || d.isInfinite) VStr(d.toString) else VDbl(d)

  private def num(d: BigDecimal): V =
    if (d.isWhole) VNum(d, integral = true) else VDbl(d.toDouble)

  def fromRows(columns: Seq[String], rows: Array[Row]): Table = {
    val order = columns.map(_.toLowerCase).zipWithIndex.sortBy(_._1)
    Table(order.map(_._1), rows.toSeq.map(r => order.map(o => fromSpark(r.get(o._2)))))
  }

  // ------------------------------------------------------- reference side

  private val mapper = new ObjectMapper()

  /** A reference file: `{"columns": [...], "rows": [[...], ...]}` with
    * values encoded by `refs.py` (`{"t": micros}` for temporal values,
    * `{"f": "NaN"}` for non-finite floats, lists for lists and structs).
    */
  def readRef(path: java.nio.file.Path): Table = {
    val root = mapper.readTree(path.toFile)
    val cols = root.get("columns").elements().asScala.map(_.asText.toLowerCase).toSeq
    val order = cols.zipWithIndex.sortBy(_._1)
    val rows = root.get("rows").elements().asScala.map { r =>
      val vs = r.elements().asScala.map(fromJson).toIndexedSeq
      order.map(o => vs(o._2))
    }.toSeq
    Table(order.map(_._1), rows)
  }

  def fromJson(n: JsonNode): V =
    if (n.isNull) VNull
    else if (n.isBoolean) VBool(n.booleanValue)
    else if (n.isIntegralNumber) VNum(BigDecimal(n.bigIntegerValue), integral = true)
    else if (n.isNumber) num(BigDecimal(n.decimalValue))
    else if (n.isTextual) VStr(n.asText)
    else if (n.isArray) VList(n.elements().asScala.map(fromJson).toSeq)
    else if (n.has("t")) VTime(n.get("t").longValue)
    else if (n.has("f")) VStr(n.get("f").asText)
    else if (n.has("m")) VList(n.get("m").elements().asScala.map(fromJson).toSeq.sortBy(render))
    else VStr(n.toString)

  // ------------------------------------------------------------ compare

  /** A rendering that sorts equal-within-tolerance values together. */
  def render(v: V): String = v match {
    case VNull => "~"
    case VBool(b) => s"b$b"
    case VNum(d, _) => "n" + roundKey(d.toDouble)
    case VDbl(d) => "n" + roundKey(d)
    case VStr(s) => "s" + s
    case VTime(m) => s"t$m"
    case VList(xs) => xs.map(render).mkString("[", ",", "]")
  }

  private def roundKey(d: Double): String =
    if (d == 0.0) "0" else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(7)).stripTrailingZeros.toString

  def same(a: V, b: V): Boolean = (a, b) match {
    case (VNum(x, true), VNum(y, true)) => x == y
    case (VNum(x, _), VDbl(y)) => close(x.toDouble, y)
    case (VDbl(x), VNum(y, _)) => close(x, y.toDouble)
    case (VDbl(x), VDbl(y)) => close(x, y)
    case (VList(xs), VList(ys)) => xs.size == ys.size && xs.zip(ys).forall(p => same(p._1, p._2))
    case _ => a == b
  }

  private def close(x: Double, y: Double): Boolean =
    x == y || math.abs(x - y) <= RelTol * math.max(math.abs(x), math.abs(y))

  /** None when `got` matches `want`, else the first difference. */
  def compare(got: Table, want: Table): Option[String] = {
    if (got.columns != want.columns)
      return Some(s"columns ${got.columns.mkString(",")} vs ${want.columns.mkString(",")}")
    if (got.rows.size != want.rows.size)
      return Some(s"rows ${got.rows.size} vs ${want.rows.size}")
    def sorted(t: Table) = t.rows.map(r => (r.map(render).mkString("|"), r)).sortBy(_._1).map(_._2)
    sorted(got).zip(sorted(want)).zipWithIndex.collectFirst {
      case ((g, w), i) if !g.zip(w).forall(p => same(p._1, p._2)) =>
        s"row $i: ${g.map(render).mkString("|")} vs ${w.map(render).mkString("|")}"
    }
  }
}
