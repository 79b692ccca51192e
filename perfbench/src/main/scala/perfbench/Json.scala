package perfbench

import scala.collection.immutable.TreeMap

import org.json4s.{DefaultFormats, Extraction, Formats}
import org.json4s.jackson.JsonMethods

/** JSON lines for results and expected-answer files, written with
  * Spark's json4s. Map keys are written sorted, so equal values render
  * to equal bytes.
  */
object Json {
  private implicit val formats: Formats = DefaultFormats

  def render(v: Any): String = JsonMethods.compact(JsonMethods.render(Extraction.decompose(sorted(v))))

  private def sorted(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => TreeMap(m.toSeq.map { case (k, x) => k.toString -> sorted(x) }: _*)
    case xs: Iterable[_] => xs.map(sorted).toList
    case other => other
  }
}

/** Canonical text of one result cell, for comparing collected rows with
  * generator-computed answers.
  */
object Render {
  val Null = "null"
  def cell(v: Any): String = v match {
    case null => Null
    case d: Double => java.lang.Double.toString(d)
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
  def rows(rs: Seq[org.apache.spark.sql.Row]): Seq[Seq[String]] =
    rs.map(r => r.toSeq.map(cell))
}
