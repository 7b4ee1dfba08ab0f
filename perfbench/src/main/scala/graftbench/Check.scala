package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Compares an operation's rows with the DuckDB reference written by
  * `inputs.py`. Exact values (integers, decimals, strings, dates) arrive
  * as canonical strings and must match exactly; floating-point values
  * arrive as JSON numbers and must match to 1e-9 relative. */
object Check {
  val json = new ObjectMapper()

  def canonical(v: Any): String = v match {
    case null => null
    case d: java.math.BigDecimal =>
      if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => canonical(d.bigDecimal)
    case other => other.toString
  }

  private def cellMatches(got: Any, want: JsonNode): Boolean =
    if (want == null || want.isNull) got == null
    else if (want.isNumber) got match {
      case n: Number =>
        val (a, b) = (n.doubleValue, want.asDouble)
        math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
      case _ => false
    }
    else canonical(got) == want.asText

  /** None when `rows` equal `expected` in order; else the first difference. */
  def diff(what: String, rows: Seq[Row], expected: JsonNode): Option[String] = {
    val want = expected.elements().asScala.toIndexedSeq
    if (rows.size != want.size)
      return Some(s"$what: ${rows.size} rows, expected ${want.size}")
    rows.zip(want).zipWithIndex.collectFirst {
      case ((r, w), i) if r.length != w.size ||
          (0 until r.length).exists(c => !cellMatches(r.get(c), w.get(c))) =>
        s"$what: row $i is ${r.toSeq.map(canonical).mkString("[", ", ", "]")}, expected $w"
    }
  }
}
