package graft.perfbench

import java.math.MathContext
import org.apache.spark.sql.Row

/** Order-insensitive result comparison. Engine results hold RDF term
  * structs; oracle results hold native Spark values. Both reduce to the
  * lexical value of each cell, with numbers rounded to 6 significant
  * digits so that summation order cannot cause a mismatch. */
object Rows {
  private val Numeric = """[-+]?(\d+\.?\d*|\.\d+)([eE][-+]?\d+)?""".r

  def cell(x: Any): String = x match {
    case null => "<unbound>"
    case r: Row if r.schema != null && r.schema.fieldNames.contains("v") => cell(r.getAs[Any]("v"))
    case s: String if Numeric.matches(s) => num(new java.math.BigDecimal(s))
    case d: Double => num(new java.math.BigDecimal(d))
    case f: Float => num(new java.math.BigDecimal(f.toDouble))
    case d: java.math.BigDecimal => num(d)
    case n: Long => n.toString
    case n: Int => n.toString
    case other => other.toString
  }

  private def num(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.round(new MathContext(6)).stripTrailingZeros.toPlainString

  def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => (0 until r.length).map(i => cell(r.get(i))).mkString("\u0001")).sorted

  /** None when `got` equals `want` as a multiset of rows. */
  def diff(got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val g = got.diff(want).take(2).map(_.replace('\u0001', '|'))
      val w = want.diff(got).take(2).map(_.replace('\u0001', '|'))
      Some(s"rows ${got.size} vs expected ${want.size}; unexpected ${g.mkString("; ")}; missing ${w.mkString("; ")}")
    }

  /** A deliberately wrong copy of an operation's result, to show that the
    * output checks bite: one row is dropped (or a bogus one added to an
    * empty result); a response body loses its last character. */
  def perturb(v: Any): Any = v match {
    case rows: Array[Row] if rows.nonEmpty => rows.dropRight(1)
    case _: Array[Row] => Array(Row("perturbed"))
    case s: String => s.dropRight(1)
    case other => other
  }
}
