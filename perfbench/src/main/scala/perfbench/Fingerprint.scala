package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias}

/** A result fingerprint: SHA-256 over the canonical rows, columns taken
  * in name order (as the oracle gate compares them). Rows are hashed in
  * result order when the query ends in an ORDER BY and as a sorted
  * multiset otherwise, so a plan change that reorders an unordered
  * result does not read as a wrong answer. Doubles are rounded to 12
  * significant digits: the oracle gate already pins the exact values,
  * and a re-associated floating sum must not flip a timed run to
  * failed. */
object Fingerprint {
  final case class Fp(hash: String, rows: Long, ordered: Boolean)

  def ordered(df: DataFrame): Boolean = {
    def top(p: LogicalPlan): Boolean = p match {
      case _: Sort => true
      case Project(_, c) => top(c)
      case SubqueryAlias(_, c) => top(c)
      case _ => false
    }
    top(df.queryExecution.analyzed)
  }

  def of(df: DataFrame): Fp = {
    val cols = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect().map(r => cols.map(i => cell(r.get(i))).mkString("\u0001"))
    val isOrdered = ordered(df)
    Fp(digest(if (isOrdered) rows.toSeq else rows.toSeq.sorted), rows.length, isOrdered)
  }

  def digest(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def cell(v: Any): String = v match {
    case null => "~"
    case d: Double => dbl(d)
    case f: Float => dbl(f.toDouble)
    case b: java.math.BigDecimal =>
      if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => cell(b.bigDecimal)
    case bs: Array[Byte] => bs.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => (0 until r.length).map(i => cell(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "=" + cell(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(12))
      .stripTrailingZeros.toString
}
