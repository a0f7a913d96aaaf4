package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Order-insensitive content hash of a query result, so two runs of a
  * query can be compared without keeping their rows.
  *
  * Columns are taken in name order and rows in sorted order of their
  * rendered cells. Floating-point cells are rendered with 9 significant
  * digits, so a result that differs only in the last bits of a sum
  * (the order of a parallel reduction) hashes the same.
  */
object Canon {

  def cell(v: Any): String = v match {
    case null                  => "null"
    case d: Double             => num(d)
    case f: Float              => num(f.toDouble)
    case b: Array[Byte]        => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => cell(k) + ":" + cell(x) }.toSeq.sorted
        .mkString("{", ",", "}")
    case r: Row                => r.toSeq.map(cell).mkString("(", ",", ")")
    case other                 => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0" // also folds -0.0
    else new java.math.BigDecimal(d)
      .round(new java.math.MathContext(9)).stripTrailingZeros.toString

  /** Rows rendered with columns in name order, then sorted. */
  def lines(columns: Seq[String], rows: Seq[Row]): Seq[String] = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
  }

  /** Hex SHA-256 over the column names and canonical rows. */
  def hash(columns: Seq[String], rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString("\u0001").getBytes(UTF_8))
    lines(columns, rows).foreach { l =>
      md.update("\n".getBytes(UTF_8)); md.update(l.getBytes(UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
