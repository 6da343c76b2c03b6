package perfbench

import org.apache.spark.sql.Row

/** Canonical text of result values, so two results (or a result and the
  * benchmark's model) compare as sets of rows. Doubles keep ten
  * significant digits: a distributed double sum may differ in the last
  * bits between two runs of the same plan. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => f"$d%.10g"
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  def row(values: Seq[Any]): String = values.map(value).mkString("(", ",", ")")

  /** Order-independent signature of a whole result. */
  def signature(rows: Array[Row]): String = {
    val sorted = rows.map(r => row(r.toSeq)).sorted
    f"${scala.util.hashing.MurmurHash3.orderedHash(sorted.toSeq)}%08x"
  }
}
