package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-independent result fingerprints, compared against expectations
  * computed on a path that does not run the code under test. */
object Check {

  private def render(v: Any): String = v match {
    case null => "\u0001"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Double.toString(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case x => x.toString
  }

  /** Collect `df` and fingerprint it on the driver: columns by sorted
    * name, integral widths unified, rows sorted. */
  def collected(df: DataFrame): String = rows(df.columns.toSeq, df.collect())

  def rows(columns: Seq[String], rs: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rs.map(r => order.map(i => render(r.get(i))).mkString("\u0002")).sorted
    Gen.digestStrings(Iterator(columns.sorted.mkString(",")) ++ lines.iterator)
  }

  /** Distributed fingerprint for frames too large to collect: row count
    * and the exact sum of per-row xxhash64 over every column rendered as
    * a string (sorted by name). */
  def distributed(df: DataFrame): String = {
    val cs = df.columns.sorted.toSeq
    val h = xxhash64(cs.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    s"${cs.mkString(",")}|${r.getLong(0)}|${r.get(1)}"
  }
}
