package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** P1–P4 — the reference's column-mapping applier
  * (/root/reference/ingestor_precinct.py:155-164).
  *
  * `colnames` is the (human-edited, here caller-supplied) mapping of
  * source-column-or-constant → canonical grand-schema name:
  *  - value names an existing column  → rename (P2) + keep (P1);
  *  - value is not a column           → inject as a literal for every
  *    row (P3), parsed as a date when it targets `election_date` (P4,
  *    `pd.to_datetime(i)` at :159-160 — MM/dd/yyyy or ISO through
  *    [[SchemaAlign.date]], the rule string source columns get too,
  *    so unparseable constants yield null instead of an ANSI error).
  *
  * Pure projection: Catalyst collapses it into the scan, so unmapped
  * source columns are never read (column pruning does P1 for free).
  */
object Normalize {

  def apply(df: DataFrame, colnames: Seq[(String, String)]): DataFrame = {
    val srcCols = df.columns.toSet
    val withConsts = colnames.foldLeft(df) { case (d, (src, canon)) =>
      if (srcCols.contains(src)) d
      else if (canon == "election_date")
        d.withColumn(src, SchemaAlign.date(lit(src)))
      else d.withColumn(src, lit(src))
    }
    withConsts.select(colnames.map { case (src, canon) =>
      col(s"`$src`").as(canon)
    }: _*)
  }
}
