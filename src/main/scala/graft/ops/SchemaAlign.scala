package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** U1 — schema-aligned vertical union
  * (/root/reference/ingestor_precinct.py:184: `pd.concat([schema, df])`
  * pads missing grand-schema columns with NA and fixes column order).
  *
  * Spark-first: no empty-frame union needed — project every grand-schema
  * column, typed-null for the missing ones, in canonical order. Extra
  * input columns are dropped (the reference's projection at :163 already
  * removed them). Pure projection → no shuffle, collapses into the scan.
  *
  * This is where ingest decides column types: the CSV scan is all
  * strings, so a string source gets the parses CSV inference used to
  * supply — integral targets accept `"12.0"` (through a double), date
  * targets accept NCSBE `MM/dd/yyyy` as well as ISO. Typed sources are
  * cast as they are.
  */
object SchemaAlign {

  def apply(df: DataFrame, schema: StructType): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(schema.fields.toSeq.map { f =>
      // try_*: a stray non-conforming ingest value becomes null
      // (pandas-tolerant) instead of an ANSI-mode job abort
      (types.get(f.name) match {
        case Some(_: StringType) => fromString(col(f.name), f.dataType)
        case Some(_) => col(f.name).try_cast(f.dataType)
        case None => lit(null).cast(f.dataType)
      }).as(f.name)
    }: _*)
  }

  private def fromString(c: Column, t: DataType): Column = t match {
    case ByteType | ShortType | IntegerType | LongType =>
      coalesce(c.try_cast(t), c.try_cast(DoubleType).try_cast(t))
    case DateType => date(c)
    case _ => c.try_cast(t)
  }

  /** A date from NCSBE `MM/dd/yyyy` or ISO text; null when neither
    * parses. The two forms are disjoint (ISO text has no `/`), so the
    * exception-free ISO cast runs first and the pattern parse only sees
    * what it rejected. */
  def date(c: Column): Column =
    coalesce(try_to_date(c), try_to_date(c, "MM/dd/yyyy"))

  /** Multi-file union with differing headers (S5's unionByName form). */
  def unionAligned(schema: StructType, dfs: Seq[DataFrame]): DataFrame =
    dfs.map(apply(_, schema)).reduce(_.unionByName(_))
}
