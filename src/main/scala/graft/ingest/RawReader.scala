package graft.ingest

import java.io.File

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.ops.SchemaAlign
import graft.schema.ContestSchema

/** S4 + S5 — raw CSV/TSV scan and multi-file union
  * (/root/reference/ingestor_precinct.py:109-113).
  *
  * Reference behavior: glob a directory, per-file delimiter sniff,
  * `pd.read_csv(f, sep, na_values='Not Found')`, then concat.
  *
  * Spark mapping — every CSV byte is read once, by the consuming job:
  *  - the driver reads each file's first line, sniffs the delimiter from
  *    it and parses it into column names with Spark's own CSV header
  *    rules (quotes stripped, BOM dropped, blank → `_c<i>`, duplicates
  *    suffixed), so the names equal what a `header=true` read reports;
  *  - the scan gets those names as an all-`StringType` schema: no
  *    inference pass and no per-file header job. Column types are
  *    decided once, by [[SchemaAlign]] (SURVEY.md §1.4);
  *  - same delimiter and header everywhere: ONE distributed
  *    `spark.read.csv(dir)` (splittable, parallel by file/block);
  *  - mixed delimiters / differing headers: per-file reads unioned by
  *    name (`unionByName(allowMissingColumns=true)`).
  *
  * `"Not Found"` → null is the reference's na_values token (:112).
  */
object RawReader {

  val NullToken = "Not Found"

  private def options(spark: SparkSession, sep: String): CSVOptions =
    new CSVOptions(Map("header" -> "true", "sep" -> sep, "nullValue" -> NullToken),
      true, spark.conf.get("spark.sql.session.timeZone"))

  /** A file's header line as Spark's CSV reader finds it (blank and
    * comment lines skipped, compression codecs honoured); "" when the
    * file has none. */
  private def headerLine(spark: SparkSession, path: String): String =
    CSVUtils.readHeaderLine(new Path(path), options(spark, ","),
      spark.sparkContext.hadoopConfiguration).getOrElse("")

  /** The column names `spark.read.option("header", "true").csv(file)`
    * reports for a file whose header line is `line`. */
  private def headerNames(spark: SparkSession, line: String, sep: String): Seq[String] =
    if (line.isEmpty) Nil
    else {
      val opts = options(spark, sep)
      CSVUtils.makeSafeHeader(new CsvParser(opts.asParserSettings).parseLine(line),
        spark.conf.get("spark.sql.caseSensitive", "false").toBoolean, opts).toSeq
    }

  /** String-typed scan of `path` whose files all carry `header`. */
  def readCsv(spark: SparkSession, path: String, sep: String, header: Seq[String]): DataFrame =
    spark.read
      .schema(StructType(header.map(StructField(_, StringType))))
      .option("header", "true")
      .option("sep", sep)
      .option("nullValue", NullToken)
      .csv(path)

  /** Glob + per-file sniff + union-by-name, like the reference loop.
    * Fast-paths to a single multi-file scan when all seps and headers
    * agree — decided from the first line of each file on the driver,
    * never by scanning the data. */
  def readDir(spark: SparkSession, dir: String): DataFrame = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath).sorted
    require(files.nonEmpty, s"no input files in $dir")
    val lines = files.map(headerLine(spark, _))
    val seps = lines.map(Sniffer.sniffLine)
    val headers = lines.zip(seps).map { case (l, s) => headerNames(spark, l, s) }
    if (seps.distinct.length == 1 && headers.distinct.length == 1)
      readCsv(spark, dir, seps.head, headers.head) // one distributed scan
    else
      files.indices.map(i => readCsv(spark, files(i), seps(i), headers(i)))
        .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Full reference ingest read: directory → aligned precinct frame. */
  def readAligned(spark: SparkSession, dir: String): DataFrame =
    SchemaAlign(readDir(spark, dir), ContestSchema.precinct)
}
