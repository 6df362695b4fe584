package graft

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.ingest.RawReader
import graft.ops.{DistrictExtract, FuzzyMatch, Normalize, SchemaAlign}
import graft.schema.ContestSchema

/** The reference's end-to-end ingest flow (EP2 + EP3,
  * /root/reference/ingestor_precinct.py:70-225) as one batch job:
  *
  *   stage dir → sniff/scan/union → fuzzy column map → normalize →
  *   district extraction (gated) → schema align → parquet (or JDBC)
  *
  * Usage: `runMain graft.IngestJob <inDir> <outPath> [precinct|county]
  * [canonical=sourceOrConst ...]` where extra args add/override the
  * fuzzy column mapping (the batch stand-in for the reference's
  * human-edited TextInput boxes — e.g. `election_date=11/06/2012`
  * injects a constant, P3/P4; `candidate=Choice` forces a source
  * column).
  *
  * Writes parquet partitioned by election_date: at 100 TB the contest
  * store is naturally pruned by election, and every downstream query
  * filtering on election_date skips irrelevant partitions entirely.
  *
  * One scan, one Spark job: [[RawReader]] reads the CSV string-typed
  * from the driver-read headers (no inference pass), [[SchemaAlign]]
  * types the columns, and the returned row count is an `Observation`
  * on the write itself rather than a second run of the pipeline. The
  * only other job is the district gate's probe, and only when the
  * input carries a `district` column.
  */
object IngestJob {

  /** args(2) is the table kind ONLY when it literally names one —
    * otherwise it is the first override (`IngestJob in out k=v` must
    * not silently eat `k=v` as an unknown kind). Non-`k=v` stragglers
    * are rejected, not dropped. */
  private[graft] def parseArgs(args: Array[String])
      : (String, String, org.apache.spark.sql.types.StructType, Seq[(String, String)]) = {
    require(args.length >= 2,
      "usage: IngestJob <inDir> <outPath> [precinct|county] [canonical=sourceOrConst ...]")
    val (schema, rest) = args.drop(2) match {
      case a if a.headOption.contains("county") => (ContestSchema.county, a.tail)
      case a if a.headOption.contains("precinct") => (ContestSchema.precinct, a.tail)
      case a => (ContestSchema.precinct, a)
    }
    val overrides = rest.map { kv =>
      require(kv.contains("="),
        s"unknown arg '$kv': expected precinct|county or canonical=sourceOrConst")
      val Array(k, v) = kv.split("=", 2); (k, v)
    }.toSeq
    (args(0), args(1), schema, overrides)
  }

  def main(args: Array[String]): Unit = {
    val (inDir, outPath, schema, overrides) = parseArgs(args)

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, inDir, outPath, schema, overrides)
    finally spark.stop()
  }

  /** overrides: canonical → sourceColumnOrConstant (wins over fuzzy). */
  def run(spark: SparkSession, inDir: String, outPath: String,
      schema: org.apache.spark.sql.types.StructType,
      overrides: Seq[(String, String)] = Nil): Long = {
    val raw = RawReader.readDir(spark, inDir)
    // T3 fuzzy pass (canonical → source), then explicit overrides win
    val merged = FuzzyMatch.mapColumns(schema.fieldNames.toSeq, raw.columns.toSeq) ++
      overrides.toMap
    // Normalize expects (sourceOrConstant → canonical), in schema order
    val mapping = schema.fieldNames.toSeq.flatMap(c => merged.get(c).map(_ -> c))
    val normalized = Normalize(raw, mapping)
    val extracted = DistrictExtract.withGate(normalized)
    // this run's row count, taken by the write job as the rows pass
    // (a store read-back would report the cumulative count under append)
    val landed = Observation()
    SchemaAlign(extracted, schema)
      .observe(landed, count(lit(1)).as("rows"))
      .write
      .mode("append")
      .partitionBy("election_date")
      .parquet(outPath)
    landed.get("rows").asInstanceOf[Long]
  }
}
