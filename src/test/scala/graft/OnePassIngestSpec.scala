package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.RawReader
import graft.ops.{DistrictExtract, FuzzyMatch, Normalize}
import graft.schema.ContestSchema

/** The one-scan ingest: RawReader's string-typed read from the
  * driver-read header, SchemaAlign as the one place types are decided,
  * and IngestJob's row count observed on the write. Pinned against the
  * `inferSchema=true` read it replaced. */
class OnePassIngestSpec extends SparkSpec {

  private def bundle(files: (String, String)*): String = {
    val dir = Files.createTempDirectory("graft_onepass").toFile
    files.foreach { case (name, text) => Files.write(dir.toPath.resolve(name), text.getBytes(UTF_8)) }
    dir.getPath
  }

  private def outDir(): String =
    Files.createTempDirectory("graft_onepass_out").toFile.getPath + "/contest"

  /** The same CSV read with Spark's header handling and type inference. */
  private def inferred(path: String, sep: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("sep", sep)
      .option("nullValue", RawReader.NullToken)
      .option("inferSchema", "true")
      .csv(path)

  test("header names: Spark's own rules for quoted, blank, duplicate and BOM-prefixed headers") {
    val headers = Seq(
      "quoted.csv" -> ("\"County\",\"Contest, Name\",Total Votes", ","),
      "blank.csv" -> ("County,,Total Votes,\"\",Not Found", ","),
      "dup.csv" -> ("county,Choice,County,choice,Choice", ","),
      "bom.csv" -> ("\uFEFFCounty,Election Date,Total Votes", ","),
      "spaces.tsv" -> (" County \t\"Contest Name\"\tTotal Votes ", "\t"))
    headers.foreach { case (name, (line, sep)) =>
      val dir = bundle(name -> s"$line\n")
      assert(RawReader.readDir(spark, dir).columns.toSeq === inferred(dir, sep).columns.toSeq, name)
    }
    // the names land on the right fields
    val dir = bundle("q.csv" -> "\uFEFF\"County\",,dup,Dup\nWAKE,x,1,2\n")
    assert(RawReader.readDir(spark, dir).collect().toSeq === Seq(Row("WAKE", "x", "1", "2")))
    assert(RawReader.readDir(spark, dir).columns.toSeq === Seq("County", "_c1", "dup2", "Dup3"))
  }

  /** The parent's flow: inferred read, then the same column map, gate
    * and a plain `try_cast` alignment. */
  private def legacyLanding(dir: String): DataFrame = {
    val raw = inferred(dir, ",")
    val schema = ContestSchema.precinct
    val m = FuzzyMatch.mapColumns(schema.fieldNames.toSeq, raw.columns.toSeq)
    val extracted = DistrictExtract.withGate(
      Normalize(raw, schema.fieldNames.toSeq.flatMap(c => m.get(c).map(_ -> c))))
    extracted.select(schema.fields.toSeq.map { f =>
      (if (extracted.columns.contains(f.name)) col(f.name).try_cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
  }

  private def landing(dir: String): DataFrame = {
    val out = outDir()
    IngestJob.run(spark, dir, out, ContestSchema.precinct)
    spark.read.schema(ContestSchema.precinct).parquet(out)
      .select(ContestSchema.precinctColumns.map(col): _*)
  }

  private def rows(df: DataFrame, drop: String*): Seq[String] =
    df.drop(drop: _*).collect().map(_.toString).sorted.toSeq

  test("differential: the string read lands the rows the inferred read landed") {
    // one column per value shape, each headed for a typed canonical column
    val dir = bundle("matrix.csv" ->
      ("county,contest_name,total_votes,election_day,one_stop,absentee_by_mail,provisional," +
        "election_date,candidacy_date,is_partisan,has_primary,precinct,contest_group_id\n" +
        "WAKE,US SENATE,1234,12.0,Not Found,5,Not Found,2012-11-06,2012-11-06 10:30:00,true,1,01A,0012\n" +
        "DURHAM,GOVERNOR,7,3.5,,N/A,,2012-11-06,2012-11-07 00:00:00,false,0,2,0007\n" +
        "ORANGE,US HOUSE,0,7,5,6,Not Found,2012-11-06,2012-11-08 23:59:59,TRUE,1,13,0100\n"))
    // the matrix really exercises inference: each shape infers its own type
    val types = inferred(dir, ",").schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("total_votes") === IntegerType)
    assert(types("election_day") === DoubleType)
    assert(types("absentee_by_mail") === StringType) // mixed numeric/text
    assert(types("provisional") === StringType)      // all null
    assert(types("candidacy_date") === TimestampType)
    assert(types("is_partisan") === BooleanType)
    assert(types("has_primary") === IntegerType)
    assert(types("contest_group_id") === IntegerType)

    val now = landing(dir)
    val before = legacyLanding(dir)
    // intended divergence: a string column keeps the source text, where
    // inference read digits as a number and dropped the leading zeros
    assert(rows(before.select("contest_group_id")) === Seq("[100]", "[12]", "[7]"))
    assert(rows(now.select("contest_group_id")) === Seq("[0007]", "[0012]", "[0100]"))
    assert(rows(now, "contest_group_id") === rows(before, "contest_group_id"))
    // and the landed values are the typed ones
    assert(rows(now.select("county", "total_votes", "election_day", "one_stop", "absentee_by_mail",
      "provisional", "election_date", "candidacy_date", "is_partisan", "has_primary", "precinct")) === Seq(
      "[DURHAM,7,3,null,null,null,2012-11-06,2012-11-07,false,false,2]",
      "[ORANGE,0,7,5,6,null,2012-11-06,2012-11-08,true,true,13]",
      "[WAKE,1234,12,null,5,null,2012-11-06,2012-11-06,true,true,01A]"))
  }

  test("differential: NCSBE MM/dd/yyyy dates land; the inferred read lost them") {
    val dir = bundle("d.csv" ->
      "County,Election Date,Contest Name,Choice,Total Votes\nWAKE,11/06/2012,US SENATE,SMITH,10\n")
    // intended divergence: inference kept the text, try_cast nulled it
    assert(legacyLanding(dir).select("election_date").head().isNullAt(0))
    val now = landing(dir)
    assert(now.select("election_date").head().getDate(0) === java.sql.Date.valueOf("2012-11-06"))
    assert(rows(now, "election_date") === rows(legacyLanding(dir), "election_date"))
  }

  test("differential: a digits-only district gates; the inferred read failed the gate") {
    val dir = bundle("t.csv" -> "County,Contest Name,district\nWAKE,US HOUSE DISTRICT 4,4\n")
    // intended divergence: inference typed the column as a number, which
    // the gate's former `district =!= ""` test could not compare
    val raw = inferred(dir, ",")
    assert(raw.schema("district").dataType === IntegerType)
    val e = intercept[Exception](
      raw.filter(col("district").isNotNull && col("district") =!= "").isEmpty)
    assert(e.getMessage.contains("CAST_INVALID_INPUT"))
    assert(rows(landing(dir).select("contest_name", "district")) === Seq("[US HOUSE DISTRICT 4,4]"))
  }

  /** Jobs started by `body` on this thread, counted by a SparkListener. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"onepass-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.spec.tag") == tag)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      val r = body
      ListenerBus.drain(sc)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(listener)
    }
  }

  private val header = Seq("County", "Election Date", "Contest Name", "Choice", "Total Votes")
  private def lines(sep: String, order: Seq[Int], n: Int, from: Int): String =
    (header +: (from until from + n).map(i =>
      Seq("WAKE", "2012-11-06", s"US HOUSE DISTRICT ${i % 13 + 1}", s"CAND $i", s"$i")))
      .map(r => order.map(r).mkString(sep)).mkString("", "\n", "\n")

  test("IngestJob.run reads a uniform bundle in one Spark job and returns the rows it wrote") {
    val id = header.indices
    val dir = bundle("a.csv" -> lines(",", id, 40, 0), "b.csv" -> lines(",", id, 35, 40))
    val out = outDir()
    val (n, jobs) = jobsOf(IngestJob.run(spark, dir, out, ContestSchema.precinct))
    assert(jobs === 1)
    assert(n === 75L)
    assert(spark.read.parquet(out).count() === n)
  }

  test("IngestJob.run reads a mixed bundle in one Spark job and returns the rows it wrote") {
    val id = header.indices
    val dir = bundle(
      "a.csv" -> lines(",", id, 30, 0),
      "b.txt" -> lines("\t", id.reverse, 20, 30),
      "c.txt" -> lines(";", Seq(2, 0, 4, 1, 3), 10, 50),
      "d.txt" -> lines("|", Seq(4, 3, 0, 1, 2), 5, 60))
    val out = outDir()
    val (n, jobs) = jobsOf(IngestJob.run(spark, dir, out, ContestSchema.precinct))
    assert(jobs === 1)
    assert(n === 65L)
    val back = spark.read.parquet(out)
    assert(back.count() === n)
    assert(back.agg(sum("total_votes")).head().getLong(0) === (0 until 65).sum.toLong)
  }

  test("IngestJob.run returns 0 for a header-only file") {
    val dir = bundle("h.csv" -> (header.mkString(",") + "\n"))
    assert(IngestJob.run(spark, dir, outDir(), ContestSchema.precinct) === 0L)
  }

  test("no inference: the read plans no job and every column is a string") {
    val dir = bundle("a.csv" -> lines(",", header.indices, 3, 0), "b.txt" -> lines("\t", header.indices, 3, 3))
    val (df, jobs) = jobsOf(RawReader.readDir(spark, dir))
    assert(jobs === 0)
    assert(df.schema.fields.forall(_.dataType == StringType))
  }
}
