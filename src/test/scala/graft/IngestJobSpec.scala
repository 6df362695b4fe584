package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.{ContestData, CountyRollup}
import graft.schema.ContestSchema

/** End-to-end ingest job + partitioned county materialization with
  * partition pruning verified in the physical plan. */
class IngestJobSpec extends SparkSpec {

  test("IngestJob: staged CSVs → partitioned canonical parquet") {
    val in = Files.createTempDirectory("graft_job_in").toFile
    val out = Files.createTempDirectory("graft_job_out").toFile.getPath + "/contest"
    Files.writeString(in.toPath.resolve("results.csv"),
      "County,Contest Name,Choice,Total Votes\n" +
        "WAKE,US HOUSE OF REPRESENTATIVES DISTRICT 4,Jane Doe,1234\n" +
        "DURHAM,GOVERNOR,John Roe,777\n")
    val n = IngestJob.run(spark, in.getPath, out, ContestSchema.precinct,
      overrides = Seq("election_date" -> "11/06/2012"))
    assert(n === 2L)
    val back = spark.read.parquet(out)
    assert(back.columns.toSet === ContestSchema.precinctColumns.toSet)
    // constant injection landed as the partition value
    assert(back.select("election_date").distinct().head().getDate(0)
      === java.sql.Date.valueOf("2012-11-06"))
    val row = back.filter(col("county") === "WAKE").head()
    assert(row.getAs[String]("contest_name") === "US HOUSE OF REPRESENTATIVES ")
    assert(row.getAs[String]("district") === " 4")
    assert(row.getAs[String]("candidate") === "Jane Doe") // Choice fallback
  }

  test("digits-only district column lands: the gate sees it truthy, no CAST_INVALID_INPUT") {
    val in = Files.createTempDirectory("graft_job_in").toFile
    val out = Files.createTempDirectory("graft_job_out").toFile.getPath + "/contest"
    Files.writeString(in.toPath.resolve("results.csv"),
      "County,Contest Name,district\nWAKE,US HOUSE DISTRICT 4,4\n")
    assert(IngestJob.run(spark, in.getPath, out, ContestSchema.precinct) === 1L)
    val row = spark.read.parquet(out).head()
    assert(row.getAs[String]("contest_name") === "US HOUSE DISTRICT 4") // not split
    assert(row.getAs[String]("district") === "4")
  }

  test("NCSBE MM/dd/yyyy election dates land in their partition") {
    val in = Files.createTempDirectory("graft_job_in").toFile
    val out = Files.createTempDirectory("graft_job_out").toFile.getPath + "/contest"
    Files.writeString(in.toPath.resolve("results.csv"),
      "County,Election Date,Contest Name,Choice,Total Votes\nWAKE,11/06/2012,US SENATE,SMITH,10\n")
    assert(IngestJob.run(spark, in.getPath, out, ContestSchema.precinct) === 1L)
    val parts = new java.io.File(out).list().filter(_.startsWith("election_date="))
    assert(parts.toSeq === Seq("election_date=2012-11-06"))
    assert(spark.read.parquet(out).head().getAs[Long]("total_votes") === 10L)
  }

  test("county materialization partitions by election_date and prunes") {
    val out = Files.createTempDirectory("graft_county").toFile.getPath + "/county"
    CountyRollup.materialize(ContestData.precinct(spark, "/root/testdata/sf0.001"), out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("election_date=")))
    val someDate = dirs.head.stripPrefix("election_date=")
    val q = spark.read.parquet(out).filter(col("election_date") === someDate)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains(someDate), s"expected partition pruning in:\n$plan")
    assert(q.count() > 0)
  }

  test("typed Dataset[ContestRow] surface round-trips") {
    val ds = ContestData.typedPrecinct(spark, "/root/testdata/sf0.001")
    val row = ds.head()
    assert(row.total_votes ===
      row.election_day + row.one_stop + row.absentee_by_mail + row.provisional)
    // typed aggregation compiles and agrees with the untyped path
    val typedCount = ds.filter(_.winner_flag == 1L).count()
    val untypedCount = ContestData.precinct(spark, "/root/testdata/sf0.001")
      .filter(col("winner_flag") === 1L).count()
    assert(typedCount === untypedCount)
  }

  test("CLI parse: kind slot is positional only when it names a kind") {
    val (_, _, s1, o1) = IngestJob.parseArgs(Array("in", "out", "county", "a=b"))
    assert(s1 === ContestSchema.county && o1 === Seq("a" -> "b"))
    // override in the kind slot must NOT be eaten as an unknown kind
    val (_, _, s2, o2) = IngestJob.parseArgs(
      Array("in", "out", "election_date=11/06/2012", "candidate=Choice"))
    assert(s2 === ContestSchema.precinct)
    assert(o2 === Seq("election_date" -> "11/06/2012", "candidate" -> "Choice"))
    // non-k=v straggler is an error, not silently dropped
    assertThrows[IllegalArgumentException] {
      IngestJob.parseArgs(Array("in", "out", "precint"))
    }
  }
}
