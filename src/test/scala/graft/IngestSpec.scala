package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import graft.ingest.{RawReader, Sniffer}
import graft.ops.{Normalize, SchemaAlign}
import graft.schema.ContestSchema

/** S3 sniffer, S4 null token, S5 multi-file union, P1-P4 normalize,
  * U1 schema-align — the ingest path end-to-end on synthetic files
  * shaped like FIXTURES.md §2. */
class IngestSpec extends SparkSpec {

  test("S3: delimiter sniff picks dominant separator") {
    assert(Sniffer.sniffLine("a,b,c") === ",")
    assert(Sniffer.sniffLine("a\tb\tc") === "\t")
    assert(Sniffer.sniffLine("a|b|c") === "|")
    assert(Sniffer.sniffLine("a;b;c") === ";")
    assert(Sniffer.sniffLine("plain") === ",")
  }

  test("S4+S5: mixed-delimiter dir reads, 'Not Found' → null, union by name") {
    val dir = Files.createTempDirectory("graft_ingest").toFile
    Files.writeString(dir.toPath.resolve("f1.csv"),
      "County,Contest Name,Total Votes\nWAKE,US SENATE,100\nDURHAM,Not Found,7\n")
    Files.writeString(dir.toPath.resolve("f2.tsv"),
      "Contest Name\tCounty\nGOVERNOR\tORANGE\n")
    val df = RawReader.readDir(spark, dir.getPath)
    assert(df.columns.toSet === Set("County", "Contest Name", "Total Votes"))
    assert(df.count() === 3)
    assert(df.filter(df("Contest Name").isNull).count() === 1) // "Not Found"
    assert(df.filter(df("County") === "ORANGE").count() === 1)
  }

  test("P1-P4 + U1: mapping, constant injection, date parse, align") {
    import spark.implicits._
    val raw = Seq(("WAKE", "US SENATE", 100)).toDF("County", "Contest Name", "Total Votes")
    val mapping = Seq(
      "County" -> "county",
      "Contest Name" -> "contest_name",
      "Total Votes" -> "total_votes",
      "11/06/2012" -> "election_date", // constant with date parse
      "state" -> "contest_type")       // plain constant
    val aligned = SchemaAlign(Normalize(raw, mapping), ContestSchema.precinct)
    assert(aligned.columns.toSeq === ContestSchema.precinctColumns)
    val r = aligned.select("county", "contest_name", "total_votes",
      "election_date", "contest_type", "precinct").head()
    assert(r === Row("WAKE", "US SENATE", 100L,
      java.sql.Date.valueOf("2012-11-06"), "state", null))
  }

  test("U1: extra input columns dropped, order canonical") {
    import spark.implicits._
    val df = Seq(("x", "y")).toDF("county", "bogus_extra")
    val aligned = SchemaAlign(df, ContestSchema.county)
    assert(aligned.columns.toSeq === ContestSchema.countyColumns)
    assert(aligned.select("county").head().getString(0) === "x")
  }

  test("ingest golden path: sniff → read → fuzzy map → normalize → extract → align") {
    val dir = Files.createTempDirectory("graft_golden").toFile
    Files.writeString(dir.toPath.resolve("results.csv"),
      "County,Election Date,Contest Name,Choice,Total Votes\n" +
        "WAKE,11/06/2012,US HOUSE OF REPRESENTATIVES DISTRICT 4,Jane Doe,1234\n" +
        "WAKE,11/06/2012,US SENATE,John Roe,Not Found\n")
    val raw = RawReader.readDir(spark, dir.getPath)
    val m = graft.ops.FuzzyMatch.mapColumns(ContestSchema.precinctColumns, raw.columns.toSeq)
    assert(m("candidate") === "Choice") // fallback path
    // (source → canonical) in schema order; a swapped map would keep only
    // one canonical per source, and `Election Date` feeds two
    val normalized = Normalize(raw, ContestSchema.precinctColumns.flatMap(c => m.get(c).map(_ -> c)))
    val extracted = graft.ops.DistrictExtract.withGate(normalized)
    val out = SchemaAlign(extracted, ContestSchema.precinct)
    val rows = out.select("contest_name", "district", "candidate", "total_votes", "election_date")
      .collect().map(r => (r.get(0), r.get(1), r.get(2), r.get(3), r.get(4))).toSet
    val day = java.sql.Date.valueOf("2012-11-06") // NCSBE MM/dd/yyyy source text
    assert(rows === Set(
      ("US HOUSE OF REPRESENTATIVES ", " 4", "Jane Doe", 1234L, day),
      ("US SENATE", null, "John Roe", null, day)))
  }
}
