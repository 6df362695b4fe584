package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.IngestJob
import graft.ingest.{RawReader, Sniffer}
import graft.ops.{ContestData, CountyRollup, FuzzyMatch}
import graft.schema.ContestSchema

/** `ingest_bundle` — the reference flow: land an NCSBE-shaped CSV bundle
  * with `IngestJob.run`, then run the county rollup over the landed
  * parquet and check both. A unit is one `uniform` bundle (one delimiter,
  * one header: RawReader's single-scan path) followed by one `mixed`
  * bundle (per-file delimiter and column order: the per-file union
  * path). Never touches `lake` or `ext`. */
final class IngestBundle(spark: SparkSession, seed: Long, work: String, rows: Long, files: Int)
    extends Workload(spark, seed, work) {

  val name = "ingest_bundle"
  val tracedUnits = 1
  private val shapes = Seq("uniform", "mixed")
  private var base = ""
  private var bundleBytes = Map.empty[String, Long]
  private var expectedRollup = ""

  private def bundleDir(shape: String) = s"$base/$shape"

  def setup(rep: Int): Unit = {
    if (base.nonEmpty) rm(base)
    base = s"$work/ingest-$rep"
    val sfDir = s"$base/sf"
    Gen.lineitem(spark, seed, rows, sfDir)
    val source = Gen.bundleSource(spark, seed, ContestData.precinct(spark, sfDir))
    val sizes = Gen.writeBundles(source.toLocalIterator().asScala, source.columns.toSeq,
      shapes.map(s => Gen.shape(seed, s, files) -> bundleDir(s)))
    bundleBytes = shapes.zip(sizes).toMap
    facts("bundle_rows") = rows
    facts("bundle_files") = files
    facts("bundle_bytes") = bundleBytes
    facts("bundle_sha256") = shapes.map(s => s -> Gen.digest(Seq(bundleDir(s)))).toMap
    facts("bundle_delimiters") = shapes.map(s =>
      s -> Gen.shape(seed, s, files).seps.map(x => if (x == "\t") "\\t" else x)).toMap
  }

  /** The landed frame the program should produce, built from the
    * generator's source frame: every bundle column in its canonical
    * place, the district split out by construction, the rest null. The
    * reference's matcher (fuzzywuzzy WRatio > 60) also maps
    * `party_contest` to `Contest Name` and leaves `Choice Party` and
    * `Real Precinct` unmapped. */
  private def expectedLanding(source: DataFrame): DataFrame = {
    val from = Gen.headerMap.map(_._2).filterNot(_ == "real_precinct").map(c => c -> c).toMap ++
      Map("district" -> "district", "party_contest" -> "raw_contest_name") - "party_candidate"
    source.select(ContestSchema.precinct.fields.toSeq.map { f =>
      from.get(f.name).fold(lit(null).cast(f.dataType))(c => col(c).cast(f.dataType)).as(f.name)
    }: _*)
  }

  def expect(): Unit = {
    val source = Gen.bundleSource(spark, seed, ContestData.precinct(spark, s"$base/sf"))
    expectedRollup = Check.distributed(CountyRollup(expectedLanding(source)))
    if (corrupt.contains("rollup")) expectedRollup += "x"
  }

  def unit(u: Round, trace: Option[Trace]): Unit = shapes.foreach { shape =>
    val in = bundleDir(shape)
    val out = s"$work/landed-${u.id}-$shape"
    trace.foreach(probes(_, in))
    op(u, "bundle", trace) {
      val landed = step(u, "ingest", trace, s"ingest_job.run") {
        IngestJob.run(spark, in, out, ContestSchema.precinct)
      }
      val rolled = step(u, "rollup", trace, "ops.rollup") {
        Check.distributed(CountyRollup(spark.read.parquet(out)))
      }
      landed == rows && rolled == expectedRollup
    }
    trace.foreach { _ =>
      val parts = listFiles(new File(out)).filter(_.getName.endsWith(".parquet"))
      u.steps += "files_written" -> parts.size.toDouble
      u.steps += "bytes_written" -> parts.map(_.length).sum.toDouble
    }
    rm(out)
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  /** Traced runs only, outside op timing: the ingest layer's own calls,
    * made the way IngestJob.run makes them. */
  private def probes(t: Trace, in: String): Unit = {
    val paths = Option(new File(in).listFiles()).toSeq.flatten.filter(_.isFile).map(_.getPath).sorted
    t.span("probe.ingest.sniff")(paths.foreach(Sniffer.sniffFile))
    val raw = t.span("probe.ingest.read_dir")(RawReader.readDir(spark, in))
    t.span("probe.ops.fuzzy_map")(FuzzyMatch.mapColumns(ContestSchema.precinct.fieldNames.toSeq, raw.columns.toSeq))
  }

  def named(units: Seq[Round]): Seq[(String, Double, String)] = {
    val ingestMs = units.flatMap(_.steps).filter(_._1 == "ingest").map(_._2)
    Seq(
      ("ingest_rows_per_s", rows * ingestMs.size / (ingestMs.sum / 1000), "rows/s"),
      ("bundle_p50_s", p50(units, "bundle") / 1000, "s"),
      ("rollup_p50_s", stepP50(units, "rollup") / 1000, "s"))
  }

  def layers(t: Trace, units: Seq[Round]): Map[String, Double] = {
    val n = units.map(_.ops.size).sum.toDouble
    def spanJobs(name: String) = t.jobsIn(t.within(_.name == name))
    val read = spanJobs("probe.ingest.read_dir")
    val run = spanJobs("ingest_job.run")
    val gate = run.filter(_.callSite.contains("DistrictExtract.scala"))
    val rollup = spanJobs("ops.rollup")
    def stepSum(k: String) = units.flatMap(_.steps).filter(_._1 == k).map(_._2).sum
    Map(
      "ingest.sniff_ms" -> t.spanMs(_.name == "probe.ingest.sniff") / n,
      "ingest.read_dir_ms" -> t.spanMs(_.name == "probe.ingest.read_dir") / n,
      "ingest.read_dir_jobs" -> read.size / n,
      "ingest.infer_bytes_read" -> read.map(_.bytesRead).sum / n,
      "ingest_job.run_ms" -> t.spanMs(_.name == "ingest_job.run") / n,
      "ingest_job.jobs" -> run.size / n,
      "ingest_job.input_read_amp" -> run.map(_.bytesRead).sum.toDouble / (bundleBytes.values.sum * units.size),
      "ingest_job.files_written" -> stepSum("files_written") / n,
      "ingest_job.bytes_written" -> stepSum("bytes_written") / n,
      "ops.fuzzy_map_ms" -> t.spanMs(_.name == "probe.ops.fuzzy_map") / n,
      "ops.district_gate_ms" -> gate.map(j => (j.end - j.start).toDouble).sum / n,
      "ops.district_gate_jobs" -> gate.size / n,
      "ops.rollup_ms" -> t.spanMs(_.name == "ops.rollup") / n,
      "ops.rollup_tasks" -> rollup.map(_.tasks).sum / n,
      "ops.rollup_shuffle_bytes" -> rollup.map(_.shuffleWrite).sum / n)
  }
}
