package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by run.py with the built classpath):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> --oracle <oracle.py>
  *                  [--corrupt <expectation>]
  *
  * Prints every named metric with its unit, writes the run artifact to
  * `--out`, and ends stdout with one JSON line: the gated end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). */
object Main {

  val Cores = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work")).getAbsolutePath
    val out = new File(a("out")).getAbsolutePath
    Stats.rm(new File(work)); new File(work).mkdirs(); new File(out).mkdirs()

    val start = System.nanoTime()
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%.1f s: $what")
    val probeBefore = Host.cpuProbe()
    val t0 = System.nanoTime()
    val spark = session(work)
    val builtS = (System.nanoTime() - t0) / 1e9
    spark.range(Cores.toLong).repartition(Cores).count()
    val sessionS = (System.nanoTime() - t0) / 1e9
    mark(f"session built in $builtS%.1f s, first job done")

    // sizes keep a whole run near 40 s on a 4-core host (see NOTES.md)
    val w: Workload = workload match {
      case "ingest_bundle" => new IngestBundle(spark, seed, work, rows = 50000L, files = 4)
      case "lake_churn" => new LakeChurn(spark, seed, work, rows = 20000L)
      case "llm_dedup" => new LlmDedup(spark, seed, work, docs = 200, vectors = 200, a("oracle"))
      case other => sys.error(s"unknown workload $other")
    }
    w.corrupt = a.get("corrupt")

    def timed(body: => Unit): Double = { val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9 }
    // The warm-up unit runs on the first set-up's inputs, so the later
    // set-ups (identical inputs) add JIT warm time before measurement.
    val firstRep = timed(w.setup(0))
    val expectS = timed(w.expect())
    val warm = new Round(-1)
    val warmS = timed(w.unit(warm, None))
    val repS = firstRep +: (1 until SetupReps).map(r => timed(w.setup(r)))
    w.rebase()
    val setupS = sessionS + Stats.median(repS) + warmS
    mark("set up, expectations computed, warmed up")

    def run(n: Int, tr: Option[Trace], from: Int): Seq[Round] =
      (from until from + n).map { i =>
        val u = new Round(i)
        tr.foreach(_.op = i)
        val s = System.nanoTime(); w.unit(u, tr); u.ms = (System.nanoTime() - s) / 1e6
        u
      }
    System.gc()
    var gcTraced = 0L
    val (measured, tracedUnits, tr) =
      if (!trace) {
        val until = System.nanoTime() + (seconds * 1e9).toLong
        val us = scala.collection.mutable.ArrayBuffer.empty[Round]
        var i = 0
        while (us.isEmpty || System.nanoTime() < until) { us ++= run(1, None, i); i += 1 }
        (us.toSeq, Seq.empty[Round], None)
      } else {
        val plain = run(1, None, 0)
        val t = new Trace(spark)
        val gc0 = gcMs()
        t.start()
        val traced = run(w.tracedUnits, Some(t), 1)
        t.stop()
        gcTraced = gcMs() - gc0
        (plain, traced, Some(t))
      }
    mark("measured")
    val probeAfter = Host.cpuProbe()

    val all = measured ++ tracedUnits
    val ops = all.flatMap(_.ops) ++ warm.ops
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val unitMs = measured.map(_.ms)

    // the gated end-to-end metrics, then the workload's own named ones
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("unit_p50_ms", Stats.median(unitMs), "ms"))
    val named = ("op_p50_ms", Stats.median(measured.flatMap(_.ops).filter(_.ok).map(_.ms)), "ms") +:
      w.named(measured)
    val layerMetrics: Seq[(String, Double, String)] = tr.toSeq.flatMap { t =>
      val own = w.layers(t, tracedUnits)
      val common = Layers.common(t, tracedUnits, Cores, gcTraced)
      Layers.all.map { case (n, unit) => (n, own.getOrElse(n, common.getOrElse(n, 0.0)), unit) }
    }

    // human-readable report, one metric a line
    println(s"[perfbench] workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0}")
    w.facts.get("bundle_sha256").orElse(w.facts.get("input_sha256"))
      .foreach(d => println(s"[perfbench] input digest: $d"))
    val tail = Stats.tail(unitMs)
    (e2e ++ named :+ (("op_fail_ratio", failed.toDouble / math.max(attempted, 1), "ratio"))).foreach {
      case (n, v, unit) => println(f"[perfbench] $n%-28s $v%.6g $unit")
    }
    println(s"[perfbench] units=${measured.size} tail=" +
      tail.fold(s"none (fewer than 20 samples)")(x => f"p${x._1}%.1f=${x._2}%.1f ms (${x._3} beyond)"))
    layerMetrics.foreach { case (n, v, unit) => println(f"[perfbench]   $n%-34s $v%.6g $unit") }

    val overhead = if (trace && measured.nonEmpty)
      Some(Stats.median(tracedUnits.map(_.ms)) / Stats.median(measured.map(_.ms)) - 1) else None
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> Json.obj((e2e ++ named).map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "op_fail_ratio" -> failed.toDouble / math.max(attempted, 1),
      "unit_ms" -> unitMs,
      "unit_p50_ms" -> Stats.median(unitMs),
      "unit_tail" -> tail.map(x => Json.obj("percentile" -> x._1, "ms" -> x._2, "beyond" -> x._3)),
      "setup" -> Json.obj("session_s" -> sessionS, "reps_s" -> repS, "warmup_s" -> warmS,
        "expectations_s" -> expectS),
      "ops" -> ops.groupBy(_.kind).map { case (k, v) =>
        k -> Json.obj("n" -> v.size, "failed" -> v.count(!_.ok), "p50_ms" -> Stats.median(v.map(_.ms)))
      },
      "facts" -> w.facts.toMap,
      "host" -> Host.record(spark, probeBefore, probeAfter),
      "per_layer" -> Json.obj(layerMetrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "self_ms_by_layer" -> tr.map(Layers.selfTime),
      "tracing_overhead" -> overhead)
    val stem = s"$out/$workload-seed$seed-trace${if (trace) 1 else 0}"
    write(s"$stem.json", Json.render(artifact))
    tr.foreach(t => write(s"$stem.spans.jsonl", Layers.spansJsonl(t)))

    mark("reported")
    spark.stop()
    Stats.rm(new File(work))
    mark("stopped")

    val metrics = if (trace) layerMetrics else e2e
    println(Json.render(Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
    // no lingering non-daemon thread may keep the run alive past its result
    sys.exit(0)
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def write(path: String, s: String): Unit = {
    val p = new PrintWriter(path, "UTF-8"); try p.print(s) finally p.close()
  }

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
