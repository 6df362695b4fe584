package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metric names (with units) and the ones common to every
  * workload: Spark job/task accounting and Catalyst phase times, taken
  * over the traced units' ops (probe spans excluded). */
object Layers {

  val Queries: Seq[String] = Seq("x2_minhash_lsh", "x2_dup_clusters", "x2_simhash", "x2_minhash_sketch",
    "x3_cosine_topk", "x3_ann_ivf", "x4_quality_signals", "x4_hll_distinct")

  /** Every per-layer metric, in report order. Values are per bundle for
    * `ingest*`/`ops*`, per cycle for `lake*`/`mv*`, per pass for `ext*`,
    * and per unit of work for `spark*`/`catalyst*`/`jvm*`. A layer a
    * workload does not touch reports 0. */
  val all: Seq[(String, String)] = Seq(
    "ingest.sniff_ms" -> "ms", "ingest.read_dir_ms" -> "ms", "ingest.read_dir_jobs" -> "count",
    "ingest.infer_bytes_read" -> "bytes",
    "ingest_job.run_ms" -> "ms", "ingest_job.jobs" -> "count", "ingest_job.input_read_amp" -> "ratio",
    "ingest_job.files_written" -> "count", "ingest_job.bytes_written" -> "bytes",
    "ops.fuzzy_map_ms" -> "ms", "ops.district_gate_ms" -> "ms", "ops.district_gate_jobs" -> "count",
    "ops.rollup_ms" -> "ms", "ops.rollup_tasks" -> "count", "ops.rollup_shuffle_bytes" -> "bytes",
    "lake.upsert_ms" -> "ms", "lake.upsert_jobs" -> "count", "lake.delete_ms" -> "ms",
    "lake.compact_ms" -> "ms", "lake.read_resolve_ms" -> "ms", "lake.rows_rewritten_per_row_changed" -> "ratio",
    "lake.files_live" -> "count", "lake.space_amp" -> "ratio",
    "mv.refresh_ms" -> "ms", "mv.refresh_jobs" -> "count", "mv.serve_rewrite_ratio" -> "ratio",
    "catalyst.optimization_ms" -> "ms") ++
    Queries.map(q => s"ext.${q}_ms" -> "ms") ++ Seq(
    "ext.memo_build_ms" -> "ms", "ext.shuffle_write_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.job_ms" -> "ms", "spark.driver_gap_ms" -> "ms",
    "spark.slot_util" -> "ratio", "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "catalyst.analysis_ms" -> "ms", "catalyst.planning_ms" -> "ms", "jvm.gc_ms" -> "ms")

  def common(t: Trace, units: Seq[Round], cores: Int, gcMs: Long): Map[String, Double] = {
    val n = math.max(units.size, 1).toDouble
    val ids = t.within(_.name.startsWith("op."))
    val jobs = t.jobsIn(ids)
    val union = Trace.unionMs(jobs.map(j => (j.start, j.end)))
    val opMs = units.flatMap(_.ops).map(_.ms).sum
    val ph = t.phases
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.tasks" -> jobs.map(_.tasks).sum / n,
      "spark.job_ms" -> union / n,
      "spark.driver_gap_ms" -> math.max(opMs - union, 0.0) / n,
      "spark.slot_util" -> (if (union > 0) jobs.map(_.taskMs).sum / (union * cores) else 0.0),
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / n,
      "spark.spill_bytes" -> jobs.map(_.spill).sum / n,
      "catalyst.analysis_ms" -> ph.map(_.analysis).sum / n,
      "catalyst.optimization_ms" -> ph.map(_.optimization).sum / n,
      "catalyst.planning_ms" -> ph.map(_.planning).sum / n,
      "jvm.gc_ms" -> gcMs / n)
  }

  /** Self time per layer (span name up to its first '.'): each span's
    * duration minus the part its child spans cover, in ms. */
  def selfTime(t: Trace): Map[String, Double] = {
    val done = t.spans.filter(_.end > 0)
    val kids = done.groupBy(_.parent)
    done.map { s =>
      val cover = Trace.unionMs(kids.get(s.id).toSeq.flatten.map(c => (c.start, c.end)).toSeq) / 1e6
      s.name.takeWhile(_ != '.') -> ((s.end - s.start) / 1e6 - cover)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def spansJsonl(t: Trace): String = {
    val spans = t.spans.map(s => Json.render(Json.obj("span" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end)))
    val jobs = t.jobs.values.map(j => Json.render(Json.obj("job" -> j.id, "span" -> j.span,
      "call_site" -> j.callSite, "layer" -> j.layer, "start_ms" -> j.start, "end_ms" -> j.end,
      "tasks" -> j.tasks, "task_ms" -> j.taskMs, "bytes_read" -> j.bytesRead,
      "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill)))
    (spans ++ jobs).mkString("", "\n", "\n")
  }
}

/** Host-noise record: what the run ran on and a fixed CPU probe taken
  * before and after the workload, so a contended run can be told from a
  * regression. */
object Host {

  /** Wall ms of a fixed xorshift loop on one thread and on all cores. */
  def cpuProbe(): Map[String, Long] = {
    def once(threads: Int): Long = {
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { i =>
        val t = new Thread(() => {
          var x = 0x9E3779B97F4A7C15L + i; var acc = 0L; var n = 0
          while (n < 20000000) { x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27; acc += x; n += 1 }
          if (acc == 42) println()
        })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1000000
    }
    once(1)
    Map("one_thread_ms" -> once(1), "all_cores_ms" -> once(Runtime.getRuntime.availableProcessors()))
  }

  def record(spark: SparkSession, before: Map[String, Long], after: Map[String, Long]): Map[String, Any] = Map(
    "available_processors" -> Runtime.getRuntime.availableProcessors(),
    "spark_master" -> spark.sparkContext.master,
    "max_heap_bytes" -> Runtime.getRuntime.maxMemory(),
    "java_version" -> System.getProperty("java.version"),
    "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
      .map(_.toString).filterNot(_.startsWith("--add-opens")),
    "spark_version" -> spark.version,
    "loadavg" -> scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse(""),
    "cpu_probe_before" -> before,
    "cpu_probe_after" -> after,
    "spark_conf" -> spark.conf.getAll.toMap)
}

/** Minimal JSON rendering for the artifact and the result line. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case p: Product => render(p.productIterator.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
