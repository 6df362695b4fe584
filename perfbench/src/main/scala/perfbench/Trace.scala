package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracing from outside the program: spans the benchmark
  * opens around each call into a layer, plus a SparkListener and a
  * QueryExecutionListener whose events are attributed to the innermost
  * open span (through a SparkContext local property) and to a layer
  * (through the source file in the job's `callSite.short`). Written
  * out when the run ends; nothing here runs when tracing is off. */
final class Trace(spark: SparkSession) {

  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long = -1L)

  /** One Spark job, with the task-level sums the listener saw. */
  final class Job(val id: Int, val span: Int, val callSite: String, val start: Long) {
    var end = -1L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var bytesRead = 0L
    def layer: String = Trace.layerOf(callSite)
  }

  /** Catalyst phase times of one query execution. The listener runs on
    * the listener-bus thread, so these are not tied to a span. */
  final case class Phases(analysis: Long, optimization: Long, planning: Long)

  private val Prop = "perfbench.span"
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val phases = mutable.ArrayBuffer.empty[Phases]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stack = mutable.Stack[Int](-1)
  @volatile var on = false
  var op = -1

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(Prop))).map(_.toInt).getOrElse(-1)
      val cs = p.flatMap(x => Option(x.getProperty("callSite.short"))).getOrElse("")
      val j = new Job(e.jobId, span, cs, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.bytesRead += m.inputMetrics.bytesRead
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (on) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      Trace.this.synchronized { phases += Phases(ms("analysis"), ms("optimization"), ms("planning")) }
    }
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
  }

  /** Stop recording and wait until the listener bus has delivered every
    * event posted so far. */
  def stop(): Unit = {
    on = false
    Trace.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def span[T](name: String)(body: => T): T = {
    val id = synchronized {
      val s = Span(spans.size, name, stack.top, op, System.nanoTime())
      spans += s; s.id
    }
    val prev = sc.getLocalProperty(Prop)
    stack.push(id)
    sc.setLocalProperty(Prop, id.toString)
    try body
    finally {
      stack.pop()
      sc.setLocalProperty(Prop, prev)
      synchronized { spans(id).end = System.nanoTime() }
    }
  }

  /** Span ids under (and including) each root whose name satisfies `p`. */
  def within(p: Span => Boolean): Set[Int] = synchronized {
    val roots = spans.filter(p).map(_.id).toSet
    spans.foldLeft(roots)((acc, s) => if (acc(s.parent)) acc + s.id else acc)
  }
  def jobsIn(ids: Set[Int]): Seq[Job] = synchronized { jobs.values.filter(j => ids(j.span)).toSeq }
  def spanMs(p: Span => Boolean): Double = synchronized {
    spans.filter(s => p(s) && s.end > 0).map(s => (s.end - s.start) / 1e6).sum
  }
}

object Trace {
  /** Layer of a job from the source file of its call site, named by the
    * program's modules. The harness's own actions land in `bench`. */
  def layerOf(callSite: String): String = {
    val file = callSite.split(" at ").lastOption.getOrElse("").split(":").head
    file match {
      case "RawReader.scala" | "Sniffer.scala" | "Staging.scala" => "ingest"
      case "IngestJob.scala" => "ingest_job"
      case "FuzzyMatch.scala" | "DistrictExtract.scala" | "CountyRollup.scala" | "Normalize.scala" |
           "SchemaAlign.scala" | "ContestData.scala" => "ops"
      case "Lake.scala" => "lake"
      case "MatView.scala" => "mv"
      case "MatViewRewrite.scala" => "plans"
      case f if f.startsWith("Dedup") || f.startsWith("Similarity") || f.startsWith("TextStats") => "ext"
      case f if f.endsWith("Agg.scala") || f.endsWith("Expressions.scala") || f.startsWith("Shingles") => "functions"
      case "Main.scala" | "Workload.scala" | "Check.scala" | "Gen.scala" | "IngestBundle.scala" |
           "LakeChurn.scala" | "LlmDedup.scala" => "bench"
      case _ => "other"
    }
  }

  /** Block until the listener bus is idle (every posted event handled). */
  def drain(sc: SparkContext): Unit = {
    val m = sc.getClass.getMethods.find(_.getName == "listenerBus")
    m.foreach { mm =>
      val bus = mm.invoke(sc)
      bus.getClass.getMethods.find(x => x.getName == "waitUntilEmpty" && x.getParameterCount == 0)
        .foreach(_.invoke(bus))
    }
  }

  /** Length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 >= x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
