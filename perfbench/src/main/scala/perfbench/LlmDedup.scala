package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `llm_dedup` — the LLM-data operators. A unit is one pass: drop every
  * session memo (`SparkEntry.invalidateMemos`), then run the eight
  * registered dedup / similarity / text-signal queries over the seeded
  * `documents` and `embeddings` tables, so each pass pays its memo builds
  * and takes its same-pass memo hits. Each result is checked against the
  * query's registered DuckDB oracle SQL, run once per run by `oracle.py`.
  * Never touches `ingest`, `ops` or `lake`. */
final class LlmDedup(spark: SparkSession, seed: Long, work: String, docs: Int, vectors: Int, oracle: String)
    extends Workload(spark, seed, work) {

  val name = "llm_dedup"
  val tracedUnits = 1
  private val memoized = Seq("x2_minhash_lsh", "x2_simhash")
  private var sfDir = ""
  private var expected = Map.empty[String, String]

  def setup(rep: Int): Unit = {
    if (sfDir.nonEmpty) rm(new File(sfDir).getParent)
    sfDir = s"$work/llm-$rep/sf"
    Gen.documents(spark, seed, docs, sfDir)
    Gen.embeddings(spark, seed, vectors, sfDir)
    facts("documents") = docs
    facts("embeddings") = vectors
  }

  def expect(): Unit = {
    facts("input_sha256") = Seq("documents", "embeddings").map { t =>
      t -> Check.collected(spark.read.parquet(s"$sfDir/$t.parquet"))
    }.toMap
    val sqlFile = s"$work/oracle-sql.json"
    val outDir = s"$work/oracle"
    val p = new PrintWriter(sqlFile, "UTF-8")
    try p.print(Json.render(Json.obj(Layers.Queries.map(q => q -> SparkEntry.oracleSql(q)): _*)))
    finally p.close()
    val proc = new ProcessBuilder("python3", oracle, sfDir, sqlFile, outDir).inheritIO().start()
    require(proc.waitFor() == 0, s"oracle.py exited with ${proc.exitValue()}")
    expected = Layers.Queries.map(q => q -> Check.collected(spark.read.parquet(s"$outDir/$q.parquet"))).toMap
    if (corrupt.contains("x2_simhash")) expected += "x2_simhash" -> "corrupted"
  }

  private def run(q: String): String = Check.collected(SparkEntry.queries(q)(spark, sfDir))

  def unit(u: Round, trace: Option[Trace]): Unit = {
    SparkEntry.invalidateMemos()
    Layers.Queries.foreach { q =>
      op(u, q, trace)(traced(trace, s"ext.$q")(run(q)) == expected(q))
    }
    // traced runs only: the same memoized queries again, now warm
    trace.foreach { t =>
      memoized.foreach { q =>
        val s = System.nanoTime()
        t.span(s"probe.ext.warm_$q")(run(q))
        u.steps += s"warm_$q" -> (System.nanoTime() - s) / 1e6
      }
    }
  }

  def named(units: Seq[Round]): Seq[(String, Double, String)] =
    Seq(("llm_pass_s", Stats.median(units.map(_.ms)) / 1000, "s"))

  def layers(t: Trace, units: Seq[Round]): Map[String, Double] = {
    val n = math.max(units.size, 1).toDouble
    val cold = memoized.map(q => units.flatMap(_.ops).filter(_.kind == q).map(_.ms).sum).sum
    val warm = memoized.map(q => units.flatMap(_.steps).filter(_._1 == s"warm_$q").map(_._2).sum).sum
    Layers.Queries.map(q => s"ext.${q}_ms" -> t.spanMs(_.name == s"ext.$q") / n).toMap ++ Map(
      "ext.memo_build_ms" -> (cold - warm) / n,
      "ext.shuffle_write_bytes" ->
        t.jobsIn(t.within(_.name.startsWith("ext."))).map(_.shuffleWrite).sum / n)
  }
}
