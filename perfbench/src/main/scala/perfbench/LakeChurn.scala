package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{Lake, MatView}
import graft.ops.ContestData

/** `lake_churn` — writes beside reads on one table. Setup lands the
  * contest rows as a Lake table keyed on `row_id` and defines a MatView
  * of sum(total_votes) by (county, candidate). A unit is one cycle:
  * upsert a re-reported batch (1% of the rows, all from one county),
  * refresh the view, read the head rollup (which MatViewRewrite should
  * serve from the view), read single rows by key and read the rollup as
  * of an older version; every second cycle after the first two (the
  * warm-up cycle and the first measured one) first deletes a key set
  * and compacts. Expected state is kept by the benchmark itself: per-row
  * values on the driver and one expected rollup per committed version.
  * Never touches CSV ingest or `ext`. */
final class LakeChurn(spark: SparkSession, seed: Long, work: String, rows: Long)
    extends Workload(spark, seed, work) {

  val name = "lake_churn"
  val tracedUnits = 2
  private val DeleteEvery = 2
  private val Files = 8
  private val PointReads = 5

  private var base = ""
  private def dir = s"$base/contest"
  private def mvDir = s"$base/contest-by-candidate"

  // expected state, indexed by position in row_id order
  private var ids: Array[Long] = Array.empty
  private var county: Array[String] = Array.empty
  private var cand: Array[String] = Array.empty
  private var votes: Array[Long] = Array.empty
  private var alive: Array[Boolean] = Array.empty
  private var version = 0L
  private val rollupAt = mutable.HashMap.empty[Long, Map[(String, String), Long]]
  private var cycle = 0
  private var lastBatch: Seq[Int] = Nil

  private def source(sfDir: String): DataFrame =
    ContestData.precinct(spark, sfDir).withColumn("row_id", monotonically_increasing_id())

  def setup(rep: Int): Unit = {
    if (base.nonEmpty) { MatView.unregister(dir); rm(base) }
    base = s"$work/lake-$rep"
    Gen.lineitem(spark, seed, rows, s"$base/sf")
    Lake.create(source(s"$base/sf"), dir, "row_id", targetFiles = Files)
    MatView.define(spark, dir, mvDir, Seq("county", "candidate"), Seq("total_votes"))
    facts("table_rows") = rows
  }

  def expect(): Unit = {
    val rs = source(s"$base/sf").select("row_id", "county", "candidate", "total_votes")
      .orderBy("row_id").collect()
    ids = rs.map(_.getLong(0)); county = rs.map(_.getString(1)); cand = rs.map(_.getString(2))
    votes = rs.map(_.getLong(3)); alive = Array.fill(rs.length)(true)
    version = 1L
    rollupAt(1L) = rollup()
    facts("input_sha256") = Check.rows(Seq("row_id", "county", "candidate", "total_votes"), rs)
  }

  override def rebase(): Unit = { rollupAt.clear(); lastBatch = Nil; expect() }

  private def rollup(): Map[(String, String), Long] = {
    val m = mutable.HashMap.empty[(String, String), Long]
    var i = 0
    while (i < ids.length) {
      if (alive(i)) { val k = (county(i), cand(i)); m(k) = m.getOrElse(k, 0L) + votes(i) }
      i += 1
    }
    m.toMap
  }

  private def commit(): Unit = { version += 1; rollupAt(version) = rollup() }

  private def keysFrame(pos: Seq[Int], extra: Int => Long = null): DataFrame = {
    import spark.implicits._
    if (extra == null) pos.map(ids(_)).toDF("row_id")
    else pos.map(p => (ids(p), extra(p))).toDF("row_id", "total_votes")
  }

  private def rollupRows(df: DataFrame): Map[(String, String), Long] =
    df.groupBy("county", "candidate").agg(sum("total_votes").as("total_votes")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  def unit(u: Round, trace: Option[Trace]): Unit = {
    val c = cycle; cycle += 1
    if (c > 0 && c % DeleteEvery == 0) {
      val del = (0 until ids.length / 500).map(j => Gen.pick(seed, 70 + c, j, ids.length)).distinct
        .filter(alive(_)).filterNot(lastBatch.contains)
      val keys = keysFrame(del)
      op(u, "delete", trace) {
        val v = traced(trace, "lake.delete")(Lake.delete(spark, dir, keys))
        del.foreach(alive(_) = false); commit()
        v == version
      }
      op(u, "compact", trace) {
        val v = traced(trace, "lake.compact")(Lake.compact(spark, dir, Files))
        commit()
        v == version
      }
    }

    // a re-reported batch: 1% of all rows, drawn from one county's rows
    val target = s"COUNTY_${Gen.pick(seed, 60, c, 10)}"
    val inCounty = ids.indices.filter(i => county(i) == target && alive(i))
    val batch = (0 until ids.length / 100).map(j => inCounty(Gen.pick(seed, 61 + c, j, inCounty.size))).distinct
    val newVotes = batch.map(p => p -> (votes(p) + 1 + Gen.pick(seed, 62 + c, p, 50))).toMap
    val batchPath = s"$base/batch-$c"
    val src = source(s"$base/sf")
    src.drop("total_votes").join(broadcast(keysFrame(batch, newVotes)), "row_id")
      .select(src.columns.toSeq.map(col): _*)
      .coalesce(1).write.parquet(batchPath)
    op(u, "upsert", trace) {
      val v = traced(trace, "lake.upsert")(Lake.upsert(spark, dir, spark.read.parquet(batchPath)))
      newVotes.foreach { case (p, x) => votes(p) = x }
      commit()
      if (trace.isDefined) {
        u.steps += "rows_changed" -> batch.size.toDouble
        u.steps += "rows_rewritten" -> Lake.history(dir).last.addedRows.toDouble
      }
      v == version
    }
    lastBatch = batch
    rm(batchPath)

    op(u, "refresh", trace) {
      traced(trace, "mv.refresh")(MatView.refresh(spark, dir)).builtVersion == version
    }

    op(u, "head_read", trace) {
      val q = spark.read.format("graft-lake").option("path", dir).load()
      val got = traced(trace, "lake.head_read")(rollupRows(q))
      if (trace.isDefined) {
        val plan = q.groupBy("county", "candidate").agg(sum("total_votes").as("total_votes"))
          .queryExecution.optimizedPlan.toString
        u.steps += "served_from_view" -> (if (plan.contains(new File(mvDir).getName)) 1.0 else 0.0)
      }
      got == expectedRollup(version)
    }

    val deleted = alive.indices.find(!alive(_)).toSeq
    val points = (batch.take(2) ++ deleted.take(1) ++
      (0 until PointReads).map(j => Gen.pick(seed, 80 + c, j, ids.length))).take(PointReads)
    points.foreach { p =>
      op(u, "point_read", trace) {
        val t = traced(trace, "lake.read_resolve")(Lake.read(spark, dir))
        val got = t.filter(col("row_id") === ids(p)).select("row_id", "county", "candidate", "total_votes")
          .collect().toSeq
        got == (if (alive(p)) Seq(Row(ids(p), county(p), cand(p), votes(p))) else Nil)
      }
    }

    val old = math.max(1L, version - 3)
    op(u, "asof_read", trace) {
      val t = traced(trace, "lake.read_resolve")(Lake.read(spark, dir, old))
      rollupRows(t) == expectedRollup(old)
    }
  }

  private def expectedRollup(v: Long): Map[(String, String), Long] = {
    val r = rollupAt(v)
    if (corrupt.contains("head_read") && v == version) r.map { case (k, x) => k -> (x + 1) } else r
  }

  def named(units: Seq[Round]): Seq[(String, Double, String)] = {
    val ops = units.flatMap(_.ops)
    Seq(
      ("lake_ops_per_s", ops.size / (units.map(_.ms).sum / 1000), "1/s"),
      ("commit_p50_ms", Stats.median(ops.filter(o => Set("upsert", "delete", "compact")(o.kind)).map(_.ms)), "ms"),
      ("refresh_p50_ms", p50(units, "refresh"), "ms"),
      ("rollup_read_p50_ms", p50(units, "head_read"), "ms"),
      ("point_read_p50_ms", p50(units, "point_read"), "ms"),
      ("asof_read_p50_ms", p50(units, "asof_read"), "ms"))
  }

  def layers(t: Trace, units: Seq[Round]): Map[String, Double] = {
    def calls(name: String) = math.max(t.spans.count(_.name == name), 1).toDouble
    def per(name: String) = t.spanMs(_.name == name) / calls(name)
    def jobs(name: String) = t.jobsIn(t.within(_.name == name)).size / calls(name)
    def stepSum(k: String) = units.flatMap(_.steps).filter(_._1 == k).map(_._2).sum
    val m = Lake.manifest(dir, Lake.latestVersion(dir))
    val liveBytes = m.files.map(f => new File(dir, f.name).length).sum.toDouble
    def all(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(all) else Seq(f)
    val onDisk = all(new File(dir)).filter(f => f.getName.endsWith(".parquet") && f.getPath.contains("/data-"))
      .map(_.length).sum.toDouble
    Map(
      "lake.upsert_ms" -> per("lake.upsert"),
      "lake.upsert_jobs" -> jobs("lake.upsert"),
      "lake.delete_ms" -> per("lake.delete"),
      "lake.compact_ms" -> per("lake.compact"),
      "lake.read_resolve_ms" -> per("lake.read_resolve"),
      "lake.rows_rewritten_per_row_changed" -> stepSum("rows_rewritten") / math.max(stepSum("rows_changed"), 1),
      "lake.files_live" -> m.files.size.toDouble,
      "lake.space_amp" -> (if (liveBytes > 0) onDisk / liveBytes else 0.0),
      "mv.refresh_ms" -> per("mv.refresh"),
      "mv.refresh_jobs" -> jobs("mv.refresh"),
      "mv.serve_rewrite_ratio" -> stepSum("served_from_view") / math.max(units.count(_.ops.exists(_.kind == "head_read")), 1))
  }
}
