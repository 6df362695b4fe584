package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare. Exits 1 after the dump when
  * any query failed, naming the failures on stderr. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Graft.defaultCores.toString)
    val spark = Graft.builder(s"local[$cpus]", math.min(8, cpus.toInt))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
      finally spark.catalog.clearCache() // free per-query persist()s
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
