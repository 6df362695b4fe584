package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Everything the program sees is derived from
  * `seed`: the same seed gives byte-identical CSV bundles and the same
  * table contents, key sets and null-token positions. */
object Gen {

  /** Deterministic 64-bit mix of (seed, stream, index) — splitmix64. */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def pick(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Math.floorMod(mix(seed, stream, i), n.toLong).toInt

  private def hashCol(seed: Long, k: Int) = xxhash64(lit(seed), col("id"), lit(k))
  private def mod(c: org.apache.spark.sql.Column, n: Long) = pmod(c, lit(n))

  /** TPC-H-shaped `lineitem` with `rows` rows (sf0.1 ≈ 600k): the only
    * table `ContestData.precinct` reads. One parquet file. Ship dates
    * fall in a seeded 45-day window, so the contest rows carry the one
    * or two election dates a single NCSBE results bundle has. */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, sfDir: String): Unit = {
    val h = hashCol(seed, _: Int)
    spark.range(rows).select(
      (col("id") / 4).cast("long").as("l_orderkey"),
      mod(h(1), 20000L).as("l_partkey"),
      mod(h(2), 1000L).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (mod(h(3), 50L) + 1).cast("double").as("l_quantity"),
      (mod(h(4), 10000000L) / 100.0).as("l_extendedprice"),
      (mod(h(5), 11L) / 100.0).as("l_discount"),
      (mod(h(6), 9L) / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (mod(h(7), 3L) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (mod(h(8), 2L) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L + pick(seed, 1, 0, 2400) * 86400L) + mod(h(9), 45L) * 86400L)
        .as("l_shipdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$sfDir/lineitem.parquet")
  }

  private val vocab = Seq("a", "the", "spark", "table", "column", "row", "scan", "filter",
    "join", "group", "agg", "sort", "hash", "merge", "window", "stream", "batch", "query",
    "data", "value", "key", "order", "line", "part", "customer", "vector", "fast", "slow",
    "big", "small", "index")
  private val langs = Seq("en", "en", "es", "zh", "de", "fr")

  /** `documents` (doc_id, text, lang, source, n_chars): bag-of-words text
    * over a 31-word vocabulary, 10–100 tokens. Every tenth doc is a
    * near-duplicate (one token replaced) of an earlier original doc of at
    * least 40 tokens, so its shingle Jaccard stays far above the 0.5 dedup
    * threshold and MinHash banding finds the pair the exact oracle finds;
    * every two-hundredth doc is an exact copy. Copies are only ever made
    * of originals, so duplicate clusters are stars and their number and
    * shape do not vary with the seed. */
  def documents(spark: SparkSession, seed: Long, n: Int, sfDir: String): Unit = {
    val texts = new Array[Array[String]](n)
    def fresh(i: Int) = Array.tabulate(10 + pick(seed, 14, i, 91))(j => vocab(pick(seed, 15, i * 128L + j, vocab.size)))
    def original(i: Int, stream: Int, minLen: Int): Option[Int] =
      (0 until 16).map(k => pick(seed, stream + k * 100, i, i))
        .find(j => j % 10 != 5 && j % 200 != 7 && texts(j).length >= minLen)
    val rows = (0 until n).map { i =>
      val toks =
        if (i % 200 == 7) original(i, 11, 0).fold(fresh(i))(texts(_).clone())
        else if (i % 10 == 5) original(i, 12, 40).fold(fresh(i)) { src =>
          val t = texts(src).clone()
          t(pick(seed, 13, i, t.length)) = vocab(pick(seed, 17, i, vocab.size))
          t
        }
        else fresh(i)
      texts(i) = toks
      val text = toks.mkString(" ")
      Row(i.toLong, text, langs(pick(seed, 16, i, langs.size)), s"src${i % 20}", text.length.toLong)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$sfDir/documents.parquet")
  }

  /** `embeddings` (vec_id, embedding array<float> of 64 unit-norm dims,
    * label 0–9). */
  def embeddings(spark: SparkSession, seed: Long, n: Int, sfDir: String): Unit = {
    val rows = (0 until n).map { i =>
      val rnd = new java.util.SplittableRandom(mix(seed, 20, i))
      val v = Array.fill(64)(rnd.nextDouble() * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, pick(seed, 21, i, 10))
    }
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$sfDir/embeddings.parquet")
  }

  // ---- NCSBE-shaped CSV bundles ---------------------------------------

  /** NCSBE header → the contest_precinct column whose values it carries
    * (FIXTURES.md §2). `Real Precinct` is a source-only flag. */
  val headerMap: Seq[(String, String)] = Seq(
    "County" -> "county", "Election Date" -> "election_date", "Precinct" -> "precinct",
    "Contest Group ID" -> "contest_group_id", "Contest Type" -> "contest_type",
    "Contest Name" -> "contest_name", "Choice" -> "candidate", "Choice Party" -> "party_candidate",
    "Vote For" -> "vote_for", "Election Day" -> "election_day", "One Stop" -> "one_stop",
    "Absentee by Mail" -> "absentee_by_mail", "Provisional" -> "provisional",
    "Total Votes" -> "total_votes", "Real Precinct" -> "real_precinct")

  val NullToken = "Not Found"
  val delimiters: Seq[String] = Seq(",", "\t", ";", "|")

  /** Contest-name family per (contest_group_id, return-flag) contest:
    * the three `DISTRICT` regex branches (digit, letter, multi-letter
    * roman numeral), a mixed-case digit form and a name with no
    * district. Returns (raw NCSBE name, expected contest_name, expected
    * district) — the expected pair is spelled out by construction. */
  def contestName(seed: Long, contest: Int): (String, String, String) = {
    val d = 1 + pick(seed, 30, contest, 13)
    pick(seed, 31, contest, 5) match {
      case 0 => ("US SENATE", "US SENATE", null)
      case 1 => (s"US HOUSE OF REPRESENTATIVES DISTRICT $d", "US HOUSE OF REPRESENTATIVES ", s" $d")
      case 2 =>
        val l = ('A' + pick(seed, 32, contest, 26)).toChar
        (s"SUPERIOR COURT DISTRICT $l", "SUPERIOR COURT ", s" $l")
      case 3 =>
        val r = Seq("II", "III", "IV", "VII", "VIII")(pick(seed, 33, contest, 5))
        (s"SANITARY DISTRICT $r", "SANITARY ", s" $r")
      case _ => (s"Board of Education District $d", "BOARD OF EDUCATION ", s" $d")
    }
  }

  /** One bundle's rendering choices: per-file delimiter and column
    * order. `uniform` = one delimiter and one header for every file. */
  final case class Shape(name: String, seps: Seq[String], orders: Seq[Seq[Int]])

  def shape(seed: Long, name: String, files: Int): Shape = {
    val n = headerMap.size
    def perm(stream: Long): Seq[Int] = {
      val a = (0 until n).toArray
      for (i <- n - 1 to 1 by -1) {
        val j = pick(seed, stream, i, i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toSeq
    }
    name match {
      case "uniform" =>
        Shape(name, Seq.fill(files)(delimiters(pick(seed, 40, 0, delimiters.size))), Seq.fill(files)(perm(41)))
      case _ =>
        // every file its own delimiter (all four appear) and column order
        val rot = pick(seed, 42, 0, delimiters.size)
        Shape(name, (0 until files).map(f => delimiters((rot + f) % delimiters.size)),
          (0 until files).map(f => perm(43 + f)))
    }
  }

  /** The source frame a bundle renders: ContestData.precinct rows with
    * NCSBE contest names, the seeded `Not Found` positions already
    * nulled, and the district the program should extract. Columns:
    * every `headerMap` target plus `district` and a `row_no` in scan order. */
  def bundleSource(spark: SparkSession, seed: Long, precinct: DataFrame): DataFrame = {
    val names = (0 until 150).map(contestName(seed, _))
    val raw = typedLit(names.map(_._1)); val exp = typedLit(names.map(_._2))
    val dist = typedLit(names.map(n => Option(n._3).getOrElse("")))
    val contest = (substring(col("contest_group_id"), 2, 3).cast("int") * 3 +
      when(col("contest_name") === "CONTEST A", 0).when(col("contest_name") === "CONTEST N", 1).otherwise(2)) + 1
    val rowNo = col("row_no")
    def nullAt(stream: Int, perMille: Int, c: String) =
      when(pmod(xxhash64(lit(seed), lit(stream), rowNo), lit(1000L)) < perMille, lit(null).cast("string"))
        .otherwise(col(c))
    precinct
      // scan order of the single-file lineitem: stable for a given seed
      .withColumn("row_no", monotonically_increasing_id())
      .withColumn("contest_no", contest)
      .withColumn("raw_contest_name", element_at(raw, col("contest_no")))
      .withColumn("contest_name", element_at(exp, col("contest_no")))
      .withColumn("district", nullif(element_at(dist, col("contest_no")), lit("")))
      .withColumn("party_candidate", nullAt(50, 30, "party_candidate"))
      .withColumn("contest_type", nullAt(51, 10, "contest_type"))
      .withColumn("vote_for", when(pmod(xxhash64(lit(seed), lit(52), rowNo), lit(1000L)) < 20,
        lit(null).cast("long")).otherwise(col("vote_for")))
      .withColumn("real_precinct", when(col("precinct").endsWith("0"), "N").otherwise("Y"))
  }

  /** Stream `rows` (bundleSource, in row_no order) into one bundle per
    * (shape, dir), each of `shape.seps.size` files split round-robin by
    * row. Returns each bundle's byte size. */
  def writeBundles(rows: Iterator[Row], cols: Seq[String], bundles: Seq[(Shape, String)]): Seq[Long] = {
    val idx = cols.zipWithIndex.toMap
    final class Out(val file: File, val sep: String, val srcIdx: Array[Int]) {
      val w = new BufferedOutputStream(new FileOutputStream(file), 1 << 16)
    }
    val outs = bundles.map { case (shape, dir) =>
      val d = new File(dir); d.mkdirs()
      shape.seps.indices.map { f =>
        val sep = shape.seps(f)
        val order = shape.orders(f)
        val o = new Out(new File(d, f"results_pct_$f%02d.${if (sep == ",") "csv" else "txt"}"), sep,
          order.map { i =>
            val c = headerMap(i)._2
            idx(if (c == "contest_name") "raw_contest_name" else c)
          }.toArray)
        o.w.write((order.map(i => headerMap(i)._1).mkString(sep) + "\n").getBytes(UTF_8))
        o
      }
    }
    try {
      val sb = new java.lang.StringBuilder(256)
      var r = 0L
      rows.foreach { row =>
        outs.foreach { files =>
          val o = files((r % files.size).toInt)
          sb.setLength(0)
          var k = 0
          while (k < o.srcIdx.length) {
            if (k > 0) sb.append(o.sep)
            val v = row.get(o.srcIdx(k))
            sb.append(if (v == null) NullToken else v.toString)
            k += 1
          }
          sb.append('\n')
          o.w.write(sb.toString.getBytes(UTF_8))
        }
        r += 1
      }
    } finally outs.foreach(_.foreach(_.w.close()))
    outs.map(_.map(_.file.length()).sum)
  }

  /** SHA-256 over every file of `dirs` (sorted by path), hex. */
  def digest(dirs: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    dirs.flatMap(d => Option(new File(d).listFiles()).getOrElse(Array.empty[File]).toSeq)
      .filter(_.isFile).sortBy(_.getPath).foreach { f =>
        md.update(f.getName.getBytes(UTF_8))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  def digestStrings(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => { md.update(p.getBytes(UTF_8)); md.update(0.toByte) })
    md.digest().map("%02x".format(_)).mkString
  }
}
