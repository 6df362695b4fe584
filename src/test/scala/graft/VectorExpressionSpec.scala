package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Custom Catalyst expressions: correctness vs the HOF formulation,
  * codegen path, null handling, SQL registration. */
class VectorExpressionSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
    (2L, Array(0.5f, -0.5f), Array(2.0f, 2.0f)),
  ).toDF("id", "a", "b")

  test("vec_dot matches manual dot product") {
    val r = df.select(col("id"), VectorFunctions.vec_dot(col("a"), col("b")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(1L) === 32.0)
    assert(r(2L) === 0.0)
  }

  test("vec_qdot equals the HOF transform/zip_with/aggregate formulation") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val both = e.select(
      VectorFunctions.vec_qdot(col("embedding"), col("embedding")).as("expr_dot"),
      expr("""aggregate(zip_with(
        transform(embedding, x -> cast(round(cast(x as double) * 10000000) as bigint)),
        transform(embedding, x -> cast(round(cast(x as double) * 10000000) as bigint)),
        (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)""").as("hof_dot"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("vec_qdot rounds exact negative halves away from zero, in eval and codegen") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    import graft.functions.QuantizedDot
    def arr(xs: Float*) = Literal.create(xs.toArray, ArrayType(FloatType, containsNull = false))
    // −17/256 · 1e7 = −664062.5 exactly; 1e-7f quantizes to 1
    val cases = Seq(
      QuantizedDot(arr(-0.06640625f), arr(1e-7f)) -> -664063L,
      QuantizedDot(arr(0.06640625f), arr(1e-7f)) -> 664063L,
      QuantizedDot(arr(-0.06640625f, 0.06640625f), arr(-0.06640625f, 1e-7f)) ->
        (664063L * 664063L + 664063L))
    cases.foreach { case (e, want) =>
      assert(e.eval(InternalRow.empty) === want)
      assert(GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty).getLong(0) === want)
    }
    // and the SQL round every oracle mirror uses agrees
    assert(spark.sql("SELECT cast(round(cast(cast(-0.06640625 as float) as double) * 10000000) as bigint)")
      .head().getLong(0) === -664063L)
  }

  test("vec_sq8dot equals the HOF int8-clamp formulation and its codegen matches eval") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val both = e.select(
      VectorFunctions.vec_sq8dot(col("embedding"), col("embedding")).as("expr_dot"),
      expr("""aggregate(zip_with(
        transform(embedding, x -> greatest(-127L, least(127L, cast(floor(cast(x as double) * 127 + 0.5) as bigint)))),
        transform(embedding, x -> greatest(-127L, least(127L, cast(floor(cast(x as double) * 127 + 0.5) as bigint)))),
        (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)""").as("hof_dot"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // clamp actually engages on out-of-range components
    val big = Seq((Array(2.0f, -3.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val d = big.select(VectorFunctions.vec_sq8dot(col("a"), col("b"))).head.getLong(0)
    assert(d === 127L * 127L + (-127L) * 127L)
  }

  test("rolling_hash equals the interpreted HOF fold on real docs, empty, and null") {
    import graft.functions.StringFunctions.rolling_hash
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(100)
    val both = docs.select(
      rolling_hash(col("text")).as("expr_hash"),
      expr("""CASE WHEN length(text) = 0 THEN cast(0 as bigint) ELSE aggregate(
        |  transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1))),
        |  cast(0 as bigint),
        |  (acc, c) -> (acc * 31 + c) % 1000000007) END""".stripMargin).as("hof_hash"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    val edge = Seq(Some(""), Some("a"), None).toDF("t")
      .select(rolling_hash(col("t"))).collect()
    assert(edge(0).getLong(0) === 0L)
    assert(edge(1).getLong(0) === 'a'.toLong)
    assert(edge(2).isNullAt(0))
    // non-BMP: one step per CODE POINT (😀 = U+1F600), matching the HOF
    val emoji = Seq("a😀b").toDF("t").select(
      rolling_hash(col("t")).as("e"),
      expr("""aggregate(
        |  transform(sequence(1, length(t)), i -> ascii(substring(t, i, 1))),
        |  cast(0 as bigint),
        |  (acc, c) -> (acc * 31 + c) % 1000000007)""".stripMargin).as("h")).head
    assert(emoji.getLong(0) === emoji.getLong(1))
    assert(emoji.getLong(0) === (('a'.toLong * 31 + 0x1F600) % 1000000007L * 31 + 'b') % 1000000007L)
  }

  test("null input yields null") {
    val withNull = df.withColumn("a", when(col("id") === 1L, col("a")))
    val rows = withNull.select(VectorFunctions.vec_dot(col("a"), col("b"))).collect()
    assert(rows.count(_.isNullAt(0)) === 1)
  }

  test("SQL registration via FunctionRegistry works") {
    VectorFunctions.register(spark)
    df.createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT vec_dot(a, b) FROM vecs WHERE id = 1").head().getDouble(0)
    assert(r === 32.0)
  }

  test("GraftExtensions injects both functions (ExpressionInfo validates eagerly)") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext) // throws on invalid info/group
  }

  test("MinHashAgg: signature invariant under partitioning (merge is sound)") {
    import graft.functions.MinHashAgg.minhash_sig
    val sh = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        explode(expr(graft.ext.Dedup.shinglesExpr)).as("s"))
    def sigs(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("doc_id")).agg(minhash_sig(col("s")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val once = sigs(sh.coalesce(1))
    val many = sigs(sh.repartition(16))
    assert(once === many) // element-wise-min merge ⇒ partition-layout independent
    assert(once.values.head.length === 32)
  }

  test("type check rejects non-float arrays") {
    val bad = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    val ex = intercept[Exception] {
      bad.select(VectorFunctions.vec_dot(col("a"), col("b"))).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("array<float>") ||
      ex.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("vec_l2q/vec_ldot: aggregate(zip_with) null semantics — " +
      "length mismatch and null elements yield NULL (ADVICE r14)") {
    // nullable elements + uneven lengths; rows: clean, mismatched,
    // null-element, both-clean-longer
    val rows = Seq(
      (1L, Seq[java.lang.Long](1L, 2L, 3L), Seq[java.lang.Long](4L, 5L, 6L)),
      (2L, Seq[java.lang.Long](1L, 2L), Seq[java.lang.Long](1L, 2L, 3L)),
      (3L, Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)),
    ).toDF("id", "a", "b")
    def hof(op: String) = expr(
      s"aggregate(zip_with(a, b, (x, y) -> $op), cast(0 as bigint), (acc, v) -> acc + v)")
    val got = rows.select(col("id"),
      VectorFunctions.vec_l2q(col("a"), col("b")).as("l2"),
      hof("(x - y) * (x - y)").as("l2_hof"),
      VectorFunctions.vec_ldot(col("a"), col("b")).as("dot"),
      hof("x * y").as("dot_hof")).collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"l2 null parity broken on id=${r.getLong(0)}")
      assert(r.isNullAt(3) === r.isNullAt(4), s"dot null parity broken on id=${r.getLong(0)}")
      if (!r.isNullAt(1)) assert(r.getLong(1) === r.getLong(2))
      if (!r.isNullAt(3)) assert(r.getLong(3) === r.getLong(4))
    }
    assert(got.count(_.isNullAt(1)) === 2) // rows 2 (mismatch) and 3 (null element)
  }

  test("md5_fold60 equals the conv(substring(md5)) chain on real docs, unicode, empty, null") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text").as("s"))
      .unionByName(Seq("", "é" + "́", "🌍abc", "p" * 5000).toDF("s"))
      .unionByName(Seq(Option.empty[String]).toDF("s"))
    graft.functions.StringFunctions.register(spark) // SQL name resolves too
    val both = docs.select(
      expr("md5_fold60(s)").as("fast"),
      expr("cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)").as("chain"))
      .collect()
    both.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) === r.getLong(1))
    }
    assert(both.exists(_.isNullAt(0))) // the null row exercised null-in → null-out
  }
}
