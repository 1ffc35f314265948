package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.ExpressionColumns.{toColumn, toExpr}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{Hash120, Hash60, Hash60B, NgramHash60, SkipgramPairs}

/** The r17 native hash kernels must be VALUE-IDENTICAL to the
  * composed-builtin forms they replaced — on the fixture documents and
  * on adversarial edge rows (null text, empty string, single space,
  * multi-byte UTF-8, long repeated text, strings shorter than the
  * window). The builtin chains are restated in [[KernelRefs]]; the
  * kernels are built straight from their constructors. */
class HashKernelsSpec extends SparkSpec {
  import KernelRefs.{hash60 => refHash60, hash60b => refHash60b, tokens => refTokens}

  private def edgeDf = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val rows = Seq(
      Row(1L, null),
      Row(2L, ""),
      Row(3L, " "),
      Row(4L, "one"),
      Row(5L, "two tokens"),
      Row(6L, "a b c d e f g"),
      Row(7L, "多字节 字符 と 混合 ascii mix"),
      Row(8L, ("lorem ipsum " * 40).trim),
      Row(9L, "  leading  and   trailing  "))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def fixtureDocs =
    graft.sources.Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))

  test("hash60/hash60b/hash120 match the conv(md5) chains on fixture + edges") {
    for (df <- Seq(fixtureDocs, edgeDf)) {
      val h120 = toColumn(Hash120(toExpr(col("text"))))
      val cmp = df.select(
          toColumn(Hash60(toExpr(col("text")))).as("k1"),
          toColumn(Hash60B(toExpr(col("text")))).as("k2"),
          h120.getField("h1").as("p1"), h120.getField("h2").as("p2"),
          refHash60(col("text")).as("r1"), refHash60b(col("text")).as("r2"))
        .where(!(col("k1") <=> col("r1")) || !(col("k2") <=> col("r2")) ||
          !(col("p1") <=> col("r1")) || !(col("p2") <=> col("r2")))
      assert(cmp.count() === 0)
    }
  }

  // The kernels propagate a NULL input array to a NULL output (the
  // standard UnaryExpression contract); the when(size(...)) reference
  // forms yield an EMPTY array for null input instead. Every call site
  // consumes the array via explode/posexplode (no rows either way) or
  // array_min (null either way), so the two are interchangeable there —
  // the comparisons below normalize null to [] and a dedicated case
  // pins the null behavior.

  test("ngram_hash60 matches the explode/concat_ws/hash chain for k=3 and k=20") {
    for (df <- Seq(fixtureDocs, edgeDf); k <- Seq(3, 20)) {
      val t = refTokens(col("text"))
      val empty = array().cast("array<bigint>")
      val cmp = df.select(
          coalesce(toColumn(NgramHash60(toExpr(t), k)), empty).as("kn"),
          coalesce(KernelRefs.ngramHash60(t, k), empty).as("rn"))
        .where(!(col("kn") <=> col("rn")))
      assert(cmp.count() === 0)
    }
  }

  test("skipgram_pairs kernel matches the flatten/transform/slice HOF form") {
    val empty = array().cast("array<struct<center:string,context:string>>")
    for (df <- Seq(fixtureDocs, edgeDf); w <- Seq(1, 3)) {
      val t = refTokens(col("text"))
      val cmp = df.select(
          coalesce(toColumn(SkipgramPairs(toExpr(t), w)), empty).as("kp"),
          coalesce(KernelRefs.skipgramPairs(t, w), empty).as("rp"))
        .where(!(col("kp") <=> col("rp")))
      assert(cmp.count() === 0)
    }
  }

  test("null token array: kernels yield null (explode/array_min equivalent to empty)") {
    val df = edgeDf.where(col("text").isNull)
      .select(refTokens(col("text")).as("t"))
    val ngrams = toColumn(NgramHash60(toExpr(col("t")), 3))
    assert(df.select(ngrams).collect().forall(_.isNullAt(0)))
    assert(df.select(toColumn(SkipgramPairs(toExpr(col("t")), 3)))
      .collect().forall(_.isNullAt(0)))
    // and explode of either null form produces zero rows
    assert(df.select(explode(ngrams)).count() === 0)
  }

  test("interpreted eval paths agree with codegen (filter forces eval)") {
    // a non-deterministic-free projection evaluated via Dataset.collect
    // exercises codegen; InterpretedUnsafeProjection is exercised by
    // constructing the expressions directly
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val lit3 = org.apache.spark.sql.catalyst.expressions.Literal(
      UTF8String.fromString("alpha beta gamma delta"), StringType)
    val h = Hash60(lit3).eval(InternalRow.empty)
    val hb = Hash60B(lit3).eval(InternalRow.empty)
    val viaDf = spark.sql(
      "SELECT CAST(conv(substring(md5('alpha beta gamma delta'), 1, 15), 16, 10) AS BIGINT) a, " +
      "CAST(conv(substring(md5('alpha beta gamma delta'), 16, 15), 16, 10) AS BIGINT) b").collect()(0)
    assert(h === viaDf.getLong(0))
    assert(hb === viaDf.getLong(1))
  }
}
