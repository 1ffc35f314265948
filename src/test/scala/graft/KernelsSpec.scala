package graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.ExpressionColumns.{toColumn, toExpr}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions._

/** The kernel table's two surfaces: SQL through [[GraftExtensions]],
  * and Columns built straight from the constructors, which must not
  * depend on the calling thread. Plus one generated-input property
  * pinning every text kernel to its restated builtin reference. */
class KernelsSpec extends SparkSpec {

  test("a session built withExtensions(GraftExtensions) resolves every kernel through SQL") {
    // built on the shared SparkContext, without becoming the active session
    val ext = TestSpark.sqlSpark
    assert(ext.sparkContext eq spark.sparkContext)
    assert(!SparkSession.getActiveSession.contains(ext))
    // one call per kernel, each a predicate on its known value
    val calls = Map(
      "dot_long" -> "dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) = 32",
      "quantize_long" -> "quantize_long(array(0.5D, -1.0D)) = array(500000L, -1000000L)",
      "int8_codes" -> "int8_codes(array(1.0D, -2.0D)) = array(64L, -127L)",
      // one table of two planes over 2 dims: both dots are >= 0
      "ann_buckets" -> "ann_buckets(array(1L, -1L), array(1L, 1L, 1L, -1L), 2, 1) = array(3L)",
      // q = (0, 1): centroid 9 at squared distance 0, centroid 7 at 2
      "ivf_probes" -> ("ivf_probes(array(named_struct('cid', 7L, 'cq', array(1L, 0L), 'cn2', 1L), " +
        "named_struct('cid', 9L, 'cq', array(0L, 1L), 'cn2', 1L)), array(0L, 1L), 1L, 1) = array(9L)"),
      "token_count" -> "token_count(' a  b ') = 2",
      "tokens_ws" -> "tokens_ws(' a  b ') = array('a', 'b')",
      "term_freqs" -> "term_freqs(array('a', 'b', 'a'), array('a', 'c')) = array(2L, 0L)",
      "count_in" -> "count_in(array('a', 'b', 'a'), array('a', 'b')) = 3",
      "filter_in" -> "filter_in(array('a', 'b', 'c'), array('a', 'c')) = array('a', 'c')",
      "hash60" -> "hash60('abc') = CAST(conv(substring(md5('abc'), 1, 15), 16, 10) AS BIGINT)",
      "hash60b" -> "hash60b('abc') = CAST(conv(substring(md5('abc'), 16, 15), 16, 10) AS BIGINT)",
      "hash120" -> "hash120('abc') = named_struct('h1', hash60('abc'), 'h2', hash60b('abc'))",
      "ngram_hash60" -> "ngram_hash60(array('a', 'b', 'c'), 2) = array(hash60('a b'), hash60('b c'))",
      "skipgram_pairs" -> ("skipgram_pairs(array('a', 'b', 'c'), 1) = " +
        "array(named_struct('center', 'a', 'context', 'b'), named_struct('center', 'b', 'context', 'c'))"),
      "ed1" -> "ed1('ab', 'abc') = 1")
    assert(calls.keySet == Kernels.table.map(_.name).toSet)
    assert(Kernels.table.map(_.name).distinct.length == Kernels.table.length)
    for ((name, call) <- calls)
      assert(ext.sql(s"SELECT $call").head().getBoolean(0), s"$name: $call")
    // the shared test session was built without the extensions
    assert(!spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("ed1")))
  }

  test("kernel Columns built on a thread with no active session still plan the kernels") {
    @volatile var built: Either[Throwable, Seq[Column]] = Left(new IllegalStateException("not run"))
    val t = new Thread(() => {
      SparkSession.clearActiveSession()
      built =
        try {
          assert(SparkSession.getActiveSession.isEmpty)
          Right(Seq(TextOps.tokens(col("text")).as("t"), TextOps.hash60(col("text")).as("h")))
        } catch { case e: Throwable => Left(e) }
    })
    t.start()
    t.join()
    val cols = built.fold(e => throw e, identity)
    val plan = graft.sources.Tables.documents(spark, sf).select(cols: _*)
      .queryExecution.executedPlan
    val classes = plan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e => e.getClass.getSimpleName }).toSet
    assert(classes("TokensWs") && classes("Hash60"), classes)
    assert(!classes("ArrayFilter") && !classes("Conv"), classes)
  }

  // text columns over multi-byte UTF-8 (BMP and astral), whitespace runs,
  // non-separator whitespace, empty strings and nulls
  private val piece: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("the", "a", "of", "and", "join", "x"),
    3 -> Gen.oneOf("語", "多字节", "é", "héllo", "🙂", "Å𝕏"),
    4 -> Gen.oneOf(" ", "  ", "   "),
    1 -> Gen.oneOf("\t", "\n", "\u00a0"))
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some("")),
    12 -> Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, piece)).map(ps => Some(ps.mkString)))

  test("text kernels equal their restated builtin references on generated text") {
    val texts = Gen.listOfN(400, text).pureApply(Gen.Parameters.default, Seed(20260417L))
    assert(texts.contains(None) && texts.contains(Some("")))
    val schema = StructType(Seq(StructField("text", StringType, nullable = true)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(texts.map(s => Row(s.orNull)), 4), schema)
    val words = Seq("the", "a", "語", "🙂")
    val s = col("text")
    val t = KernelRefs.tokens(s)
    val h120 = toColumn(Hash120(toExpr(s)))
    // kernels yield null on a null input array where the when(size(...))
    // references yield an empty one; term_freqs' reference is an array
    // of nulls there — both sides are normalized the same way
    def orEmpty(c: Column, tpe: String) = coalesce(c, array().cast(tpe))
    val pairs: Seq[(String, Column, Column)] = Seq(
      ("tokens_ws", toColumn(TokensWs(toExpr(s))), t),
      ("count_in", toColumn(CountIn(toExpr(t), words)), KernelRefs.countIn(t, words)),
      ("filter_in", toColumn(FilterIn(toExpr(t), words)), KernelRefs.filterIn(t, words)),
      ("term_freqs", toColumn(TermFreqs(toExpr(t), words)),
        when(s.isNotNull, KernelRefs.termFreqs(t, words))),
      ("hash60", toColumn(Hash60(toExpr(s))), KernelRefs.hash60(s)),
      ("hash60b", toColumn(Hash60B(toExpr(s))), KernelRefs.hash60b(s)),
      ("hash120.h1", h120.getField("h1"), KernelRefs.hash60(s)),
      ("hash120.h2", h120.getField("h2"), KernelRefs.hash60b(s)),
      ("ngram_hash60", orEmpty(toColumn(NgramHash60(toExpr(t), 3)), "array<bigint>"),
        orEmpty(KernelRefs.ngramHash60(t, 3), "array<bigint>")),
      ("skipgram_pairs",
        orEmpty(toColumn(SkipgramPairs(toExpr(t), 3)), "array<struct<center:string,context:string>>"),
        orEmpty(KernelRefs.skipgramPairs(t, 3), "array<struct<center:string,context:string>>")))
    // whole-stage codegen, then the interpreted eval paths
    val interpreted = Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    for (conf <- Seq(Map.empty[String, String], interpreted)) {
      conf.foreach { case (key, v) => spark.conf.set(key, v) }
      try {
        for ((name, kernel, ref) <- pairs) {
          val bad = df.where(!(kernel <=> ref)).collect().map(r => Option(r.getString(0)))
          assert(bad.isEmpty, s"$name under $conf diverges on: ${bad.take(5).mkString(" | ")}")
        }
      } finally conf.keys.foreach(spark.conf.unset)
    }
  }
}
