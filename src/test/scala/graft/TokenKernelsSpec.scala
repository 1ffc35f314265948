package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.ExpressionColumns.{toColumn, toExpr}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{CountIn, FilterIn, TermFreqs, TokensWs}

/** The r17 native tokenization kernels must be VALUE-IDENTICAL to the
  * builtin forms they replaced — on the fixture documents and on
  * adversarial edge rows (null text, empty string, runs of spaces,
  * multi-byte UTF-8, tab/newline NON-separators). The builtin chains
  * are restated in [[KernelRefs]]; the kernels are built straight from
  * their constructors. */
class TokenKernelsSpec extends SparkSpec {
  import KernelRefs.{tokens => refTokens}

  private def edgeDf = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true)))
    val rows = Seq(
      Row(1L, null),
      Row(2L, ""),
      Row(3L, "   "),
      Row(4L, "one"),
      Row(5L, "  double  spaced   tokens "),
      Row(6L, "tab\tand\nnewline are not separators"),
      Row(7L, "多字节 字符 と ascii mix"),
      Row(8L, "the a of and to in is it the the a"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private def fixtureDocs =
    graft.sources.Tables.documents(spark, sf).select(col("doc_id").as("id"), col("text"))

  test("tokens_ws matches filter(split(text,' '), _ <> '') on fixture + edges") {
    for (df <- Seq(fixtureDocs, edgeDf)) {
      val cmp = df.select(
          toColumn(TokensWs(toExpr(col("text")))).as("k"),
          refTokens(col("text")).as("r"))
        .where(!(col("k") <=> col("r")))
      assert(cmp.count() === 0)
    }
  }

  test("term_freqs matches per-term size(filter(toks, = t)) counts") {
    val terms = Seq("the", "join", "多字节", "absent_term")
    for (df <- Seq(fixtureDocs, edgeDf)) {
      // non-null text only: on a null array the kernel yields null while
      // array(size(filter(null)),...) is an array OF nulls — the bm25
      // call site filters text IS NOT NULL before tokenizing, so only
      // the null→null contract matters (asserted below)
      val t = refTokens(col("text"))
      val cmp = df.where(col("text").isNotNull).select(
          toColumn(TermFreqs(toExpr(t), terms)).as("k"),
          KernelRefs.termFreqs(t, terms).as("r"))
        .where(!(col("k") <=> col("r")))
      assert(cmp.count() === 0)
    }
    assert(edgeDf.where(col("text").isNull)
      .select(toColumn(TermFreqs(toExpr(refTokens(col("text"))), terms)))
      .collect().forall(_.isNullAt(0)))
  }

  test("count_in / filter_in match the isin filter forms") {
    val words = Seq("the", "a", "of", "と")
    for (df <- Seq(fixtureDocs, edgeDf)) {
      val t = refTokens(col("text"))
      val cmp = df.select(
          toColumn(CountIn(toExpr(t), words)).as("kc"),
          KernelRefs.countIn(t, words).as("rc"),
          toColumn(FilterIn(toExpr(t), words)).as("kf"),
          KernelRefs.filterIn(t, words).as("rf"))
        .where(!(col("kc") <=> col("rc")) || !(col("kf") <=> col("rf")))
      assert(cmp.count() === 0)
    }
  }
}
