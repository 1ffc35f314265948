package graft.functions

import scala.reflect.ClassTag
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One native kernel's SQL surface: its function name, the expression
  * class it builds (for `DESCRIBE FUNCTION`), and the function that
  * builds that expression from the call's argument expressions. */
final case class Kernel(name: String, exprClass: Class[_], build: Seq[Expression] => Expression)

/** Every native kernel of the library, listed once. [[graft.GraftExtensions]]
  * injects each entry, which is how SQL callers reach them. Scala call
  * sites (TextOps, CoOccur, Retrieval, Similarity, Quantization, ...)
  * construct the same expressions directly through
  * `org.apache.spark.sql.ExpressionColumns`, so the plans they build
  * depend on neither a function registry nor the calling thread's
  * active session. */
object Kernels {

  val table: Seq[Kernel] = Seq(
    kernel("dot_long", 2)(a => DotLong(a(0), a(1))),
    kernel("quantize_long", 1)(a => QuantizeLong(a(0))),
    kernel("int8_codes", 1)(a => Int8Codes(a(0))),
    kernel("ann_buckets", 4)(a => AnnBuckets(a(0), a(1), a(2), a(3))),
    kernel("ivf_probes", 4)(a => IvfProbes(a(0), a(1), a(2), intLit(a(3), "ivf_probes probe count"))),
    kernel("token_count", 1)(a => TokenCount(a(0))),
    kernel("tokens_ws", 1)(a => TokensWs(a(0))),
    kernel("term_freqs", 2)(a => TermFreqs(a(0), strArrayLit(a(1), "term_freqs terms"))),
    kernel("count_in", 2)(a => CountIn(a(0), strArrayLit(a(1), "count_in words"))),
    kernel("filter_in", 2)(a => FilterIn(a(0), strArrayLit(a(1), "filter_in words"))),
    kernel("hash60", 1)(a => Hash60(a(0))),
    kernel("hash60b", 1)(a => Hash60B(a(0))),
    kernel("hash120", 1)(a => Hash120(a(0))),
    kernel("ngram_hash60", 2)(a => NgramHash60(a(0), intLit(a(1), "ngram_hash60 k"))),
    kernel("skipgram_pairs", 2)(a => SkipgramPairs(a(0), intLit(a(1), "skipgram_pairs w"))),
    kernel("ed1", 2)(a => EditWithin1(a(0), a(1))))

  private def kernel[E <: Expression](name: String, arity: Int)(build: Seq[Expression] => E)(
      implicit ct: ClassTag[E]): Kernel =
    Kernel(name, ct.runtimeClass, args => {
      require(args.length == arity, s"$name takes $arity arguments, got ${args.length}")
      build(args)
    })

  private[functions] def checkString(e: Expression, fn: String): TypeCheckResult =
    if (e.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn requires a STRING argument, got ${e.dataType.sql}")

  private[functions] def checkStringArray(e: Expression, fn: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn requires ARRAY<STRING>, got ${other.sql}")
    }

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  /** A literal `ARRAY<STRING>` argument: a Literal after constant
    * folding, a CreateArray of literals before it (any resolved
    * foldable ARRAY<STRING> works). */
  private def strArrayLit(e: Expression, what: String): Seq[String] = e match {
    case f if f.resolved && f.foldable &&
        f.dataType.isInstanceOf[ArrayType] &&
        f.dataType.asInstanceOf[ArrayType].elementType == StringType =>
      f.eval(null).asInstanceOf[ArrayData].toArray[UTF8String](StringType).map(_.toString).toSeq
    case other => throw new IllegalArgumentException(
      s"$what must be a literal ARRAY<STRING>, got $other")
  }
}
