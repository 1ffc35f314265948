package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed-builtin forms the native text kernels replaced, restated
  * verbatim as the reference side of the kernel specs. TextOps builds
  * the kernels, so no reference here may call TextOps. */
object KernelRefs {
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")
  def hash60b(s: Column): Column =
    conv(substring(md5(s), 16, 15), 16, 10).cast("long")
  def ngramHash60(t: Column, k: Int): Column =
    transform(
      when(size(t) >= k, sequence(lit(0), size(t) - k))
        .otherwise(array().cast("array<int>")),
      i => hash60(concat_ws(" ", (0 until k).map(j => element_at(t, i + j + 1)): _*)))
  def skipgramPairs(toks: Column, w: Int): Column =
    when(size(toks) >= 2,
      flatten(transform(sequence(lit(1), size(toks)), i =>
        transform(slice(toks, i + 1, lit(w)), x =>
          struct(element_at(toks, i).as("center"), x.as("context"))))))
      .otherwise(array().cast("array<struct<center:string,context:string>>"))
  def countIn(toks: Column, words: Seq[String]): Column =
    size(filterIn(toks, words))
  def filterIn(toks: Column, words: Seq[String]): Column =
    filter(toks, x => x.isin(words.map(w => w: Any): _*))
  def termFreqs(toks: Column, terms: Seq[String]): Column =
    array(terms.map(q => size(filter(toks, tok => tok === q)).cast("long")): _*)
}
