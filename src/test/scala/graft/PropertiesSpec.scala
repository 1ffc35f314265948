package graft

import org.apache.spark.sql.functions._
import scala.util.Random

/** The two properties SURVEY.md §5 commits to: top-K == full-sort-take(k)
  * and group-by-sum invariance under repartitioning. Run on seeded
  * random data, not fixtures, so they pin the operator semantics
  * themselves. (Plain seeded generators — the scalatest/scalacheck
  * bridge artifact isn't in the offline cache.)
  */
class PropertiesSpec extends SparkSpec {

  private def randomRows(rng: Random): List[(Long, Long)] =
    List.fill(1 + rng.nextInt(200))((rng.nextLong(21), rng.nextLong(2001) - 1000))

  test("top-K by aggregated measure equals full sort + take(k)") {
    import spark.implicits._
    val rng = new Random(42)
    for (_ <- 1 to 15) {
      val rows = randomRows(rng)
      val k = 1 + rng.nextInt(8)
      val agg = rows.toDF("key", "v").groupBy("key").agg(sum("v").as("s"))
      val topK = agg.orderBy(col("s").desc, col("key").asc).limit(k)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val full = agg.collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (key, s) => (-s, key) }.take(k)
      assert(topK.sameElements(full), s"k=$k rows=${rows.take(5)}...")
    }
  }

  test("Morton interleave is a bijection on the full cell grid, inverse-recoverable") {
    import spark.implicits._
    // the OPERATOR's own SQL expression over every (xb, yb) cell
    val cells = (0 until (1 << graft.operators.LayoutOps.ZBits)).toDF("xb")
      .selectExpr("CAST(xb AS BIGINT) AS xb")
      .crossJoin((0 until (1 << graft.operators.LayoutOps.ZBits)).toDF("yb")
        .selectExpr("CAST(yb AS BIGINT) AS yb"))
      .selectExpr("xb", "yb", s"(${graft.operators.LayoutOps.mortonExpr}) AS zval")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = 1 << (2 * graft.operators.LayoutOps.ZBits)
    assert(cells.length == n)
    assert(cells.map(_._3).distinct.length == n, "zval is a bijection")
    assert(cells.forall { case (_, _, z) => z >= 0 && z < n })
    // de-interleave inverts: even bits reassemble xb, odd bits yb
    def unzip(z: Long): (Long, Long) = {
      var (x, y, i) = (0L, 0L, 0)
      while (i < graft.operators.LayoutOps.ZBits) {
        x |= ((z >> (2 * i)) & 1L) << i
        y |= ((z >> (2 * i + 1)) & 1L) << i
        i += 1
      }
      (x, y)
    }
    assert(cells.forall { case (xb, yb, z) => unzip(z) == ((xb, yb)) })
  }

  test("as-of join equals the brute-force per-row maximum (seeded random)") {
    import spark.implicits._
    val rng = new Random(1234)
    for (round <- 1 to 5) {
      val left = List.fill(1 + rng.nextInt(60))(
        (rng.nextLong(1000000), rng.nextLong(5), rng.nextLong(100)))
        .zipWithIndex.map { case ((_, k, t), i) => (i.toLong, k, t) }
      // right unique per (key, ts) by construction (distinct on those)
      val right = List.fill(1 + rng.nextInt(60))((rng.nextLong(5), rng.nextLong(100)))
        .distinct.zipWithIndex.map { case ((k, t), i) => (k, t, 1000L + i) }
      val l = left.toDF("event_id", "user_id", "ts")
      val r = right.toDF("user_id", "ts", "click_id")
      val got = graft.operators.AsofJoin
        .asofJoin(l, r, "user_id", "ts", Seq("click_id"))
        .collect()
        .map(x => (x.getLong(0), if (x.isNullAt(3)) -1L else x.getLong(3)))
        .sortBy(_._1)
      val expect = left.map { case (id, k, t) =>
        val matches = right.filter { case (rk, rt, _) => rk == k && rt <= t }
        (id, if (matches.isEmpty) -1L else matches.maxBy(_._2)._3)
      }.sortBy(_._1)
      assert(got.sameElements(expect), s"round=$round")
    }
  }

  test("sequence packing conserves docs/tokens and respects chunk arithmetic (seeded random)") {
    import spark.implicits._
    val rng = new Random(77)
    for (round <- 1 to 5) {
      val budget = 50L + rng.nextInt(100)
      val docs = List.fill(1 + rng.nextInt(300))(
        (rng.nextLong(1000000), rng.nextLong(120)))
        .map { case (_, n) => n }.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      // single shard (shard 0) so the chunk rule is directly checkable
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val packed = docs.toDF("doc_id", "n_toks")
        .withColumn("cum", sum(col("n_toks")).over(w))
        .withColumn("seq_id", expr(s"(cum - n_toks) div $budget"))
        .groupBy("seq_id").agg(count(lit(1)).as("n_docs"), sum("n_toks").as("toks"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // conservation
      assert(packed.map(_._2).sum == docs.length, s"round=$round docs")
      assert(packed.map(_._3).sum == docs.map(_._2).sum, s"round=$round tokens")
      // brute-force replay of the chunk rule
      var cum = 0L
      val expect = docs.map { case (_, n) => val s = cum / budget; cum += n; s }
        .groupBy(identity).map { case (s, xs) => (s, xs.size.toLong) }
      assert(packed.map(p => (p._1, p._2)).toMap == expect, s"round=$round chunks")
    }
  }

  test("bloom filter never has false negatives (seeded random keys)") {
    import spark.implicits._
    val rng = new Random(99)
    for (round <- 1 to 5) {
      // include keys far beyond 2^31 — the ANSI-overflow regression zone
      val members = List.fill(1 + rng.nextInt(200))(rng.nextLong())
      val bloom = udaf(new graft.functions.BloomAgg(
        graft.operators.BloomJoin.NumBits, graft.operators.BloomJoin.NumHashes))
      val bloomRow = members.toDF("k").agg(bloom(col("k")).as("bits"))
      val passed = members.toDF("k")
        .join(broadcast(bloomRow))
        .where(graft.operators.BloomJoin.mightContain(col("bits"), col("k")))
        .count()
      assert(passed == members.length,
        s"round=$round: every member row must pass the probe")
    }
  }

  test("token_count kernel equals size(tokens) on the fixture, edge cases, and seeded random strings") {
    import graft.functions.TextOps
    import org.apache.spark.sql.functions.{col, size => asize}
    // against the restated builtin size(filter(split(text, " "), _ =!= "")),
    // not TextOps.tokens — that is a kernel too
    def diverging(df: org.apache.spark.sql.DataFrame) =
      df.where(TextOps.tokenCount(col("text")) =!= asize(KernelRefs.tokens(col("text"))))
    // whole fixture: zero rows where the kernel and the split/filter form disagree
    val docs = graft.sources.Tables.documents(spark, sf)
    assert(diverging(docs.where(col("text").isNotNull)).count() == 0)
    // adversarial strings: empties, space runs, multi-byte UTF-8 (no
    // 0x20 inside a multi-byte sequence), exotic whitespace that is NOT
    // the separator (tab, NBSP) and must count as token bytes
    val edge = Seq("", " ", "   ", "a", " a", "a ", " a ", "a b", "a  b",
      "日本 語 テスト", "héllo wörld ", "a\tb", "a b", "🙂 🙃", "x 🙂x y")
    import spark.implicits._
    val bad = diverging(edge.toDF("text")).collect()
    assert(bad.isEmpty, s"kernel diverges on: ${bad.map(_.getString(0)).mkString("|")}")
    // seeded random strings over an alphabet heavy in spaces/multibyte
    val rnd = new scala.util.Random(42)
    val alphabet = "ab 語é🙂  \t"
    val fuzz = (1 to 300).map(_ =>
      (1 to rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    assert(diverging(fuzz.toDF("text")).count() == 0)
  }

  test("no CartesianProduct in any registered query's physical plan") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
    spark.catalog.clearCache() // drop the dedup/similarity persists this planned
  }

  test("KMV sketch is invariant under partitioning and close to exact") {
    import spark.implicits._
    import graft.functions.KmvSketch
    val rng = new Random(99)
    // ~3000 distinct values with duplicates, hashed into [0, 2^60)
    val vals = List.fill(8000)(rng.nextLong(3000))
      .map(v => java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(v.toString.getBytes).map("%02x".format(_)).mkString.substring(0, 15), 16))
    val kmv = udaf(new KmvSketch(256))
    def estimate(parts: Int): Double =
      vals.toDF("h").repartition(parts)
        .agg(kmv(col("h"))).collect()(0).getDouble(0)
    val exact = vals.distinct.length.toDouble
    val e1 = estimate(1)
    assert(e1 == estimate(13), "estimate must not depend on partitioning")
    assert(math.abs(e1 - exact) / exact < 0.2, s"estimate $e1 vs exact $exact")
  }

  test("group-by sum is invariant under repartitioning") {
    import spark.implicits._
    val rng = new Random(7)
    for (parts <- Seq(1, 3, 7)) {
      val rows = randomRows(rng)
      val df = rows.toDF("key", "v")
      val base = df.groupBy("key").agg(sum("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      val rep = df.repartition(parts).groupBy("key").agg(sum("v")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      assert(base.sameElements(rep), s"parts=$parts")
    }
  }
}
