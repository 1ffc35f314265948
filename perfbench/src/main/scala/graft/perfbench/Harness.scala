package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{GraftConf, SparkEntry}
import graft.operators.{Materialize, Pipeline}

/** One benchmark run inside one JVM: set up a session several times, run
  * the given passes of operations, write a result file. `run.py` draws the
  * operations, launches this main and turns the result file into metrics.
  *
  * Usage: Harness <spec file> <result file>
  *
  * The spec is `key=value` lines:
  *  - `trace` (0/1), `cores`, `setups`
  *  - `data`, `warm`: fixture directories of the timed run and of the
  *    warm-up; `out`: scratch directory for curation outputs
  *  - `expect`: `table:rows` pairs the timed fixture must hold
  *  - `warmup`: queries run at `warm` during each set-up
  *  - `sink`: `count` times queries through `count()` instead of the
  *    no-op sink (only to measure what `count()` leaves out)
  *  - `ops`: one line per pass, comma-separated operation names: a
  *    registered query, or `curation` for a `Pipeline.runCuration` call
  *    into a fresh output directory
  *
  * Memos (`Materialize.reset`) and cached data are dropped before every
  * operation, so each one builds what it needs, as a nightly job does.
  */
object Harness {
  /** The operation name that stands for one `Pipeline.runCuration` call. */
  val Curation = "curation"

  final case class Op(pass: Int, name: String, wallS: Double, constructS: Double,
                      rows: Option[Long], hash: Option[String],
                      receipts: Seq[(String, Long)], error: Option[String]) {
    def fields: Map[String, Any] = Map("pass" -> pass, "name" -> name, "wall_s" -> wallS,
      "construct_s" -> constructS, "rows" -> rows, "hash" -> hash,
      "receipts" -> receipts.toMap, "error" -> error)
  }

  def main(args: Array[String]): Unit = {
    val spec = readSpec(Paths.get(args(0)))
    val one = spec.andThen(_.head)
    val countOnly = one("sink") == "count"
    val trace = one("trace") == "1"
    val cores = one("cores")
    val data = one("data")
    val warm = one("warm")
    val out = Paths.get(one("out"))
    val expect = one("expect").split(",").filter(_.nonEmpty).map { kv =>
      val Array(t, n) = kv.split(":"); t -> n.toLong }.toSeq
    val warmup = one("warmup").split(",").filter(_.nonEmpty).toSeq
    val passes = spec("ops").map(_.split(",").filter(_.nonEmpty).toSeq)

    val probeBefore = CpuProbe.run()

    // set-up: session start + fixture check + warm-up, repeated so that
    // the reported figure is a median; the last session is the one timed
    val setupS = mutable.ArrayBuffer.empty[Double]
    val setupParts = mutable.ArrayBuffer.empty[Seq[Double]]
    var spark: SparkSession = null
    (1 to one("setups").toInt).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(cores)
      val t1 = System.nanoTime()
      checkFixture(spark, data, expect)
      val t2 = System.nanoTime()
      warmup.foreach { q =>
        query(spark, q, warm, 0).error
          .foreach(e => throw new IllegalStateException(s"warm-up $q failed: $e"))
      }
      Materialize.reset(spark)
      spark.catalog.clearCache()
      val t3 = System.nanoTime()
      setupS += (t3 - t0) / 1e9
      setupParts += Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)
    }

    val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    def memoViews(): Int =
      if (trace) spark.catalog.listTables().collect().count(_.name.startsWith("graft_ckpt_")) else 0

    def traced(name: String)(body: => Op): Op = tracer match {
      case None => body
      case Some(t) =>
        val before = memoViews()
        val span = t.open(name)
        val op = body
        t.close()
        span.wallS = op.wallS
        span.constructS = op.constructS
        span.memoBuilds = math.max(0, memoViews() - before)
        op
    }

    val ops = mutable.ArrayBuffer.empty[Op]
    val passS = mutable.ArrayBuffer.empty[Double]
    val passProbes = mutable.ArrayBuffer.empty[Double]
    for ((pass, p) <- passes.zipWithIndex) {
      passProbes += CpuProbe.run()
      val t0 = System.nanoTime()
      pass.foreach { name =>
        Materialize.reset(spark)
        spark.catalog.clearCache()
        if (name == Curation) {
          val dir = out.resolve(s"call$p")
          ops += traced(name)(curate(spark, data, dir, p))
          tracer.foreach { t =>
            val (bytes, files) = dirSize(dir)
            t.spans.last.writeBytes = bytes
            t.spans.last.writeFiles = files
          }
          deleteTree(dir)
        } else ops += traced(name)(query(spark, name, data, p, countOnly))
      }
      passS += (System.nanoTime() - t0) / 1e9
    }
    val probeAfter = CpuProbe.run()
    spark.stop()

    val result = Map(
      "setup_s" -> setupS.toSeq,
      "setup_session_fixture_warmup_s" -> setupParts.toSeq,
      "pass_s" -> passS.toSeq,
      "peak_rss_mb" -> peakRssMb(),
      "cpu_probe_s" -> Map("before" -> probeBefore, "passes" -> passProbes.toSeq,
        "after" -> probeAfter),
      "ops" -> ops.map(_.fields).toSeq,
      "spans" -> tracer.map(_.spans.map(_.fields).toSeq).getOrElse(Nil))
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
    Files.write(Paths.get(args(1)), json.writeValueAsBytes(result))
  }

  private def readSpec(p: Path): Map[String, Seq[String]] =
    Files.readAllLines(p).asScala.toSeq.filter(_.contains("=")).map { l =>
      val Array(k, v) = l.split("=", 2); k -> v
    }.groupMap(_._1)(_._2).withDefaultValue(Seq(""))

  def newSession(cores: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the planning-time guard graft.Verify and graft.Bench run under
    graft.plans.NoCartesianGuard.install(spark)
    spark.conf.set(GraftConf.NoCartesianGuardKey, "true")
    spark
  }

  /** Row counts from the Parquet footers of each table (a file or a
    * directory of part files), so the check launches no Spark job. */
  private def checkFixture(spark: SparkSession, dir: String, expect: Seq[(String, Long)]): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    expect.foreach { case (t, n) =>
      val path = new HPath(s"$dir/$t.parquet")
      val fs = path.getFileSystem(conf)
      val files = if (!fs.exists(path)) Array.empty[org.apache.hadoop.fs.FileStatus]
        else fs.listStatus(path).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val got = java.util.Arrays.stream(files).parallel().mapToLong { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
      if (got != n) throw new IllegalStateException(
        s"fixture $path holds $got rows, expected $n: stale or partial fixture")
    }
  }

  /** Output fingerprint columns: rows and an order-independent sum of
    * per-row hashes. Doubles are hashed as floats, so a last-bit
    * difference from a reordered floating-point sum does not count as a
    * changed result. */
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => c.cast(FloatType) + lit(0.0f)
    case ArrayType(e, _) => transform(c, x => normalized(x, e))
    case StructType(fs) =>
      struct(fs.toSeq.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      normalized(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  private def fingerprint(df: DataFrame): (Observation, DataFrame) = {
    val obs = Observation("perfbench_fingerprint")
    val cols = df.schema.fields.toSeq.map(f => normalized(col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (obs, df.observe(obs, count(lit(1)).as("rows"),
      sum(rowHash.cast(DecimalType(38, 0))).as("hash")))
  }

  /** One timed query: build the DataFrame, then produce every output
    * column through the no-op sink, or only `count()` it when
    * `countOnly` (which lets the optimizer prune unread columns). */
  def query(spark: SparkSession, name: String, dir: String, pass: Int,
            countOnly: Boolean = false): Op = {
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      t1 = System.nanoTime()
      if (countOnly) {
        val n = df.count()
        return Op(pass, name, (System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, Some(n), None,
          Nil, None)
      }
      val (obs, observed) = fingerprint(df)
      observed.write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val m = obs.get
      val hash = Option(m("hash")).map(_.toString).getOrElse("0")
      Op(pass, name, wall, (t1 - t0) / 1e9, Some(m("rows").asInstanceOf[Long]), Some(hash),
        Nil, None)
    } catch { case e: Throwable => failed(pass, name, t0, t1, e) }
  }

  /** One `Pipeline.runCuration` call; its receipt rows are the output. */
  def curate(spark: SparkSession, dir: String, out: Path, pass: Int): Op = {
    val t0 = System.nanoTime()
    try {
      val receipts = Pipeline.runCuration(spark, dir, out.toString).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      val wall = (System.nanoTime() - t0) / 1e9
      Op(pass, "curation", wall, wall, None, None, receipts, None)
    } catch { case e: Throwable => failed(pass, "curation", t0, t0, e) }
  }

  private def failed(pass: Int, name: String, t0: Long, t1: Long, e: Throwable): Op = {
    val cause = s"${e.getClass.getName}: ${e.getMessage}"
    System.err.println(s"perfbench: $name failed: $cause")
    Op(pass, name, (System.nanoTime() - t0) / 1e9, (t1 - t0) / 1e9, None, None, Nil, Some(cause))
  }

  private def dirSize(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith(".")).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Single-core integer probe, the same xorshift loop as `graft.Bench`,
  * taken before the set-ups, before every pass and after the run: the
  * box's speed at those moments, by which `run.py` scales the timings. */
object CpuProbe {
  private val Steps = 166666667
  private var sink = 0L

  private def once(): Double = {
    var x = System.nanoTime() | 1L
    var i = 0
    val t0 = System.nanoTime()
    while (i < Steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    sink ^= x
    dt * (500000000.0 / Steps)
  }

  /** Seconds per 500M steps; the first call also runs a discarded
    * warm-up so the loop is compiled before it is timed. */
  private var warm = false
  def run(): Double = {
    if (!warm) { once(); warm = true }
    val v = once()
    if (sink == 42L) System.err.println("probe")
    v
  }
}
