package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** Measures one workload: one closed-loop client over a fixed query list
  * in one session. Each invocation is timed as calls into
  * public APIs: the builder, planning, and full consumption of the
  * DataFrame's own physical plan.
  *
  * Usage: PerfBench --workload <name> --seed <n> --warmup <n>
  *   --passes <n> --trace <0|1> --data <dir> --out <file> <query>...
  *
  * Writes the environment, set-up times and one record per invocation as
  * JSON to `--out`; run.py checks the digests and computes the metrics.
  *
  * Untimed warm-up passes precede the measured window. A query's first
  * invocation in a JVM is two to five times slower than later ones (class
  * loading, JIT, code generation), and how much of that a query pays
  * depends on what ran before it, so a cold pass measures the order more
  * than the program.
  */
object PerfBench {
  final case class Config(
      workload: String, seed: Long, warmup: Int, passes: Int,
      trace: Boolean, data: String, out: String, queries: Seq[String])

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Time origin of the spans a run records. */
  val origin: Long = System.nanoTime()

  def parse(argv: Array[String]): Config = {
    val opts = argv.toList.grouped(2).takeWhile(_.head.startsWith("--"))
      .collect { case List(k, v) => k.drop(2) -> v }.toMap
    val queries = argv.drop(2 * opts.size).toSeq
    Config(opts("workload"), opts("seed").toLong,
      opts("warmup").toInt, opts("passes").toInt, opts("trace") == "1",
      opts("data"), opts("out"), queries)
  }

  def main(argv: Array[String]): Unit = {
    val cfg = parse(argv)
    val (spark, (buildS, resolveS)) = setUp(cfg.data)
    val doc = try run(spark, cfg) finally spark.stop()
    Files.writeString(Paths.get(cfg.out), Json.write(doc + ("setup" -> Map(
      "session_build_s" -> buildS, "tables_resolve_s" -> resolveS))))
  }

  /** The JVM's set-up: GraftSession.build plus first resolution of the ten
    * testdata tables, as a fresh process pays it. Returns the session and
    * (build s, resolution s). */
  def setUp(data: String): (SparkSession, (Double, Double)) = {
    val t0 = System.nanoTime()
    val spark = GraftSession.build("perfbench")
    val t1 = System.nanoTime()
    Tables.registerAll(spark, data)
    TableNames.foreach(t => spark.table(t).schema)
    val t2 = System.nanoTime()
    (spark, ((t1 - t0) / 1e9, (t2 - t1) / 1e9))
  }

  /** The load canary: a fixed, data-independent codegen kernel with no IO
    * and no shuffle, so its time tracks how loaded the machine is. */
  def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1L << 25, 1L, 16).selectExpr("bit_xor(xxhash64(id)) AS h").head()
    (System.nanoTime() - t0) / 1e9
  }

  def run(spark: SparkSession, cfg: Config): Map[String, Any] = {
    val sc = spark.sparkContext
    val runner = new Runner(spark, cfg.data, cfg.queries, cfg.seed)
    val warmUp = (1 to cfg.warmup).flatMap(n => runner.pass(-n, traced = false))
    val canaries = (0 to 3).map(_ => canary(spark)).tail
    val (measured, wall) = runner.window(cfg.passes, cfg.trace)
    val invocations = if (cfg.trace) runner.withSparkCounters(measured) else measured
    Map(
      "env" -> Map(
        "workload" -> cfg.workload, "seed" -> cfg.seed,
        "cores" -> sc.defaultParallelism, "master" -> sc.master,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version, "canary_s" -> canaries,
        "warmup_failed" -> warmUp.count(_.error.nonEmpty),
        "peak_rss_mb" -> peakRssMb()),
      "window" -> Map("seconds" -> wall, "passes" -> cfg.passes, "traced" -> cfg.trace,
        "listener_ms" -> runner.trace.listenerMs),
      "invocations" -> invocations.map(json))
  }

  def json(i: Invocation): Map[String, Any] = {
    def ms(ns: Long): Double = (ns - origin) / 1e6
    Map(
      "query" -> i.query, "pass" -> i.pass, "traced" -> i.traced,
      "build_ms" -> i.spanMs("build"), "optimize_ms" -> i.spanMs("plan.optimize"),
      "physical_ms" -> i.spanMs("plan.physical"), "exec_ms" -> i.spanMs("exec"),
      "latency_ms" -> i.latencyMs,
      "digest" -> i.digest.map(_.toString).orNull, "error" -> i.error.orNull,
      "layers" -> i.layers,
      "spans" -> (("invocation", i.startNs, i.endNs) +: i.spans).map { case (name, s, e) =>
        Map("name" -> name, "start_ms" -> ms(s), "end_ms" -> ms(e),
          "parent" -> (if (name == "invocation") null else "invocation"))
      })
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}
