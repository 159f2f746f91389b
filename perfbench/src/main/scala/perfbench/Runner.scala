package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

import graft.SparkEntry

/** One timed call of a builder. Spans are (name, start ns, end ns); each
  * covers exactly one call into a layer, so the part of the latency they
  * leave uncovered is the harness's own time between calls. */
final case class Invocation(
    id: Long, query: String, pass: Int, traced: Boolean, startNs: Long,
    endNs: Long, spans: Seq[(String, Long, Long)], digest: Option[Digest],
    error: Option[String], layers: Map[String, Double]) {
  def latencyMs: Double = (endNs - startNs) / 1e6
  def spanMs(name: String): Double =
    spans.collect { case (`name`, s, e) => (e - s) / 1e6 }.sum
}

/** Runs passes over a query list as one closed-loop client. Each pass runs
  * every query once, in an order drawn from the seed.
  *
  * Storage hygiene: the runner asserts before each invocation that no table
  * is cached and no RDD is persistent, and releases everything after it.
  */
final class Runner(spark: SparkSession, data: String, queries: Seq[String], seed: Long) {
  private val builders = SparkEntry.queries
  private val missing = queries.filterNot(builders.contains)
  require(missing.isEmpty, s"queries not in SparkEntry.queries: ${missing.mkString(" ")}")

  private val sc = spark.sparkContext
  private val warehouse =
    new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
  private val rng = new Random(seed)
  private var nextId = 0L

  /** Registered on the context by the first traced invocation. */
  val trace = new Trace(sc)
  private var listening = false

  def invoke(query: String, pass: Int, traced: Boolean): Invocation = {
    if (traced && !listening) { sc.addSparkListener(trace); listening = true }
    nextId += 1
    val id = nextId
    require(Runner.storageClean(spark), s"storage not released before $query")
    val spans = Seq.newBuilder[(String, Long, Long)]
    def span[T](name: String)(f: => T): T = {
      if (traced) trace.enter(id, name)
      val s = System.nanoTime()
      try f finally {
        spans += ((name, s, System.nanoTime()))
        if (traced) trace.leave()
      }
    }
    val wallStart = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var plan: SparkPlan = null
    val result =
      try {
        val df = span("build")(builders(query)(spark, data))
        val qe = df.queryExecution
        span("plan.optimize")(qe.optimizedPlan)
        plan = span("plan.physical")(qe.executedPlan)
        Right(span("exec")(Digest.consume(qe)))
      } catch {
        case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    val t1 = System.nanoTime()
    var layers = Map.empty[String, Double]
    if (traced) {
      val ops = if (result.isRight) Trace.operators(plan) else Trace.Operators(0, 0, 0, 0, 0, 0)
      layers = Map(
        "op.agg_ms" -> ops.aggMs, "op.sort_ms" -> ops.sortMs,
        "op.join_build_ms" -> ops.joinBuildMs, "op.scan_ms" -> ops.scanMs,
        "op.rows_scanned" -> ops.rowsScanned, "op.peak_mem_bytes" -> ops.peakMemBytes,
        "write.files" -> Runner.filesWrittenSince(warehouse, wallStart),
        // Storage was clean before the call, so every persistent RDD now
        // registered is this invocation's.
        "storage.leaked_rdds" -> sc.getPersistentRDDs.size.toLong,
      ).map { case (k, v) => k -> v.toDouble }
      layers += "trace.harness_ms" -> (System.nanoTime() - t1) / 1e6
    }
    Runner.release(spark)
    Invocation(id, query, pass, traced, t0, t1, spans.result(), result.toOption,
      result.left.toOption, layers)
  }

  /** Runs every query once and returns the invocations in start order. */
  def pass(n: Int, traced: Boolean): Seq[Invocation] =
    rng.shuffle(queries).map(q => invoke(q, n, traced))

  /** `passes` whole passes; returns the invocations and the wall time. */
  def window(passes: Int, traced: Boolean): (Seq[Invocation], Double) = {
    val t0 = System.nanoTime()
    val done = (0 until passes).flatMap(n => pass(n, traced))
    (done, (System.nanoTime() - t0) / 1e9)
  }

  /** Adds the listener's counters to traced invocations. Call after the
    * last traced pass. */
  def withSparkCounters(invs: Seq[Invocation]): Seq[Invocation] = {
    trace.drain()
    val cores = sc.defaultParallelism
    invs.map { inv =>
      val b = trace.span(inv.id, "build")
      val e = trace.span(inv.id, "exec")
      val execMs = inv.spanMs("exec")
      val written = Runner.Spans.map(trace.span(inv.id, _).writeBytes).sum
      inv.copy(layers = inv.layers ++ Map(
        "build.jobs" -> b.jobs.toDouble, "build.stages" -> b.stages.toDouble,
        "build.tasks" -> b.tasks.toDouble,
        "build.materialized_bytes" -> b.storedBytes.toDouble,
        "exec.jobs" -> e.jobs.toDouble, "exec.stages" -> e.stages.toDouble,
        "exec.tasks" -> e.tasks.toDouble, "exec.task_ms" -> e.taskMs.toDouble,
        "exec.cpu_ms" -> e.cpuNs / 1e6, "exec.gc_ms" -> e.gcMs.toDouble,
        "exec.task_queue_ms" -> e.queueMs.toDouble,
        "exec.slot_util" -> (if (execMs > 0) e.taskMs / (execMs * cores) else 0.0),
        "exec.input_bytes" -> e.inputBytes.toDouble,
        "exec.shuffle_read_bytes" -> e.shuffleReadBytes.toDouble,
        "exec.shuffle_write_bytes" -> e.shuffleWriteBytes.toDouble,
        "exec.spill_bytes" -> e.spillBytes.toDouble,
        "storage.peak_bytes" -> trace.peakStoredBytes(inv.id).toDouble,
        "write.bytes" -> written.toDouble))
    }
  }
}

object Runner {
  val Spans: Seq[String] = Seq("build", "plan.optimize", "plan.physical", "exec")

  /** Drops cached tables and persistent RDDs, waiting until their blocks
    * are gone. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def storageClean(spark: SparkSession): Boolean =
    spark.sharedState.cacheManager.isEmpty && spark.sparkContext.getPersistentRDDs.isEmpty

  /** Number of files under `dir` modified at or after `sinceMs`. */
  def filesWrittenSince(dir: File, sinceMs: Long): Long =
    if (!dir.exists()) 0L
    else {
      val paths = Files.walk(dir.toPath)
      try paths.iterator().asScala.count(p =>
        Files.isRegularFile(p) && Files.getLastModifiedTime(p).toMillis >= sinceMs).toLong
      finally paths.close()
    }
}
