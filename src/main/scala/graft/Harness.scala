package graft

import org.apache.spark.sql.SparkSession

/** Storage hygiene and load calibration shared by the timing harnesses
  * ([[Bench]], [[ScaleProbe]], [[tools.Profile]]). */
object Harness {

  /** Drops every CacheManager entry and unpersists every persistent RDD
    * in the context. localCheckpoint blocks are registered as persistent
    * RDDs and are otherwise reclaimed only after a driver GC, so without
    * this one query's storage pressure bleeds into the next measurement.
    *
    * CONTRACT: this evicts EVERYTHING, so no query may cache state for
    * reuse across invocations — each invocation must be self-contained.
    * A cross-invocation cache belongs in the warehouse (the
    * materializeStar/materializeStemDict pattern). */
  def dropStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** One sample of the load canary: a fixed-cost, data-independent
    * kernel — bit_xor(xxhash64) over a 128M range, pure codegen CPU, no
    * IO, no shuffle — timed in seconds. Dividing a timing by the canary
    * ratio normalizes out machine load (BENCH_NOTES.md). bit_xor, not
    * sum: summing 128M 64-bit hashes overflows Long under ANSI mode. */
  def canaryOnce(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 134217728L, 1L, 32)
      .selectExpr("bit_xor(xxhash64(id)) AS h").head()
    (System.nanoTime() - t0) / 1e9
  }
}
