package graft

import org.apache.spark.sql.SparkSession

/** Single place for engine session config (SURVEY.md §7.0).
  *
  * Scale notes: shuffle.partitions tracks local core count here; on a
  * real cluster this would be set ~2-3× total executor cores (or left
  * to AQE coalescing, which is enabled by default in Spark 4 and
  * collapses the post-shuffle partition count to fit the data).
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def build(appName: String): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // WKT point codec cancellation (see PointCodecSimplification):
      // spatial-join refine steps become plain double arithmetic.
      .withExtensions(_.injectOptimizerRule(_ => graft.plans.PointCodecSimplification))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is TIMESTAMP(NANOS) parquet, unsupported by Spark's
      // reader; read as long nanos and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // AQE: runtime shuffle-partition coalescing + skew-join splitting,
      // the scale path for 100 TB joins (SURVEY.md §4.1).
      .config("spark.sql.adaptive.enabled", "true")
      // Static join selection keeps Spark's sort-merge preference (no
      // session-wide preferSortMergeJoin=false): ShuffledHashJoinExec's
      // build map cannot spill, and a static preference would trust size
      // ESTIMATES that go wrong after filters and aggregates. AQE picks
      // hash joins from ACTUAL sizes instead: small sides become
      // broadcasts, and a sort-merge join whose post-shuffle partitions
      // all fit under this threshold runs as a shuffled hash join. The
      // AQE-final plans in plans/r21/ (sf0.1) show both: tpch_q9 runs
      // five broadcast joins, tpcds_q72's one sort-merge join runs as a
      // ShuffledHashJoin, and tpcds_q78's three run as broadcasts. The
      // explicit SHUFFLE_HASH hints (the fixpoint joins) apply either way.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "64MB")
      // map_agg/map_union keep one value per duplicate key (Presto
      // MapAggregationFunction behavior) instead of erroring.
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      // in-memory connector catalog: lets CREATE/INSERT/DELETE/DROP
      // SQL resolve against graft_mem tables (reference: presto-memory
      // MemoryMetadata; DELETE per SqlBase.g4:51).
      .config("spark.sql.catalog.graft_mem_cat",
        classOf[graft.sources.MemoryCatalog].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    graft.functions.PrestoCatalog.register(spark)
    graft.functions.GeoCatalog.register(spark)
    graft.functions.TeradataCatalog.register(spark)
    graft.functions.ColorCatalog.register(spark)
    spark
  }
}
