package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive an sf1-equivalent testdata directory from the driver's sf0.1
  * parquet (VERDICT r4 #4 / r7 next #5: the relational tier has never
  * run above sf0.1, and the driver ships no sf1).
  *
  * Scale-up is REPLICAS× key-offset replication, not naive row
  * duplication: every key column (order/cust/supp/part/event/user ids)
  * is offset by rep·10M, so replica r's orders reference replica r's
  * customers and join cardinalities scale LINEARLY — duplicating keys
  * without offsetting would inflate join fan-out quadratically and
  * invalidate both the correctness oracle and any timing. This mirrors
  * how TPC-H itself scales (per-SF linear table growth, fixed
  * region/nation). nation/region stay verbatim; documents/embeddings
  * are [[corpusReplicas]], whose deterministic perturbation deepens
  * near-dup clusters realistically.
  *
  * The derived directory is oracle-compatible: DuckDB runs the same
  * SQL over the same parquet, so the full correctness gate applies
  * unchanged at 10× the data.
  *
  * Usage: runMain graft.tools.DeriveSf1 [srcDir] [outDir] [replicas]
  */
object DeriveSf1 {
  /** Replica r's keys are the source keys + r·KeyOffset. */
  private val KeyOffset = 10000000L

  /** The `replicas`× scale-up of the documents and embeddings corpora,
    * shared by this tool and [[graft.ScaleProbe]]; callers choose their
    * own write partitioning. Ids are offset by rep·KeyOffset and content
    * is perturbed deterministically: a trailing replica-tagged token on
    * ~1/3 of replica docs, a ≤0.01% multiplicative jitter on embedding
    * coordinates. Replicas of one document are near-dups of each other,
    * so every near-dup cluster grows ~replicas× and min-label chains
    * deepen. */
  def corpusReplicas(spark: SparkSession, srcDir: String,
      replicas: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val reps = spark.range(replicas).select($"id".as("rep"))
    val docs = graft.Tables.documents(spark, srcDir).crossJoin(reps).select(
      ($"doc_id" + $"rep" * KeyOffset).as("doc_id"),
      when($"rep" === 0, $"text")
        .when(pmod($"doc_id", lit(3)) === 0, concat($"text", lit(" rep"), $"rep"))
        .otherwise($"text").as("text"),
      $"lang", $"source", $"n_chars")
    val emb = graft.Tables.embeddings(spark, srcDir).crossJoin(reps).select(
      ($"vec_id" + $"rep" * KeyOffset).as("vec_id"),
      expr("""cast(transform(embedding, (x, i) ->
        |x * (1.0d + 0.0001d * pmod(vec_id + i + rep, 7) / 7.0d))
        |as array<float>)""".stripMargin).as("embedding"),
      $"label")
    (docs, emb)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "scratch/sf1"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.build("graft-derive-sf1")
    import spark.implicits._

    val reps = spark.range(replicas).select($"id".as("rep"))

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      System.err.println(s"[derive-sf1] wrote $name")
    }

    /** keyCols get the rep·10M offset; perturbCols get a tiny
      * rep-proportional delta. WITHOUT the perturbation every non-key
      * double is identical across the 10 replicas, so any argument
      * aggregate (min_by/max_by/arg-pick) hits a 10-way tie that Spark
      * and the DuckDB oracle break differently — a false FAIL that no
      * real sf1 dataset would produce (TPC-H prices are near-unique at
      * scale). The delta must thread a needle: large enough to be
      * representable against the column magnitude (ulp of a 1e5-scale
      * double is ~1.5e-11, so 1e-7 steps are exact), small enough that
      * group SUMS shift by well under the engines' own summation-order
      * divergence — a 1e-4 step shifted sums onto round(x, 4) half-way
      * boundaries and flipped the 4th decimal between Spark and DuckDB.
      */
    def replicate(name: String, keyCols: Seq[String], parts: Int,
        perturbCols: Map[String, Double]): Unit = {
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val withKeys = keyCols.foldLeft(src.crossJoin(reps)) { (df, k) =>
        df.withColumn(k, col(k) + $"rep" * KeyOffset)
      }
      val out = perturbCols.foldLeft(withKeys) { case (df, (c, eps)) =>
        df.withColumn(c, col(c) + $"rep" * eps)
      }.drop("rep")
      write(out.select(src.columns.map(col).toIndexedSeq: _*), name, parts)
    }

    // fixed-size dimensions: verbatim
    for (t <- Seq("region", "nation"))
      write(spark.read.parquet(s"$srcDir/$t.parquet"), t, 1)

    replicate("customer", Seq("c_custkey"), 8,
      Map("c_acctbal" -> 1.1e-7))
    replicate("supplier", Seq("s_suppkey"), 4,
      Map("s_acctbal" -> 1.1e-7))
    replicate("part", Seq("p_partkey"), 8,
      Map("p_retailprice" -> 1.1e-7))
    replicate("orders", Seq("o_orderkey", "o_custkey"), 16,
      Map("o_totalprice" -> 1.1e-7))
    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), 32,
      Map("l_extendedprice" -> 1.1e-7))
    replicate("events", Seq("event_id", "user_id"), 16,
      Map("value" -> 1e-9))

    val (docs, emb) = corpusReplicas(spark, srcDir, replicas)
    write(docs, "documents", 32)
    write(emb, "embeddings", 16)

    spark.stop()
  }
}
