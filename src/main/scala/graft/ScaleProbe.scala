package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.queries.{Clustering, FixpointStats}

/** Scale-out probe (VERDICT r3 next-round #3): the driver testdata
  * tops out at sf0.1, so derive a REPLICAS× scale-up of the
  * documents/embeddings corpora and run the scale-path queries against
  * it, recording wall time, output rows, and — for the two fixpoint
  * dedups — the observed round count vs the maxIters valve.
  *
  * The scale-up is derived from the driver's own sf0.1 parquet, not
  * synthesized fresh: each replica offsets ids by 10M·rep and perturbs
  * content deterministically (a trailing replica-tagged token on ~1/3
  * of replica docs; a ≤0.01% multiplicative jitter on embedding
  * coordinates). Replicas of one document are genuine near-dups of
  * each other, so every near-dup cluster grows ~REPLICAS× and the
  * min-label chains deepen — exactly the regime the fixpoint valve and
  * the LSH band join must absorb at 100 TB. TPC-H tables are NOT
  * replicated: duplicating join keys would inflate join fan-out
  * superlinearly and measure nothing real.
  *
  * Usage: runMain graft.ScaleProbe [srcDir] [scaleDir] [replicas]
  * Writes SCALE_PROBE.json to the repo root and prints it.
  */
object ScaleProbe {

  private val ScaleQueries = Seq(
    "dedup_exact",
    "text_quality",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_full",
    "dedup_lsh_recall",
    "dedup_lsh_recall_strict",
    "dedup_lsh_recall_verified",
    "sim_embed_neardup_full",
    "pipeline_corpus_curation",
    "pipeline_decontamination",
    "pipeline_dsir_sample",
    "pipeline_ccnet_segment_filter",
    "pipeline_bpe_vocab",
    "pipeline_bpe_tokenize",
    "pipeline_bpe_encode",
    "pipeline_unigram_vocab",
    "pipeline_unigram_tokenize",
    "pipeline_unigram_encode",
    "pipeline_tokenizer_eval",
    "pipeline_sequence_pack",
    "pipeline_domain_curation",
    "pipeline_paragraph_dedup",
    "pipeline_incremental_dedup",
    "pipeline_leakage_split",
    "pipeline_leakage_split_materialized",
    "search_hybrid_rrf",
    "lm_stupid_backoff",
    "dedup_substring_spans",
    "sim_ann_lsh_bucketed",
    "sim_ann_lsh_multiprobe",
    "sim_ann_ivf",
    "sim_ann_ivf_geo",
    "sim_ann_ivfpq",
    "sim_ann_ivfpq_materialized",
    "sim_ann_pq",
    "sim_ann_pq_rescored",
    "sim_ann_sq8",
    "sim_ann_sq8_corrected",
    "sim_ann_ivf_materialized",
    "sim_ann_recall",
    "sim_semdedup")

  /** Heavy relational tier (r13; VERDICT r12 next-round #4): the
    * current top-of-bench TPC-H/TPC-DS shapes. These run on the
    * PROPERLY-derived 10× star (scratch/sf1, built by the sf1 gate
    * tooling with fresh join keys), not on the replica trick above —
    * naive key replication would inflate join fan-out superlinearly
    * and measure nothing real. */
  private val HeavyQueries = Seq(
    "tpch_q9",
    "tpch_q11",
    "tpcds_q67",
    "tpcds_q95",
    "tpcds_q14",
    "tpcds_q11",
    "tpcds_q77",
    "tpcds_q47",
    "tpcds_q35",
    "tpcds_q31",
    "tpcds_q93",
    "tpcds_q78",
    "tpcds_q23",
    "tpcds_q23_materialized",
    "tpcds_q64",
    "tpcds_q17",
    "tpcds_q5",
    "tpcds_q72",
    "tpcds_q39",
    "tpcds_q22",
    "tpcds_q4",
    "tpcds_q97",
    "tpcds_q71",
    "tpcds_q38",
    "tpcds_q60",
    "tpcds_q32",
    "tpcds_q54",
    "tpcds_q16",
    "join_fuzzy_ed1",
    "tpcds_star_materialized")

  private val FixpointQueries = Set("dedup_minhash_lsh_full",
    "dedup_lsh_recall_verified", "sim_embed_neardup_full",
    "pipeline_leakage_split")

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val scaleDir = if (args.length > 1) args(1) else "scratch/scale10"
    val replicas = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.build("graft-scale-probe")
    import spark.implicits._

    val docsPath = s"$scaleDir/documents.parquet"
    if (!new java.io.File(docsPath).exists()) {
      System.err.println(s"[scale-probe] building $replicas x scale-up under $scaleDir")
      val reps = spark.range(replicas).select($"id".as("rep"))
      Tables.documents(spark, srcDir).crossJoin(reps)
        .select(
          ($"doc_id" + $"rep" * 10000000L).as("doc_id"),
          when($"rep" === 0, $"text")
            .when(pmod($"doc_id", lit(3)) === 0,
              concat($"text", lit(" rep"), $"rep"))
            .otherwise($"text").as("text"),
          $"lang", $"source", $"n_chars")
        .repartition(64)
        .write.mode("overwrite").parquet(docsPath)
      Tables.embeddings(spark, srcDir).crossJoin(reps)
        .select(
          ($"vec_id" + $"rep" * 10000000L).as("vec_id"),
          expr("""cast(transform(embedding, (x, i) ->
            |x * (1.0d + 0.0001d * pmod(vec_id + i + rep, 7) / 7.0d))
            |as array<float>)""".stripMargin).as("embedding"),
          $"label")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$scaleDir/embeddings.parquet")
    }

    def probeSet(names: Seq[String])(dir: String): Seq[(String, Double, Long, Option[FixpointStats])] =
      names.map { name =>
        // min of two samples: a single-sample probe is defenceless
        // against a multi-second machine stall (observed live in r13 —
        // identical code/data measured 9.6 s and 102 s back-to-back),
        // and unlike Bench there is no interleaving to absorb it.
        // Reported numbers are therefore WARM-CACHE MINIMA (the second
        // sample reuses OS page cache and JIT state; see BENCH_NOTES),
        // which is the right bias for a scale-LAW probe — the quantity
        // of interest is the ratio across data scales, and a stall in
        // either sample would corrupt the ratio far more than cache
        // warmth does.
        val samples = 2
        var rows = 0L
        val secs = (1 to samples).map { _ =>
          val t0 = System.nanoTime()
          // a per-query failure (e.g. requireConverged tripping the
          // maxIters valve at a larger replica factor) records
          // rows=-1 and keeps the run — never discards the legs that
          // already completed (ADVICE r17)
          try rows = SparkEntry.queries(name)(spark, dir).count()
          catch {
            case scala.util.control.NonFatal(e) =>
              rows = -1L
              System.err.println(s"[scale-probe] $name FAILED: $e")
          }
          val s = (System.nanoTime() - t0) / 1e9
          // storage hygiene (same as Bench): queries that materialize
          // intermediates must not bleed storage pressure into the next
          // sample or probe
          Harness.dropStorage(spark)
          s
        }
        val sec = secs.min
        val fix =
          if (FixpointQueries(name)) Some(Clustering.lastStats) else None
        System.err.println(f"[scale-probe] $dir $name: $sec%.2f s, $rows rows" +
          fix.map { f =>
            s", fixpoint rounds=${f.rounds} converged=${f.converged} " +
              s"edges=${f.edgeRows} contracted=${f.contractedEdgeRows}" }
            .getOrElse(""))
        (name, sec, rows, fix)
      }

    val probe = probeSet(ScaleQueries) _
    val base = probe(srcDir)
    val scaled = probe(scaleDir)

    // heavy relational tier against the sf1-derived star, when present
    val sf1Dir = if (args.length > 3) args(3) else "scratch/sf1"
    val heavy =
      if (new java.io.File(s"$sf1Dir/lineitem.parquet").exists()) {
        val hb = probeSet(HeavyQueries)(srcDir)
        val hs = probeSet(HeavyQueries)(sf1Dir)
        Some((hb, hs))
      } else None

    def fmt(rs: Seq[(String, Double, Long, Option[FixpointStats])]): String =
      rs.map { case (n, s, rows, fix) =>
        // edge_rows vs contracted_edge_rows: the label-graph
        // contraction's scale evidence — tail rounds iterate on the
        // contracted cluster graph, whose row count this records
        val fixJson = fix.map { f =>
          s""","fixpoint_rounds":${f.rounds},"converged":${f.converged},"edge_rows":${f.edgeRows},"contracted_edge_rows":${f.contractedEdgeRows}""" }.getOrElse("")
        f""""$n":{"sec":$s%.3f,"rows":$rows$fixJson}"""
      }.mkString("{", ",", "}")

    val ratios = base.zip(scaled).map { case ((n, b, _, _), (_, sc, _, _)) =>
      f""""$n":${sc / math.max(b, 1e-9)}%.2f"""
    }.mkString("{", ",", "}")

    val heavyJson = heavy.map { case (hb, hs) =>
      val hr = hb.zip(hs).map { case ((n, b, _, _), (_, sc, _, _)) =>
        f""""$n":${sc / math.max(b, 1e-9)}%.2f"""
      }.mkString("{", ",", "}")
      s""","heavy_sf1_base":${fmt(hb)},"heavy_sf1_scaled":${fmt(hs)},""" +
        s""""heavy_time_ratio":$hr"""
    }.getOrElse("")

    val json =
      s"""{"probe":"scale${replicas}x","src":"$srcDir","replicas":$replicas,""" +
        s""""base":${fmt(base)},"scaled":${fmt(scaled)},""" +
        s""""time_ratio":$ratios$heavyJson}"""
    Files.writeString(Paths.get(s"SCALE_PROBE_${replicas}x.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
