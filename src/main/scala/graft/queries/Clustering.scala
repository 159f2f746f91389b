package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** What one [[Clustering.propagateToFixpoint]] call did: propagation
  * rounds run, whether the label sum stopped moving before `maxIters`,
  * and the rows of the input edge table vs the contracted cluster graph
  * the tail rounds iterate on. */
final case class FixpointStats(rounds: Int, converged: Boolean,
    edgeRows: Long, contractedEdgeRows: Long)

/** Connected components over a bipartite (id, bucket) edge list by
  * min-label propagation — the clustering stage shared by the LSH dedup
  * scale paths (`dedup_minhash_lsh_full`, `sim_embed_neardup_full`).
  *
  * An LSH bucket links every pair of its members, so near-dup CLUSTERS
  * are the connected components of the id↔bucket graph. One propagation
  * round (id → min over its buckets → min over each bucket's members)
  * collapses stars but not chains (A~B~C with A,C never sharing a
  * bucket); iterating to a fixpoint makes dedup transitive. Each round
  * is two hash shuffles (groupBy bucket, groupBy id) — O(edges), never
  * quadratic — and labels only decrease, so the label SUM is stationary
  * exactly at the fixpoint: convergence costs one scalar action per
  * round. Chain diameter bounds the round count (near-dup components
  * are shallow in practice; `maxIters` is a safety valve).
  *
  * Reference semantics: presto-ads has no clustering operator — this is
  * the dedup completion the 100 TB pipeline needs.
  *
  * Every intermediate is materialized by an eager `localCheckpoint()`:
  * a flat LogicalRDD leaf that truncates lineage, so round r's plan
  * never chains back through rounds 1..r-1 and no action re-plans
  * earlier rounds. The blocks live on executors (no fault tolerance
  * across executor loss) and stay until the caller's storage hygiene
  * ([[graft.Harness.dropStorage]]) or the ContextCleaner releases them.
  * The call keeps no state beyond [[lastStats]], so concurrent calls in
  * one session are independent.
  */
object Clustering {

  /** One propagation round over an (id, bucket) edge table:
    * label(id) ← min over id's buckets of the bucket's member-label
    * minimum. Monotone non-increasing per id. With `labels = None` it is
    * the first round from cluster(id) = id, folded: the bucket minimum
    * is then min(id) per bucket, so no labels join is needed.
    *
    * The SHUFFLE_HASH hints pin the join strategy: without them the
    * planner broadcasts the (locally tiny) label frame every round — a
    * per-round driver collect + broadcast build that is pure latency
    * here and a non-starter at cluster scale where labels are
    * corpus-sized. */
  private def propagateRound(edges: DataFrame,
      labels: Option[DataFrame]): DataFrame = {
    val memberLabels = labels.fold(
      edges.select(col("bucket"), col("id").as("cluster")))(
      l => edges.join(l.hint("shuffle_hash"), "id"))
    val bucketMin = memberLabels.groupBy("bucket")
      .agg(min("cluster").as("bmin"))
    edges.join(bucketMin.hint("shuffle_hash"), "bucket")
      .groupBy("id").agg(min("bmin").as("cluster"))
  }

  /** `rounds` propagation rounds over `edges`, lazily unrolled (pure
    * plan, no actions), from `labels` or, when None, from
    * cluster(id) = id. The fixpoint materializes these; plan-shape tests
    * assert the per-round shuffle shape on them directly. */
  def propagateRounds(edges: DataFrame, rounds: Int,
      labels: Option[DataFrame] = None): DataFrame = {
    require(rounds > 0, s"rounds must be positive, got $rounds")
    (1 to rounds).foldLeft(labels)((l, _) => Some(propagateRound(edges, l))).get
  }

  @volatile private var stats = FixpointStats(0, converged = false, 0L, 0L)

  /** Statistics of the most recent fixpoint call to finish iterating,
    * published as one value so a reader never mixes fields of two
    * calls; the scale probes record them without log scraping. */
  def lastStats: FixpointStats = stats

  /** `df` with a Long `metric` observed over its rows. The value is
    * read after the next action that runs `df` — here always the eager
    * localCheckpoint that materializes it — so it costs no job. */
  private def observing(df: DataFrame,
      metric: Column): (DataFrame, () => Long) = {
    val obs = new Observation
    (df.observe(obs, metric.as("v")), () => obs.get("v").asInstanceOf[Long])
  }

  /** Iterate propagation until the label assignment is stable.
    * Returns (id, cluster) with cluster = component-minimum id.
    *
    * `requireConverged`: when true, hitting the maxIters valve with the
    * label sum still moving THROWS instead of returning the
    * non-converged assignment. pipeline_leakage_split sets it — a
    * silently unconverged clustering there could put near-dup docs in
    * different splits, the exact leakage the query exists to prevent,
    * with no error raised. Dedup callers keep the default: an early-cut
    * clustering merely under-merges (keeps an extra survivor), which
    * degrades recall, not correctness of the guarantee the operator
    * advertises. */
  def propagateToFixpoint(edges: DataFrame, maxIters: Int = 10,
      requireConverged: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Each edge table (the input, then the contracted cluster graph) is
    // checkpointed once, as it arrives. Under AQE a checkpoint's
    // LogicalRDD reports UnknownPartitioning, so each round's joins
    // exchange the edge side whatever layout the checkpoint holds.
    val (edgesObs, edgeRows) =
      observing(edges.select($"id", $"bucket"), count(lit(1)))
    val e = edgesObs.localCheckpoint()
    // the convergence sum rides the materializing action as an observed
    // metric — one job materializes the round AND yields the sum
    def sumOnce(df: DataFrame): (DataFrame, Long) = {
      val (obs, s) = observing(df, sum($"cluster"))
      val m = obs.localCheckpoint()
      (m, s())
    }
    // The FIRST action runs three rounds (the folded first round + one
    // double round): measured components converge in 5-7 rounds, so a
    // deeper first plan saves one whole action — the per-action latency
    // (stage scheduling + checkpoint + convergence check) is the
    // fixpoint's floor, locally and on a cluster.
    val (labels, _) = sumOnce(propagateRounds(e, 3))
    // Label-graph contraction: the first action collapses every star,
    // so the remaining rounds only need the CLUSTER graph — each edge
    // projected to (cluster(id), bucket) and deduped. Components are
    // preserved (two ids sharing a bucket implies their cluster labels
    // share it), and every label value is itself an original id with
    // cluster(M) = M for a component minimum M, so the contracted
    // fixpoint's minima ARE the original components' minima. Per-round
    // shuffle bytes drop from O(|edges|) to O(|cluster graph|), which
    // shrinks as merging proceeds — at scale the tail rounds iterate on
    // ~|components| rows instead of the corpus (contractedEdgeRows vs
    // edgeRows in [[FixpointStats]] records the ratio).
    val (cEdges, contractedEdgeRows) = observing(
      e.join(labels.hint("shuffle_hash"), "id")
        .select($"cluster".as("id"), $"bucket").distinct(),
      count(lit(1)))
    val c = cEdges.localCheckpoint()
    // contracted first action: three rounds, as above
    var (cLabels, prevSum) = sumOnce(propagateRounds(c, 3))
    var it = 1
    var converged = false
    while (!converged && it < maxIters) {
      // two rounds per convergence action: labels are monotone
      // non-increasing, so a stationary sum across the DOUBLE round
      // implies both sub-rounds were stationary — same fixpoint,
      // half the driver round-trips
      val (next, nextSum) = sumOnce(propagateRounds(c, 2, Some(cLabels)))
      converged = nextSum == prevSum
      prevSum = nextSum
      cLabels = next
      it += 1
    }
    // The first TWO actions run three rounds each (folded first round +
    // one double round, full then contracted); each later loop
    // iteration is a DOUBLE round.
    val done = FixpointStats(6 + 2 * (it - 1), converged, edgeRows(),
      contractedEdgeRows())
    stats = done
    System.err.println(
      s"[clustering] fixpoint after ${done.rounds} rounds " +
        s"(${2 + it} actions, maxIters=$maxIters, converged=$converged, " +
        s"edges=${done.edgeRows} contracted=${done.contractedEdgeRows})")
    if (requireConverged && !converged)
      sys.error(s"label propagation still moving after maxIters=$maxIters " +
        "rounds — refusing to return a non-converged clustering " +
        "(requireConverged=true)")
    // re-attach the contracted assignment to the full id set: each id's
    // post-star label maps to its component minimum; checkpointed so the
    // returned frame is a leaf
    labels.join(
      cLabels.select($"id".as("cluster"), $"cluster".as("cmin"))
        .hint("shuffle_hash"), "cluster")
      .select($"id", $"cmin".as("cluster"))
      .localCheckpoint()
  }
}
