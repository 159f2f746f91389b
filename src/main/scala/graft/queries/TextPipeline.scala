package graft.queries

import graft.{QueryDef, QueryGroup, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text pipeline over `documents` — deduplication
  * (exact, MinHash+LSH, SimHash, n-gram Jaccard), language ID, quality
  * scoring, token counting, fingerprinting.
  *
  * Scale notes (100 TB corpus):
  *  - exact dedup = one hash shuffle on the normalized-text hash;
  *  - MinHash+LSH = band signatures explode ×NBANDS then one shuffle
  *    on (band, signature) — candidate generation never compares
  *    cross-bucket, so cost is O(docs × bands + bucket_pairs), not
  *    O(docs²);
  *  - the all-pairs Jaccard queries are deliberately bounded to a
  *    fixed doc_id prefix — they are the correctness oracle for the
  *    LSH path, not the scale path.
  * All hashing is xxhash64 (codegen'd, no UDF).
  */
object TextPipeline extends QueryGroup {
  private def r4(c: Column): Column = round(c, 4)

  /** Base directory for text_stem_terms' per-corpus (token → stem)
    * oracle dictionaries. Anchored to the JVM working directory
    * (where the default Spark warehouse also lives) so the Spark
    * writer and the static oracle SQL — both built in the same
    * Verify JVM — can never disagree about the location, whatever
    * cwd the harness runs from. Each corpus dir gets its own child
    * (`dict_<sanitized-data-dir>`); the oracle globs ALL of them and
    * de-dups by (tok, stem), which is lossless because the stemmer is
    * a pure function of the token. */
  private[graft] val stemDictBase: String =
    s"${sys.props("user.dir")}/spark-warehouse/graft_stem_dicts"

  private def stemDictDirFor(dir: String): java.io.File =
    new java.io.File(stemDictBase, "dict_" + graft.PathKey(dir))

  /** The corpus vocabulary's (token → stem) map — |vocab| rows,
    * computed by the same word_stem the fn_word_stem2 gate and the 20
    * frozen-corpus specs hash-verify. */
  private def stemDictFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.parallelized(Tables.documents(s, dir))
      .select(explode(split(lower($"text"), "[^a-z]+")).as("tok"))
      .filter(length($"tok") >= 3)
      .distinct()
      .select($"tok", expr("word_stem(tok, 'en')").as("stem"))
  }

  /** Exports this corpus's stem dictionary for the text_stem_terms
    * oracle. Invoked by Verify BEFORE the query dump — never from the
    * gated query itself, so the gate/bench row measures only the
    * aggregation (VERDICT r14 wrong #1: the in-query export doubled
    * the measured time and made a measurement artifact part of the
    * product query).
    *
    * Idempotent and atomic (ADVICE r14 #2): the dict is a pure
    * function of the corpus dir, so a completed export (_SUCCESS
    * present) is reused as-is; a fresh export writes to a temp dir
    * whose name the oracle glob cannot match and atomically renames
    * it into place, so no reader — DuckDB's glob or another JVM —
    * ever observes a partial dict. Per-corpus keying replaces the
    * r14 accumulating union structurally: a run at another scale
    * factor writes a different child dir and can never clobber this
    * corpus's tokens (the r14 'rep'-token clobber class); foreign
    * dirs are inert under the oracle's inner join. */
  def materializeStemDict(s: SparkSession, dir: String): Unit = {
    val target = stemDictDirFor(dir)
    if (new java.io.File(target, "_SUCCESS").exists()) return
    val tmp = new java.io.File(stemDictBase,
      "tmp_" + target.getName + "_" +
        java.util.UUID.randomUUID.toString.take(8))
    stemDictFrame(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    try
      java.nio.file.Files.move(tmp.toPath, target.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      // the rename can fail because another process completed the
      // identical (deterministic) export between our existence check
      // and the rename — theirs is equally valid, discard ours. But
      // FileSystemException also covers AtomicMoveNotSupported,
      // permissions, etc. (ADVICE r15 #1), where discarding tmp would
      // silently leave NO dict and an opaque oracle mismatch — so a
      // completed target must actually exist before we discard.
      case e: java.nio.file.FileSystemException =>
        if (new java.io.File(target, "_SUCCESS").exists())
          org.apache.commons.io.FileUtils.deleteDirectory(tmp)
        else throw e
    }
  }

  /** Merge rounds for pipeline_bpe_vocab — fixed so the DuckDB oracle
    * can unroll the identical rounds as a static CTE chain. */
  private val BpeRounds = 8

  /** The BPE learning loop shared by pipeline_bpe_vocab (which reports
    * the merge table) and pipeline_bpe_tokenize (which applies the
    * final symbol vocabulary corpus-wide). Returns the merge rows and
    * the post-merge vocabulary frame (w, freq, doubled-space seq).
    * See the pipeline_bpe_vocab comment for the distributed shape and
    * the doubled-space replace semantics. */
  private def learnBpe(s: SparkSession, dir: String)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import s.implicits._
    var vocab = Tables.documents(s, dir)
      .select(explode(split(normText($"text"), " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .select($"w", $"freq",
        concat(lit(" "),
          concat_ws("  ", expr("filter(split(w, ''), x -> x <> '')")),
          lit(" ")).as("seq"))
      // NOTE (optimization r19): eager localCheckpoint is deliberate —
      // a lazy persist() chain was measured ~2x SLOWER on the BPE
      // consumers (pipeline_tokenizer_eval 1.9 -> 3.6 s): each round
      // re-analyzes and re-optimizes a one-deeper InMemoryRelation
      // tree, and the per-round argmax pays that planning cost 8
      // times, while the checkpoint keeps every round a flat RDD leaf.
      .localCheckpoint()
    val merges =
      scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    // Optimization r20 (VERDICT r19 next #8, adapted): the 8 merge
    // decisions are inherently sequential (each argmax depends on the
    // previous replace — top-k lookahead can't be validated without
    // the updated counts), but the per-round COST had two removable
    // parts: (a) the pair expression re-split `trim(seq)` three times
    // per row (slice arg, size arg, and the lambda's indexed read) —
    // a two-step projection computes the split once (CollapseProject
    // keeps a non-cheap alias referenced 3× materialized); (b) every
    // round paid a localCheckpoint write+read job just to keep plans
    // flat — accumulating the (narrow, cheap) replace columns on top
    // of the last checkpoint and cutting every 4th round keeps the
    // plan ≤4 projections deep while halving the job count per round
    // (1 argmax job instead of argmax + checkpoint). The r19 note
    // about lazy persist being 2x slower was about UNBOUNDED chains
    // re-planned per consumer; the bounded 4-round window keeps the
    // flat-leaf property where it matters.
    var sinceCkpt = 0
    for (r <- 1 to BpeRounds if !exhausted) {
      val pairs = vocab
        .select($"freq", split(trim($"seq"), "  ").as("toks"))
        .select($"freq", explode(expr(
          "transform(slice(toks, 1, size(toks) - 1), " +
            "(t, i) -> struct(t AS l, toks[i + 1] AS r))"))
          .as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"freq").as("c"))
      // 1-row argmax to the driver: the merge decision is a global
      // scalar, exactly like the fixpoint convergence checks
      val best = pairs.orderBy($"c".desc, $"l", $"r").limit(1).collect()
      if (best.isEmpty) {
        // degenerate corpus: every word is down to one symbol before
        // the round budget is spent — stop, don't throw (ADVICE r14
        // #4). The oracle mirrors this structurally: its per-round
        // LEFT JOIN against the (empty) argmax leaves the sequence
        // frame unchanged and contributes no merge row.
        exhausted = true
      } else {
        val (l, rr, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((r.toLong, l, rr, c))
      // Column-API replace with lit() arguments, NOT a SQL string with
      // interpolated literals (r14 review): symbols containing
      // escape-significant characters (backslashes etc.) would be
      // re-parsed by Spark's SQL literal rules while DuckDB's raw
      // '||' concatenation would not — lit() carries the bytes
      // verbatim, matching the oracle for any symbol content.
        vocab = vocab.withColumn("seq",
          replace($"seq", lit(s" $l  $rr "), lit(s" $l$rr ")))
        sinceCkpt += 1
        if (sinceCkpt == 4) { vocab = vocab.localCheckpoint(); sinceCkpt = 0 }
      }
    }
    // consumers (tokenize/encode/eval) fan out from the final vocab —
    // always hand them a flat checkpointed leaf
    if (sinceCkpt != 0) vocab = vocab.localCheckpoint()
    (merges.toSeq, vocab)
  }

  /** The BPE oracle: v0/s0 seed the (word, freq, doubled-space char
    * sequence) frame, then each round r appends p_r (pair counts),
    * b_r (total-order argmax) and s_r (merge applied via the same
    * leftmost non-overlapping replace) — a mechanical unroll of the
    * Spark loop, sharing its representation exactly. With no `tail`
    * the final SELECT is the merge table; a `tail` (CTEs + SELECT)
    * instead consumes the post-merge vocabulary s{rounds}
    * (pipeline_bpe_tokenize). */
  private def bpeOracle(rounds: Int, tail: String = ""): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH v0 AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split(
        |      regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS w
        |    FROM documents) GROUP BY w),
        |s0 AS (SELECT w, freq,
        |  ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS seq
        |  FROM v0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |p$r AS (
        |  SELECT l, r2, CAST(sum(freq) AS BIGINT) AS c FROM (
        |    SELECT freq, toks[i] AS l, toks[i + 1] AS r2
        |    FROM (SELECT freq, string_split(trim(seq), '  ') AS toks
        |          FROM s${r - 1}),
        |      LATERAL unnest(range(1, len(toks))) AS u(i))
        |  GROUP BY l, r2),
        |b$r AS (SELECT CAST($r AS BIGINT) AS merge_round, l, r2, c FROM p$r
        |        ORDER BY c DESC, l, r2 LIMIT 1)""".stripMargin)
      // LEFT JOIN, not cross join (ADVICE r14 #4): when the pair table
      // empties before the round budget, b$r is EMPTY — a cross join
      // would wipe s$r while the Spark loop's early stop keeps the
      // vocabulary; the LEFT JOIN + CASE leaves the sequence frame
      // unchanged instead, mirroring the early stop exactly.
      if (r < rounds || tail.nonEmpty) sb.append(s""",
        |s$r AS (SELECT w, freq,
        |  CASE WHEN b.l IS NULL THEN seq
        |    ELSE replace(seq, ' ' || b.l || '  ' || b.r2 || ' ',
        |      ' ' || b.l || b.r2 || ' ') END AS seq
        |  FROM s${r - 1} LEFT JOIN b$r AS b ON TRUE)""".stripMargin)
    }
    if (tail.nonEmpty) sb.append(",\n").append(tail)
    else sb.append(s"""
      |SELECT merge_round, l AS merge_left, r2 AS merge_right,
      |  c AS pair_count
      |FROM (${(1 to rounds).map("SELECT * FROM b" + _).mkString(" UNION ALL ")})
      |ORDER BY merge_round""".stripMargin)
    sb.toString
  }

  // --- unigram-LM (SentencePiece) tokenizer induction (r17; Kudo 2018,
  // --- "Subword Regularization", §3 — VERDICT r16 missing #2) ---------

  /** Hard-EM rounds for pipeline_unigram_vocab — fixed so the DuckDB
    * oracle can unroll the identical rounds as a static CTE chain
    * (the BpeRounds discipline). */
  private val UnigramRounds = 2

  /** Max seed-piece length: the seed vocabulary is ALL substrings of
    * the corpus words up to this length (bounded: ≤ 4·Σ|w| pieces
    * over the DISTINCT vocabulary, linear in vocab size — Kudo seeds
    * from frequent substrings the same way). */
  private val UnigramSeedLen = 4

  /** A planted 40-char token (r19; VERDICT r18 wrong #4's "Done"
    * condition): real corpora carry URLs and hash strings far past
    * the ~8-char words of the synthetic gate corpus, and the r17
    * enumeration oracle could never verify one (2^39 cut masks; the
    * pow(2, L−1) arithmetic itself loses exactness past L≈54). With
    * BOTH engines running the exact O(L·maxPieceLen) lattice DP, the
    * gate now proves the long-token case end to end. */
  private[graft] val UnigramPlantedToken =
    "graftlongtokenabcdefghijklmnopqrstuvwxyz"

  /** The corpus word-frequency table — the ONLY corpus-touching stage
    * of the tokenizer (one aggregate; every EM round after it is
    * vocab-bounded, the BPE discipline). Empty words are excluded on
    * BOTH sides: Spark's sequence(1, L-1) turns descending at L=0
    * where DuckDB's range returns empty. The planted long token rides
    * along at freq 1 (and in the oracle's v CTE verbatim). */
  private[graft] def unigramWords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split(normText($"text"), " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
      .unionByName(s.range(1)
        .select(lit(UnigramPlantedToken).as("w"), lit(1L).as("freq")))
  }

  /** One Viterbi E-step: the best segmentation of every vocab word
    * under integer micro-nat piece scores, computed by the exact
    * O(L·maxPieceLen) LATTICE DP (r18; VERDICT r17 wrong #1 — the
    * r17 cut-mask enumeration was 2^(L-1) per word, a data-dependent
    * scale-killer on any corpus with a long token: a 40-char URL or
    * hash string meant 2^39 masks).
    *
    * Shape: words explode into their ≤ L·maxPieceLen candidate
    * (start, end, piece) substrings (maxPieceLen is read off the
    * vocabulary itself, one broadcast scalar — never a hardcoded
    * constant), the in-vocab candidates survive a broadcast join with
    * `units`, each word's surviving lattice edges collect into ONE
    * bounded array, and a single `aggregate` fold walks positions
    * 1..L keeping the best (total, np, seg) per prefix — the textbook
    * Viterbi forward pass, entirely inside whole-stage-codegen'd
    * expressions (no UDF, no driver loop, still vocab-bounded:
    * segmentation runs on DISTINCT words, never per document).
    *
    * Exactness vs the enumeration (pinned DP == enumeration in
    * Round18FixesSpec): totals are BIGINT sums so comparisons are
    * exact; the candidate order (total DESC, np ASC, seg ASC) has
    * optimal substructure — totals/np are additive, and for
    * equal-(total, np) candidates the segs are the SAME word with
    * spaces at different cut positions (equal length, and ' ' sorts
    * below every post-normText word character), so the lexicographic
    * tie-break of full segmentations reduces to the tie-break of
    * their prefixes. The DP state array stores the NEGATED total so
    * `array_min` over struct ordering picks the argmax directly.
    * Returns (w, freq, seg, np) — bit-identical to the enumeration,
    * which survives as [[unigramBestSegEnum]] for the spec pin. */
  private[graft] def unigramBestSeg(words: DataFrame, units: DataFrame): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val maxPl = units.groupBy().agg(max(length($"piece")).as("maxpl"))
    val edges = words
      .crossJoin(broadcast(maxPl))
      .select($"w", $"freq", explode(expr(
        "flatten(transform(sequence(1, length(w)), jj -> " +
          "transform(sequence(greatest(1, jj - maxpl + 1), jj), ii -> " +
          "named_struct('i', cast(ii - 1 as int), 'j', cast(jj as int), " +
          "'piece', substring(w, cast(ii as int), " +
          "cast(jj - ii + 1 as int))))))")).as("e"))
      .select($"w", $"freq",
        $"e.i".as("i"), $"e.j".as("j"), $"e.piece".as("piece"))
      .join(broadcast(units), Seq("piece"))
    // dp[j] = best (negated total, piece count, seg) over valid
    // segmentations of w[0..j), or NULL if unreachable; array_min on
    // an empty candidate list yields exactly that NULL
    val dp =
      """aggregate(
        |  sequence(1, length(w)),
        |  array(named_struct('nt', cast(0 as bigint), 'np', 0, 'seg', '')),
        |  (acc, jj) -> concat(acc, array(
        |    array_min(transform(
        |      filter(es, e -> e.j = jj
        |                  AND element_at(acc, e.i + 1) IS NOT NULL),
        |      e -> named_struct(
        |        'nt', element_at(acc, e.i + 1).nt - e.units,
        |        'np', element_at(acc, e.i + 1).np + 1,
        |        'seg', if(e.i = 0, e.piece,
        |          concat(element_at(acc, e.i + 1).seg, ' ', e.piece))))))),
        |  acc -> element_at(acc, -1))""".stripMargin
    edges
      .groupBy($"w", $"freq")
      .agg(collect_list(struct($"i", $"j", $"units", $"piece")).as("es"))
      .withColumn("best", expr(dp))
      .filter($"best".isNotNull)
      .select($"w", $"freq", $"best.seg".as("seg"), $"best.np".as("np"))
  }

  /** The r17 exhaustive-enumeration E-step — 2^(L-1) cut masks per
    * word — retained ONLY as the independent reference the DP is
    * pinned against (Round18FixesSpec) and as the readable spec of
    * the semantics; nothing in the shipped pipeline calls it. r19:
    * the DuckDB oracle runs the lattice DP too (unigramOracleCtes),
    * so the gate verifies long tokens the enumeration could never
    * attempt (a planted 40-char token rides in every unigram row). */
  private[graft] def unigramBestSegEnum(words: DataFrame,
      units: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = words.sparkSession
    import s.implicits._
    val segs = words
      .select($"w", $"freq",
        explode(expr("sequence(cast(0 as bigint), " +
          "cast(pow(2, length(w) - 1) as bigint) - 1)")).as("m"))
      .withColumn("cp", expr(
        "concat(array(cast(0 as bigint)), " +
          "transform(filter(sequence(1, length(w)), " +
            "i -> i < length(w) AND shiftright(m, cast(i - 1 as int)) % 2 = 1), " +
            "i -> cast(i as bigint)), " +
          "array(cast(length(w) as bigint)))"))
      .withColumn("parr", expr(
        "transform(sequence(1, size(cp) - 1), " +
          "j -> substring(w, cast(cp[j - 1] + 1 as int), " +
            "cast(cp[j] - cp[j - 1] as int)))"))
      .select($"w", $"freq", $"m", size($"parr").as("np"),
        array_join($"parr", " ").as("seg"),
        posexplode($"parr").as(Seq("j", "piece")))
    val wBest = Window.partitionBy($"w")
      .orderBy($"total".desc, $"np".asc, $"seg".asc)
    segs.join(broadcast(units), Seq("piece"))
      .groupBy($"w", $"freq", $"m", $"np", $"seg")
      .agg(sum($"units").as("total"), count(lit(1)).as("matched"))
      .filter($"matched" === $"np")
      .withColumn("rn", row_number().over(wBest)).filter($"rn" === 1)
      .select($"w", $"freq", $"seg", $"np")
  }

  /** Raw (pre-quantization) micro-nat scores ln(cnt/T)·1e6 for a
    * (piece, cnt) table — private[graft] so UnigramMarginSpec audits
    * the EXACT values every round quantizes (the hybridRawPerTerm
    * discipline: the audit can never drift from the shipped query).
    * cnt/T is one IEEE division of exact BIGINTs, identical in both
    * engines; ln noise (≤1 ulp cross-libm) is what the margin audit
    * bounds against the round() boundary. */
  private[graft] def unigramRawUnits(cnts: DataFrame): DataFrame = {
    import cnts.sparkSession.implicits._
    cnts.crossJoin(broadcast(cnts.groupBy().agg(sum($"cnt").as("tot"))))
      .select($"piece", (log($"cnt" / $"tot") * 1e6).as("raw"))
  }

  private[graft] def unigramUnits(cnts: DataFrame): DataFrame = {
    import cnts.sparkSession.implicits._
    unigramRawUnits(cnts)
      .select($"piece", round($"raw", 0).cast("long").as("units"))
  }

  /** Seed vocabulary counts: freq-weighted occurrences (multiplicity
    * included) of every substring of length ≤ UnigramSeedLen over the
    * word-frequency table — private[graft] so Round18FixesSpec can
    * pin the lattice DP against the enumeration on EXACTLY the
    * shipped seed units. */
  private[graft] def unigramSeedCounts(words: DataFrame): DataFrame = {
    import words.sparkSession.implicits._
    words
      .select($"freq", explode(expr(
        "flatten(transform(sequence(1, length(w)), i -> " +
          s"transform(sequence(i, least(length(w), i + ${UnigramSeedLen - 1})), " +
          "j -> substring(w, i, j - i + 1))))")).as("piece"))
      .groupBy($"piece").agg(sum($"freq").as("cnt"))
  }

  /** The unigram learning loop shared by pipeline_unigram_vocab
    * (which reports the post-EM piece counts) and
    * pipeline_unigram_tokenize (which applies the final model
    * corpus-vocabulary-wide). Seed counts = freq-weighted substring
    * occurrences (multiplicity included); each hard-EM round rescores
    * pieces from the current counts and re-counts from the new best
    * segmentations — pieces the Viterbi stops using drop out, which
    * IS the pruning (Kudo §3.2 prunes by contribution; hard-EM's
    * drop-to-zero is the fixed-round deterministic analog). Every
    * corpus word always retains ≥1 valid segmentation by induction:
    * its own round-r best pieces all survive into round r+1's vocab.
    * Returns (final piece counts, final best segmentation, per-round
    * raw unit frames for the margin audit). */
  private[graft] def learnUnigram(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    // NOTE (optimization r19): eager localCheckpoint is deliberate
    // here — a lazy persist() was measured 2-3x SLOWER
    // (pipeline_tokenizer_eval 1.9 -> 6.0 s): the per-round unit
    // tables feed broadcast builds, and with nothing materialized the
    // planning-time broadcast of round r re-derives the whole EM
    // chain below it before the caches ever fill. The eager cut per
    // round keeps each level computed exactly once.
    val words = unigramWords(s, dir).localCheckpoint()
    var cnts = unigramSeedCounts(words).localCheckpoint()
    val raws = Seq.newBuilder[DataFrame]
    for (_ <- 1 to UnigramRounds) {
      raws += unigramRawUnits(cnts)
      cnts = unigramBestSeg(words, unigramUnits(cnts))
        .select($"freq", explode(split($"seg", " ")).as("piece"))
        .groupBy($"piece").agg(sum($"freq").as("cnt"))
        .localCheckpoint()
    }
    raws += unigramRawUnits(cnts)
    // the final E-step (tokenize) stays LAZY: the vocab row never
    // pays for it
    (cnts, unigramBestSeg(words, unigramUnits(cnts)), raws.result())
  }

  /** The unigram oracle: v (word freq) and c0 (seed counts) feed
    * `rounds` unrolled hard-EM rounds — each round r computes the
    * micro-nat unit table u_r from c_{r-1}, enumerates every cut mask,
    * scores the in-vocab segmentations, takes the per-word argmax
    * under the identical (total, np, seg) order, and re-counts to c_r
    * — a mechanical unroll of the Spark loop (the bpeOracle
    * discipline). With no `tail` the final SELECT is the piece-count
    * table c{rounds}; a `tail` instead consumes the FINAL Viterbi
    * pass bs{rounds+1} (pipeline_unigram_tokenize). */
  private def unigramOracle(rounds: Int, tail: String = ""): String =
    "WITH " + unigramOracleCtes(rounds, tail)

  /** The CTE chain of [[unigramOracle]] WITHOUT the leading WITH, so
    * composite oracles (pipeline_tokenizer_eval) can append it to
    * another chain — CTE names (v, c*, t*, u*, sg*, px*, sc*, bs*)
    * are disjoint from bpeOracle's (v0, s*, p*, b*) by construction. */
  private def unigramOracleCtes(rounds: Int, tail: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""v AS (
         |  SELECT w, count(*) AS freq FROM (
         |    SELECT unnest(string_split(
         |      regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS w
         |    FROM documents) WHERE length(w) >= 1 GROUP BY w
         |  UNION ALL SELECT '$UnigramPlantedToken' AS w, 1 AS freq),
         |c0 AS (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq,
         |      substr(w, CAST(s.i AS INT),
         |        CAST(t.l AS INT)) AS piece
         |    FROM v,
         |      LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) s,
         |      LATERAL (SELECT unnest(range(1, ${UnigramSeedLen + 1})) AS l) t
         |    WHERE CAST(s.i AS INT) + CAST(t.l AS INT) - 1 <= length(w))
         |  GROUP BY piece)""".stripMargin)
    // per-round E-step: the SAME exact O(L·maxPieceLen) lattice DP
    // the engine runs (r19; VERDICT r18 wrong #4 — the previous
    // enumeration CTE unrolled 2^(L-1) cut masks, exact only to L≈54
    // and explosive well before, so gate corpora with real long
    // tokens were unverifiable). list_reduce demands acc and element
    // types match, so the fold walks positions smuggled as singleton
    // state lists ({'nt': jj, 'np': -1}) and the accumulator is the
    // dp state list itself: dp[j] = min (= argmax of total, since nt
    // is the NEGATED total and struct comparison is lexicographic,
    // same as Spark's array_min) over in-vocab edges ending at j,
    // NULL when unreachable (list_aggregate of an empty list).
    for (r <- 1 to rounds + 1) {
      sb.append(s""",
        |t${r - 1} AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c${r - 1}),
        |u$r AS (SELECT piece,
        |  CAST(round(ln(cnt / tot) * 1000000.0) AS BIGINT) AS units
        |  FROM c${r - 1}, t${r - 1}),
        |mp$r AS (SELECT max(length(piece)) AS maxpl FROM u$r),
        |ed$r AS (
        |  SELECT v.w, v.freq, CAST(si.ii - 1 AS INT) AS i,
        |    CAST(sj.jj AS INT) AS j, u.units, u.piece
        |  FROM v, mp$r,
        |    LATERAL (SELECT unnest(range(1, length(v.w) + 1)) AS ii) si,
        |    LATERAL (SELECT unnest(range(si.ii,
        |      si.ii + CAST(mp$r.maxpl AS BIGINT))) AS jj) sj
        |  JOIN u$r u ON u.piece = substr(v.w, CAST(si.ii AS INT),
        |    CAST(sj.jj - si.ii + 1 AS INT))
        |  WHERE sj.jj <= length(v.w)),
        |el$r AS (
        |  SELECT w, freq,
        |    list({'i': i, 'j': j, 'units': units, 'piece': piece}) AS es
        |  FROM ed$r GROUP BY w, freq),
        |dps$r AS (
        |  SELECT w, freq,
        |    list_reduce(
        |      list_prepend(
        |        [{'nt': CAST(0 AS BIGINT), 'np': 0, 'seg': ''}],
        |        list_transform(range(1, CAST(length(w) AS BIGINT) + 1),
        |          jj -> [{'nt': jj, 'np': -1, 'seg': ''}])),
        |      (acc, x) -> list_append(acc,
        |        list_aggregate(
        |          list_transform(
        |            list_filter(es, e -> CAST(e.j AS BIGINT) = x[1].nt
        |                            AND acc[e.i + 1] IS NOT NULL),
        |            e -> {'nt': acc[e.i + 1].nt - e.units,
        |                  'np': acc[e.i + 1].np + 1,
        |                  'seg': CASE WHEN e.i = 0 THEN e.piece
        |                         ELSE acc[e.i + 1].seg || ' ' || e.piece END}),
        |          'min'))
        |    )[CAST(length(w) AS INT) + 1] AS best
        |  FROM el$r),
        |bs$r AS (SELECT w, freq, best.seg AS seg, best.np AS np
        |  FROM dps$r WHERE best IS NOT NULL)""".stripMargin)
      if (r <= rounds) sb.append(s""",
        |c$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        |    SELECT freq, unnest(string_split(seg, ' ')) AS piece
        |    FROM bs$r) GROUP BY piece)""".stripMargin)
    }
    if (tail.nonEmpty) sb.append(",\n").append(tail)
    else sb.append(s"""
      |SELECT piece, cnt FROM c$rounds ORDER BY piece""".stripMargin)
    sb.toString
  }

  /** lower/trim/collapse-whitespace normalization, shared by dedup ops. */
  private def normText(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  private def wordSet(c: Column): Column =
    array_sort(array_distinct(split(normText(c), " ")))

  /** Word set as xxhash64 tokens (array<long>): pairwise intersects on
    * longs instead of strings. Injective on this corpus's ~50-word
    * vocabulary (collision odds ~ |V|²/2^64), so Jaccard values are
    * identical to the string-set oracle.
    */
  private def hashedWordSet(c: Column): Column =
    transform(wordSet(c), t => xxhash64(t))

  /** Near-dup cluster labels at the STRICT banding (16 rows/band × 4
    * bands, candidate threshold ≈ j^16 per band) — the clustering
    * behind the leakage-safe split (Brown et al. 2020 appendix C:
    * eval contamination comes from near-duplicates straddling the
    * split, so membership must be decided per near-dup CLUSTER, never
    * per document). Split hygiene wants high-precision near-dup
    * edges; at the dedup-recall banding (4 rows) this corpus's LSH
    * graph is one connected component — every document would land in
    * one split, the degenerate-but-safe extreme.
    *
    * Strict bands = a sparser bucket graph than the dedup-recall
    * banding, so min-label chains run longer (7 actions at the
    * derived sf1 vs dedup's 3); maxIters=15 leaves the same relative
    * headroom at probe scale (convergence is probed at 1x/10x/100x —
    * ScaleProbe FixpointQueries). requireConverged (r17; ADVICE r16
    * #1): the no-contamination guarantee is only as good as the
    * fixpoint — fail loudly if the valve is hit, never return a
    * split that might leak. */
  private def neardupClusterAssignment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Clustering.propagateToFixpoint(neardupBucketEdges(s, dir),
        maxIters = 15, requireConverged = true)
      .select($"id", $"cluster")
  }

  /** The (id, band bucket) signature rows under the strict 16-row
    * banding — the ONE signature pass everything near-dup-shaped
    * derives from (two-step projection: wordBaseHashes materializes
    * before the 64 minhash lambdas reference it — inlining it
    * re-evaluates the per-word md5 once per permutation, measured
    * ~2× the row). */
  private def neardupBucketEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.parallelized(Tables.documents(s, dir))
      .select($"doc_id", PortableLsh.wordBaseHashes($"text").as("x"))
      .select($"doc_id", PortableLsh.minhashArray($"x").as("m"))
      .select($"doc_id".as("id"),
        explode(PortableLsh.bucketArrayFromSigs($"m", 16)).as("bucket"))
  }

  /** Star-VERIFIED near-dup cluster assignment over a (doc_id, text)
    * corpus at the dedup (4-row) banding — r19, closing VERDICT r18
    * "What's wrong" #1: the repo's own dedup_lsh_recall row measured
    * 32% of sub-0.5-Jaccard pairs sharing a band bucket at this
    * banding, making the UNVERIFIED transitive clusters hash-collision
    * components (one connected component on the gate corpus). Now a
    * band-bucket collision is only an edge after VERIFICATION:
    *
    *  1. one signature pass computes each doc's 64-row minhash
    *     signature; its only consumer is the bucket explode, and one
    *     bucket window reads both the hub's and the member's signature
    *     from it, so the corpus is scanned and hashed once;
    *  2. candidates are STAR edges — each bucket member pairs with its
    *     bucket's min-id hub, O(memberships) candidates total, never
    *     the within-bucket pair set (quadratic in bucket size: the
    *     gate corpus's template tail already yields 9.6M distinct
    *     pairs at sf0.1 vs 42k star edges, and exact-duplicate-heavy
    *     scale-ups make full pair enumeration intractable);
    *  3. each star edge is kept iff ≥ [[PortableLsh.VerifyAgree]] of
    *     the 64 signature rows agree (agreement/64 is the unbiased
    *     Jaccard estimate; no text re-read, O(64) per candidate);
    *  4. components come from the same min-label fixpoint, over the
    *     verified edges plus one self-edge per doc (singletons
    *     survive as their own cluster).
    *
    * Measured on the gate corpus against the exact all-pairs truth
    * (r19 prototype + dedup_lsh_recall_verified): star verification
    * keeps 9024 of the 9026 true j≥0.9 candidate pairs in the same
    * cluster (full pairwise verification keeps all 9026 — the two
    * misses are the linear candidate set's price) and zero direct
    * sub-0.5 pairs as edges; cluster count rises from 1 (unverified)
    * to 123 at sf0.01 and 1150 at sf0.1. */
  private def verifiedClusterAssignment(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Optimization r19 (guide §2.4 — remove shuffles outright): the
    // star candidates and their verification are ONE window pass
    // over the exploded (id, m, bucket) rows instead of the r19
    // build's groupBy(bucket)+join-back for the hub plus TWO
    // signature joins against mh for (ma, mb). Both the hub id and
    // the hub's signature come from first_value over the bucket
    // window (orderBy id: the frame's first row IS the min-id hub),
    // so the signatures never rejoin — one exchange by bucket
    // carries each doc's 512-byte signature exactly once per band
    // membership, and agreement is counted right there by the
    // codegen'd arr_eq_count. Selected pairs are identical: the
    // same (hub=min bucket id, member, agreement ≥ VerifyAgree)
    // predicate, deduped across buckets after the filter.
    // r20: the persist here is GONE — in the window form the
    // signature pass has exactly ONE consumer (the bucket explode
    // below; hub id and hub signature both come from the window),
    // and the whole edge pipeline materializes once anyway inside
    // the fixpoint's eager edge checkpoint. The persist only added
    // an InMemoryRelation layer to every downstream plan.
    val mh = Tables.parallelized(docs)
      .select($"doc_id", PortableLsh.wordBaseHashes($"text").as("x"))
      .select($"doc_id", PortableLsh.minhashArray($"x").as("m"))
    val cand = mh.select($"doc_id".as("id"), $"m",
      explode(PortableLsh.bucketArrayFromSigs($"m",
        PortableLsh.RowsPerBand)).as("bucket"))
    val wb = Window.partitionBy($"bucket").orderBy($"id")
    val ver = cand
      .withColumn("hub", first($"id").over(wb))
      .withColumn("hm", first($"m").over(wb))
      .filter($"id" =!= $"hub")
      .filter(call_function("arr_eq_count", $"hm", $"m")
        >= PortableLsh.VerifyAgree)
      .select($"id", $"hub").distinct()
    val edges = ver.select($"id", $"hub".cast("string").as("bucket"))
      .unionByName(docs.select($"doc_id".as("id"),
        $"doc_id".cast("string").as("bucket")))
    // requireConverged: the oracle recomputes EXACT components, so a
    // silently early-cut fixpoint would hash-mismatch downstream —
    // fail loudly instead (the leakage-split valve discipline). The
    // star graph can chain deeper than raw bucket stars (hubs link
    // through shared members), so the valve sits well above the
    // measured round counts (5/9/13 at 1×/10×/100×).
    Clustering.propagateToFixpoint(edges, maxIters = 20,
      requireConverged = true).select($"id", $"cluster")
  }

  /** Warehouse prefix of the standing near-dup asset for `dir`. */
  private def neardupAssetPrefix(s: SparkSession, dir: String): String =
    s.conf.get("spark.sql.warehouse.dir") +
      "/graft_neardup_" + graft.PathKey(dir)

  /** Ensures the standing band-bucket index exists in the warehouse
    * (build-if-missing, PathKey-keyed — the signature pass runs once
    * per corpus and every later consumer probes the parquet;
    * pipeline_leakage_split_materialized REFRESHES it
    * unconditionally). Returns the bucket table path. */
  private[graft] def ensureNeardupBuckets(s: SparkSession,
      dir: String): String = {
    val path = neardupAssetPrefix(s, dir) + "/buckets"
    // Existence resolves through the Hadoop FileSystem API so the check
    // works for ANY warehouse scheme (hdfs://, s3a://, file:) — a
    // java.io.File test is always-false off the local FS and would
    // silently rebuild the index every run, defeating the
    // build-once-per-corpus economics this asset exists for (ADVICE
    // r18). The asset counts as built only when the committer's
    // _SUCCESS marker is present: a crashed prior write leaves a
    // partial parquet dir that a bare directory-existence test would
    // serve as truth.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      neardupBucketEdges(s, dir).write.mode("overwrite").parquet(path)
    path
  }

  /** The split decision over an (id, cluster) assignment — a pure
    * function of the CLUSTER label: a 56-bit md5 draw cross-multiplied
    * against the 90/5/5 fractions in exact BIGINT (56 bits so u*20
    * cannot overflow; the domain-curation discipline without needing
    * DECIMAL) — so by construction no two near-dup documents can land
    * in different splits. Adds ZERO shuffles: a map over the labeled
    * stream. Shared by the inline and the materialized rows. */
  private def splitDraw(assign: DataFrame): DataFrame =
    assign
      .withColumn("u", expr(
        "CAST(conv(substring(md5(concat('split:', " +
          "CAST(cluster AS STRING))), 1, 14), 16, 10) AS BIGINT)"))
      .select(col("id"), col("cluster"),
        when(col("u") * 10 < 648518346341351424L, "train")
          .when(col("u") * 20 < 1369094286720630784L, "validation")
          .otherwise("test").as("split"))
      .orderBy(col("id"))

  /** The leakage-split oracle — the recursive-CTE closure recomputes
    * the identical clusters and the identical md5 draw, so the full
    * per-doc assignment is value-checked. Shared VERBATIM by
    * pipeline_leakage_split and pipeline_leakage_split_materialized
    * (materialization must not change a value — the q23_materialized
    * discipline). */
  private lazy val duckLeakageSplitSql: String =
    s"""WITH RECURSIVE
       |base AS (SELECT doc_id, text FROM documents),
       |${PortableLsh.duckMinhashEdgesBanded(16)},
       |${PortableLsh.duckClosureCtes},
       |drawn AS (
       |  SELECT id, cluster,
       |    CAST('0x' || substr(md5('split:' || CAST(cluster AS VARCHAR)),
       |      1, 14) AS BIGINT) AS u
       |  FROM assign)
       |SELECT id, cluster,
       |  CASE WHEN u * 10 < 648518346341351424 THEN 'train'
       |       WHEN u * 20 < 1369094286720630784 THEN 'validation'
       |       ELSE 'test' END AS split
       |FROM drawn ORDER BY id""".stripMargin

  /** The banding capture-curve measurement shared by dedup_lsh_recall
    * (4 rows/band — the full-dedup recall banding) and
    * dedup_lsh_recall_strict (16 rows/band — the leakage-split
    * precision banding): every pair of the bounded 500-doc slice
    * bucketed by exact word-set Jaccard, marked caught iff it shares
    * ≥1 PortableLsh band bucket at the given banding. */
  private def lshBandingRecall(s: SparkSession, dir: String,
      rowsPerBand: Int): DataFrame = {
    import s.implicits._
    val docs = Tables.parallelized(
      Tables.documents(s, dir).filter($"doc_id" < 500))
    val buckets = docs
      .select($"doc_id", PortableLsh.wordBaseHashes($"text").as("x"))
      .select($"doc_id", PortableLsh.minhashArray($"x").as("m"))
      .select($"doc_id".as("id"),
        explode(PortableLsh.bucketArrayFromSigs($"m", rowsPerBand)).as("bucket"))
    val candPairs = buckets.as("a").join(buckets.as("b"), "bucket")
      .filter($"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b")).distinct()
      .withColumn("caught", lit(1L))
    val t = docs.select($"doc_id", wordSet($"text").as("w"))
    val a = t.select($"doc_id".as("id_a"), $"w".as("wa"))
    val b = t.select($"doc_id".as("id_b"), $"w".as("wb"))
    a.crossJoin(b).filter($"id_a" < $"id_b")
      .withColumn("ni", size(array_intersect($"wa", $"wb")))
      .withColumn("j", $"ni".cast("double") /
        (size($"wa") + size($"wb") - $"ni"))
      .withColumn("j_band",
        when($"j" >= 0.9, "j_0.9_1.0")
          .when($"j" >= 0.7, "j_0.7_0.9")
          .when($"j" >= 0.5, "j_0.5_0.7")
          .otherwise("j_0.0_0.5"))
      .join(candPairs, Seq("id_a", "id_b"), "left")
      .groupBy($"j_band")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce($"caught", lit(0L))).as("n_caught"))
      .orderBy($"j_band")
  }

  /** DuckDB oracle of [[lshBandingRecall]] at the same banding. */
  private def duckLshRecallSql(rowsPerBand: Int): String =
    s"""WITH base AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id < 500),
       |${PortableLsh.duckMinhashEdgesBanded(rowsPerBand)},
       |cp AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |       FROM edges a JOIN edges b
       |         ON a.bucket = b.bucket AND a.id < b.id),
       |t AS (
       |  SELECT doc_id, list_sort(list_distinct(string_split(
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '))) AS w
       |  FROM base),
       |bd AS (
       |  SELECT id_a, id_b,
       |    CASE
       |      WHEN j >= 0.9 THEN 'j_0.9_1.0'
       |      WHEN j >= 0.7 THEN 'j_0.7_0.9'
       |      WHEN j >= 0.5 THEN 'j_0.5_0.7'
       |      ELSE 'j_0.0_0.5' END AS j_band
       |  FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) /
       |        (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS j
       |    FROM t a JOIN t b ON a.doc_id < b.doc_id))
       |SELECT bd.j_band, count(*) AS n_pairs,
       |  CAST(sum(CASE WHEN cp.id_a IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_caught
       |FROM bd LEFT JOIN cp
       |  ON bd.id_a = cp.id_a AND bd.id_b = cp.id_b
       |GROUP BY bd.j_band ORDER BY bd.j_band""".stripMargin

  override def defs: Map[String, QueryDef] = Map(
    // Quality metrics: length, token stats, stopword + distinct ratios.
    "text_quality" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
        Tables.documents(s, dir)
          .withColumn("toks", split(normText($"text"), " "))
          .select($"doc_id",
            length($"text").as("n_chars_actual"),
            size($"toks").as("n_tokens"),
            size(array_distinct($"toks")).as("n_distinct"),
            r4(size(array_distinct($"toks")).cast("double") / size($"toks"))
              .as("distinct_ratio"),
            r4(aggregate($"toks", lit(0L), (acc, t) => acc + length(t))
              .cast("double") / size($"toks")).as("avg_tok_len"),
            r4(size(filter($"toks", t => array_contains(stop, t)))
              .cast("double") / size($"toks")).as("stopword_ratio"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, text,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  length(text) AS n_chars_actual,
             |  len(toks) AS n_tokens,
             |  len(list_distinct(toks)) AS n_distinct,
             |  round(len(list_distinct(toks)) * 1.0 / len(toks), 4) AS distinct_ratio,
             |  round(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(toks, t -> CAST(length(t) AS BIGINT))),
             |    (a, b) -> a + b) * 1.0 / len(toks), 4) AS avg_tok_len,
             |  round(len(list_filter(toks,
             |    t -> list_contains(['the','a','of','and','to'], t))) * 1.0 / len(toks), 4)
             |    AS stopword_ratio
             |FROM t ORDER BY doc_id""".stripMargin)),

    // Corpus-scale stemming (r13; EXACT oracle r14 — VERDICT r13 next
    // #1): the 20-language word_stem applied per token across the
    // whole documents table — the normalization step a multilingual
    // training pipeline runs before dedup or vocabulary builds. Top
    // terms by stemmed form, count-desc with a total tie-break.
    // Oracle strategy: DuckDB's own Snowball stem() lives in the
    // offline-absent fts extension, so materializeStemDict (invoked
    // by Verify before the dump — r15; the materializeStar
    // precedent) exports the corpus vocabulary's (token → stem) map
    // next to the warehouse and the oracle joins it. The stemmer is
    // thus pinned by its own gates while THIS gate hash-checks the
    // top-terms aggregation end to end (a wrong count, a dropped
    // token class, or a broken tie-break all fail the compare). The
    // dict is corpus-derived, so the oracle stays exact at any sf;
    // per-corpus dict dirs + the oracle's DISTINCT-glob make
    // interleaved runs at different scale factors structurally unable
    // to invalidate each other (see materializeStemDict).
    // At scale: explode → partial count per stem map-side → one
    // shuffle of |vocab| rows → TakeOrderedAndProject, never a full
    // sort of the corpus.
    "text_stem_terms" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.parallelized(Tables.documents(s, dir))
          .select(explode(split(lower($"text"), "[^a-z]+")).as("tok"))
          .filter(length($"tok") >= 3)
          .select(expr("word_stem(tok, 'en')").as("stem"))
          .groupBy($"stem").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"stem")
          .limit(50)
      },
      Some(s"""WITH dict AS (
             |  SELECT DISTINCT tok, stem
             |  FROM read_parquet('$stemDictBase/dict_*/*.parquet')),
             |toks AS (
             |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS tok
             |  FROM documents)
             |SELECT d.stem, count(*) AS cnt
             |FROM toks t JOIN dict d ON t.tok = d.tok
             |WHERE length(t.tok) >= 3
             |GROUP BY d.stem
             |ORDER BY cnt DESC, d.stem
             |LIMIT 50""".stripMargin)),

    // Token counting with a BPE-ish regex (words + punctuation marks).
    "text_token_count" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            size(split(normText($"text"), " ")).as("ws_tokens"),
            size(expr("regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
              .as("bpeish_tokens"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))
             |    AS ws_tokens,
             |  len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS bpeish_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Language ID by stopword-seed overlap (n-gram heuristic tier):
    // deterministic argmax over per-language seed vocabularies.
    "text_langid" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val seeds = Map(
          "en" -> Seq("the", "and", "of", "fast", "query"),
          "es" -> Seq("el", "la", "de", "rapido", "consulta"),
          "fr" -> Seq("le", "la", "de", "vite", "requete"),
          "de" -> Seq("der", "und", "von", "schnell", "abfrage"),
          "zh" -> Seq("chaxun", "kuai", "shuju", "biao", "hang"))
        val toks = wordSet($"text")
        val scores = seeds.toSeq.sortBy(_._1).map { case (lang, ws) =>
          struct(
            size(array_intersect(toks, array(ws.map(lit): _*))).as("score"),
            lit(lang).as("lang"))
        }
        Tables.documents(s, dir)
          .select($"doc_id", $"lang".as("labeled_lang"),
            greatest(scores: _*).getField("lang").as("predicted_lang"),
            greatest(scores: _*).getField("score").as("score"))
          .orderBy($"doc_id")
      },
      // greatest(struct(score, lang)) picks max score, ties broken by
      // lang string desc; the oracle unnests candidates and replicates
      // that ordering with row_number.
      Some("""WITH t AS (
             |  SELECT doc_id, lang AS labeled_lang,
             |    list_distinct(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS toks
             |  FROM documents),
             |sc AS (
             |  SELECT doc_id, labeled_lang, c.lang AS cand_lang, c.score AS cand_score
             |  FROM t, LATERAL (
             |    SELECT unnest([
             |      {'score': len(list_intersect(toks, ['the','and','of','fast','query'])), 'lang': 'en'},
             |      {'score': len(list_intersect(toks, ['el','la','de','rapido','consulta'])), 'lang': 'es'},
             |      {'score': len(list_intersect(toks, ['le','la','de','vite','requete'])), 'lang': 'fr'},
             |      {'score': len(list_intersect(toks, ['der','und','von','schnell','abfrage'])), 'lang': 'de'},
             |      {'score': len(list_intersect(toks, ['chaxun','kuai','shuju','biao','hang'])), 'lang': 'zh'}],
             |      recursive := true)) c),
             |r AS (
             |  SELECT doc_id, labeled_lang, cand_lang, cand_score,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY cand_score DESC, cand_lang DESC) AS rn
             |  FROM sc)
             |SELECT doc_id, labeled_lang, cand_lang AS predicted_lang,
             |  cand_score AS score
             |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Document fingerprinting: 64-bit content hash of normalized text.
    // Property: fingerprints are injective on this corpus (collision
    // count == exact-duplicate count) — engine-portable boolean check.
    "text_fingerprint" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select(xxhash64(normText($"text")).as("fp"), normText($"text").as("nt"))
          .agg(countDistinct($"fp").as("n_fp"), countDistinct($"nt").as("n_text"))
          .select(($"n_fp" === $"n_text").as("collision_free"), $"n_fp", $"n_text")
      },
      // n_text is DuckDB-recomputable, and collision-freeness pins
      // n_fp to the same number — both are real value checks.
      Some("""SELECT true AS collision_free,
             |  count(DISTINCT regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS n_fp,
             |  count(DISTINCT regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS n_text
             |FROM documents""".stripMargin)),

    // Char 5-gram shingle Jaccard (the classic shingling alternative
    // to word sets) on a small prefix — shingles built declaratively
    // via transform(sequence)+substring, distinct'd, then set overlap.
    "dedup_char_shingles" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = Tables.parallelized(
            Tables.documents(s, dir).filter($"doc_id" < 120))
          .withColumn("nt", normText($"text"))
          .filter(length($"nt") >= 5)
          .select($"doc_id",
            array_distinct(transform(sequence(lit(1), length($"nt") - 4),
              i => call_function("substring", $"nt", i, lit(5)))).as("sh"))
        val a = t.select($"doc_id".as("id_a"), $"sh".as("sa"))
        val b = t.select($"doc_id".as("id_b"), $"sh".as("sb"))
        a.crossJoin(b).filter($"id_a" < $"id_b")
          .withColumn("ni", size(array_intersect($"sa", $"sb")))
          .withColumn("j", $"ni".cast("double") / (size($"sa") + size($"sb") - $"ni"))
          .filter($"j" >= 0.5)
          .select($"id_a", $"id_b", round($"j", 4).as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(
             |      generate_series(1, length(nt) - 4),
             |      i -> substring(nt, i, 5))) AS sh
             |  FROM (SELECT doc_id,
             |          regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nt
             |        FROM documents WHERE doc_id < 120)
             |  WHERE length(nt) >= 5)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.sh, b.sh)) * 1.0 /
             |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
             |FROM t a JOIN t b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /
             |    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
             |ORDER BY id_a, id_b""".stripMargin)),

    // Rolling-hash fingerprint: polynomial hash h = h*31 + codepoint
    // mod (2^31-1) over the normalized text — integer arithmetic that
    // both engines compute bit-identically (unlike xxhash64, which has
    // no DuckDB twin), so the oracle matches values exactly.
    "text_rolling_hash" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .select($"doc_id",
            aggregate(split(normText($"text"), ""), lit(0L),
              (acc, ch) => (acc * 31 + ascii(ch)) % 2147483647L).as("rhash"))
          .orderBy($"doc_id")
      },
      Some("""SELECT doc_id,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ''),
             |      ch -> CAST(unicode(ch) AS BIGINT))),
             |    (acc, c) -> (acc * 31 + c) % 2147483647) AS rhash
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Exact dedup: union a replayed prefix (simulating duplicate
    // ingest), keep min doc_id per normalized text.
    "dedup_exact" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val d = Tables.documents(s, dir)
        val replayed = d.filter($"doc_id" < 50)
          .withColumn("doc_id", $"doc_id" + 1000000)
        d.unionAll(replayed)
          .groupBy(normText($"text").as("nt"))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .groupBy()
          .agg(count(lit(1)).as("n_unique"),
            sum(when($"n_copies" > 1, 1).otherwise(0)).as("n_dup_groups"))
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 50),
             |g AS (
             |  SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nt,
             |    min(doc_id) AS keep_id, count(*) AS n_copies
             |  FROM all_docs GROUP BY 1)
             |SELECT count(*) AS n_unique,
             |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
             |FROM g""".stripMargin)),

    // n-gram (word-set) Jaccard near-dup on a bounded prefix — the
    // exact all-pairs oracle for the LSH path below.
    "dedup_ngram_jaccard" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val t = Tables.parallelized(
            Tables.documents(s, dir).filter($"doc_id" < 500))
          .select($"doc_id", hashedWordSet($"text").as("w"))
        val a = t.select($"doc_id".as("id_a"), $"w".as("wa"))
        val b = t.select($"doc_id".as("id_b"), $"w".as("wb"))
        a.crossJoin(b).filter($"id_a" < $"id_b")
          // |A∪B| = |A|+|B|-|A∩B): one array op per pair, no union array
          .withColumn("ni", size(array_intersect($"wa", $"wb")))
          .withColumn("j", $"ni".cast("double") /
            (size($"wa") + size($"wb") - $"ni"))
          .filter($"j" >= 0.8)
          .select($"id_a", $"id_b", r4($"j").as("jaccard"))
          .orderBy($"id_a", $"id_b")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS w
             |  FROM documents WHERE doc_id < 500)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.w, b.w)) * 1.0 /
             |        len(list_distinct(list_concat(a.w, b.w))), 4) AS jaccard
             |FROM t a JOIN t b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.w, b.w)) * 1.0 /
             |      len(list_distinct(list_concat(a.w, b.w))) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    // MinHash + LSH near-dup: 64 minhashes (xxhash64 with seed salt),
    // 16 bands × 4 rows, bucket-join candidates, exact-Jaccard rescore
    // ≥ 0.9. Per-pair miss probability at j=0.9 is (1-0.9^4)^16 ≈ 4e-8,
    // so the candidate set deterministically equals the all-pairs
    // result on this corpus; the oracle is the bounded all-pairs query.
    "dedup_minhash_lsh" -> QueryDef(
      (s, dir) => minhashLsh(s, dir, Some(500)),
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS w
             |  FROM documents WHERE doc_id < 500)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  round(len(list_intersect(a.w, b.w)) * 1.0 /
             |        len(list_distinct(list_concat(a.w, b.w))), 4) AS jaccard
             |FROM t a JOIN t b ON a.doc_id < b.doc_id
             |WHERE len(list_intersect(a.w, b.w)) * 1.0 /
             |      len(list_distinct(list_concat(a.w, b.w))) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),

    // Full-corpus MinHash+LSH dedup (the scale path, no doc_id bound).
    // Enumerating near-dup PAIRS is inherently quadratic in cluster
    // size (this corpus has a dense near-dup tail), and dedup doesn't
    // need pairs — it needs one survivor per cluster. Cluster ids come
    // from Clustering.propagateToFixpoint over STAR-VERIFIED edges
    // (see verifiedClusterAssignment: band-bucket candidates reduced
    // to member↔min-id-hub star edges, each accepted only when ≥48 of
    // the 64 minhash rows agree — r19, closing VERDICT r18 wrong #1:
    // the unverified bucket graph was one hash-collision connected
    // component, measured by dedup_lsh_recall as 32% sub-0.5-Jaccard
    // band collisions). The fixpoint is iterated until stable so
    // CHAINED near-dups (A~B~C with A,C never sharing a bucket)
    // collapse transitively (r2's single round did not; VERDICT r2
    // §3). Planted replay chains (orig → +1 word → +2 words) exercise
    // the later rounds; post-verification capture and precision are
    // MEASURED by dedup_lsh_recall_verified below.
    //
    // Hashing is the PortableLsh md5/Carter-Wegman family so DuckDB
    // re-derives the identical signatures, star candidates, and
    // agreement counts, and recomputes exact connected components with
    // a recursive CTE — the full (id, cluster) assignment is
    // value-checked over the SAME verified edge set.
    "dedup_minhash_lsh_full" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val base = Tables.documents(s, dir).select($"doc_id", $"text")
        val rep1 = base.filter($"doc_id" < 2)
          .select(($"doc_id" + 200000L).as("doc_id"),
            concat($"text", lit(" graftpada")).as("text"))
        val rep2 = base.filter($"doc_id" < 2)
          .select(($"doc_id" + 300000L).as("doc_id"),
            concat($"text", lit(" graftpada graftpadb")).as("text"))
        verifiedClusterAssignment(
          base.unionByName(rep1).unionByName(rep2)).orderBy($"id")
      },
      Some(s"""WITH RECURSIVE
             |base AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 200000, text || ' graftpada' FROM documents WHERE doc_id < 2
             |  UNION ALL
             |  SELECT doc_id + 300000, text || ' graftpada graftpadb' FROM documents WHERE doc_id < 2),
             |${PortableLsh.duckVerifiedEdgesBanded(PortableLsh.RowsPerBand)},
             |${PortableLsh.duckClosureSelect}""".stripMargin)),

    // MinHash-LSH banding recall/precision measured against the exact
    // Jaccard pair set (r18; VERDICT r17 next #7 — the sim_ann_recall
    // discipline applied to the dedup tier: the banding's
    // 1−(1−j^4)^16 capture curve was asserted from theory, never
    // measured on the shipped hash family). On the bounded 500-doc
    // slice, EVERY pair's exact word-set Jaccard is computed and
    // bucketed into similarity bands, and each pair is marked caught
    // iff it shares ≥1 of the 16 PortableLsh band buckets — the SAME
    // md5/Carter-Wegman family dedup_minhash_lsh_full, the leakage
    // split, and the incremental-dedup index ship, at the full-dedup
    // banding (4 rows/band), which is exactly what makes the row
    // DuckDB-exact: the oracle re-derives the identical buckets and
    // counts the identical integers (the xxhash64 variant in
    // dedup_minhash_lsh has no oracle-side hash and stays covered by
    // its all-pairs rescore). Expected S-curve: ~100% capture at
    // j≥0.9, decaying through the 0.5-0.7 band, near-zero collisions
    // on dissimilar pairs — n_caught in the 0.0-0.5 band IS the
    // pre-rescore false-positive count, the precision story. The
    // all-pairs stage is the bounded ORACLE pattern (125k pairs at
    // the 500-doc cap, constant at every sf); the candidate side is
    // the production equi-join shape.
    "dedup_lsh_recall" -> QueryDef(
      (s, dir) => lshBandingRecall(s, dir, rowsPerBand = 4),
      Some(duckLshRecallSql(rowsPerBand = 4))),

    // The same measurement at the STRICT 16-rows/4-bands banding the
    // leakage split, the materialized cluster asset, and the
    // incremental-dedup index actually run at (r18-continued): split
    // hygiene chose j^16-per-band for PRECISION — at the dedup
    // banding this corpus's LSH graph is one connected component —
    // and that precision claim deserves the same measured row as the
    // recall claim above. Expected: low-similarity collisions near
    // zero (precision), capture at j≥0.9 well below the 4-row
    // banding's 100% (the accepted cost; transitive cluster chaining
    // recovers connectivity for the split's purposes).
    "dedup_lsh_recall_strict" -> QueryDef(
      (s, dir) => lshBandingRecall(s, dir, rowsPerBand = 16),
      Some(duckLshRecallSql(rowsPerBand = 16))),

    // The POST-verification measurement (r19; VERDICT r18 next #1's
    // "re-cite the banding recall" made a first-class row): every
    // pair of the bounded 500-doc slice, bucketed by exact word-set
    // Jaccard, marked by whether the star-verified FULL-corpus
    // clustering (the exact dedup_minhash_lsh_full path, minus its
    // planted replays) puts both docs in the same cluster. This is
    // the end-to-end capture curve of what the dedup row actually
    // ships: expect near-100% same-cluster at j≥0.9 (star
    // verification keeps 9024/9026 true pairs), with the sub-0.5
    // band's same-cluster count measuring transitive MID-similarity
    // chaining (template families), not hash collisions — direct
    // sub-0.5 edges are zero by the VerifyAgree measurement. The
    // all-pairs stage is the bounded ORACLE pattern; the clustering
    // side is the production path at full corpus scale.
    "dedup_lsh_recall_verified" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val assign = verifiedClusterAssignment(
          Tables.documents(s, dir).select($"doc_id", $"text"))
        val t = Tables.parallelized(
            Tables.documents(s, dir).filter($"doc_id" < 500))
          .select($"doc_id", wordSet($"text").as("w"))
        val a = t.select($"doc_id".as("id_a"), $"w".as("wa"))
        val b = t.select($"doc_id".as("id_b"), $"w".as("wb"))
        a.crossJoin(b).filter($"id_a" < $"id_b")
          .withColumn("ni", size(array_intersect($"wa", $"wb")))
          .withColumn("j", $"ni".cast("double") /
            (size($"wa") + size($"wb") - $"ni"))
          .withColumn("j_band",
            when($"j" >= 0.9, "j_0.9_1.0")
              .when($"j" >= 0.7, "j_0.7_0.9")
              .when($"j" >= 0.5, "j_0.5_0.7")
              .otherwise("j_0.0_0.5"))
          .join(assign.select($"id".as("id_a"), $"cluster".as("ca")),
            Seq("id_a"))
          .join(assign.select($"id".as("id_b"), $"cluster".as("cb")),
            Seq("id_b"))
          .groupBy($"j_band")
          .agg(count(lit(1)).as("n_pairs"),
            sum(when($"ca" === $"cb", 1L).otherwise(0L))
              .as("n_same_cluster"))
          .orderBy($"j_band")
      },
      Some(s"""WITH RECURSIVE
             |base AS (SELECT doc_id, text FROM documents),
             |${PortableLsh.duckVerifiedEdgesBanded(PortableLsh.RowsPerBand)},
             |${PortableLsh.duckClosureCtes},
             |t AS (
             |  SELECT doc_id, list_sort(list_distinct(string_split(
             |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '))) AS w
             |  FROM base WHERE doc_id < 500),
             |bd AS (
             |  SELECT id_a, id_b,
             |    CASE
             |      WHEN j >= 0.9 THEN 'j_0.9_1.0'
             |      WHEN j >= 0.7 THEN 'j_0.7_0.9'
             |      WHEN j >= 0.5 THEN 'j_0.5_0.7'
             |      ELSE 'j_0.0_0.5' END AS j_band
             |  FROM (
             |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |      CAST(len(list_intersect(a.w, b.w)) AS DOUBLE) /
             |        (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS j
             |    FROM t a JOIN t b ON a.doc_id < b.doc_id))
             |SELECT bd.j_band, count(*) AS n_pairs,
             |  CAST(sum(CASE WHEN ca.cluster = cb.cluster THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_same_cluster
             |FROM bd
             |JOIN assign ca ON ca.id = bd.id_a
             |JOIN assign cb ON cb.id = bd.id_b
             |GROUP BY bd.j_band ORDER BY bd.j_band""".stripMargin)),

    // Leakage-safe train/validation/test split (the GPT-3 lesson,
    // Brown et al. 2020 appendix C: eval contamination comes from
    // near-duplicates straddling the split, so membership must be
    // decided per near-dup CLUSTER, never per document). Clusters are
    // the dedup_minhash_lsh_full LSH + min-label fixpoint at a
    // TIGHTER banding (16 rows/band × 4 bands, candidate threshold
    // ≈ j^16 per band): split hygiene wants high-precision near-dup
    // edges, and at the dedup-recall banding (4 rows) this corpus's
    // LSH graph is one connected component — every document would
    // land in one split, the degenerate-but-safe extreme.
    // The split is then a pure function of the cluster label — a
    // 56-bit md5 draw on the cluster id cross-multiplied against the
    // 90/5/5 fractions in exact BIGINT (56 bits so u*20 cannot
    // overflow; the domain-curation discipline without needing
    // DECIMAL) — so by construction no two near-dup documents can
    // land in different splits. 100 TB shape: clustering is the
    // proven two-shuffles-per-round fixpoint; the split assignment
    // adds ZERO shuffles (a map over the labeled stream). The oracle
    // recomputes the identical clusters (recursive-CTE closure) and
    // the identical md5 draw — the full per-doc assignment is
    // value-checked.
    "pipeline_leakage_split" -> QueryDef(
      (s, dir) => splitDraw(neardupClusterAssignment(s, dir)),
      Some(duckLeakageSplitSql)),

    // The split served from a MATERIALIZED cluster assignment (r17;
    // VERDICT r16 wrong #1): at production scale a split assignment
    // is a standing ASSET, not a per-run derivation — the inline row
    // above was the suite's most expensive (4.03 s at sf0.1, 77.9 s
    // at 100×, all fixpoint) yet its output is a pure function of the
    // corpus. The materialized pairing applies the
    // sim_ann_ivf_materialized / tpcds_q23_materialized discipline:
    // the (id, cluster) near-dup assignment is written ONCE to the
    // warehouse (PathKey-keyed, overwrite-idempotent) and every
    // downstream consumer — split draws here, incremental-dedup
    // probes, per-cluster stats — reads the table back with ZERO
    // fixpoint rounds in its plan (plan-pinned: the serve side scans
    // only the materialized parquet). The oracle is the inline row's
    // SQL VERBATIM — materialization must not change a single value.
    "pipeline_leakage_split_materialized" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val pfx = neardupAssetPrefix(s, dir)
        // the asset is TWO tables (r18; VERDICT r17 wrong #3 — a
        // materialization only demonstrates standing-asset economics
        // when something REUSES it): the band-bucket signature index
        // (which pipeline_incremental_dedup probes as its standing
        // index) and the (id, cluster) assignment the fixpoint
        // derives FROM the written buckets — so the 64-minhash
        // signature pass runs once and both consumers serve from
        // parquet
        neardupBucketEdges(s, dir)
          .write.mode("overwrite").parquet(s"$pfx/buckets")
        Clustering.propagateToFixpoint(s.read.parquet(s"$pfx/buckets"),
            maxIters = 15, requireConverged = true)
          .select($"id", $"cluster")
          .write.mode("overwrite").parquet(s"$pfx/assignment")
        splitDraw(s.read.parquet(s"$pfx/assignment"))
      },
      Some(duckLeakageSplitSql)),

    // Incremental dedup against an existing corpus index — the
    // production ingestion pattern: a new crawl batch is deduped by
    // PROBING the standing index, never by re-clustering the union
    // (at 100 TB the index is the asset; rebuilding it per batch is
    // the anti-pattern). Indexed half = even doc_ids, new batch =
    // odd. The index is the DISTINCT set of strict band buckets
    // (16 rows/band — candidate threshold ≈ j^16, the
    // leakage-split precision rationale) over the indexed corpus;
    // a new document is a duplicate iff ANY of its 4 band buckets
    // hits the index. Crucially there is NO candidate-pair stage:
    // the probe is an equi-join where each (doc, bucket) row matches
    // at most ONE distinct index bucket, so the whole operator is
    // scale-LINEAR — measured pair enumeration on this corpus grows
    // ~100× for 10× data (670k pairs at sf0.1 from 7k at sf0.01),
    // the join_fuzzy_ed1 lesson applied before the blowup this time.
    // Since r18 the standing index IS standing (VERDICT r17 wrong
    // #3): the indexed half's band buckets are read back from the
    // graft_neardup_* warehouse asset (the same bucket table
    // pipeline_leakage_split_materialized writes — built here only
    // if absent, one signature pass per corpus EVER), so the serve
    // plan computes signatures for the PROBE batch alone and its one
    // shuffle is the bucket-key join against the parquet index —
    // plan-pinned: exactly one documents scan, asset path present.
    // (The r16-r17 form derived both halves' signatures per run —
    // cheap per query, but the whole point of an incremental index
    // is not paying the indexed half's 64 minhashes per batch.)
    // All-integer output; oracle unchanged.
    "pipeline_incremental_dedup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val idx = s.read.parquet(ensureNeardupBuckets(s, dir))
          .filter($"id" % 2 === 0)
          .select($"bucket").distinct()
          .withColumn("hit", lit(1L))
        val probe = Tables.parallelized(Tables.documents(s, dir)
            .filter($"doc_id" % 2 === 1))
          .select($"doc_id", PortableLsh.wordBaseHashes($"text").as("x"))
          .select($"doc_id", PortableLsh.minhashArray($"x").as("m"))
          .select($"doc_id",
            explode(PortableLsh.bucketArrayFromSigs($"m", 16)).as("bucket"))
        probe.join(idx, Seq("bucket"), "left")
          .groupBy($"doc_id")
          .agg(sum(coalesce($"hit", lit(0L))).as("n_band_hits"))
          .select($"doc_id", $"n_band_hits",
            ($"n_band_hits" >= 1L).as("is_dup"))
          .orderBy($"doc_id")
      },
      Some(s"""WITH base AS (SELECT doc_id, text FROM documents),
             |${PortableLsh.duckMinhashEdgesBanded(16)},
             |idx AS (SELECT DISTINCT bucket FROM edges WHERE id % 2 = 0),
             |probe AS (
             |  SELECT e.id AS doc_id,
             |    CASE WHEN idx.bucket IS NULL THEN 0 ELSE 1 END AS hit
             |  FROM edges e LEFT JOIN idx ON e.bucket = idx.bucket
             |  WHERE e.id % 2 = 1)
             |SELECT doc_id,
             |  CAST(sum(hit) AS BIGINT) AS n_band_hits,
             |  sum(hit) >= 1 AS is_dup
             |FROM probe GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // SimHash near-dup: 64-bit signature from token hashes; property:
    // high-Jaccard pairs sit strictly closer in Hamming space than the
    // average unrelated pair (deterministic given fixed hashing).
    "dedup_simhash" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val docs = Tables.parallelized(
            Tables.documents(s, dir).filter($"doc_id" < 500))
          .select($"doc_id", hashedWordSet($"text").as("w"))
          .withColumn("hashes", $"w")
          .withColumn("simhash",
            aggregate(sequence(lit(0), lit(63)), lit(0L),
              (acc, i) => acc.bitwiseOR(
                when(
                  size(filter($"hashes",
                    h => call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L)) * 2
                    > size($"hashes"),
                  call_function("shiftleft", lit(1L), i)).otherwise(0L))))
          .select($"doc_id", $"w", $"simhash")
        val a = docs.select($"doc_id".as("id_a"), $"w".as("wa"), $"simhash".as("sh_a"))
        val b = docs.select($"doc_id".as("id_b"), $"w".as("wb"), $"simhash".as("sh_b"))
        val pairs = a.crossJoin(b).filter($"id_a" < $"id_b")
          .withColumn("ni", size(array_intersect($"wa", $"wb")))
          .withColumn("j", $"ni".cast("double") /
            (size($"wa") + size($"wb") - $"ni"))
          .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")))
        pairs.agg(
          avg(when($"j" >= 0.9, $"hamming")).as("avg_ham_neardup"),
          avg(when($"j" < 0.3, $"hamming")).as("avg_ham_far"),
          count(when($"j" >= 0.9, 1)).as("n_neardup"),
          count(when($"j" < 0.3, 1)).as("n_far"))
          .select(($"avg_ham_neardup" < $"avg_ham_far").as("simhash_separates"),
            $"n_neardup", $"n_far")
      },
      // The Jaccard pair counts are exact set arithmetic DuckDB
      // recomputes independently — real value checks on the inputs the
      // Hamming property is averaged over.
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS w
             |  FROM documents WHERE doc_id < 500),
             |p AS (
             |  SELECT len(list_intersect(a.w, b.w)) * 1.0 /
             |    (len(a.w) + len(b.w) - len(list_intersect(a.w, b.w))) AS j
             |  FROM t a JOIN t b ON a.doc_id < b.doc_id)
             |SELECT true AS simhash_separates,
             |  CAST(sum(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
             |  CAST(sum(CASE WHEN j < 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_far
             |FROM p""".stripMargin)),

    // End-to-end corpus curation — the composed LLM-training-data
    // pipeline the individual operators exist for: normalize → exact
    // dedup (keep min doc_id per normalized text) → quality gate
    // (length + lexical-diversity) → language ID → per-language corpus
    // stats. Two shuffles total at any scale: one hash shuffle on the
    // normalized-text key for dedup, one on the language label for the
    // final rollup; every metric between them is a map-side
    // expression. Ratios are computed as ONE division of exact integer
    // sums (never an avg of per-row doubles), so the oracle matches
    // bit-for-bit.
    "pipeline_corpus_curation" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val stop = array(Seq("the", "a", "of", "and", "to").map(lit): _*)
        val seeds = Map(
          "en" -> Seq("the", "and", "of", "fast", "query"),
          "es" -> Seq("el", "la", "de", "rapido", "consulta"),
          "fr" -> Seq("le", "la", "de", "vite", "requete"),
          "de" -> Seq("der", "und", "von", "schnell", "abfrage"),
          "zh" -> Seq("chaxun", "kuai", "shuju", "biao", "hang"))
        val deduped = Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", normText($"text").as("nt"))
          .groupBy($"nt").agg(min($"doc_id").as("doc_id"))
        val scores = seeds.toSeq.sortBy(_._1).map { case (lang, ws) =>
          struct(
            size(array_intersect($"dtoks", array(ws.map(lit): _*))).as("score"),
            lit(lang).as("lang"))
        }
        deduped
          .withColumn("toks", split($"nt", " "))
          .withColumn("dtoks", array_distinct($"toks"))
          .withColumn("n_tokens", size($"toks").cast("long"))
          .withColumn("n_distinct", size($"dtoks").cast("long"))
          .withColumn("n_stop",
            size(filter($"toks", t => array_contains(stop, t))).cast("long"))
          .filter($"n_tokens" >= 5 &&
            $"n_distinct".cast("double") / $"n_tokens" >= 0.3)
          .withColumn("predicted_lang", greatest(scores: _*).getField("lang"))
          .groupBy($"predicted_lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_tokens").as("total_tokens"),
            round(sum($"n_stop").cast("double") / sum($"n_tokens"), 4)
              .as("stop_share"),
            round(sum($"n_distinct").cast("double") / sum($"n_tokens"), 4)
              .as("diversity"))
          .orderBy($"predicted_lang")
      },
      Some("""WITH d AS (
             |  SELECT regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS nt,
             |    min(doc_id) AS doc_id
             |  FROM documents GROUP BY 1),
             |m AS (
             |  SELECT doc_id, nt,
             |    string_split(nt, ' ') AS toks,
             |    list_distinct(string_split(nt, ' ')) AS dtoks
             |  FROM d),
             |q AS (
             |  SELECT doc_id, dtoks,
             |    CAST(len(toks) AS BIGINT) AS n_tokens,
             |    CAST(len(dtoks) AS BIGINT) AS n_distinct,
             |    CAST(len(list_filter(toks,
             |      t -> list_contains(['the','a','of','and','to'], t))) AS BIGINT) AS n_stop
             |  FROM m
             |  WHERE len(toks) >= 5
             |    AND len(dtoks) * 1.0 / len(toks) >= 0.3),
             |sc AS (
             |  SELECT doc_id, n_tokens, n_distinct, n_stop,
             |    c.lang AS cand_lang, c.score AS cand_score
             |  FROM q, LATERAL (
             |    SELECT unnest([
             |      {'score': len(list_intersect(dtoks, ['the','and','of','fast','query'])), 'lang': 'en'},
             |      {'score': len(list_intersect(dtoks, ['el','la','de','rapido','consulta'])), 'lang': 'es'},
             |      {'score': len(list_intersect(dtoks, ['le','la','de','vite','requete'])), 'lang': 'fr'},
             |      {'score': len(list_intersect(dtoks, ['der','und','von','schnell','abfrage'])), 'lang': 'de'},
             |      {'score': len(list_intersect(dtoks, ['chaxun','kuai','shuju','biao','hang'])), 'lang': 'zh'}],
             |      recursive := true)) c),
             |r AS (
             |  SELECT doc_id, n_tokens, n_distinct, n_stop, cand_lang,
             |    row_number() OVER (PARTITION BY doc_id
             |      ORDER BY cand_score DESC, cand_lang DESC) AS rn
             |  FROM sc)
             |SELECT cand_lang AS predicted_lang,
             |  count(*) AS n_docs,
             |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             |  round(sum(n_stop) * 1.0 / sum(n_tokens), 4) AS stop_share,
             |  round(sum(n_distinct) * 1.0 / sum(n_tokens), 4) AS diversity
             |FROM r WHERE rn = 1
             |GROUP BY cand_lang ORDER BY predicted_lang""".stripMargin)),

    // Within-document repetition ratio (the Gopher-style quality
    // signal: share of duplicated 3-grams). Entirely map-side — one
    // expression chain per doc, no shuffle before the final sort.
    "text_repetition" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        Tables.documents(s, dir)
          .withColumn("toks", split(normText($"text"), " "))
          .filter(size($"toks") >= 3)
          .withColumn("ngrams", expr(
            "transform(sequence(0, size(toks) - 3), i -> " +
              "concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))"))
          .select($"doc_id",
            size($"ngrams").as("n_ngrams"),
            size(array_distinct($"ngrams")).as("n_distinct"),
            r4(lit(1.0) - size(array_distinct($"ngrams")).cast("double")
              / size($"ngrams")).as("repetition_ratio"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id,
             |    list_transform(range(1, len(toks) - 1),
             |      i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]) AS ngrams
             |  FROM t WHERE len(toks) >= 3)
             |SELECT doc_id,
             |  len(ngrams) AS n_ngrams,
             |  len(list_distinct(ngrams)) AS n_distinct,
             |  round(1.0 - len(list_distinct(ngrams)) * 1.0 / len(ngrams), 4)
             |    AS repetition_ratio
             |FROM g ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination — the eval-leak scan every training
    // corpus needs: flag corpus docs sharing any 5-gram with a
    // benchmark set (here the doc_id<20 prefix). Both sides explode to
    // distinct 5-grams and meet in ONE equi-join on the n-gram key —
    // at 100 TB the key would be xxhash64(ngram) (same plan shape,
    // smaller shuffle); the string key here keeps the oracle exact.
    // No pair enumeration, no cartesian: cost is O(ngrams) + the join.
    "pipeline_decontamination" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val grams = Tables.parallelized(Tables.documents(s, dir))
          .withColumn("toks", split(normText($"text"), " "))
          .filter(size($"toks") >= 5)
          .withColumn("ngram", explode(array_distinct(expr(
            "transform(sequence(0, size(toks) - 5), i -> " +
              "concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2], ' ', " +
              "toks[i + 3], ' ', toks[i + 4]))"))))
          .select($"doc_id", $"ngram")
        val bench = grams.filter($"doc_id" < 20)
          .select($"ngram").distinct()
        val corpus = grams.filter($"doc_id" >= 20)
        corpus.join(bench, "ngram")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_shared_ngrams"))
          .agg(count(lit(1)).as("n_contaminated_docs"),
            sum($"n_shared_ngrams").as("total_shared"),
            min($"doc_id").as("first_hit"),
            max($"doc_id").as("last_hit"))
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
             |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' '
             |      || toks[i + 3] || ' ' || toks[i + 4]))) AS ngram
             |  FROM t WHERE len(toks) >= 5),
             |bench AS (SELECT DISTINCT ngram FROM g WHERE doc_id < 20),
             |hits AS (
             |  SELECT g.doc_id, count(*) AS n_shared
             |  FROM g JOIN bench USING (ngram)
             |  WHERE g.doc_id >= 20 GROUP BY g.doc_id)
             |SELECT count(*) AS n_contaminated_docs,
             |  CAST(sum(n_shared) AS BIGINT) AS total_shared,
             |  min(doc_id) AS first_hit, max(doc_id) AS last_hit
             |FROM hits""".stripMargin)),

    // Boilerplate-span detection (the RefinedWeb/CCNet repeated-line
    // filter, recast for this corpus as repeated 5-gram spans): a gram
    // appearing in >= 5 distinct documents is boilerplate; each doc is
    // scored by the fraction of its distinct grams that are
    // boilerplate. Scale shape: one explode, one hash shuffle on the
    // gram for the document-frequency count, one semi join back on the
    // gram, one groupBy doc — O(docs x grams), never pairwise.
    "pipeline_boilerplate_ngrams" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // single pass: the (doc, gram) pairs are distinct per doc, so
        // count() over the gram partition IS the document frequency —
        // one window shuffle on gram, one groupBy shuffle on doc, and
        // the explode subtree executes exactly once (no self-joins
        // that would recompute it)
        val pairs = Tables.parallelized(Tables.documents(s, dir))
          .withColumn("toks", split(normText($"text"), " "))
          .filter(size($"toks") >= 5)
          .withColumn("gram", explode(array_distinct(expr(
            "transform(sequence(0, size(toks) - 5), i -> " +
              "concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2], ' ', " +
              "toks[i + 3], ' ', toks[i + 4]))"))))
          .select($"doc_id", $"gram")
        pairs
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy($"gram")))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when($"df" >= 5, 1L).otherwise(0L)).as("n_boiler"))
          .select($"doc_id", $"n_grams", $"n_boiler",
            r4($"n_boiler".cast("double") / $"n_grams").as("boiler_ratio"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(toks) - 3),
             |    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' '
             |      || toks[i + 3] || ' ' || toks[i + 4]))) AS gram
             |  FROM t WHERE len(toks) >= 5),
             |b AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 5),
             |hits AS (
             |  SELECT g.doc_id, count(*) AS n_boiler
             |  FROM g JOIN b USING (gram) GROUP BY g.doc_id),
             |tot AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id)
             |SELECT t.doc_id, t.n_grams,
             |  coalesce(h.n_boiler, 0) AS n_boiler,
             |  round(coalesce(h.n_boiler, 0) * 1.0 / t.n_grams, 4) AS boiler_ratio
             |FROM tot t LEFT JOIN hits h USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Stratified sampling for a training mix: proportional allocation
    // per language stratum — target = ceil(20% of the stratum), the
    // deterministic doc_id-ordered prefix taken per stratum via one
    // window (rank + stratum count in a single pass, one shuffle on
    // the stratum key; at 100 TB the window would be replaced by
    // per-stratum rate sampling on a hash, same plan minus the sort).
    "pipeline_stratified_sample" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy($"lang")
        val ranked = Tables.documents(s, dir)
          .select($"doc_id", $"lang")
          .withColumn("n_total", count(lit(1)).over(w))
          .withColumn("rn", row_number().over(w.orderBy($"doc_id")))
        ranked.filter($"rn" <= ceil($"n_total" * 0.2))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_sampled"),
            max($"n_total").as("n_total"),
            sum($"doc_id").as("id_checksum"),
            max($"doc_id").as("max_sampled_id"))
          .orderBy($"lang")
      },
      Some("""WITH r AS (
             |  SELECT doc_id, lang,
             |    count(*) OVER (PARTITION BY lang) AS n_total,
             |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |  FROM documents)
             |SELECT lang, count(*) AS n_sampled,
             |  CAST(max(n_total) AS BIGINT) AS n_total,
             |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
             |  max(doc_id) AS max_sampled_id
             |FROM r WHERE rn <= ceil(n_total * 0.2)
             |GROUP BY lang ORDER BY lang""".stripMargin)),

    // Per-domain curation (r16; VERDICT r15 next #6 — RefinedWeb-style
    // domain-level processing, Penedo et al. 2023 §3: web corpora are
    // curated at the DOMAIN grain — per-domain stats, a blocklist, and
    // frequency capping so mega-domains can't dominate the training
    // mix). The domain derives deterministically from document
    // metadata (synthetic URL host: half of all docs land on ~20
    // '.hub' domains — the heavy head — and the rest spread over
    // source×53 tail domains, reproducing web skew). 100 TB shape:
    // ONE domain-grain aggregate (map-side combinable) produces the
    // per-domain table; that aggregate-sized table broadcasts back
    // onto the doc stream, so the blocklist anti-join and the
    // frequency-capped sample are entirely map-side over the corpus —
    // the raw docs are never shuffled on the (skewed) domain key.
    // Capping is hash-sampling with rate min(1, cap/n_domain): keep a
    // doc iff its 60-bit md5 draw u < rate·2^60, compared as the
    // exact DECIMAL(38,0) cross-multiplication u·n < cap·2^60 (the
    // tpcds_q4/q31 discipline — BIGINT would overflow, fp would
    // flake), with the md5 primitive DuckDB evaluates bit-identically
    // (the dedup_substring_spans precedent). The report is per-domain:
    // doc count, kept count + id checksum, planned rate, mean length.
    "pipeline_domain_curation" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val cap = 8L
        val twoTo60 = 1152921504606846976L
        val docs = Tables.documents(s, dir)
          .select($"doc_id", $"n_chars",
            when($"doc_id" % 10 < 5, concat($"source", lit(".hub")))
              .otherwise(concat($"source", lit("."),
                ($"doc_id" % 53).cast("string")))
              .as("domain"))
        val blocked = Seq("src0.hub", "src3.hub", "src7.13").toDF("domain")
        val perDomain = docs.groupBy($"domain")
          .agg(count(lit(1)).as("n_docs"),
            r4(avg($"n_chars")).as("avg_chars"))
          .join(broadcast(blocked), Seq("domain"), "left_anti")
        val kept = docs
          .join(broadcast(perDomain.select($"domain", $"n_docs")), "domain")
          .filter(
            expr(s"""CAST(CAST(conv(substring(md5(concat(domain, ':',
                     |  CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)
                     |  AS DECIMAL(38,0)) * n_docs <
                     |CAST($cap AS DECIMAL(38,0)) * $twoTo60""".stripMargin))
          .groupBy($"domain")
          .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("kept_id_sum"))
        perDomain.join(kept, Seq("domain"), "left_outer")
          .select($"domain", $"n_docs",
            coalesce($"n_kept", lit(0L)).as("n_kept"),
            round(least(lit(1.0), lit(cap).cast("double") / $"n_docs"), 6)
              .as("planned_rate"),
            $"avg_chars",
            coalesce($"kept_id_sum", lit(0L)).as("kept_id_sum"))
          .orderBy($"domain")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, n_chars,
             |    CASE WHEN doc_id % 10 < 5 THEN source || '.hub'
             |         ELSE source || '.' || CAST(doc_id % 53 AS VARCHAR)
             |    END AS domain
             |  FROM documents),
             |bl AS (SELECT * FROM (VALUES ('src0.hub'), ('src3.hub'),
             |  ('src7.13')) AS t(domain)),
             |pd AS (
             |  SELECT domain, count(*) AS n_docs,
             |    round(avg(n_chars), 4) AS avg_chars
             |  FROM d GROUP BY domain),
             |ok AS (SELECT * FROM pd
             |       WHERE domain NOT IN (SELECT domain FROM bl)),
             |k AS (
             |  SELECT d.domain, count(*) AS n_kept,
             |    CAST(sum(d.doc_id) AS BIGINT) AS kept_id_sum
             |  FROM d JOIN ok ON d.domain = ok.domain
             |  WHERE CAST(CAST('0x' || substr(md5(d.domain || ':' ||
             |      CAST(d.doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             |      AS DECIMAL(38,0)) * ok.n_docs <
             |    CAST(8 AS DECIMAL(38,0)) * 1152921504606846976
             |  GROUP BY d.domain)
             |SELECT ok.domain, ok.n_docs,
             |  coalesce(k.n_kept, 0) AS n_kept,
             |  round(least(CAST(1 AS DOUBLE),
             |    CAST(8 AS DOUBLE) / ok.n_docs), 6) AS planned_rate,
             |  ok.avg_chars,
             |  coalesce(k.kept_id_sum, 0) AS kept_id_sum
             |FROM ok LEFT JOIN k ON ok.domain = k.domain
             |ORDER BY ok.domain""".stripMargin)),

    // Bigram language-model quality scoring (r4 late): train add-k
    // smoothed bigram/unigram counts over the corpus in two hash
    // aggregations, then score every document by joining its bigrams
    // back to the model — per-doc log-probability and perplexity, the
    // standard LM quality filter for training-data curation. 100 TB
    // shape: tokenize is map-side; training = two shuffles keyed on
    // token/bigram; scoring = equi-joins of exploded doc bigrams
    // against the model (AQE broadcasts them for bounded vocabularies;
    // beyond that they are plain shuffle joins, never quadratic).
    // Every value is exact — DuckDB recomputes the same counts and the
    // same smoothed log-sum.
    "lm_train_perplexity" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val k = 0.5
        // one tokenize pass (optimization r20, guide §2.4): toksDf
        // feeds docBi TWICE (bigram training + scoring) and uni — the
        // r19 plan re-ran the regex tokenize per instantiation.
        // localCheckpoint preserves the repartition(32) layout, so
        // per-partition row order — and every downstream double sum —
        // is bit-identical (the BPE/dsir checkpoint precedent).
        val toksDf = Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", split(normText($"text"), " ").as("toks"))
          .localCheckpoint()
        val docBi = toksDf
          .select($"doc_id", explode(expr(
            "transform(slice(toks, 1, size(toks) - 1), " +
              "(t, i) -> struct(t AS w1, toks[i + 1] AS w2))")).as("bg"))
          .select($"doc_id", $"bg.w1", $"bg.w2")
        val uni = toksDf.select(explode($"toks").as("w1"))
          .groupBy($"w1").agg(count(lit(1)).as("c1"))
        val bi = docBi.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
        val vocab = uni.agg(count(lit(1)).as("v"))
        val lp = log(($"c12" + k) / ($"c1" + lit(k) * $"v"))
        docBi
          .join(bi, Seq("w1", "w2"))
          .join(uni, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_bigrams"),
            r4(sum(lp)).as("logprob"),
            r4(exp(-sum(lp) / count(lit(1)))).as("perplexity"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |db AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
             |    unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
             |  FROM t),
             |uni AS (SELECT w1, count(*) AS c1
             |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
             |bi AS (SELECT w1, w2, count(*) AS c12 FROM db GROUP BY w1, w2),
             |vc AS (SELECT count(*) AS v FROM uni)
             |SELECT d.doc_id, count(*) AS n_bigrams,
             |  round(sum(ln((c12 + 0.5) / (c1 + 0.5 * vc.v))), 4) AS logprob,
             |  round(exp(-sum(ln((c12 + 0.5) / (c1 + 0.5 * vc.v))) / count(*)), 4)
             |    AS perplexity
             |FROM db d JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vc
             |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)),

    // Stupid-backoff trigram LM (r15; Brants et al. 2007, "Large
    // Language Models in Machine Translation" — THE web-scale n-gram
    // scoring scheme: no discounting to compute, scores need only
    // count lookups, which is why it distributes). Trained HELD-OUT
    // (even doc_ids) and scored corpus-wide, so all three backoff
    // tiers genuinely fire on odd documents: S = c3/c2(w1w2) when the
    // trigram was seen, else 0.4·c2(w2w3)/c1(w2), else
    // 0.4·0.4·(c1(w3)+1)/(N+V) (an add-one unigram floor — documented
    // adaptation: open-vocabulary scoring must not ln(0)). Tier
    // decisions are integer null-checks (exact); each score is a
    // couple of IEEE ops from integer counts (identical both
    // engines); per-doc ln-sums round to 4 (the lm_train_perplexity
    // discipline). 100 TB shape: model = three count aggregations
    // over the training stream; scoring = keyed joins of the doc
    // trigram stream against vocab-bounded model tables (broadcast
    // here, shuffle join beyond), never quadratic. Emits per-doc
    // tier hit counts — an exact integer fingerprint of the whole
    // backoff lattice.
    "lm_stupid_backoff" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        // one tokenize pass for the 4 model/scoring streams, and the
        // two vocab-bounded model tables each materialized once for
        // their two broadcast consumers (optimization r20, guide
        // §2.4; aliased broadcast copies defeat exchange reuse — the
        // rename projection sits above the aggregate)
        val toksDf = Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", split(normText($"text"), " ").as("toks"))
          .localCheckpoint()
        def triOf(df: DataFrame): DataFrame = df
          .filter(size($"toks") >= 3)
          .select($"doc_id", explode(expr(
            "transform(slice(toks, 1, size(toks) - 2), " +
              "(t, i) -> struct(t AS w1, toks[i + 1] AS w2, " +
              "toks[i + 2] AS w3))")).as("tg"))
          .select($"doc_id", $"tg.w1", $"tg.w2", $"tg.w3")
        val docTri = triOf(toksDf)
        val train = toksDf.filter($"doc_id" % 2 === 0)
        val tri = triOf(train).groupBy($"w1", $"w2", $"w3")
          .agg(count(lit(1)).as("ct"))
        // checkpointed model tables: each is computed once for its two
        // broadcast consumers. eager = false does not defer the model
        // builds — under AQE, creating each checkpoint runs its shuffle
        // stages inside the builder, and only the final aggregate stage
        // waits for the first consuming action.
        val bi = train.filter(size($"toks") >= 2)
          .select(explode(expr(
            "transform(slice(toks, 1, size(toks) - 1), " +
              "(t, i) -> struct(t AS wa, toks[i + 1] AS wb))")).as("bg"))
          .select($"bg.wa", $"bg.wb")
          .groupBy($"wa", $"wb").agg(count(lit(1)).as("cb"))
          .localCheckpoint(eager = false)
        val uni = train.select(explode($"toks").as("w"))
          .groupBy($"w").agg(count(lit(1)).as("cu"))
          .localCheckpoint(eager = false)
        val tot = uni.agg(sum($"cu").as("n"), count(lit(1)).as("v"))
        val sCol =
          when($"ct".isNotNull, $"ct" / $"c12")
            .when($"c23".isNotNull, lit(0.4) * ($"c23" / $"c2u"))
            .otherwise(lit(0.4) * lit(0.4) *
              ((coalesce($"c3u", lit(0L)) + 1) / ($"n" + $"v")))
        docTri
          .join(broadcast(tri), Seq("w1", "w2", "w3"), "left")
          .join(broadcast(bi.toDF("w1", "w2", "c12")), Seq("w1", "w2"), "left")
          .join(broadcast(bi.toDF("w2", "w3", "c23")), Seq("w2", "w3"), "left")
          .join(broadcast(uni.toDF("w2", "c2u")), Seq("w2"), "left")
          .join(broadcast(uni.toDF("w3", "c3u")), Seq("w3"), "left")
          .crossJoin(broadcast(tot))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_trigrams"),
            sum(when($"ct".isNotNull, 1L).otherwise(0L)).as("n_tier3"),
            sum(when($"ct".isNull && $"c23".isNotNull, 1L).otherwise(0L))
              .as("n_tier2"),
            sum(when($"ct".isNull && $"c23".isNull, 1L).otherwise(0L))
              .as("n_tier1"),
            r4(sum(log(sCol))).as("logscore"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |dt AS (
             |  SELECT doc_id,
             |    unnest(list_transform(range(1, len(toks) - 1), i -> toks[i])) AS w1,
             |    unnest(list_transform(range(1, len(toks) - 1), i -> toks[i + 1])) AS w2,
             |    unnest(list_transform(range(1, len(toks) - 1), i -> toks[i + 2])) AS w3
             |  FROM t WHERE len(toks) >= 3),
             |tt AS (SELECT * FROM dt WHERE doc_id % 2 = 0),
             |tri AS (SELECT w1, w2, w3, count(*) AS ct FROM tt GROUP BY 1, 2, 3),
             |tb AS (
             |  SELECT wa, wb, count(*) AS cb FROM (
             |    SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS wa,
             |      unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS wb
             |    FROM t WHERE doc_id % 2 = 0 AND len(toks) >= 2)
             |  GROUP BY wa, wb),
             |tu AS (
             |  SELECT w, count(*) AS cu FROM (
             |    SELECT unnest(toks) AS w FROM t WHERE doc_id % 2 = 0)
             |  GROUP BY w),
             |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n,
             |               count(*) AS v FROM tu),
             |sc AS (
             |  SELECT d.doc_id, tri.ct, b12.cb AS c12, b23.cb AS c23,
             |    u2.cu AS c2u, u3.cu AS c3u, tot.n, tot.v
             |  FROM dt d
             |  LEFT JOIN tri ON d.w1 = tri.w1 AND d.w2 = tri.w2 AND d.w3 = tri.w3
             |  LEFT JOIN tb b12 ON d.w1 = b12.wa AND d.w2 = b12.wb
             |  LEFT JOIN tb b23 ON d.w2 = b23.wa AND d.w3 = b23.wb
             |  LEFT JOIN tu u2 ON d.w2 = u2.w
             |  LEFT JOIN tu u3 ON d.w3 = u3.w
             |  CROSS JOIN tot)
             |SELECT doc_id, count(*) AS n_trigrams,
             |  CAST(sum(CASE WHEN ct IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_tier3,
             |  CAST(sum(CASE WHEN ct IS NULL AND c23 IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_tier2,
             |  CAST(sum(CASE WHEN ct IS NULL AND c23 IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_tier1,
             |  round(sum(ln(
             |    CASE WHEN ct IS NOT NULL THEN ct / c12
             |         WHEN c23 IS NOT NULL THEN 0.4 * (c23 / c2u)
             |         ELSE 0.4 * 0.4 * ((coalesce(c3u, 0) + 1) / (n + v))
             |    END)), 4) AS logscore
             |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Distributed BPE vocabulary induction (r14; Sennrich et al. 2016,
    // "Neural Machine Translation of Rare Words with Subword Units" —
    // the tokenizer-training step of an LLM data pipeline). Classic
    // BPE: start from characters, repeatedly merge the most frequent
    // adjacent symbol pair. Distributed recast: the CORPUS is touched
    // exactly once (one distinct-word count shuffle); every merge
    // round then operates on the |vocab|-bounded frame — one
    // vocab-sized pair-count aggregation plus a 1-row argmax
    // materialized to the driver (the Clustering fixpoint-scalar
    // precedent) and broadcast back as a literal into the next
    // round's map-side replace. localCheckpoint after each round
    // bounds lineage so round r never recomputes rounds 1..r-1. At
    // web scale the vocabulary is ~10^7 rows — each round is a small
    // aggregation, never a corpus pass.
    // Cross-engine exactness: the argmax tie-break is total
    // (count DESC, left, right), and merge APPLICATION exploits that
    // Spark's replace() and DuckDB's replace() share leftmost
    // non-overlapping all-occurrences semantics — symbol sequences
    // are stored with DOUBLED inner spaces (' a  b  c ') so replacing
    // ' l  r ' with ' lr ' consumes one boundary space from each side
    // and adjacent merge sites stay matchable, which IS BPE's greedy
    // left-to-right pass ('x x x x' -> 'xx xx', verified in both
    // engines). The oracle replays all 8 rounds as an unrolled CTE
    // chain — same counts, same argmax, same replace.
    "pipeline_bpe_vocab" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (merges, _) = learnBpe(s, dir)
        merges
          .toDF("merge_round", "merge_left", "merge_right", "pair_count")
          .orderBy($"merge_round")
      },
      Some(bpeOracle(BpeRounds))),

    // BPE tokenization (r14; the application half of the tokenizer
    // story): the learned symbol vocabulary is applied corpus-wide —
    // every document's words are looked up against the post-merge
    // vocabulary and the doc reports its word count, symbol count,
    // and chars-per-symbol compression. 100 TB shape: learning as in
    // pipeline_bpe_vocab (corpus touched once, vocab-bounded rounds);
    // APPLICATION is one broadcast of the (word → symbol-count)
    // vocabulary onto the exploded word stream — entirely map-side
    // until the per-doc aggregate, plan-pinned BroadcastHashJoin.
    // The oracle replays the 8 merge rounds and the same join.
    "pipeline_bpe_tokenize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (_, finalVocab) = learnBpe(s, dir)
        val wc = finalVocab.select($"w",
          size(expr("split(trim(seq), '  ')")).cast("long").as("n_sym"))
        Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", explode(split(normText($"text"), " ")).as("w"))
          .join(broadcast(wc), "w")
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_words"),
            sum($"n_sym").as("n_symbols"),
            r4(sum(length($"w")).cast("double") / sum($"n_sym"))
              .as("chars_per_symbol"))
          .orderBy($"doc_id")
      },
      Some(bpeOracle(BpeRounds,
        s"""wc AS (SELECT w, CAST(len(string_split(trim(seq), '  ')) AS BIGINT)
           |  AS n_sym FROM s$BpeRounds),
           |dw AS (
           |  SELECT doc_id, unnest(string_split(
           |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS w
           |  FROM documents)
           |SELECT doc_id, count(*) AS n_words,
           |  CAST(sum(n_sym) AS BIGINT) AS n_symbols,
           |  round(CAST(sum(length(w)) AS DOUBLE) / sum(n_sym), 4)
           |    AS chars_per_symbol
           |FROM dw JOIN wc USING (w)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))),

    // BPE encoding (r15; VERDICT r14 next #6): the id-sequence output
    // a training pipeline actually ships — each document's words
    // replaced by their post-merge subword symbols, in document
    // order, as one array<string> per doc. Same 100 TB shape as
    // pipeline_bpe_tokenize: the learned (word → symbol-array)
    // vocabulary broadcasts onto the posexploded word stream
    // (plan-pinned BroadcastHashJoin), and the per-doc reassembly is
    // one grouped sort-by-position flatten — the corpus is never
    // shuffled except to the doc grain it already lives at. The
    // oracle replays the 8 merge rounds and rebuilds the same
    // sequences with list(... ORDER BY position). The full per-doc
    // subword sequence is emitted FLATTENED to a space-joined scalar
    // (token_seq) — same information, totally ordered — because the
    // driver's pandas compare can only sort/hash scalar columns
    // (r15 VERDICT wrong #1: a raw array<string> column errs the
    // gate; the GateSchemaSpec now pins every gate output to
    // AtomicType-only).
    "pipeline_bpe_encode" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (_, finalVocab) = learnBpe(s, dir)
        val syms = finalVocab.select($"w",
          expr("split(trim(seq), '  ')").as("syms"))
        Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id",
            posexplode(split(normText($"text"), " ")).as(Seq("i", "w")))
          .join(broadcast(syms), "w")
          .groupBy($"doc_id")
          .agg(flatten(transform(
            array_sort(collect_list(struct($"i", $"syms"))),
            x => x.getField("syms"))).as("tokens"))
          .select($"doc_id",
            array_join($"tokens", " ").as("token_seq"),
            size($"tokens").cast("long").as("n_tokens"))
          .orderBy($"doc_id")
      },
      Some(bpeOracle(BpeRounds,
        s"""dw AS (
           |  SELECT doc_id, toks[i] AS w, i
           |  FROM (SELECT doc_id, string_split(
           |      regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
           |    FROM documents),
           |    LATERAL unnest(range(1, len(toks) + 1)) AS u(i)),
           |sy AS (SELECT w, string_split(trim(seq), '  ') AS syms
           |       FROM s$BpeRounds)
           |SELECT doc_id,
           |  array_to_string(flatten(list(syms ORDER BY i)), ' ') AS token_seq,
           |  CAST(len(flatten(list(syms ORDER BY i))) AS BIGINT) AS n_tokens
           |FROM dw JOIN sy USING (w)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))),

    // Unigram-LM (SentencePiece) vocabulary induction (r17; Kudo 2018
    // — the other mainstream subword family next to BPE; VERDICT r16
    // missing #2). Seed vocab = ALL substrings ≤4 chars of the corpus
    // words, counts freq-weighted with multiplicity; then
    // UnigramRounds fixed hard-EM rounds — each round scores pieces
    // in integer micro-nats (round(ln(cnt/T)·1e6), the BM25
    // quantization discipline, margins audited in UnigramMarginSpec),
    // Viterbi-segments every DISTINCT word with the exact
    // O(L·maxPieceLen) lattice DP (r18 — ties broken (fewer pieces,
    // lexicographic); the r17 2^(L-1) cut-mask enumeration survives
    // only as the spec-pinned reference, see unigramBestSegEnum),
    // and re-counts pieces from the argmax segmentations. Pieces the
    // Viterbi stops using drop out — the deterministic fixed-round
    // analog of Kudo §3.2's contribution pruning. 100 TB shape: ONE
    // corpus aggregate builds the word-frequency table; every EM
    // round after it is vocab-bounded (distinct words, never
    // documents), units broadcast into the lattice join. The oracle
    // unrolls the identical rounds as a CTE chain (bpeOracle
    // discipline) — the full piece-count table is value-checked.
    "pipeline_unigram_vocab" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (cnts, _, _) = learnUnigram(s, dir)
        cnts.select($"piece", $"cnt").orderBy($"piece")
      },
      Some(unigramOracle(UnigramRounds))),

    // Unigram tokenization (the application half): the final model's
    // Viterbi segmentation of every corpus word — (word, corpus freq,
    // space-joined segmentation, piece count), the flat scalar shape
    // the GateSchemaSpec contract requires; the per-document
    // expansion is pipeline_unigram_encode's row below.
    "pipeline_unigram_tokenize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (_, best, _) = learnUnigram(s, dir)
        best.select($"w", $"freq", $"seg", $"np".cast("long").as("n_pieces"))
          .orderBy($"w")
      },
      Some(unigramOracle(UnigramRounds,
        s"""fin AS (SELECT w, freq, seg, CAST(np AS BIGINT) AS n_pieces
           |        FROM bs${UnigramRounds + 1})
           |SELECT w, freq, seg, n_pieces FROM fin ORDER BY w""".stripMargin))),

    // Unigram encoding (r18; VERDICT r17 missing #1 — the same gap
    // pipeline_bpe_encode closed for the BPE family in r15): the
    // per-document token sequence a training pipeline actually ships.
    // Each document's words are replaced by their learned unigram
    // Viterbi pieces IN DOCUMENT ORDER and emitted as one
    // space-joined token_seq scalar per doc (the GateSchemaSpec
    // AtomicType-only contract) plus the token count. 100 TB shape is
    // pipeline_bpe_encode's: the vocabulary-sized (word → pieces)
    // model broadcasts onto the posexploded word stream (plan-pinned
    // BroadcastHashJoin), and the per-doc reassembly is one grouped
    // sort-by-position flatten — the corpus is only ever shuffled to
    // the doc grain it already lives at. The oracle appends a per-doc
    // tail to the final Viterbi pass of the same unrolled EM chain.
    "pipeline_unigram_encode" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (_, best, _) = learnUnigram(s, dir)
        val segs = best.select($"w", split($"seg", " ").as("pieces"))
        Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id",
            posexplode(split(normText($"text"), " ")).as(Seq("i", "w")))
          .join(broadcast(segs), "w")
          .groupBy($"doc_id")
          .agg(flatten(transform(
            array_sort(collect_list(struct($"i", $"pieces"))),
            x => x.getField("pieces"))).as("tokens"))
          .select($"doc_id",
            array_join($"tokens", " ").as("token_seq"),
            size($"tokens").cast("long").as("n_tokens"))
          .orderBy($"doc_id")
      },
      Some(unigramOracle(UnigramRounds,
        s"""sy AS (SELECT w, string_split(seg, ' ') AS pieces
           |       FROM bs${UnigramRounds + 1}),
           |dw AS (
           |  SELECT doc_id, toks[i] AS w, i
           |  FROM (SELECT doc_id, string_split(
           |      regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
           |    FROM documents),
           |    LATERAL unnest(range(1, len(toks) + 1)) AS u(i))
           |SELECT doc_id,
           |  array_to_string(flatten(list(pieces ORDER BY i)), ' ') AS token_seq,
           |  CAST(len(flatten(list(pieces ORDER BY i))) AS BIGINT) AS n_tokens
           |FROM dw JOIN sy USING (w)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))),

    // Tokenizer evaluation (r17; the measure-don't-ship discipline of
    // sim_ann_recall applied to the subword family: two tokenizers
    // are only an OFFERING if their compression is compared on the
    // same corpus). Per tokenizer — the BPE model after its 8 merge
    // rounds and the unigram model after its 2 EM rounds — the
    // corpus-weighted word count, piece count, and fertility
    // (pieces/word, THE tokenizer-quality headline; Rust et al. 2021).
    // Totals are exact BIGINT sums over the vocabulary grain
    // (freq·pieces), fertility one IEEE division of exact integers —
    // bit-identical cross-engine. The oracle runs BOTH learners'
    // unrolled CTE chains in one WITH (names disjoint by
    // construction), so the comparison is value-checked end to end.
    // 100 TB shape: both learners are the proven one-corpus-aggregate
    // + vocab-bounded-rounds pipelines; the eval itself adds one
    // 2-group aggregate over vocabulary-sized frames.
    "pipeline_tokenizer_eval" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val (_, bpeVocab) = learnBpe(s, dir)
        val (_, uniBest, _) = learnUnigram(s, dir)
        val b = bpeVocab.select(lit("bpe").as("tokenizer"), $"freq",
          size(expr("split(trim(seq), '  ')")).cast("long").as("np"))
        val u = uniBest.select(lit("unigram").as("tokenizer"), $"freq",
          $"np".cast("long").as("np"))
        b.unionByName(u).groupBy($"tokenizer")
          .agg(sum($"freq").as("total_words"),
            sum($"freq" * $"np").as("total_pieces"))
          .select($"tokenizer", $"total_words", $"total_pieces",
            ($"total_pieces".cast("double") / $"total_words")
              .as("fertility"))
          .orderBy($"tokenizer")
      },
      Some(bpeOracle(BpeRounds,
        unigramOracleCtes(UnigramRounds,
          s"""ev AS (
             |  SELECT 'bpe' AS tokenizer,
             |    CAST(sum(freq) AS BIGINT) AS total_words,
             |    CAST(sum(freq * len(string_split(trim(seq), '  ')))
             |      AS BIGINT) AS total_pieces
             |  FROM s$BpeRounds
             |  UNION ALL
             |  SELECT 'unigram', CAST(sum(freq) AS BIGINT),
             |    CAST(sum(freq * np) AS BIGINT)
             |  FROM bs${UnigramRounds + 1})
             |SELECT tokenizer, total_words, total_pieces,
             |  CAST(total_pieces AS DOUBLE) / total_words AS fertility
             |FROM ev ORDER BY tokenizer""".stripMargin)))),

    // Sequence packing (r15; the concat-and-chunk stage of a training
    // pipeline — GPT-style: Brown et al. 2020 §2.1 pack documents
    // end-to-end into fixed-length training sequences): documents
    // concatenate in doc_id order and slice into 128-token sequences;
    // the emitted manifest — per packed chunk: docs spanned, tokens
    // contributed, boundary ids — is what a dataloader consumes to
    // locate examples. PACKING IS PER (source, SHARD), deliberately:
    // sequences never span shard boundaries (exactly how tokenized
    // corpora ship — one packed stream per output file), so the
    // window sorts within (source, shard) partitions whose COUNT
    // GROWS WITH THE DATA (shard = doc_id range of 2000 docs) —
    // never a corpus-global total order, and never parallelism
    // capped at the handful of distinct sources (r15 self-review:
    // source alone is ~20-ary at every scale). All arithmetic is
    // integer (offsets, interval intersections), so the oracle is
    // exact by construction. One window pass + a bounded explode (a
    // doc spans ⌈n_tok/128⌉ chunks); the only shuffles are the
    // (source, shard)-keyed window and the manifest aggregate.
    "pipeline_sequence_pack" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val L = 128
        val w = Window.partitionBy($"source", $"shard").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.documents(s, dir)
          .select($"doc_id", $"source",
            floor($"doc_id" / 2000).cast("long").as("shard"),
            size(split(normText($"text"), " ")).cast("long").as("n_tok"))
          .withColumn("off", sum($"n_tok").over(w) - $"n_tok")
          .withColumn("chunk", explode(sequence(
            floor($"off" / L).cast("long"),
            floor(($"off" + $"n_tok" - 1) / L).cast("long"))))
          .groupBy($"source", $"shard", $"chunk")
          .agg(count(lit(1)).as("n_docs"),
            sum(least(($"chunk" + 1) * L, $"off" + $"n_tok")
              - greatest($"chunk" * L, $"off")).as("n_tokens"),
            min($"doc_id").as("first_doc"),
            max($"doc_id").as("last_doc"))
          .orderBy($"source", $"shard", $"chunk")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source,
             |    CAST(floor(doc_id / 2000) AS BIGINT) AS shard,
             |    CAST(len(string_split(regexp_replace(trim(lower(text)),
             |      '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, source, shard, n_tok,
             |    sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      - n_tok AS off
             |  FROM d),
             |e AS (
             |  SELECT source, shard, doc_id, n_tok, off, u.chunk AS chunk
             |  FROM o, LATERAL unnest(range(
             |    CAST(floor(off / 128) AS BIGINT),
             |    CAST(floor((off + n_tok - 1) / 128) AS BIGINT) + 1))
             |    AS u(chunk))
             |SELECT source, shard, chunk,
             |  count(*) AS n_docs,
             |  CAST(sum(least((chunk + 1) * 128, off + n_tok)
             |    - greatest(chunk * 128, off)) AS BIGINT) AS n_tokens,
             |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
             |FROM e GROUP BY source, shard, chunk
             |ORDER BY source, shard, chunk""".stripMargin)),

    // CCNet-style per-paragraph perplexity filter (r14; Wenzek et al.
    // 2020, "CCNet: Extracting High Quality Monolingual Datasets from
    // Web Crawl Data"): CCNet scores each PARAGRAPH of a document
    // under a corpus LM and keeps the low-perplexity slice, filtering
    // inside documents instead of dropping them whole. Adaptations,
    // documented: (a) the synthetic corpus has no paragraph marks, so
    // the paragraph unit is a fixed 20-token segment (same per-unit
    // scoring, deterministic segmentation); (b) the LM is the
    // lm_train_perplexity bigram model (add-k, k=0.5) rather than a
    // Kneser-Ney 5-gram — the pipeline shape is identical and the
    // oracle recomputes the same smoothed log-sums exactly. The
    // keep threshold (ppl < 30.0) is a float compare in both engines
    // over bit-identical inputs; its safety was AUDITED, not assumed:
    // min |ppl − 30.0| over every segment is 1.2e-3 at sf0.01,
    // 2.0e-6 at sf0.1, and 3.9e-5 at the derived sf1 — ≥10^6× the
    // worst cross-engine libm ulp noise (~1e-13 relative) on this
    // read-only corpus, so the decision can never flake.
    // 100 TB shape: segmentation and segment-bigram explode are
    // map-side; training = the same two count shuffles; scoring =
    // keyed joins of segment bigrams against the model (broadcast for
    // bounded vocab, shuffle join beyond) → one (doc, seg) aggregate
    // → one doc aggregate. Never pairwise, plan-pinned.
    "pipeline_ccnet_segment_filter" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val k = 0.5
        val toksDf = Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", split(normText($"text"), " ").as("toks"))
        val uni = toksDf.select(explode($"toks").as("w1"))
          .groupBy($"w1").agg(count(lit(1)).as("c1"))
        val bi = toksDf
          .select(explode(expr(
            "transform(slice(toks, 1, size(toks) - 1), " +
              "(t, i) -> struct(t AS w1, toks[i + 1] AS w2))")).as("bg"))
          .select($"bg.w1", $"bg.w2")
          .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
        val vocab = uni.agg(count(lit(1)).as("v"))
        val segs = toksDf
          .select($"doc_id", explode(expr(
            "transform(sequence(0, CAST(ceil(size(toks) / 20.0) AS INT) - 1), " +
              "s -> named_struct('seg_id', CAST(s AS BIGINT), " +
              "'stoks', slice(toks, s * 20 + 1, 20)))")).as("g"))
          .select($"doc_id", $"g.seg_id".as("seg_id"), $"g.stoks".as("stoks"))
          .filter(size($"stoks") >= 5)
        val segBi = segs
          .select($"doc_id", $"seg_id", size($"stoks").as("slen"),
            explode(expr(
              "transform(slice(stoks, 1, size(stoks) - 1), " +
                "(t, i) -> struct(t AS w1, stoks[i + 1] AS w2))")).as("bg"))
          .select($"doc_id", $"seg_id", $"slen", $"bg.w1", $"bg.w2")
        val lp = log(($"c12" + k) / ($"c1" + lit(k) * $"v"))
        val sppl = segBi
          .join(bi, Seq("w1", "w2"))
          .join(uni, Seq("w1"))
          .crossJoin(broadcast(vocab))
          .groupBy($"doc_id", $"seg_id")
          .agg(max($"slen").as("slen"),
            exp(-sum(lp) / count(lit(1))).as("ppl"))
        sppl.groupBy($"doc_id")
          .agg(count(lit(1)).as("n_segs"),
            sum(when($"ppl" < 30.0, 1L).otherwise(0L)).as("n_kept"),
            sum(when($"ppl" < 30.0, $"slen").otherwise(0L).cast("long"))
              .as("kept_tokens"),
            r4(min($"ppl")).as("min_ppl"),
            r4(avg(when($"ppl" < 30.0, $"ppl"))).as("avg_kept_ppl"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |uni AS (SELECT w1, count(*) AS c1
             |        FROM (SELECT unnest(toks) AS w1 FROM t) GROUP BY w1),
             |bi AS (
             |  SELECT w1, w2, count(*) AS c12 FROM (
             |    SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i])) AS w1,
             |           unnest(list_transform(range(1, len(toks)), i -> toks[i + 1])) AS w2
             |    FROM t) GROUP BY w1, w2),
             |vc AS (SELECT count(*) AS v FROM uni),
             |seg AS (
             |  SELECT doc_id, CAST(s AS BIGINT) AS seg_id,
             |    toks[s * 20 + 1 : s * 20 + 20] AS stoks
             |  FROM t, LATERAL unnest(
             |    range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS u(s)),
             |segs AS (
             |  SELECT doc_id, seg_id, stoks, len(stoks) AS slen
             |  FROM seg WHERE len(stoks) >= 5),
             |sb AS (
             |  SELECT doc_id, seg_id, slen,
             |    unnest(list_transform(range(1, len(stoks)), i -> stoks[i])) AS w1,
             |    unnest(list_transform(range(1, len(stoks)), i -> stoks[i + 1])) AS w2
             |  FROM segs),
             |sppl AS (
             |  SELECT doc_id, seg_id, max(slen) AS slen,
             |    exp(-sum(ln((c12 + 0.5) / (c1 + 0.5 * vc.v))) / count(*)) AS ppl
             |  FROM sb JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vc
             |  GROUP BY doc_id, seg_id)
             |SELECT doc_id, count(*) AS n_segs,
             |  count(*) FILTER (ppl < 30.0) AS n_kept,
             |  CAST(sum(CASE WHEN ppl < 30.0 THEN slen ELSE 0 END) AS BIGINT)
             |    AS kept_tokens,
             |  round(min(ppl), 4) AS min_ppl,
             |  round(avg(CASE WHEN ppl < 30.0 THEN ppl END), 4) AS avg_kept_ppl
             |FROM sppl GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // CCNet step-1 paragraph-level exact dedup (Wenzek et al. 2020
    // §3.1): before any LM filtering, CCNet hash-dedups PARAGRAPHS
    // across the whole crawl, keeping one occurrence of each — the
    // single biggest byte-reduction step of the published pipeline
    // (they report ~70% of raw text removed). Adaptation, documented:
    // the synthetic corpus has no paragraph marks, so the unit is a
    // fixed 4-token segment — short enough that the tiny synthetic
    // vocabulary produces a real duplicate population (6% of segments
    // at sf0.01, 10% at sf0.1 — density GROWS with the corpus, as
    // dedup economics should). First occurrence wins, ordered by
    // (doc_id, seg_id) — deterministic in both engines.
    // 100 TB shape: segmentation is map-side; the dedup decision is
    // ONE row_number window shuffle keyed on the segment text (at
    // real scale the key would be the segment's 128-bit hash — same
    // shuffle, smaller keys; the text key here keeps the oracle
    // exact), then one doc-grain aggregate. Never a self-join of the
    // segment stream against itself. Output is all-integer, so the
    // gate cannot flake on fp rounding.
    "pipeline_paragraph_dedup" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val L = 4
        val toksDf = Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", split(normText($"text"), " ").as("toks"))
        val segs = toksDf
          .select($"doc_id", explode(expr(
            s"transform(sequence(0, CAST(ceil(size(toks) / $L.0) AS INT) - 1), " +
              s"s -> named_struct('seg_id', CAST(s AS BIGINT), " +
              s"'stext', array_join(slice(toks, s * $L + 1, $L), ' '), " +
              s"'slen', CAST(size(slice(toks, s * $L + 1, $L)) AS BIGINT)))"))
            .as("g"))
          .select($"doc_id", $"g.seg_id".as("seg_id"),
            $"g.stext".as("stext"), $"g.slen".as("slen"))
        val w = Window.partitionBy($"stext").orderBy($"doc_id", $"seg_id")
        segs.withColumn("rn", row_number().over(w))
          .groupBy($"doc_id")
          .agg(count(lit(1)).as("n_segs"),
            sum(when($"rn" > 1, 1L).otherwise(0L)).as("n_removed"),
            sum(when($"rn" === 1, $"slen").otherwise(0L)).as("kept_tokens"),
            sum($"slen").as("total_tokens"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |seg AS (
             |  SELECT doc_id, CAST(s AS BIGINT) AS seg_id,
             |    array_to_string(toks[s * 4 + 1 : s * 4 + 4], ' ') AS stext,
             |    CAST(len(toks[s * 4 + 1 : s * 4 + 4]) AS BIGINT) AS slen
             |  FROM t, LATERAL unnest(
             |    range(0, CAST(ceil(len(toks) / 4.0) AS BIGINT))) AS u(s)),
             |r AS (
             |  SELECT doc_id, slen,
             |    row_number() OVER (PARTITION BY stext ORDER BY doc_id, seg_id) AS rn
             |  FROM seg)
             |SELECT doc_id, count(*) AS n_segs,
             |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |  CAST(sum(CASE WHEN rn = 1 THEN slen ELSE 0 END) AS BIGINT) AS kept_tokens,
             |  CAST(sum(slen) AS BIGINT) AS total_tokens
             |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // BM25 relevance scoring (Robertson/Sparck Jones as in Lucene:
    // idf = ln(1 + (N − df + 0.5)/(df + 0.5)), k1 = 1.2, b = 0.75)
    // of the whole corpus against a query-term set. 100 TB shape: df
    // for the five terms is ONE partial-aggregating scan pivoted to a
    // single broadcast row; scoring is then entirely map-side per
    // document — no shuffle of the corpus at all, one final sort for
    // the deterministic output. Exact oracle: DuckDB recomputes df,
    // avgdl, and the same score sum.
    "bm25_score" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val terms = Seq("query", "join", "fast", "table", "data")
        val k1 = 1.2; val b = 0.75
        val toksDf = Tables.documents(s, dir)
          .select($"doc_id", split(normText($"text"), " ").as("toks"))
        val statCols = Seq(
          count(lit(1)).as("n_docs"),
          avg(size($"toks")).as("avgdl")) ++
          terms.map(t =>
            sum(when(array_contains($"toks", t), 1L).otherwise(0L))
              .as(s"df_$t"))
        val stats = toksDf.agg(statCols.head, statCols.tail: _*)
        val scored = toksDf.crossJoin(broadcast(stats))
          .withColumn("dl", size($"toks").cast("double"))
        val score = terms.map { t =>
          val tf = size(filter($"toks", x => x === lit(t))).cast("double")
          val idf = log(lit(1.0) + (($"n_docs" - col(s"df_$t") + 0.5) /
            (col(s"df_$t") + 0.5)))
          idf * tf * (k1 + 1.0) / (tf + lit(k1) * (lit(1.0 - b) + lit(b) * $"dl" / $"avgdl"))
        }.reduce(_ + _)
        scored
          .select($"doc_id", r4(score).as("bm25"),
            $"dl".cast("long").as("doc_len"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |stats AS (
             |  SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl,
             |    sum(CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END) AS df_query,
             |    sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS df_join,
             |    sum(CASE WHEN list_contains(toks, 'fast') THEN 1 ELSE 0 END) AS df_fast,
             |    sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS df_table,
             |    sum(CASE WHEN list_contains(toks, 'data') THEN 1 ELSE 0 END) AS df_data
             |  FROM t),
             |scored AS (
             |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             |    len(list_filter(toks, x -> x = 'query')) AS tf_query,
             |    len(list_filter(toks, x -> x = 'join')) AS tf_join,
             |    len(list_filter(toks, x -> x = 'fast')) AS tf_fast,
             |    len(list_filter(toks, x -> x = 'table')) AS tf_table,
             |    len(list_filter(toks, x -> x = 'data')) AS tf_data
             |  FROM t)
             |SELECT doc_id,
             |  round(
             |    ln(1 + (n_docs - df_query + 0.5) / (df_query + 0.5)) * tf_query * 2.2
             |      / (tf_query + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
             |    ln(1 + (n_docs - df_join + 0.5) / (df_join + 0.5)) * tf_join * 2.2
             |      / (tf_join + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
             |    ln(1 + (n_docs - df_fast + 0.5) / (df_fast + 0.5)) * tf_fast * 2.2
             |      / (tf_fast + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
             |    ln(1 + (n_docs - df_table + 0.5) / (df_table + 0.5)) * tf_table * 2.2
             |      / (tf_table + 1.2 * (0.25 + 0.75 * dl / avgdl)) +
             |    ln(1 + (n_docs - df_data + 0.5) / (df_data + 0.5)) * tf_data * 2.2
             |      / (tf_data + 1.2 * (0.25 + 0.75 * dl / avgdl)), 4) AS bm25,
             |  CAST(dl AS BIGINT) AS doc_len
             |FROM scored CROSS JOIN stats ORDER BY doc_id""".stripMargin)),

    // Gopher quality-rule filter (Rae et al. 2021, table A1): word
    // count bounds, mean word length bounds, symbol-to-word ratio,
    // alphabetic-word fraction, and the >=2-stopwords rule, combined
    // into a keep/drop verdict per document. Entirely map-side (one
    // scan, zero shuffles beyond the output sort) — at 100 TB this is
    // a pure pass-through filter stage.
    "text_gopher_rules" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val gopherStops =
          array(Seq("the", "be", "to", "of", "and", "that", "have", "with")
            .map(lit): _*)
        Tables.documents(s, dir)
          .withColumn("toks", split(normText($"text"), " "))
          .withColumn("n_words", size($"toks").cast("long"))
          .withColumn("mean_word_len",
            r4(aggregate($"toks", lit(0L), (acc, t) => acc + length(t))
              .cast("double") / $"n_words"))
          .withColumn("symbol_ratio",
            r4(size(filter($"toks", t =>
              t.contains("#") || t.contains("..."))).cast("double") / $"n_words"))
          .withColumn("alpha_ratio",
            r4(size(filter($"toks", t => t.rlike("[a-z]"))).cast("double")
              / $"n_words"))
          .withColumn("n_stop",
            size(array_intersect(array_distinct($"toks"), gopherStops))
              .cast("long"))
          .withColumn("keep",
            $"n_words".between(30, 100000) &&
              $"mean_word_len".between(3.0, 10.0) &&
              $"symbol_ratio" <= 0.1 && $"alpha_ratio" >= 0.8 &&
              $"n_stop" >= 2)
          .select($"doc_id", $"n_words", $"mean_word_len", $"symbol_ratio",
            $"alpha_ratio", $"n_stop", $"keep")
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |m AS (
             |  SELECT doc_id,
             |    CAST(len(toks) AS BIGINT) AS n_words,
             |    round(list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(toks, t -> CAST(length(t) AS BIGINT))),
             |      (a, b) -> a + b) * 1.0 / len(toks), 4) AS mean_word_len,
             |    round(len(list_filter(toks, t ->
             |      contains(t, '#') OR contains(t, '...'))) * 1.0 / len(toks), 4)
             |      AS symbol_ratio,
             |    round(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
             |      * 1.0 / len(toks), 4) AS alpha_ratio,
             |    CAST(len(list_intersect(list_distinct(toks),
             |      ['the','be','to','of','and','that','have','with'])) AS BIGINT)
             |      AS n_stop
             |  FROM t)
             |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
             |  n_stop,
             |  (n_words BETWEEN 30 AND 100000) AND
             |    (mean_word_len BETWEEN 3.0 AND 10.0) AND
             |    symbol_ratio <= 0.1 AND alpha_ratio >= 0.8 AND n_stop >= 2
             |    AS keep
             |FROM m ORDER BY doc_id""".stripMargin)),

    // PII scrubbing: redact emails, phone numbers, and IPv4 addresses
    // with typed placeholders and count each hit. The corpus is
    // synthetic word salad, so PII spans are PLANTED deterministically
    // from doc_id (both engines construct the identical text) — the
    // scrubber itself is the generic regex pass a real pipeline runs.
    // Map-side only; the three regexes are RE2-compatible so the
    // DuckDB oracle replays them verbatim.
    "pipeline_pii_scrub" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val emailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
        val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val phoneRe = "\\b\\d{3}-\\d{4}\\b"
        Tables.documents(s, dir)
          .withColumn("text",
            concat($"text", lit(" contact user"), $"doc_id",
              lit("@example.com tel 555-"),
              lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
              lit(" host 10.0."), ($"doc_id" % 256).cast("string"),
              lit(".7")))
          .withColumn("n_emails", regexp_count($"text", lit(emailRe)))
          .withColumn("n_ips", regexp_count($"text", lit(ipRe)))
          .withColumn("n_phones", regexp_count($"text", lit(phoneRe)))
          .withColumn("clean",
            regexp_replace(regexp_replace(regexp_replace($"text",
              emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>"))
          .select($"doc_id", $"n_emails", $"n_phones", $"n_ips",
            substring($"clean", -64, 64).as("clean_tail"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    text || ' contact user' || doc_id ||
             |      '@example.com tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             |      ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(text,
             |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails,
             |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{4}\b')) AS INT) AS n_phones,
             |  CAST(len(regexp_extract_all(text,
             |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
             |  CASE WHEN length(clean) <= 64 THEN clean
             |       ELSE substring(clean, length(clean) - 63, 64) END AS clean_tail
             |FROM (
             |  SELECT doc_id, text,
             |    regexp_replace(regexp_replace(regexp_replace(text,
             |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             |      '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS clean
             |  FROM t)
             |ORDER BY doc_id""".stripMargin)),

    // Exact duplicated-span dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): the paper removes
    // every token span that occurs verbatim more than once in the
    // corpus (they use suffix arrays; the distributed recast is
    // rolling 10-token shingles with positions). Any shingle seen
    // more than once corpus-wide marks its [pos, pos+9] span;
    // overlapping spans merge per document (gaps-and-islands over a
    // running max-end window), and each document reports its merged
    // duplicated-span count, token coverage, and ratio — the exact
    // per-doc cut list a span-level dedup pass would apply.
    // Scale shape: one explode (map-side), one window shuffle on the
    // shingle for the occurrence count, one window+groupBy chain on
    // doc_id for the island merge. O(docs × tokens), never pairwise,
    // no suffix array and no driver state.
    "dedup_substring_spans" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val grams = Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", split(normText($"text"), " ").as("toks"))
          .filter(size($"toks") >= 10)
          .select($"doc_id", size($"toks").as("n_toks"),
            // the shingle is shuffled by a 60-bit hash of the gram, not
            // the ~60-byte string — injective on any real corpus
            // (birthday bound ~ n_grams^2/2^61) so it marks the same
            // spans duplicated, while the occurrence-count shuffle
            // moves longs. The hash is the PortableLsh md5-prefix
            // primitive, which DuckDB evaluates bit-identically — the
            // ORACLE HASHES TOO (ADVICE r13: the r13 form hashed only
            // on the Spark side with xxhash64 and compared literal
            // grams in DuckDB, leaving the collision risk asymmetric
            // between engine and oracle; now a collision would affect
            // both engines identically and the gate compares like for
            // like)
            explode(expr(
              "transform(sequence(0, size(toks) - 10), i -> " +
                "named_struct('pos', i, 'gram', " +
                "CAST(conv(substring(md5(concat_ws(' ', slice(toks, i + 1, 10))), " +
                "1, 15), 16, 10) AS BIGINT)))")).as("g"))
          .select($"doc_id", $"n_toks",
            $"g.pos".as("pos"), ($"g.pos" + 9).as("endp"), $"g.gram")
        val dup = grams
          .withColumn("occ", count(lit(1)).over(Window.partitionBy($"gram")))
          .filter($"occ" > 1)
        val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
        val prev = wDoc.rowsBetween(Window.unboundedPreceding, -1)
        val islands = dup
          .withColumn("prev_end", max($"endp").over(prev))
          .withColumn("new_island",
            when($"prev_end".isNull || $"pos" > $"prev_end", 1L)
              .otherwise(0L))
          .withColumn("island", sum($"new_island").over(
            wDoc.rowsBetween(Window.unboundedPreceding, 0)))
        islands.groupBy($"doc_id", $"n_toks", $"island")
          .agg(min($"pos").as("s"), max($"endp").as("e"))
          .groupBy($"doc_id", $"n_toks")
          .agg(count(lit(1)).as("n_dup_spans"),
            sum($"e" - $"s" + 1).as("n_dup_tokens"))
          .select($"doc_id", $"n_toks".as("n_tokens"),
            $"n_dup_spans", $"n_dup_tokens",
            r4($"n_dup_tokens".cast("double") / $"n_toks").as("dup_ratio"))
          .orderBy($"doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, len(toks) AS n_toks, i AS pos,
             |    i + 9 AS endp,
             |    CAST('0x' || substr(md5(
             |      array_to_string(toks[i + 1:i + 10], ' ')), 1, 15)
             |      AS BIGINT) AS gram
             |  FROM t, LATERAL unnest(range(0, len(toks) - 10 + 1)) AS u(i)
             |  WHERE len(toks) >= 10),
             |occ AS (
             |  SELECT doc_id, n_toks, pos, endp,
             |    count(*) OVER (PARTITION BY gram) AS occ
             |  FROM g),
             |dup AS (SELECT doc_id, n_toks, pos, endp FROM occ WHERE occ > 1),
             |isl AS (
             |  SELECT doc_id, n_toks, pos, endp,
             |    CASE WHEN max(endp) OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             |      OR pos > max(endp) OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS new_island
             |  FROM dup),
             |isl2 AS (
             |  SELECT doc_id, n_toks, pos, endp,
             |    sum(new_island) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl),
             |spans AS (
             |  SELECT doc_id, n_toks, island, min(pos) AS s, max(endp) AS e
             |  FROM isl2 GROUP BY doc_id, n_toks, island)
             |SELECT doc_id, n_toks AS n_tokens,
             |  count(*) AS n_dup_spans,
             |  CAST(sum(e - s + 1) AS BIGINT) AS n_dup_tokens,
             |  round(CAST(sum(e - s + 1) AS DOUBLE) / n_toks, 4) AS dup_ratio
             |FROM spans GROUP BY doc_id, n_toks
             |ORDER BY doc_id""".stripMargin)),

    // Training-mix planning: given target language proportions (the
    // static mix-construction step behind Pile/DoReMi-style corpus
    // recipes), find the largest total token budget the corpus can
    // serve at those proportions — B = min over languages of
    // tokens_l · 20 / w_l for integer weights w_l summing to 20 —
    // and the per-language take and sampling rate that realize it.
    // All budget arithmetic is integer (floor division), so both
    // engines agree exactly; only the displayed rate divides as
    // DOUBLE. The proportion denominator is sum(weight) over the
    // languages ACTUALLY PRESENT (ADVICE r13: a literal 20 silently
    // skewed the mix for any corpus whose language set isn't the
    // assumed five) — so the plan stays budget-feasible and
    // proportion-exact for any language census. Scale shape: one
    // token-count aggregation to |languages| rows, 1-row global
    // (min, sum) aggregate, and a broadcast back — the fact is
    // scanned once, everything after is constant-size.
    "pipeline_mixture_plan" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val perLang = Tables.documents(s, dir)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(normText($"text"), " ")).cast("long"))
              .as("lang_tokens"))
          .withColumn("weight", expr(
            "CASE lang WHEN 'en' THEN 8L WHEN 'zh' THEN 3L " +
              "WHEN 'es' THEN 3L WHEN 'de' THEN 3L ELSE 3L END"))
        val wsum = perLang.agg(sum($"weight").as("wsum"))
        val budget = perLang.crossJoin(broadcast(wsum))
          .agg(min(expr("CAST(floor(lang_tokens * wsum / weight) AS BIGINT)"))
            .as("budget"), first($"wsum").as("wsum"))
        perLang.crossJoin(broadcast(budget))
          .select($"lang", $"n_docs", $"lang_tokens", $"weight", $"budget",
            expr("CAST(floor(weight * budget / wsum) AS BIGINT)")
              .as("take_tokens"),
            r4(expr("CAST(floor(weight * budget / wsum) AS BIGINT)")
              .cast("double") / $"lang_tokens").as("rate"))
          .orderBy($"lang")
      },
      Some("""WITH per_lang AS (
             |  SELECT lang, count(*) AS n_docs,
             |    CAST(sum(len(string_split(
             |      regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')))
             |      AS BIGINT) AS lang_tokens,
             |    CASE lang WHEN 'en' THEN 8 WHEN 'zh' THEN 3
             |      WHEN 'es' THEN 3 WHEN 'de' THEN 3 ELSE 3 END AS weight
             |  FROM documents GROUP BY lang),
             |b AS (
             |  SELECT min(CAST(floor(lang_tokens * wsum / weight) AS BIGINT))
             |    AS budget, CAST(min(wsum) AS BIGINT) AS wsum
             |  FROM per_lang,
             |    (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM per_lang) w)
             |SELECT lang, n_docs, lang_tokens, CAST(weight AS BIGINT) AS weight,
             |  budget,
             |  CAST(floor(weight * budget / wsum) AS BIGINT) AS take_tokens,
             |  round(CAST(floor(weight * budget / wsum) AS BIGINT) * 1.0
             |    / lang_tokens, 4) AS rate
             |FROM per_lang, b
             |ORDER BY lang""".stripMargin)),

    // DSIR-style importance resampling (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling"):
    // hashed token features are counted separately over a TARGET
    // distribution (here the 'en' slice) and the RAW pool, each
    // document is scored by how target-leaning its tokens are, and
    // the top-scoring prefix is kept as the resampled training mix.
    // Two deliberate deviations from the paper, both for the
    // cross-engine exact gate:
    //  - the hash is a tiny explicit polynomial over the first 8
    //    [a-z0-9] chars (mod-256 buckets) written identically in both
    //    dialects, because no built-in hash agrees between Spark and
    //    DuckDB (8 chars bound the lambda cost; higher-order
    //    functions sit outside whole-stage codegen);
    //  - the per-bucket log-likelihood-ratio weight is replaced by
    //    an exact Laplace-smoothed rate comparison ((tc+1)/(T+B) vs
    //    (rc+1)/(R+B), cross-multiplied in DECIMAL(38,0) so it can
    //    never overflow or drift), and the doc score is the fraction
    //    of its tokens in target-leaning buckets — ln() is not
    //    bit-reproducible across engines (libm vs libm), which the
    //    strict hash gate would surface as flakes.
    // Scale shape: the token stream is touched exactly ONCE — the
    // explode+hash pass collapses straight into per-(doc, bucket)
    // counts (map-side combined, one fact shuffle). That intermediate
    // is bounded by docs × 256 rows, so materializing it is cheap at
    // any corpus size; the bucket stats (<= 256 rows), the 1-row
    // totals, and the per-doc scores all derive from the materialized
    // frame with only broadcast joins and tiny shuffles. Nothing is
    // ever pairwise and no driver-side loop exists.
    // Materialization is localCheckpoint, not persist (ADVICE r13):
    // a persist() with no reachable unpersist leaks a CacheManager
    // entry per invocation (only clearCache() callers were safe);
    // localCheckpoint blocks are owned by the RDD and reclaimed by
    // the ContextCleaner once the result DataFrame is unreachable —
    // no caller contract needed. Eager, so the one fact pass runs at
    // build time.
    "pipeline_dsir_sample" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val perDocBucket = Tables.parallelized(Tables.documents(s, dir))
          .select($"doc_id", $"lang",
            explode(split(normText($"text"), " ")).as("rawtok"))
          .withColumn("tok", regexp_replace($"rawtok", "[^a-z0-9]", ""))
          .filter(length($"tok") > 0)
          .withColumn("bucket", expr(
            "aggregate(sequence(1, least(length(tok), 8)), 0L, " +
              "(acc, i) -> (acc * 31 + ascii(substring(tok, i, 1))) % 256)"))
          .groupBy($"doc_id", $"lang", $"bucket")
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val stats = perDocBucket.groupBy($"bucket").agg(
          sum(when($"lang" === "en", $"cnt").otherwise(0L)).as("tc"),
          sum(when($"lang" =!= "en", $"cnt").otherwise(0L)).as("rc"))
        val tot = stats.agg(sum($"tc").as("t_total"), sum($"rc").as("r_total"))
        val lean = stats.crossJoin(broadcast(tot))
          .select($"bucket", expr(
            "CAST(CASE WHEN CAST(tc + 1 AS DECIMAL(38,0)) * (r_total + 256) > " +
              "CAST(rc + 1 AS DECIMAL(38,0)) * (t_total + 256) " +
              "THEN 1 ELSE 0 END AS BIGINT)").as("lean"))
        perDocBucket.join(broadcast(lean), "bucket")
          .groupBy($"doc_id")
          .agg(sum($"cnt").as("n_toks"), sum($"cnt" * $"lean").as("n_lean"))
          .select($"doc_id", $"n_toks", $"n_lean",
            r4($"n_lean".cast("double") / $"n_toks").as("score"))
          .orderBy($"score".desc, $"doc_id")
          .limit(50)
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, lang,
             |    regexp_replace(unnest(string_split(
             |      regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')),
             |      '[^a-z0-9]', '', 'g') AS tok
             |  FROM documents),
             |toks AS (
             |  SELECT doc_id, lang,
             |    list_reduce([CAST(0 AS BIGINT)] ||
             |      list_transform(range(1, least(length(tok), 8) + 1),
             |        i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT)),
             |      (acc, x) -> (acc * 31 + x) % 256) AS bucket
             |  FROM tk WHERE length(tok) > 0),
             |stats AS (
             |  SELECT bucket,
             |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc,
             |    sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS rc
             |  FROM toks GROUP BY bucket),
             |tot AS (SELECT sum(tc) AS t_total, sum(rc) AS r_total FROM stats),
             |lean AS (
             |  SELECT bucket,
             |    CAST(CASE WHEN CAST(tc + 1 AS DECIMAL(38,0)) * (r_total + 256) >
             |              CAST(rc + 1 AS DECIMAL(38,0)) * (t_total + 256)
             |      THEN 1 ELSE 0 END AS BIGINT) AS lean
             |  FROM stats, tot)
             |SELECT doc_id, count(*) AS n_toks,
             |  CAST(sum(lean) AS BIGINT) AS n_lean,
             |  round(CAST(sum(lean) AS DOUBLE) / count(*), 4) AS score
             |FROM toks JOIN lean USING (bucket)
             |GROUP BY doc_id
             |ORDER BY score DESC, doc_id
             |LIMIT 50""".stripMargin))
  )

  /** Shared MinHash+LSH pipeline: 64 perms, 16 bands × 4 rows. */
  private def minhashLsh(s: SparkSession, dir: String, bound: Option[Int]): DataFrame = {
    import s.implicits._
    val base = Tables.documents(s, dir)
    val docs = Tables.parallelized(
        bound.fold(base)(b => base.filter($"doc_id" < b)))
      .select($"doc_id", hashedWordSet($"text").as("w"))
    lshPairs(docs)
  }

  /** LSH candidate generation + exact rescore over (doc_id, w) rows.
    *
    * Shape matters at scale:
    *  - band rows are exploded FIRST, then each (doc, band) row hashes
    *    only its own 4 minhash slots — no 64-slot signature gets
    *    recomputed per band by projection collapse;
    *  - the bucket self-join and the de-dup of cross-band hits carry
    *    (id_a, id_b) ONLY — word arrays rejoin after distinct, so the
    *    wide data never passes through the quadratic stage.
    */
  /** (doc_id, band, band_sig) rows: 16 bands × 4 minhash rows each. */
  private def bandSignatures(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val nBands = 16
    val rowsPerBand = 4
    // All 64 seed-salted minima come from ONE codegen pass over the
    // word-hash buffer (XxMinhashSigs — optimization r20, VERDICT r19
    // next #1: the CwMinhashSigs treatment for the xxhash64 family)
    // instead of 64 interpreted array_min(transform(...)) folds that
    // the optimizer re-expanded inside the Generate. Band signatures
    // read 4 slots each via element_at; the two-step projection keeps
    // the signature materialized once (CollapseProject refuses to
    // inline a non-cheap alias referenced 64 times). Values are
    // bit-identical: the expression reproduces xxhash64's
    // hashInt(seed, hashLong(t, 42)) fold and min is
    // order-insensitive; concat_ws sees the same longs.
    val sigs = (0 until nBands).map { b =>
      xxhash64(concat_ws(",",
        (0 until rowsPerBand).map(r =>
          element_at($"m64", b * rowsPerBand + r + 1)): _*))
    }
    docs
      .select($"doc_id", call_function("xx_minhash_sigs", $"w").as("m64"))
      .select($"doc_id", posexplode(array(sigs: _*)))
      .select($"doc_id", $"pos".as("band"), $"col".as("band_sig"))
  }

  private def lshPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // NOTE (optimization r20): localCheckpoint-ing `docs` and `banded`
    // here was MEASURED and REJECTED (1.58 -> 2.20 s at comparable
    // canary): the band self-join does instantiate the signature
    // projection twice, but this pipeline's only gate consumer is
    // doc_id-bounded (500 docs), so two eager checkpoint actions cost
    // more than the duplicated 500-row tokenize+minhash they save. At
    // an unbounded scale the 4x tokenize would dominate and the
    // checkpoint (or a persisted signature asset, as the verified
    // dedup path already ships) wins — a call-site decision, exactly
    // like Tables.registerAll's rejected view-level repartition.
    val banded = bandSignatures(docs)
    val candidates = banded.as("x").join(banded.as("y"),
        $"x.band" === $"y.band" && $"x.band_sig" === $"y.band_sig" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
      .distinct()
    val wa = docs.select($"doc_id".as("id_a"), $"w".as("wa"))
    val wb = docs.select($"doc_id".as("id_b"), $"w".as("wb"))
    candidates.join(wa, "id_a").join(wb, "id_b")
      .withColumn("ni", size(array_intersect($"wa", $"wb")))
      .withColumn("j", $"ni".cast("double") /
        (size($"wa") + size($"wb") - $"ni"))
      .filter($"j" >= 0.9)
      .select($"id_a", $"id_b", round($"j", 4).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }
}
