package graft.ops

import graft.Q
import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline — language ID,
  * quality scoring, token counting (SURVEY.md §2.2 q87-q89).
  *
  * All three are embarrassingly parallel map-side work plus one
  * aggregation; at 100 TB they pipeline inside whole-stage codegen over
  * the document scan. The language-ID model is corpus-derived (top-k
  * marker words per language from the data itself), so the query is fully
  * self-contained and oracle-checkable — the "train then classify" shape
  * without external model files.
  */
object TextAnalysis {

  /** PII patterns — deliberately restricted to constructs where Java
    * regex (Spark) and RE2 (DuckDB) agree exactly: literal character
    * classes, bounded counts, ASCII `\b`. No lookaround, no backrefs
    * (RE2 has neither). Octet ranges are NOT validated (999.999.999.999
    * redacts) — standard for corpus scrubbing, where over-redaction is
    * the safe side.
    */
  private[graft] val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  private[graft] val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails → phones → IPv4s (fixed order, documented: an
    * IP-shaped octet run inside a VALID email's domain — alpha TLD,
    * e.g. u@10.0.0.1.example.com — redacts as part of the EMAIL; a
    * numeric-TLD address like root@10.0.0.1 is not an email, so only
    * its IP redacts. Both engines scan leftmost non-overlapping, so
    * the order alone pins every overlap). Idempotent: the markers
    * contain no digits or
    * `@`, so no pattern can match text a previous pass produced
    * (PiiSpec proves it). Pure codegen'd map-side work — the pipeline
    * stage costs one projection over the already-cached survivors.
    */
  /** The (pattern, marker) stages in application order — ONE list
    * driving [[redactPii]] and the q127 oracle's generated redaction
    * CTE (r18 self-review: the markers and the email→phone→IP nesting
    * were re-typed literals there; editing either would have diverged
    * the engines until a hash-gate failure). q110's own oracle keeps
    * its hand-mirrored staged form (it interleaves per-stage counts),
    * under its existing DRIFT TRIPWIRE note.
    */
  private[graft] val PiiStages: Seq[(String, String)] =
    Seq(EmailRe -> "<EMAIL>", PhoneRe -> "<PHONE>", Ipv4Re -> "<IP>")

  def redactPii(text: Column): Column =
    PiiStages.foldLeft(text) { case (c, (re, marker)) =>
      regexp_replace(c, re, marker) }

  /** Config key for the LM broadcast ceiling (bytes). Tests force the
    * shuffle regime by setting it to 1; production tunes it to the
    * cluster's driver/executor headroom. The 256 MB default sits far
    * under Spark's 8 GB broadcast hard limit while covering any
    * Heaps-sized vocab the testdata or a moderate corpus produces.
    */
  private[graft] val LmBroadcastMaxBytesKey = "spark.graft.lmBroadcastMaxBytes"
  private[graft] val LmBroadcastMaxBytesDefault: Long = 256L << 20

  private def lmBroadcastMaxBytes(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption(LmBroadcastMaxBytesKey).map(_.toLong)
      .getOrElse(LmBroadcastMaxBytesDefault)

  /** Coarse materialized-size estimate of an LM/vocab AGGREGATE — one
    * tiny aggregate action over the (persisted) table: rows × 48 B
    * fixed per-row overhead (hash-table entry, object headers, numeric
    * fields) + exact string content bytes. Order-of-magnitude by
    * design: the dispatch needs "MBs vs tens of GBs", not precision —
    * a 2× misjudgment lands both regimes safely (broadcast at 512 MB
    * still clears the 8 GB ceiling; a needless shuffle of a small LM
    * costs latency, not correctness).
    *
    * EAGER: runs one Spark job at query-construction time (the q75
    * precedent — SparkEntry's EAGERNESS EXCEPTION). Callers pass a
    * PERSISTED table so the estimate pass doubles as cache
    * materialization and the corpus is never rescanned for it.
    */
  private[graft] def estimateLmBytes(lm: DataFrame): Long = {
    // guard the estimator's domain: nested columns (array/map/struct)
    // would silently count as 48 B/row regardless of payload — an LM
    // carrying one would under-estimate and could push an over-ceiling
    // table into the broadcast branch. Every current LM table is
    // atomic; keep it that way or extend the estimator first.
    val nested = lm.schema.fields.filter(f =>
      f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] ||
      f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    require(nested.isEmpty,
      s"estimateLmBytes: nested column(s) ${nested.map(_.name).mkString(", ")} " +
        "— the estimator only prices atomic columns")
    val strCols = lm.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
    val aggs = count(lit(1)).cast("long").as("n") +:
      strCols.map(c => coalesce(sum(length(col(c)).cast("long")), lit(0L)))
    val row = lm.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    n * 48L + strCols.indices.map(i => row.getLong(i + 1)).sum
  }

  /** Size-gated LM shipping (r13 VERDICT #1 — capJaccardPairsAuto's
    * regime-dispatch discipline applied to the broadcast-LM joins):
    * BROADCAST the LM when its estimate fits the ceiling — CCNet's
    * production architecture, the LM rides to every worker and the
    * corpus-sized stream never shuffles — and a pinned SHUFFLE_HASH
    * join above it, so a raw 100 TB-corpus bigram table that crosses
    * the broadcast ceiling DEGRADES to one co-partitioned exchange
    * instead of failing the broadcast build (and never silently
    * sort-merges: the hint pins the hash strategy; the LM side builds).
    * Dispatch can never change RESULTS, only plans — PlanLintSpec
    * executes both regimes and compares bytes.
    */
  private[graft] def joinLm(stream: DataFrame, lm: DataFrame,
                            keys: Seq[String], joinType: String,
                            estBytes: Long): DataFrame =
    if (estBytes <= lmBroadcastMaxBytes(stream.sparkSession))
      stream.join(broadcast(lm), keys, joinType)
    else stream.join(lm.hint("SHUFFLE_HASH"), keys, joinType)

  /** Merge count for q114 — bounded and small: BPE quality grows with
    * merges but the LEARNING loop is the operator under test, and 20
    * rounds already exercises merged-symbol re-merging (merges of
    * merges appear by round 3 on the test corpora).
    */
  private[graft] val BpeMerges = 20

  /** Round/batch dials for q119/q120 (the r14 VERDICT #2 scale path):
    * 25 rounds × up to 8 disjoint merges per round — up to 200 merges,
    * 10× q114's count at ~1.25× its driver round-trips. The dials are
    * declared constants because the oracle unrolls them.
    */
  private[graft] val BpeBatchRounds = 25
  private[graft] val BpeBatchK = 8

  /** Round/window dials for q121 (hot-partitioned learning on the real
    * corpus): SAME (25, 8) budget as q119 so the yield gain is the
    * RULE's, not a bigger window's; kept-per-round cap = the window
    * (capJ only exists to bound the oracle's pivot width).
    */
  private[graft] val BpeHotRounds = 25
  private[graft] val BpeHotK = 8
  private[graft] val BpeHotCap = 8

  /** Dials for q122 (hot-partitioned learning on the synthetic rich
    * vocabulary): 28 rounds × a 128-winner window, kept capped at 24
    * per round — measured 534 merges on the 500-type tier and 583 on
    * the 5000-type tier, i.e. vocabulary-limited ≥ 500 either way
    * (BpeSpec law). capJ = 24 bounds the oracle's per-round pivot to
    * 24 NULL-padded columns.
    */
  private[graft] val RichVocabRounds = 28
  private[graft] val RichVocabK = 128
  private[graft] val RichVocabCap = 24

  /** The q122/q125 rich-vocab merge table: the hot-partitioned learner
    * over [[RichVocabWordSql]] words at the (rounds, window, cap) dials
    * above. Deterministic per dir (oracle-gated at three scales); every
    * call runs the full learning loop.
    */
  private[graft] def richVocabMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Long, String, String, String, Long)] =
    learnBpeMergesHotPart(
      Tables(s, dir, "documents")
        .select(col("doc_id"), expr(RichVocabWordSql).as("text")),
      RichVocabRounds, RichVocabK, RichVocabCap)

  /** The q122 synthetic-vocabulary word, as ONE SQL expression string
    * valid VERBATIM in both Spark SQL and DuckDB — the construction
    * cannot drift between the query and its oracle because there is
    * only one text (stronger than q110's hand-mirrored PII arms).
    * Shape: 4 CRT chars (doc_id mod 17/19/23/25 — pairwise coprime,
    * product 185725, so words are DISTINCT per doc_id at every test
    * scale) + 6 mixing chars (((doc_id·p) mod q) mod 26 over distinct
    * prime pairs — near-uniform over a-z, which is what gives the
    * candidate window its symbol diversity; a lpad-style encoding
    * concentrates mass on 2-3 symbols and caps the learner's yield).
    * Only `%`, `*`, `CAST AS INT`, `substring`, `concat` — identical
    * semantics in both engines for non-negative BIGINT inputs.
    */
  private[graft] val RichVocabWordSql: String = {
    val alpha = "'abcdefghijklmnopqrstuvwxyz'"
    val crt = Seq(17, 19, 23, 25).map(m =>
      s"substring($alpha, 1 + CAST(doc_id % $m AS INT), 1)")
    val mix = Seq((31, 101), (37, 103), (41, 107), (43, 109), (47, 113),
      (53, 127)).map { case (p, q) =>
      s"substring($alpha, 1 + CAST(((doc_id * $p) % $q) % 26 AS INT), 1)" }
    (crt ++ mix).mkString("concat(", ", ", ")")
  }

  /** The symbol-sequence seed of a word under the space-wrapped
    * representation (see [[learnBpeMerges]]).
    */
  private def bpeSeed(w: Column): Column =
    concat(lit(" "), rtrim(regexp_replace(w, "(.)", "$1  ")), lit(" "))

  /** The (freq, symbol-sequence) vocab frame every learner iterates —
    * ONE corpus pass, eagerly checkpointed (see learnRounds' cache
    * note). Shared so the "batched at k=1 is bit-for-bit sequential"
    * law holds by construction, not by parallel maintenance.
    */
  private def bpeVocabSeqs(docs: DataFrame): DataFrame = {
    val seqs = docs
      .select(explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy("w").agg(count(lit(1)).as("f"))
      .select(col("f"), bpeSeed(col("w")).as("s"))
      .localCheckpoint(true)
    // SIZE the loop's parallelism (r16): the checkpointed vocab
    // inherits the corpus's shuffle-partition dial, and a driver-
    // iterative learner then pays rounds × stages × partitions
    // scheduler overheads on microsecond tasks — measured 3.4× on
    // q122's 28-round loop (34 s at 32 partitions vs ~10 s at 16,
    // sf0.1's 5000-type vocab). One partition per 64k types (the
    // count is a cheap job over the cached blocks; AQE already
    // coalesces the reduce sides — this bounds the MAP sides every
    // round re-scans). coalesce is a narrow op over the checkpointed
    // blocks: no re-materialization, and learned merges are
    // partitioning-independent (BpeSpec laws + oracle hashes).
    //
    // The coalesce(1) NODE is load-bearing even when the frame is
    // ALREADY one partition (r17, measured 3.8×): Dataset
    // .localCheckpoint captures the physical plan's outputPartitioning
    // into the LogicalRDD each ROUND re-checkpoints, and
    // CoalesceExec(1) reports SinglePartition where the bare
    // checkpointed scan reports UnknownPartitioning — so with the node
    // every per-round pair aggregate plans ZERO exchanges, and without
    // it every round pays a full shuffle (q122 at gate settings:
    // 11.2 s with the node vs 42.7 s without; plan-probed — the round
    // aggregate's executedPlan carries no Exchange only with the
    // node). The r16 ADVICE "skip the sizing work when already narrow"
    // briefly dropped the node and re-opened the r16 regression;
    // the honored form gates only the sizing COUNT() job (skipped
    // when the frame is already a single partition, where parts can
    // only be 1) and always emits the coalesce.
    val np = seqs.rdd.getNumPartitions
    val parts =
      if (np <= 1) 1
      else math.max(1L, math.min(np.toLong, seqs.count() / 65536 + 1)).toInt
    seqs.coalesce(parts)
  }

  /** Adjacent-pair counts of a seqs frame, unordered — the shared
    * aggregation under [[bpePairCounts]] (global merge ranking) and
    * [[hotWinners]] (per-hot-symbol ranking, where a pre-join global
    * sort would be wasted work).
    */
  private def bpePairCountsRaw(seqs: DataFrame): DataFrame =
    seqs
      .withColumn("tk", split(trim(col("s")), "  "))
      .filter(size(col("tk")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(2, size(tk)), i -> struct(" +
          "element_at(tk, i - 1) AS a, element_at(tk, i) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("f")).as("cnt"))

  /** Adjacent-pair counts of a seqs frame, in the canonical
    * (cnt desc, a, b) merge order — the single pair-ranking plan the
    * sequential and all-higher-ranks learners collect from (limit 1
    * sequential, limit k batched).
    */
  private def bpePairCounts(seqs: DataFrame): DataFrame =
    bpePairCountsRaw(seqs).orderBy(col("cnt").desc, col("a"), col("b"))

  /** Per-HOT-SYMBOL pair winners (r15 VERDICT #1 — the cascade-breaking
    * candidate window) over a pair-count frame `p` (a, b, cnt) — the
    * caller persists `p` for the round, because this plan consumes it
    * three times (mass twice, the hot join once):
    * mass(s) = Σ cnt over pairs where a = s or b = s
    * (a = b contributes twice); hot(a, b) = the higher-mass end (mass
    * tie → lexically smaller); winner = the (cnt desc, a, b)-first pair
    * of each hot partition, returned in (cnt desc, a, b) order — the
    * learner takes the top k as the round's candidates (its limit
    * composes with the orderBy into TakeOrderedAndProject). Scale
    * shape: everything up to the final
    * top-k is pair-table-sized (Heaps-sublinear) and PARTITIONED — the
    * argmax window is partitionBy(hot), never a global window, and the
    * top-k is orderBy + limit (TakeOrderedAndProject: per-partition
    * top-k, driver merges k·P rows). One candidate per live symbol
    * means the window's yield GROWS with the learned-symbol pool
    * instead of being capped by the head of the global rank (measured:
    * 12 → 19 merges/round across 25 rounds on a 500-type vocabulary,
    * where the global-LIMIT window stays flat at ~7).
    */
  private[graft] def hotWinners(p: DataFrame): DataFrame = {
    // r20 (guide §2.4/§3): zero-join formulation. The r16-r19 shape
    // built a separate mass aggregate and joined it back onto p TWICE —
    // per learner round that planned two broadcast builds (2 extra
    // driver-synchronous jobs) plus the probe job, and forced the
    // caller to persist p (three consumers). Instead, explode each pair
    // to both endpoints, window-sum cnt per endpoint symbol (mass(s) =
    // Σ cnt over incident pairs, a = b contributing twice — its two
    // exploded rows share s), and group back by the pair to re-pair the
    // two masses. Identical mass/hot/winner semantics (tie → lexically
    // smaller end; HotWinnersSpec/BpeSpec laws unchanged), but ONE
    // sequential-stage job per round and p consumed exactly once.
    val ex = p.select(explode(array(
        struct(col("a").as("s"), col("a"), col("b"), col("cnt")),
        struct(col("b").as("s"), col("a"), col("b"), col("cnt")))).as("x"))
      .select(col("x.s").as("s"), col("x.a").as("a"), col("x.b").as("b"),
        col("x.cnt").as("cnt"))
    val wM = org.apache.spark.sql.expressions.Window.partitionBy("s")
    val hot = ex.withColumn("_m", sum(col("cnt")).over(wM))
      .groupBy("a", "b", "cnt")
      .agg(max(when(col("s") === col("a"), col("_m"))).as("_ma"),
        max(when(col("s") === col("b"), col("_m"))).as("_mb"))
      .withColumn("hot",
        when(col("_ma") > col("_mb"), col("a"))
          .when(col("_mb") > col("_ma"), col("b"))
          .otherwise(least(col("a"), col("b"))))
    val wP = org.apache.spark.sql.expressions.Window
      .partitionBy("hot").orderBy(col("cnt").desc, col("a"), col("b"))
    hot.withColumn("_prn", row_number().over(wP))
      .filter(col("_prn") === 1)
      .select("a", "b", "cnt")
      .orderBy(col("cnt").desc, col("a"), col("b"))
  }

  /** Run `body` (a learner's round loop) under loop-scoped SQL conf:
    * adaptive execution OFF and shuffle width = the vocab frame's own
    * partition count (r20 guide §1/§2). Rationale, measured at gate
    * settings (local[32], sf0.1): every learner round is a handful of
    * VOCAB-sized stages (pair aggregate, mass aggregate, winner window)
    * whose width the loop already derives from the data
    * (bpeVocabSeqs' types/64k coalesce) — AQE contributes nothing to
    * them but materializes every exchange as its own stage-job, ~8
    * driver-synchronous jobs per round at ~0.1 s fixed cost each
    * (JobTrace, plans/r20 notes). q122 (28 rounds): 12.7 s AQE-on vs
    * 6.8 s AQE-off+derived-width, same merges. Scale-safe: the width
    * tracks the vocabulary (Heaps-sublinear), not the core count, and
    * the corpus-sized seeding pass (bpeVocabSeqs) runs OUTSIDE this
    * scope under normal AQE. Conf is saved/restored exception-safely;
    * results are plan-independent (oracle-gated at three scales).
    */
  private[ops] def withLearnerConf[T](s: org.apache.spark.sql.SparkSession,
      parts: Int)(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val spKey = "spark.sql.shuffle.partitions"
    val aqe0 = s.conf.getOption(aqeKey)
    val sp0 = s.conf.getOption(spKey)
    s.conf.set(aqeKey, "false")
    s.conf.set(spKey, math.max(1, parts).toString)
    try body
    finally {
      aqe0.fold(s.conf.unset(aqeKey))(v => s.conf.set(aqeKey, v))
      sp0.fold(s.conf.unset(spKey))(v => s.conf.set(spKey, v))
    }
  }

  /** Learn byte-pair-encoding merges (Sennrich et al. 2016, word-level
    * char seeding): each distinct ALPHABETIC word becomes its character
    * sequence; count adjacent symbol pairs weighted by word frequency;
    * greedily merge the most frequent pair everywhere (ties → lexical
    * (a, b)); repeat `nMerges` times. Returns (rank, a, b, merged,
    * freq) per round.
    *
    * Scale shape — the reason this is tractable at 100 TB: ONE corpus
    * pass builds the (word, freq) VOCAB aggregate (Heaps-sublinear),
    * and the entire iterative loop runs over that vocab table — per
    * round one pair aggregation (vocab-sized, map-side combinable) and
    * one LIMIT-1 collect (the q100/fixpoint bounded-scalar-action
    * discipline), with a lazy per-round localCheckpoint (see
    * learnRounds). The corpus is never rescanned.
    *
    * Representation (shared verbatim with the DuckDB oracle): a word's
    * symbol sequence is the string ` s1  s2  …  sk ` — every symbol
    * wrapped in single spaces, so adjacent symbols meet at exactly two
    * spaces. Merging pair (a, b) is then the plain string replace
    * ` a  b ` → ` ab `, whose left-to-right non-overlapping semantics
    * (identical in Spark and DuckDB) IS greedy BPE pairing — `aaa`
    * merges to (aa, a), never (a, aa) — and the wrapping invariant
    * makes partial-token matches impossible. Pair COUNTING, by
    * contrast, counts every adjacent position (`aaa` has (a,a) twice):
    * the standard reference-implementation asymmetry, mirrored exactly
    * by both engines.
    */
  private[graft] def learnBpeMerges(docs: DataFrame, nMerges: Int)
      : Seq[(Long, String, String, String, Long)] = {
    // the k = 1 batched learner IS this schedule (BpeSpec law): one
    // LIMIT-1 collect and one replace per round over the shared loop.
    // Fail loudly rather than silently diverge from the unrolled
    // oracle: exhausting mergeable pairs inside nMerges rounds would
    // need the whole vocab collapsed to single symbols
    val out = learnBpeMergesBatched(docs, nMerges, 1)
    require(out.size == nMerges,
      s"BPE: no mergeable pairs left at round ${out.size + 1} of $nMerges")
    out
  }

  /** BATCHED BPE merge learning (r14 VERDICT #2 — the path to realistic
    * merge counts): per round, rank all pairs by (freq desc, a, b),
    * take the top [[BpeBatchK]]-class `k` RANKS as candidates, and keep
    * a candidate iff its symbol set {a, b, ab} is disjoint from EVERY
    * higher-ranked candidate's — kept or discarded alike. The
    * all-higher-ranks rule (rather than greedy-against-kept-only) is
    * deliberately chosen because it is decidable per candidate with no
    * sequential state: the DuckDB oracle expresses it as one NOT EXISTS
    * self-join over the k-row candidate window instead of a recursion,
    * and it only ever keeps a SUBSET of what greedy would (more
    * conservative, never wrong).
    *
    * All kept pairs then merge in ONE vocab pass: mutual disjointness —
    * each pair's merged symbol included in its set — makes the replaces
    * order-independent and keeps every kept pair's pre-batch count
    * exact (merging ` a  b ` can neither create nor destroy occurrences
    * of ` c  d ` when {c, d, cd} ∩ {a, b, ab} = ∅; space-wrapping rules
    * out partial-symbol matches). merge_rank is the global emission
    * order (round-major, rank-minor).
    *
    * Schedule semantics: at k = 1 every round keeps exactly the rank-1
    * pair — bit-for-bit [[learnBpeMerges]] (BpeSpec law). At k > 1 the
    * schedule may diverge from k sequential rounds wherever a merge
    * would have created a NEW pair outranking a kept one — the standard
    * BPE-at-scale trade (k× fewer driver round-trips; q114's cost is
    * round-bound, exp 0.08 across decades, not corpus-bound). A round
    * with no pairs left emits nothing and the loop keeps its fixed
    * `nRounds` shape (the unrolled oracle's shape) — deterministic
    * either way.
    */
  private[graft] def learnBpeMergesBatched(docs: DataFrame, nRounds: Int,
      k: Int)
      : Seq[(Long, String, String, String, Long)] = {
    require(k >= 1 && nRounds >= 1, s"need k >= 1, nRounds >= 1 (got $k, $nRounds)")
    learnRounds(bpeVocabSeqs(docs), nRounds)(
      // ONE bounded collect per round: k rows (the q100/fixpoint
      // bounded-scalar-action discipline — k is a small constant)
      seqs => collectPairs(bpePairCounts(seqs).limit(k)),
      keepAllHigherRanks)
  }

  /** The round-loop scaffolding every BPE learner shares (the rank
    * counter, exhaustion early-exit, and batch-apply are maintained
    * once; [[learnBpeMerges]] is its k = 1 call): per round, `candidates`
    * runs the one bounded collect, `keep` the pure driver-side rule.
    * A round with no candidates left ends the loop (r15 ADVICE) —
    * output-equivalent to running the remaining rounds, whose unrolled
    * oracle stages are no-ops.
    *
    * Cache note: each round's apply is a localCheckpoint, NOT
    * persist/release-previous — Spark's CacheManager recaches dependent
    * cached plans when a parent cache is dropped, so the persist idiom
    * silently rebuilds each round from the round-0 lineage (measured
    * time-DOUBLING per round). Only the merges leave the loop, so the
    * vocab checkpoint and every round checkpoint are released when it
    * returns.
    */
  private def learnRounds(seqs0: DataFrame, nRounds: Int)(
      candidates: DataFrame => IndexedSeq[(String, String, Long)],
      keep: IndexedSeq[(String, String, Long)] =>
        IndexedSeq[(String, String, Long)])
      : Seq[(Long, String, String, String, Long)] = {
    var seqs = seqs0
    val checkpoints = Seq.newBuilder[DataFrame] += seqs0
    val out = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 0L
    var exhausted = false
    withLearnerConf(seqs0.sparkSession, seqs0.rdd.getNumPartitions) {
      for (_ <- 1 to nRounds if !exhausted) {
        val cand = candidates(seqs)
        if (cand.isEmpty) exhausted = true
        val kept = keep(cand)
        for ((a, b, cnt) <- kept) {
          rank += 1
          out += ((rank, a, b, a + b, cnt))
        }
        if (kept.nonEmpty) {
          val steps = batchApply(seqs, kept)
          checkpoints ++= steps
          seqs = steps.last
        }
      }
    }
    checkpoints.result().foreach(releaseCheckpoints)
    out.result()
  }

  private def collectPairs(df: DataFrame)
      : IndexedSeq[(String, String, Long)] =
    df.collect()
      .map(c => (c.getString(0), c.getString(1), c.getLong(2))).toIndexedSeq

  /** The q119 keep rule, pure and driver-side (candidates arrive as a
    * bounded collect): keep a candidate iff its symbol triple
    * {a, b, ab} is disjoint from EVERY higher-ranked candidate's —
    * kept or discarded alike. Decidable per candidate (the oracle's
    * NOT EXISTS), conservative (only ever a subset of greedy). O(k²)
    * set intersections on the driver — see BpeSpec's budget law.
    */
  private[graft] def keepAllHigherRanks(
      cand: IndexedSeq[(String, String, Long)])
      : IndexedSeq[(String, String, Long)] = {
    // triples precomputed once: the O(k²) pairwise scan then allocates
    // nothing per comparison — at k = 4096 (8.4M comparisons) this
    // stays well under a second (BpeSpec law)
    val triples = cand.map { case (a, b, _) => Set(a, b, a + b) }
    cand.indices.collect { case i if (0 until i).forall(h =>
        !triples(h).exists(triples(i).contains)) =>
      cand(i)
    }
  }

  /** The r16 keep rule over PER-HOT-SYMBOL winners (r15 VERDICT #1):
    * the input is already one-winner-per-hot-symbol ([[hotWinners]]),
    * ranked by (cnt desc, a, b); keep a winner iff its triple is
    * disjoint from every HIGHER-RANKED WINNER's (kept or not — still
    * per-candidate decidable, one NOT EXISTS over the winner set), then
    * cap at `capJ` in rank order. Mutual disjointness of the kept set
    * follows: every kept winner is disjoint from ALL higher winners,
    * which include all higher kept. The cascade-breaker vs
    * [[keepAllHigherRanks]]: a DROPPED candidate no longer blocks lower
    * ones, because non-winners never enter the blocking set — measured
    * 5.6 vs 3.4 merges/round on the testdata corpus and 2.6× on the
    * 100k prefix-heavy vocabulary (SURVEY.md).
    */
  private[graft] def keepDisjointWinners(
      winners: IndexedSeq[(String, String, Long)], capJ: Int)
      : IndexedSeq[(String, String, Long)] =
    keepAllHigherRanks(winners).take(capJ)

  /** One-projection application of a mutually-disjoint kept batch:
    * disjointness makes the nesting order irrelevant; keep rank order
    * anyway so the expression text is deterministic. Symbols are
    * [a-z]+ — safe SQL literals.
    * Lazy checkpoint, no materializing count: the next round's pair
    * aggregation is the first action and materializes it then. Returns
    * every checkpointed step; the last is the applied frame.
    */
  private def batchApply(seqs: DataFrame,
      kept: Seq[(String, String, Long)]): Seq[DataFrame] = {
    // [[SegFoldChunk]] replaces per projection — the declared dials
    // (capJ <= 24) keep one projection; a larger batch chunks instead
    // of building one k-deep expression (the q120 fold-depth guard,
    // applied to the learner's apply side). Disjointness makes the
    // split points semantically free.
    kept.grouped(SegFoldChunk).toSeq.scanLeft(seqs) { (df, g) =>
      val repl = g.foldLeft("s") { case (acc, (a, b, _)) =>
        s"replace($acc, ' $a  $b ', ' $a$b ')"
      }
      df.withColumn("s", expr(repl)).localCheckpoint(false)
    }.tail
  }

  /** Drop the blocks of every localCheckpoint `df` reads now, instead
    * of when the ContextCleaner collects the frame: unpersist each
    * LogicalRDD leaf's backing RDD, the one handle that reaches them.
    * Only for frames that own their checkpoints. Idempotent.
    */
  private[graft] def releaseCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** BATCHED BPE learning over the HOT-PARTITIONED candidate window
    * (r15 VERDICT #1 — the yield rule that unlocks realistic merge
    * counts): per round, [[hotWinners]] surfaces the best pair of every
    * live hot symbol (top `k` by (cnt desc, a, b)), and
    * [[keepDisjointWinners]] keeps the mutually-disjoint prefix-winners
    * capped at `capJ`. Because dropped candidates never block lower
    * ones (only WINNERS enter the NOT EXISTS set) and the window spans
    * every live symbol instead of the head of the global rank, the
    * drop-cascade that pinned [[learnBpeMergesBatched]] at ~1.9-3.4
    * merges/round is gone: measured 5.6/round on the testdata corpus
    * at the same (25, 8) dials, 12 → 19/round growing with the symbol
    * pool on a 500-type vocabulary, and vocabulary-limited ≥ 500
    * merges in 28 rounds on the q122 synthetic vocabulary.
    *
    * At k = 1 the round's single winner is the global-best pair (it is
    * rank 1 of its own hot partition and of the winner ordering), so
    * k = 1 IS [[learnBpeMerges]] bit-for-bit — the same law the
    * all-higher-ranks learner carries (BpeSpec). Kept batches are
    * mutually disjoint, so the one-pass [[batchApply]] argument (order
    * independence, exact pre-batch counts) holds unchanged.
    */
  private[graft] def learnBpeMergesHotPart(docs: DataFrame, nRounds: Int,
      k: Int, capJ: Int)
      : Seq[(Long, String, String, String, Long)] = {
    require(k >= 1 && capJ >= 1 && nRounds >= 1,
      s"need k >= 1, capJ >= 1, nRounds >= 1 (got $k, $capJ, $nRounds)")
    learnRounds(bpeVocabSeqs(docs), nRounds)(
      // ONE bounded collect per round: <= k winner rows. r20: the
      // zero-join hotWinners consumes the pair aggregate exactly once,
      // so the per-round persist/unpersist is gone with the joins
      seqs => collectPairs(hotWinners(bpePairCountsRaw(seqs)).limit(k)),
      keepDisjointWinners(_, capJ))
  }

  /** Encode a (doc_id, text) corpus with learned BPE merges — q116's
    * core, shared with TrainingPipeline's export stage. TYPE-level
    * application: segmentation is computed once per distinct word (fold
    * the merges over the wrapped-char seed — vocab-sized work;
    * non-alphabetic types pass through whole), then the
    * type→segmentation map ships via the size-gated dispatcher
    * ([[joinLm]]) onto the pos-indexed token stream, and docs
    * reassemble in position order (q113's sort_array discipline).
    *
    * Returns (encoded, segCache): encoded = one row per doc with >= 1
    * token — (doc_id, n_subwords, seq) where `seq` is the
    * space-joined full subword sequence (subwords never contain
    * spaces); segCache is the persisted type map the CALLER must
    * unpersist after its last action (CACHE CONTRACT).
    */
  /** Replaces applied per plan stage in [[segmentTypes]] (r14 VERDICT
    * #3 — the fold-depth guard): <= this many merges fold into one
    * projection (q116's 20 keep r14's exact single-stage plan); longer
    * merge lists chunk, with a lazy localCheckpoint between chunks, so
    * the expression tree and the generated code stay bounded at ANY
    * merge count — 30k merges is ~940 vocab-sized stages, never one
    * 30k-deep expression (which stops compiling long before that).
    */
  private[graft] val SegFoldChunk = 32

  /** Type-level BPE segmentation over a frame of distinct words `w`:
    * fold the merges in rank order as literal-string replaces over the
    * space-wrapped seed, [[SegFoldChunk]] per stage. Returns
    * (w, sws, n_sw) — non-alphabetic types pass through whole. The
    * inter-chunk checkpoints materialize VOCAB-sized frames only.
    */
  private[graft] def segmentTypes(types: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val isAlpha = col("w").rlike("^[a-z]+$")
    // r20 (guide §2.5 input skew / §1 empirical): the fold below is
    // CPU-bound per row (|merges| literal replaces per type), but its
    // input is a distinct-types shuffle whose BYTES are tiny, so AQE
    // coalesces it to one partition and the whole fold ran as a single
    // task (measured: q125's encode spent 3.2-3.7 s in one 1-task job
    // at sf0.1 on 32 cores). Spread the fold across the cluster's
    // parallelism — compute width, not shuffle-bytes width. Row-to-
    // partition assignment is deterministic (sortBeforeRepartition) and
    // results are partitioning-independent (per-row projection).
    val width = types.sparkSession.sparkContext.defaultParallelism
    // null for non-alpha types: replaces propagate null for free and
    // the final projection never reads _seg_s for them
    var df = types.repartition(width)
      .withColumn("_seg_s", when(isAlpha, bpeSeed(col("w"))))
    val groups = merges.grouped(SegFoldChunk).toSeq
    for ((g, gi) <- groups.zipWithIndex) {
      val folded = g.foldLeft(col("_seg_s")) { case (c, (a, b)) =>
        // literal pattern/replacement (symbols are [a-z]+);
        // left-to-right non-overlapping scan IS greedy BPE pairing —
        // learnBpeMerges' representation argument
        regexp_replace(c, s" $a  $b ", s" $a$b ") }
      df = df.withColumn("_seg_s", folded)
      if (gi < groups.size - 1) df = df.localCheckpoint(false)
    }
    val segArr = split(trim(col("_seg_s")), "  ")
    df.select(col("w"),
      when(isAlpha, array_join(segArr, " ")).otherwise(col("w")).as("sws"),
      when(isAlpha, size(segArr).cast("long")).otherwise(lit(1L)).as("n_sw"))
  }

  private[graft] def bpeEncodeTokens(docs: DataFrame,
      merges: Seq[(Long, String, String, String, Long)])
      : (DataFrame, DataFrame) = {
    val tok = docs.select(col("doc_id"),
      posexplode(filter(split(col("text"), " "), w => w =!= ""))
        .as(Seq("pos", "w")))
    val seg = segmentTypes(tok.select("w").distinct(),
        merges.map(m => (m._2, m._3)))
      .persist()
    val enc = joinLm(tok, seg, Seq("w"), "inner", estimateLmBytes(seg))
      .groupBy("doc_id")
      .agg(sum(col("n_sw")).as("n_subwords"),
        concat_ws(" ", expr(
          "transform(sort_array(collect_list(struct(pos, sws))), x -> x.sws)"))
          .as("seq"))
    (enc, seg)
  }

  /** The declared (doc_id, n_subwords, toks_md5) shape over an encode
    * frame: hash the full subword sequence and re-attach zero-token
    * docs (absent from the encode) with the empty encoding. The
    * reattach join is pinned SHUFFLE_HASH — both sides hash on doc_id
    * (one exchange each, no sort; the aggregate side is corpus-sized,
    * never broadcast — caught by the lint on first run). Shared by the
    * q116/q120/q125 queries and the composed pipeline's q132 (r19
    * self-review: the tail was one missed edit away from divergence —
    * the bpeEncodeApplySql factoring lesson, engine side).
    */
  private[ops] def bpeEncodeHashed(ids: DataFrame, enc: DataFrame)
      : DataFrame = {
    val agg = enc.select(col("doc_id"), col("n_subwords"),
      md5(col("seq")).as("toks_md5"))
    ids.select("doc_id").join(agg.hint("SHUFFLE_HASH"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"),
        coalesce(col("toks_md5"), md5(lit(""))).as("toks_md5"))
      .orderBy("doc_id")
  }

  /** The q116/q120 query shape: [[bpeEncodeTokens]] + [[bpeEncodeHashed]].
    */
  private def bpeEncodeQuery(docs: DataFrame,
      merges: Seq[(Long, String, String, String, Long)]): DataFrame = {
    // per-doc subword sequences via the shared type-level encoder
    // (the seg cache it persists is under the CACHE CONTRACT)
    val (enc, _) = bpeEncodeTokens(docs, merges)
    bpeEncodeHashed(docs, enc)
  }

  /** Segment every word of `text` with learned BPE merges, applied in
    * rank order — the q113-chain acceptance step (vocab→merges→subword
    * sequence). Alphabetic words segment; any other word passes
    * through whole (a real tokenizer's byte-fallback analog). Returns
    * the ordered array of subword tokens; concatenating them
    * reconstructs the original words exactly (BpeSpec's law).
    */
  private[graft] def applyBpeMerges(text: Column,
                                    merges: Seq[(String, String)]): Column = {
    def segment(w: Column): Column = {
      val seed = concat(lit(" "),
        rtrim(regexp_replace(w, "(.)", "$1  ")), lit(" "))
      val folded = merges.foldLeft(seed) { case (s, (a, b)) =>
        // literal pattern ([a-z ] only — no metachars); regexp_replace
        // scans left-to-right non-overlapping, same as replace
        regexp_replace(s, s" $a  $b ", s" $a$b ")
      }
      split(trim(folded), "  ")
    }
    flatten(transform(filter(split(text, " "), w => w =!= ""),
      w => when(w.rlike("^[a-z]+$"), segment(w)).otherwise(array(w))))
  }

  /** The Gopher rule metrics (q111's body, minus the table read and the
    * declared-determinism sort) over any (doc_id, text) frame — factored
    * out so GopherRulesSpec can drive the line-granular paths (bullets,
    * ellipses, duplicate lines, stopwords, symbols) on constructed
    * multi-line docs the word-soup corpus can't produce.
    */
  private[graft] def gopherRules(docs: DataFrame): DataFrame = {
    val stops = array(Seq("the", "be", "to", "of", "and", "that",
      "have", "with").map(lit): _*)
    docs
      .select(col("doc_id"), col("text"),
        filter(split(col("text"), " "), w => w =!= "").as("ws"),
        split(col("text"), "\n").as("lines"))
      .withColumn("n_words", size(col("ws")).cast("long"))
      .withColumn("n_lines", size(col("lines")).cast("long"))
      .withColumn("mean_word_len",
        when(col("n_words") > 0, round(
          aggregate(col("ws"), lit(0L), (a, w) => a + length(w).cast("long"))
            .cast("double") / col("n_words"), 4)).otherwise(lit(0.0)))
      .withColumn("frac_alpha",
        when(col("n_words") > 0, round(
          size(filter(col("ws"), w => w.rlike("[a-z]"))).cast("double") /
            col("n_words"), 4)).otherwise(lit(0.0)))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("ws")), stops)).cast("long"))
      .withColumn("symbol_ratio",
        when(col("n_words") > 0, round(
          (expr("length(text) - length(replace(text, '#', ''))") +
            expr("(length(text) - length(replace(text, '...', ''))) / 3"))
            .cast("double") / col("n_words"), 4)).otherwise(lit(0.0)))
      .withColumn("frac_bullet", round(
        size(filter(col("lines"),
          l => l.startsWith("- ") || l.startsWith("* "))).cast("double") /
          col("n_lines"), 4))
      .withColumn("frac_ellipsis", round(
        size(filter(col("lines"), l => l.endsWith("..."))).cast("double") /
          col("n_lines"), 4))
      .withColumn("dup_line_frac", round(
        (col("n_lines") - size(array_distinct(col("lines")))).cast("double") /
          col("n_lines"), 4))
      .withColumn("bg", when(size(col("ws")) >= 2, expr(
        "transform(sequence(2, size(ws)), i -> " +
          "concat(element_at(ws, i - 1), ' ', element_at(ws, i)))"))
        .otherwise(expr("array()")))
      .withColumn("dup_2gram_frac",
        when(size(col("bg")) > 0, round(
          (size(col("bg")) - size(array_distinct(col("bg")))).cast("double") /
            size(col("bg")), 4)).otherwise(lit(0.0)))
      .withColumn("n_rules_failed", (
        when(col("n_words") < 3 || col("n_words") > 100000, 1).otherwise(0) +
        when(col("mean_word_len") < 3 || col("mean_word_len") > 10, 1).otherwise(0) +
        when(col("frac_alpha") < 0.8, 1).otherwise(0) +
        when(col("n_stop") < 2, 1).otherwise(0) +
        when(col("symbol_ratio") > 0.1, 1).otherwise(0) +
        when(col("frac_bullet") > 0.9, 1).otherwise(0) +
        when(col("frac_ellipsis") > 0.3, 1).otherwise(0) +
        when(col("dup_line_frac") > 0.3, 1).otherwise(0) +
        when(col("dup_2gram_frac") > 0.2, 1).otherwise(0)).cast("long"))
      .withColumn("gopher_pass",
        when(col("n_rules_failed") === 0, 1L).otherwise(0L))
      .select("doc_id", "n_words", "mean_word_len", "frac_alpha", "n_stop",
        "symbol_ratio", "frac_bullet", "frac_ellipsis", "dup_line_frac",
        "dup_2gram_frac", "n_rules_failed", "gopher_pass")
  }

  /** Per-doc trigram-LM scores — q115's scorer minus the declared-
    * determinism sort, factored (r14 VERDICT #1) so q118 composes the
    * IDENTICAL scorer with CCNet bucketing. Semantics and scale shape
    * are documented at the q115 declaration (count->=2 pruning, stupid
    * backoff through orders 2/1, five size-gated LM joins off one
    * doc-local trigram stream). Persists the combined tri+big+uni LM
    * aggregate — one tagged corpus pass, the three tables filter from
    * it (CACHE CONTRACT). Returns (doc_id, n_trigrams, logprob),
    * unsorted.
    */
  private[graft] def trigramScores(docs: DataFrame): DataFrame = {
    val ws = docs
      .select(col("doc_id"),
        filter(split(col("text"), " "), w => w =!= "").as("ws"))
      .filter(size(col("ws")) >= 3)
    val tg = ws.select(col("doc_id"), explode(expr(
      "transform(sequence(3, size(ws)), i -> struct(" +
        "element_at(ws, i - 2) AS p2, element_at(ws, i - 1) AS p1, " +
        "element_at(ws, i) AS w))")).as("t"))
      .select(col("doc_id"), col("t.p2").as("p2"), col("t.p1").as("p1"),
        col("t.w").as("w"))
    // r20 (guide §6/§2.3): the three LM tables used to be three separate
    // corpus explodes + three shuffled aggregates (the r19 plan shows
    // tri/big/uni each scanning documents.parquet once — 4 corpus passes
    // counting the scoring stream). They now derive from ONE tagged
    // explode over the SAME >= 3-token train docs — per doc: n-2 't'
    // (trigram), n-1 'b' (bigram), n 'u' (unigram) rows — through one
    // map-side-combinable aggregate, persisted ONCE; each table is a
    // filter of that cache. Same tables row-for-row (tri keeps its
    // c3 >= 2 prune, applied to the 't' rows only), so scores are
    // unchanged; corpus passes drop 4 -> 2 and LM-build shuffles 3 -> 1
    // (same total shuffled rows, keys now carry a 1-char tag).
    val combined = ws.filter(col("doc_id") % 2 === 0)
      .select(explode(expr(
        "concat(" +
          "transform(sequence(3, size(ws)), i -> struct(" +
            "'t' AS k, element_at(ws, i - 2) AS k1, " +
            "element_at(ws, i - 1) AS k2, element_at(ws, i) AS k3)), " +
          "transform(sequence(2, size(ws)), i -> struct(" +
            "'b' AS k, element_at(ws, i - 1) AS k1, " +
            "element_at(ws, i) AS k2, CAST(NULL AS STRING) AS k3)), " +
          "transform(ws, w -> struct(" +
            "'u' AS k, w AS k1, CAST(NULL AS STRING) AS k2, " +
            "CAST(NULL AS STRING) AS k3)))")).as("g"))
      .groupBy(col("g.k").as("k"), col("g.k1").as("k1"),
        col("g.k2").as("k2"), col("g.k3").as("k3"))
      .agg(count(lit(1)).as("c"))
      .filter(col("k") =!= "t" || col("c") >= 2)
      .persist()
    val tri = combined.filter(col("k") === "t")
      .select(col("k1").as("p2"), col("k2").as("p1"), col("k3").as("w"),
        col("c").as("c3"))
    val estTri = estimateLmBytes(tri)
    val big = combined.filter(col("k") === "b")
      .select(col("k1").as("p"), col("k2").as("w"), col("c").as("c2"))
    val estBig = estimateLmBytes(big)
    val uni = combined.filter(col("k") === "u")
      .select(col("k1").as("w"), col("c").as("c1"))
    val estUni = estimateLmBytes(uni)
    val tot = uni.agg(sum(col("c1")).as("t")) // 1 row — always broadcast
    val den = big.select(col("p").as("p2"), col("w").as("p1"),
      col("c2").as("cden"))
    val back = big.select(col("p").as("p1"), col("w").as("w"),
      col("c2").as("cback"))
    val uniCtx = uni.select(col("w").as("p1"), col("c1").as("c1p"))
    val scored = joinLm(joinLm(joinLm(joinLm(joinLm(tg,
        tri, Seq("p2", "p1", "w"), "left", estTri),
        den, Seq("p2", "p1"), "left", estBig),
        back, Seq("p1", "w"), "left", estBig),
        uniCtx, Seq("p1"), "left", estUni),
        uni, Seq("w"), "left", estUni)
      .crossJoin(broadcast(tot))
      .withColumn("sc",
        when(col("c3").isNotNull,
          col("c3").cast("double") / col("cden").cast("double"))
        .when(col("cback").isNotNull,
          lit(0.4) * col("cback").cast("double") / col("c1p").cast("double"))
        .when(col("c1").isNotNull,
          lit(0.16) * col("c1").cast("double") / col("t").cast("double"))
        .otherwise(lit(0.16) / col("t").cast("double")))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(log(col("sc"))), 4).as("logprob"))
  }

  /** Rank-based head/middle/tail bucketing over per-doc LM scores —
    * q117's second half, factored so q118 composes it with the trigram
    * scorer (LM-order-agnostic BY CONSTRUCTION: any frame carrying
    * (doc_id, logprob) buckets identically). Rank = range-partitioned
    * global row_number over the unique (logprob desc, doc_id) order
    * (Windows.globalRowNumber — persists its frame, CACHE CONTRACT);
    * buckets decided by INTEGER arithmetic (rk·3 <= n / <= 2n) — the
    * q117 scaladoc records the interpolated-percentile design this
    * replaced after it failed the sf0.1 hash gate. All input columns
    * ride through; `bucket` is appended.
    */
  private[graft] def ccnetBucket(scored: DataFrame): DataFrame = {
    // collision-proof internal names (the _grn_* discipline): the
    // contract is "ANY frame carrying (doc_id, logprob)" — a caller
    // column named rk or n must ride through untouched, not collide
    // with the rank/count intermediates. The OUTPUT name `bucket` is
    // reserved: appending it onto a frame that already has one would
    // produce a duplicate/ambiguous column downstream (r15 ADVICE), so
    // fail fast here instead
    require(!scored.columns.contains("bucket"),
      "ccnetBucket appends a `bucket` column; the input already has one" +
        " — rename it before bucketing")
    val ranked = Windows.globalRowNumber(scored,
      Seq(col("logprob").desc, col("doc_id").asc), "_ccb_rk")
    val n1 = ranked.agg(count(lit(1)).as("_ccb_n"))
    ranked.crossJoin(broadcast(n1))
      .withColumn("bucket",
        when(col("_ccb_rk") * 3 <= col("_ccb_n"), lit("head"))
          .when(col("_ccb_rk") * 3 <= col("_ccb_n") * 2, lit("middle"))
          .otherwise(lit("tail")))
      .drop("_ccb_rk", "_ccb_n")
  }

  val queries: Map[String, Q] = Map(

    // PII detection + redaction — the corpus-hygiene step every
    // production pipeline (Dolma, ROOTS, RefinedWeb) runs before
    // training. The testdata corpus is sanitized word soup, so the
    // query PLANTS deterministic PII derived from doc_id (same
    // integer-to-string construction in both engines) — the detection/
    // redaction machinery is what's under test, and ~half the docs get
    // no PII at all, so byte-preservation of clean text rides through
    // the md5 gate too. Counts are stage-consistent: emails counted on
    // the input, phones on the email-redacted text, IPs after both —
    // each count is exactly the number of replacements its redaction
    // pass performs (an IP-shaped string inside an email is counted
    // once, as the email). Entirely doc-local codegen; the only
    // exchange is the declared-determinism global sort.
    "q110_pii_redact" -> ((s, dir) => {
      val d = col("doc_id")
      // DRIFT TRIPWIRE (r13 VERDICT #3): the three planted-PII CASE arms
      // below are hand-mirrored, line for line, by the `aug` CTE of the
      // q110 oracle SQL (search "WITH aug AS" in this file). Any edit
      // here MUST be mirrored there — the md5 hash gate catches value
      // drift, this comment is the cross-link that says where to look.
      // Regenerate both from one residue list if this ever grows past
      // three arms.
      val aug = concat(col("text"),
        when(d % 3 === 0, concat(lit(" contact user"), d.cast("string"),
          lit("@mail"), (d % 7).cast("string"), lit(".example.com")))
          .otherwise(lit("")),
        when(d % 4 === 0, concat(lit(" call 555-"),
          lpad((d % 1000).cast("string"), 3, "0"), lit("-"),
          lpad(((d * 7) % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(d % 5 === 0, concat(lit(" host 10."),
          (d % 256).cast("string"), lit("."),
          ((d * 3) % 256).cast("string"), lit("."),
          (d % 100).cast("string")))
          .otherwise(lit("")))
      Tables(s, dir, "documents")
        .select(col("doc_id"), aug.as("t0"))
        .withColumn("n_emails",
          size(regexp_extract_all(col("t0"), lit(EmailRe), lit(0))).cast("long"))
        .withColumn("t1", regexp_replace(col("t0"), EmailRe, "<EMAIL>"))
        .withColumn("n_phones",
          size(regexp_extract_all(col("t1"), lit(PhoneRe), lit(0))).cast("long"))
        .withColumn("t2", regexp_replace(col("t1"), PhoneRe, "<PHONE>"))
        .withColumn("n_ips",
          size(regexp_extract_all(col("t2"), lit(Ipv4Re), lit(0))).cast("long"))
        .withColumn("redacted", regexp_replace(col("t2"), Ipv4Re, "<IP>"))
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          length(col("redacted")).cast("long").as("redacted_len"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style quality rule set (Rae et al. 2021, Appendix A) — the
    // filter suite users actually deploy, widening q88's composite:
    // word count, mean word length, alphabetic-word fraction, stopword
    // coverage, symbol-to-word ratio (# and ...), bullet/ellipsis line
    // shares, duplicate-line fraction, duplicate word-2-gram fraction.
    // All metrics are doc-local array/HOF work over small per-doc
    // arrays (no shuffle but the declared-determinism sort). On this
    // single-line word-soup corpus the line-granular metrics sit at 0
    // and the stopword rule fails for nearly every doc (vocabulary has
    // only "the" from the Gopher stop set) — the VARIATION lives in
    // mean_word_len / dup_2gram_frac / n_rules_failed, and
    // GopherRulesSpec drives the line/bullet/ellipsis/stopword paths on
    // constructed multi-line docs. Ratios round(·,4) before the
    // threshold compare, so pass flags never ride on sub-1e-4 float
    // noise (q69 discipline).
    "q111_gopher_rules" -> ((s, dir) =>
      gopherRules(Tables(s, dir, "documents")).orderBy(col("doc_id"))),

    // Bigram-LM scoring with stupid backoff (Brants et al. 2007) — the
    // CCNet filter at order 2, extending q108: train on the even-doc_id
    // half (so unseen-bigram backoff GENUINELY fires on the held-out
    // half — an LM trained on the full corpus would never back off),
    // score every doc with >= 2 tokens by its mean log score,
    //   score(w|p) = c2(p,w)/ctx(p)  if the bigram was seen,
    //             0.4·c1(w)/T        else if w was seen,
    //             0.4/T              else (OOV floor).
    // Scale shape (q108's, stress-tested at a realistically larger
    // model): bigram construction is DOC-LOCAL (sequence/element_at
    // over the token array — no per-doc window, the corpus never
    // shuffles); the bigram and unigram tables are Heaps-sublinear and
    // size-gate-shipped into the scoring scan (r14: broadcast under
    // the ceiling — PlanLintSpec gates it: a SortMerge/ShuffledHash
    // join in the default regime fails CI — with a pinned SHUFFLE_HASH
    // fallback above it, lint-gated in the forced-shuffle regime);
    // the only exchanges carry LM-sized partials and per-doc partials.
    // The three LM tables are persisted (CACHE CONTRACT) — each feeds
    // its size estimate and the scoring join.
    "q112_bigram_logprob" -> ((s, dir) => {
      val ws = Tables(s, dir, "documents")
        .select(col("doc_id"),
          filter(split(col("text"), " "), w => w =!= "").as("ws"))
        .filter(size(col("ws")) >= 2)
      val bg = ws.select(col("doc_id"), explode(expr(
        "transform(sequence(2, size(ws)), i -> struct(" +
          "element_at(ws, i - 1) AS p, element_at(ws, i) AS w))")).as("b"))
        .select(col("doc_id"), col("b.p").as("p"), col("b.w").as("w"))
      // all three LM tables persisted (CACHE CONTRACT): each feeds its
      // own size estimate AND the scoring join — the estimate pass
      // materializes the cache, so no corpus rescan; size-gated
      // dispatch per table (r14: joinLm), lint-gated in both regimes
      val big = bg.filter(col("doc_id") % 2 === 0)
        .groupBy("p", "w").agg(count(lit(1)).as("c2")).persist()
      val estBig = estimateLmBytes(big)
      val ctx = big.groupBy("p").agg(sum(col("c2")).as("cp")).persist()
      val estCtx = estimateLmBytes(ctx) // scans cached big, not the corpus
      val uni = ws.filter(col("doc_id") % 2 === 0)
        .select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1")).persist()
      val estUni = estimateLmBytes(uni)
      val tot = uni.agg(sum(col("c1")).as("t")) // 1 row — always broadcast
      joinLm(joinLm(joinLm(bg,
          big, Seq("p", "w"), "left", estBig),
          ctx, Seq("p"), "left", estCtx),
          uni, Seq("w"), "left", estUni)
        .crossJoin(broadcast(tot))
        .withColumn("sc",
          when(col("c2").isNotNull,
            col("c2").cast("double") / col("cp").cast("double"))
          .when(col("c1").isNotNull,
            lit(0.4) * col("c1").cast("double") / col("t").cast("double"))
          .otherwise(lit(0.4) / col("t").cast("double")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(log(col("sc"))), 4).as("logprob"))
        .orderBy(col("doc_id"))
    }),

    // Trigram-LM scoring with count pruning + stupid backoff through
    // orders 2 and 1 (r13 VERDICT #5 — the next step toward CCNet's
    // 5-gram filter, and the realistic stress for the size-gated LM
    // dispatcher: an unpruned trigram table is the first LM table that
    // plausibly crosses a broadcast ceiling on a real corpus). Train on
    // the even-doc_id half; PRUNE the trigram table to count >= 2
    // (Brants et al. 2007's entropy-pruning shape at its cheapest: the
    // count-1 tail is the bulk of a raw trigram table and carries the
    // least signal — pruning is what keeps the table Heaps-sublinear);
    // score every doc with >= 3 tokens over its trigram positions:
    //   S(w|p2,p1) = c3/c2(p2,p1)            if the pruned trigram is seen,
    //              = 0.4 · c2(p1,w)/c1(p1)    else if the bigram was seen,
    //              = 0.16 · c1(w)/T           else if w was seen,
    //              = 0.16/T                   else (OOV floor).
    // A count-1 train trigram therefore backs off BY CONSTRUCTION —
    // pruning makes backoff fire even inside the training half.
    // Scale shape (q112's, one order up): trigram construction is
    // DOC-LOCAL; the three LM tables (tri pruned, big, uni) are
    // persisted (CACHE CONTRACT) and size-gate-shipped (joinLm) into
    // the scoring scan — big and uni each join TWICE under different
    // key bindings (denominator context and backoff numerator),
    // reusing one cache; the corpus never shuffles in the broadcast
    // regime and degrades to pinned SHUFFLE_HASH above the ceiling.
    "q115_trigram_logprob" -> ((s, dir) =>
      trigramScores(Tables(s, dir, "documents"))
        .orderBy(col("doc_id"))),

    // CCNet bucketing composed with the TRIGRAM scorer (r14 VERDICT #1
    // — the last unproven composition claim: q117's scaladoc says the
    // bucketing machinery is LM-order-agnostic; this query PROVES it by
    // declaration, and it is CCNet's actual shape — Wenzek et al. 2020
    // score with a high-order KenLM and bucket by perplexity thirds).
    // Plan = q115's five size-gated LM joins (corpus never shuffles in
    // the broadcast regime; pinned SHUFFLE_HASH above the ceiling —
    // PlanLintSpec gates both regimes byte-equal) feeding q117's
    // range-partitioned global rank + integer-arithmetic thirds. The
    // scorer and the bucketer are the SAME code q115/q117 declare
    // ([[trigramScores]], [[ccnetBucket]]) — zero re-implementation.
    "q118_ccnet_trigram_buckets" -> ((s, dir) => {
      val scored = trigramScores(Tables(s, dir, "documents"))
      ccnetBucket(scored)
        .select("doc_id", "n_trigrams", "logprob", "bucket")
        .orderBy("doc_id")
    }),

    // Language ID: build top-5 marker words per language by frequency,
    // classify each doc by marker hits, argmax language (ties → lexical).
    // Broadcast-sized model (25 rows) joined against the exploded corpus.
    "q87_lang_id" -> ((s, dir) => {
      // marker model: needs the word MULTISET (frequencies) — the
      // explode's rows are doc-local, so the groupBy's map-side partials
      // collapse to (lang, word) counts before its one exchange
      val words = Tables(s, dir, "documents")
        .filter(col("text") =!= "")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val markers = words.groupBy(col("lang").as("m_lang"), col("w").as("m_w"))
        .agg(count(lit(1)).as("freq"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("m_lang").orderBy(col("freq").desc, col("m_w"))))
        .filter(col("rn") <= 5)
        .select("m_lang", "m_w")
      // classify: needs each doc's word SET — per-doc array_distinct
      // (doc-local, no exchange; the pre-r10 `.distinct()` here shuffled
      // every (doc, word) row). A second text scan replaces the previous
      // corpus-wide persist — cheaper than caching the exploded corpus,
      // and the broadcast-joined hits aggregate map-side per doc.
      val hits = Tables(s, dir, "documents")
        .filter(col("text") =!= "")
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
        .filter(col("w") =!= "")
        .join(broadcast(markers), col("w") === col("m_w"))
        .groupBy(col("doc_id"), col("m_lang"))
        .agg(count(lit(1)).as("score"))
      val best = hits.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("score").desc, col("m_lang"))))
        .filter(col("rn") === 1)
      best.select(col("doc_id"), col("m_lang").as("pred_lang"), col("score"))
        .orderBy(col("doc_id"))
    }),

    // Text normalization — the canonicalization pass before dedup/
    // tokenization: lowercase, strip non-alphanumerics to spaces, collapse
    // whitespace, trim. Emits the normalized form's md5 (the dedup key a
    // normalized-exact dedup would group on), its length, and word count.
    // Pure map-side codegen work; the simple character classes used here
    // behave identically under Java regex (Spark) and RE2 (DuckDB).
    "q56_normalize_text" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
        .select(col("doc_id"),
          md5(col("norm")).as("norm_md5"),
          length(col("norm")).cast("long").as("norm_len"),
          size(filter(split(col("norm"), " "), w => w =!= "")).cast("long")
            .as("n_words"))
        .orderBy(col("doc_id"))
    }),

    // Quality scoring: length/uniqueness heuristics — the cheap filters a
    // pretraining pipeline runs before anything expensive.
    "q88_quality_score" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          filter(split(col("text"), " "), w => w =!= "").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          size(array_distinct(col("ws"))).cast("long").as("n_uniq"),
          col("n_chars"))
        .withColumn("uniq_ratio",
          when(col("n_words") > 0,
            round(col("n_uniq").cast("double") / col("n_words"), 4)).otherwise(lit(0.0)))
        .withColumn("len_score",
          round(least(lit(1.0), col("n_words").cast("double") / 100), 4))
        .withColumn("quality", round(col("uniq_ratio") * col("len_score"), 4))
        .orderBy(col("doc_id"))
    }),

    // Corpus length histogram — the distribution telemetry every
    // pipeline dashboard tracks: 500-char buckets per language. Integer
    // bucket arithmetic with floor (not cast-truncate — §7.5 lesson),
    // one map-side projection + hash agg.
    "q67_length_histogram" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"), floor(col("n_chars") / 500).cast("long").as("bucket"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Repetition detection — the degenerate-text filter: the share of a
    // document's 3-word shingle occurrences taken by its single most
    // repeated shingle (1.0 ⇒ the document is one phrase looping; natural
    // text stays low). Counts are NOT de-duplicated — repetition is the
    // signal. Two skew-free shuffles on (doc, shingle) then doc; ratio
    // ships unrounded (identical integer operands both engines).
    "q77_repetition" -> ((s, dir) => {
      graft.functions.VectorExpressions.ensureRegistered(s)
      Tables(s, dir, "documents")
        .select(col("doc_id"), explode(expr("text_shingles(text)")).as("sh"))
        .groupBy(col("doc_id"), col("sh")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("total"), max(col("c")).as("max_rep"))
        .select(col("doc_id"), col("total"), col("max_rep"),
          (col("max_rep").cast("double") / col("total")).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF top terms — the keyword extractor every corpus-exploration
    // pipeline runs: per doc, the 3 terms maximizing tf × ln(N/df).
    // Plan: two hash aggs (term frequency per doc; document frequency =
    // count over the already-distinct tf rows — no second corpus pass),
    // broadcast 1-row N, per-doc ranking window on a UNIQUE key. Engine
    // determinism: tf/df/N are integers, ln may differ in the last ulp
    // between libms — rank on round(tfidf, 4) with a term tiebreak (the
    // q82 pattern), so ordering never depends on sub-1e-4 float noise.
    "q69_tfidf" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      val words = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .filter(col("term") =!= "")
      val tf = words.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("dfreq"))
      val n = Tables(s, dir, "documents")
        .agg(count_distinct(col("doc_id")).as("n"))
      tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log(col("n").cast("double") / col("dfreq")), 4))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("tfidf"))
        .orderBy(col("doc_id"), col("rk"))
    }),

    // Token counting: whitespace tokens + a BPE-ish regex token count
    // ([a-z]+ runs / digit runs / other non-space) + the chars/4 rule of
    // thumb — the three estimators a data pipeline actually compares.
    "q89_token_count" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(filter(split(col("text"), " "), w => w =!= "")).cast("long")
            .as("ws_tokens"),
          expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)")
            .as("re_tokens"),
          ceil(col("n_chars").cast("double") / 4).cast("long").as("approx_bpe"))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM log-probability scoring — the CCNet/Wikipedia-LM
    // perplexity filter's shape with the n-gram order at 1: train the LM
    // on the corpus itself (token → corpus frequency), score each doc by
    // its mean token log-probability, low scores = gibberish/outlier
    // docs. Self-contained (model trained in-query), so fully
    // oracle-checkable — the "train then score" discipline of q87.
    // Scale shape: ONE (lang-free) token agg builds the model; the model
    // is VOCAB-sized (corpus-sublinear by Heaps' law — exactly why CCNet
    // ships its LM to every worker), so scoring is a BROADCAST join that
    // pipelines map-side inside the token-explode scan; one per-doc agg
    // ends it. The corpus is never shuffled — the only exchanges carry
    // (token, count) partials and per-doc partials.
    "q108_unigram_logprob" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      // persisted (CACHE CONTRACT, SparkEntry scaladoc): freq feeds both
      // its own grand total and the scoring join; uncached, the corpus
      // token agg would run once per consumer. Vocab-sized — bytes.
      val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("c")).persist()
      // size-gated dispatch (r14): the estimate pass doubles as cache
      // materialization; broadcast under the ceiling, pinned
      // SHUFFLE_HASH above — the scale claim holds unconditionally.
      val est = estimateLmBytes(freq)
      val tot = freq.agg(sum(col("c")).as("t"))
      joinLm(tok, freq, Seq("w"), "inner", est)
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(log(col("c").cast("double") / col("t").cast("double"))), 4)
            .as("logprob"))
        .orderBy(col("doc_id"))
    }),

    // CCNet's head/middle/tail quality bucketing (Wenzek et al. 2020) —
    // what the CCNet pipeline actually EMITS: score every doc by LM
    // log-probability (q108's unigram scorer here; the bucketing
    // machinery is LM-order-agnostic — swap in q112/q115's scorer
    // unchanged), then label the best-scoring third head, the next
    // middle, the rest tail. Bucketing is RANK-based over the unique
    // total order (logprob desc, doc_id), decided by INTEGER arithmetic
    // (rk·3 <= n / rk·3 <= 2n) — the first cut of this query compared
    // docs against an INTERPOLATED percentile threshold and failed the
    // sf0.1 hash gate: 121 docs shared the 4-dp score the p67 rank
    // landed on, and Spark's `percentile` vs DuckDB's `quantile_cont`
    // rounded the interpolation to opposite sides of that value,
    // flipping every one of them. Ranks have no such edge. Scale
    // shape: q108's broadcast-LM scoring (corpus never shuffles) + the
    // q45/q113 range-partitioned global rank over the persisted
    // per-doc scores (doc-count-sized — never a single-task window) +
    // a broadcast 1-row count.
    "q117_ccnet_buckets" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("c")).persist()
      val est = estimateLmBytes(freq)
      val tot = freq.agg(sum(col("c")).as("t"))
      val scored = joinLm(tok, freq, Seq("w"), "inner", est)
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(log(col("c").cast("double") / col("t").cast("double"))), 4)
            .as("logprob"))
      // bucketing factored as [[ccnetBucket]] (r15: q118 composes the
      // same bucketer with the trigram scorer); globalRowNumber inside
      // it persists its range-partitioned frame (CACHE CONTRACT)
      ccnetBucket(scored)
        .select("doc_id", "n_tokens", "logprob", "bucket")
        .orderBy("doc_id")
    }),

    // Tokenizer application — the export step after q109's vocabulary
    // build: assign every distinct corpus token its frequency-rank id
    // (1-based; ties broken lexically — q109's exact ordering at full
    // vocab width), then rewrite each doc as its ordered token-id
    // sequence. This is what a pretraining export actually materializes
    // (ids, not strings), completing the chain q109 vocab → THIS →
    // q97/q58 chunk+pack → q106 order.
    // Scale shape: the vocab table is corpus-sublinear (Heaps) and
    // size-gate-shipped into the token scan (q108/q112's lint-gated
    // architecture — broadcast under the ceiling, pinned SHUFFLE_HASH
    // above); per-doc sequences rebuild via sort_array over
    // (pos, id) structs — collect_list alone has NO ordering guarantee
    // under parallel aggregation, the sort is what makes the output
    // deterministic. The ids ride through md5 of the joined sequence,
    // so any id/order divergence from the oracle fails the hash gate.
    "q113_tokenize" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(filter(split(col("text"), " "), w => w =!= ""))
            .as(Seq("pos", "w")))
      // full-width vocab rank WITHOUT a single-task window (r13 VERDICT
      // #2): unlike q109 (which filters to rank ≤ 50), this assigns an
      // id to EVERY distinct token — at a 100 TB web corpus the vocab
      // is plausibly 10⁸⁺ tokens, so the rank runs range-partitioned
      // with broadcast prefix offsets (Windows.globalRowNumber — the
      // q45 discipline). The helper persists the range-partitioned
      // frame (CACHE CONTRACT); vocab derives from that cache.
      val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val vocab = Windows.globalRowNumber(freq,
          Seq(col("c").desc, col("w").asc), "id")
        .select("w", "id")
      // size-gated vocab shipping (r14): estimate scans the cached
      // ranked frame, not the corpus
      joinLm(tok, vocab, Seq("w"), "inner",
          estimateLmBytes(vocab))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          expr("transform(sort_array(collect_list(struct(pos, id))), x -> x.id)")
            .as("ids"))
        .select(col("doc_id"), col("n_tokens"),
          md5(concat_ws(",", expr("transform(ids, i -> CAST(i AS STRING))")))
            .as("ids_md5"),
          expr("CAST(ids[0] AS BIGINT)").as("first_id"),
          expr("CAST(ids[size(ids) - 1] AS BIGINT)").as("last_id"))
        .orderBy(col("doc_id"))
    }),

    // BPE merge learning (r13 VERDICT #3 — the missing link of the
    // vocab→ids chain: q109 builds a vocab, q113 applies one, THIS
    // learns the tokenizer itself). [[learnBpeMerges]] holds the
    // algorithm + scale argument; the oracle replays the identical 20
    // greedy rounds as UNROLLED DuckDB stages generated from the same
    // constant (no recursive CTE — each round's argmax aggregate over
    // the recursive term is exactly what SQL recursion disallows).
    // EAGER by nature (the 20-round driver loop runs at construction —
    // SparkEntry's EAGERNESS EXCEPTION); cache hygiene is internal, so
    // no CACHE CONTRACT entry.
    "q114_bpe_merges" -> ((s, dir) => {
      val merges = learnBpeMerges(Tables(s, dir, "documents"), BpeMerges)
      import s.implicits._
      merges.toDF("merge_rank", "a", "b", "merged", "freq")
        .orderBy("merge_rank")
    }),

    // BPE corpus encoding (r14 — the chain's last link: q114 learns the
    // merges, THIS encodes every document with them, the step a
    // pretraining export actually materializes). Segmentation is
    // applied once per word TYPE (vocab-sized work: fold the 20 learned
    // merges over the wrapped-char seed — each a literal string
    // replace), then the type→segmentation map is size-gate-shipped
    // (joinLm) onto the pos-indexed token stream and docs reassemble in
    // position order (q113's sort_array discipline); per-occurrence
    // application would re-derive each word type's segmentation at
    // every occurrence — type-level amortization is what a 100 TB
    // encode needs. The md5 of the full subword sequence rides the
    // hash gate, so any segmentation/order divergence fails. Doubly
    // EAGER (the q114 learning loop runs first at construction).
    "q116_bpe_encode" -> ((s, dir) =>
      bpeEncodeQuery(Tables(s, dir, "documents"),
        learnBpeMerges(Tables(s, dir, "documents"), BpeMerges))),

    // BATCHED BPE merge learning at a realistic merge count (r14
    // VERDICT #2): [[BpeBatchRounds]] rounds × up to [[BpeBatchK]]
    // mutually-disjoint merges per round — up to 200 merges from 25
    // driver round-trips (vs 200 sequential rounds: 8× fewer driver-
    // synchronous jobs; the rounds, not the corpus, dominate the
    // learner's cost — q114's decade exponent is 0.08).
    // [[learnBpeMergesBatched]] holds the disjointness rule and the
    // one-pass batch-apply argument; the oracle unrolls the identical
    // 25 rounds — per round a pair count, a k-row ranked candidate
    // window, a NOT EXISTS disjointness filter, and one fixed-depth
    // replace chain over NULL-padded pivot columns. EAGER (the round
    // loop runs at construction; one k-row collect per round).
    "q119_bpe_merges_batched" -> ((s, dir) => {
      val merges = learnBpeMergesBatched(Tables(s, dir, "documents"),
        BpeBatchRounds, BpeBatchK)
      import s.implicits._
      merges.toDF("merge_rank", "a", "b", "merged", "freq")
        .orderBy("merge_rank")
    }),

    // BPE corpus encoding at the batched merge count (r14 VERDICT #3's
    // measured row: the SAME type-level encoder as q116, driven to
    // ~200 merges — the fold now spans multiple [[SegFoldChunk]]-deep
    // stages, proving the depth guard end-to-end against the oracle's
    // stage table instead of against a synthetic probe). Doubly EAGER
    // (the 25-round batched learning loop runs at construction).
    "q120_bpe_encode_batched" -> ((s, dir) =>
      bpeEncodeQuery(Tables(s, dir, "documents"),
        learnBpeMergesBatched(Tables(s, dir, "documents"),
          BpeBatchRounds, BpeBatchK))),

    // HOT-PARTITIONED batched BPE learning (r15 VERDICT #1 — the yield
    // rule): q119's exact (25 rounds, 8-candidate) budget driven
    // through [[learnBpeMergesHotPart]] — candidates are the best pair
    // of EVERY live hot symbol (a partitioned argmax over the full pair
    // table, never a global window), and only fellow WINNERS block a
    // candidate, so q119's drop-cascade is gone: 89 merges in 16 rounds
    // where q119's rule learns 84 in 25 (then pair-space exhaustion
    // stops both — the 31-type corpus's ceiling, not the rule's). The
    // oracle unrolls the identical rounds: pair counts, the mass/hot
    // CASE, the per-hot row_number window, the NOT EXISTS over winners,
    // and the same NULL-padded replace chain as q119. EAGER (one <= k
    // row collect per round).
    "q121_bpe_merges_hotpart" -> ((s, dir) => {
      val merges = learnBpeMergesHotPart(Tables(s, dir, "documents"),
        BpeHotRounds, BpeHotK, BpeHotCap)
      import s.implicits._
      merges.toDF("merge_rank", "a", "b", "merged", "freq")
        .orderBy("merge_rank")
    }),

    // Rich-vocabulary batched learning (r15 VERDICT #2 — the learner's
    // oracle in the DATA-DOMINATED regime): the corpus's 31 word types
    // exhaust around ~100 merges, so this query LEARNS ON A SYNTHETIC
    // VOCABULARY derived deterministically from doc_id — q110's
    // planting discipline applied to the learner. The word construction
    // is [[RichVocabWordSql]], ONE expression string shared verbatim by
    // this declaration and its oracle (zero drift by construction); its
    // CRT chars make every word distinct, its mixing chars spread
    // symbol mass across the whole alphabet (what the hot-partitioned
    // window needs for yield). 28 rounds × (128-winner window, kept
    // capped at 24) learns 534 merges at the 500-doc tiers and 583 at
    // 5000 docs — vocabulary-limited ≥ 500 (BpeSpec law), firmly past
    // the exhausted regime. EAGER: every construction runs the full
    // learning loop and its estimate jobs; nothing is kept between
    // constructions.
    "q122_bpe_rich_vocab" -> ((s, dir) => {
      val merges = richVocabMerges(s, dir)
      import s.implicits._
      merges.toDF("merge_rank", "a", "b", "merged", "freq")
        .orderBy("merge_rank")
    }),

    // Encode-at-depth (r16 VERDICT #1 — the last depth claim moved from
    // probe to hash): q120 proves the multi-stage segmentation fold
    // only to ~84 merges (3 SegFoldChunk stages); THIS query encodes
    // the q122 synthetic corpus with q122's OWN learned merges — 534
    // at the 500-type tiers, 583 at 5000 types, i.e. a 17-19-stage
    // fold, the regime where the depth guard actually chunks — and
    // hash-gates the result against the oracle's stage table (the
    // exact generator q120's oracle reads, pointed at the hot stages).
    // Same type-level amortization as q116/q120; BpeSpec ties the
    // segmentation to an independent driver-side fold of the same
    // merge table. Doubly EAGER, every construction: it re-learns the
    // merge table through [[richVocabMerges]] (the same 28 rounds q122
    // runs, even right after q122) and then pays the seg-size estimate.
    "q125_bpe_encode_rich" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), expr(RichVocabWordSql).as("text"))
      bpeEncodeQuery(docs, richVocabMerges(s, dir))
    }),

    // Vocabulary construction — the top-k corpus token table (counts +
    // corpus share) that seeds a tokenizer build or a stopword list.
    // r14: rank via orderBy + limit (TakeOrderedAndProject — each
    // partition keeps its local top-50, the driver merges 32×50 rows)
    // instead of a global rank window over the whole vocab aggregate:
    // same unique total order (c desc, w), same 50 rows, but the
    // vocab never funnels through one task — the last single-task
    // window over unbounded input in the inventory. The residual
    // row_number window runs over the 50 surviving rows only.
    "q109_vocab_topk" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      // persisted (CACHE CONTRACT): feeds the total and the ranking
      val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("c")).persist()
      val tot = freq.agg(sum(col("c")).as("t"))
      val wnd = org.apache.spark.sql.expressions.Window
        .orderBy(col("c").desc, col("w"))
      freq.orderBy(col("c").desc, col("w")).limit(50)
        .withColumn("rank", row_number().over(wnd).cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("rank"), col("w"), col("c"),
          round(col("c").cast("double") / col("t").cast("double"), 6)
            .as("share"))
        .orderBy(col("rank"))
    })
  )

  /** Shared CTE prefix for the q114/q116 oracles: the corpus word-freq
    * seed plus [[BpeMerges]] unrolled merge rounds (pair counts →
    * argmax → replace), every stage MATERIALIZED — plain DuckDB CTEs
    * inline at each reference, and s(k-1) is referenced twice per
    * round, so un-materialized stages expand the 20-round chain
    * 2^20-fold. The word `w` rides through every s-stage so q116 can
    * read the final stage as the word → segmentation map.
    */
  private def bpeStagesSql(src: String = "documents"): String = {
    val stages = (1 to BpeMerges).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT a, b, sum(f) AS cnt FROM (
         |    SELECT f, unnest(tk[1:len(tk)-1]) AS a, unnest(tk[2:len(tk)]) AS b
         |    FROM (SELECT f, string_split(trim(s), '  ') AS tk FROM s${k - 1})
         |    WHERE len(tk) >= 2)
         |  GROUP BY a, b),
         |b$k AS MATERIALIZED (
         |  SELECT CAST($k AS BIGINT) AS merge_rank, a, b, a || b AS merged,
         |         CAST(cnt AS BIGINT) AS freq
         |  FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |s$k AS MATERIALIZED (
         |  SELECT w, f, replace(s, ' ' || a || '  ' || b || ' ',
         |                       ' ' || a || b || ' ') AS s
         |  FROM s${k - 1} CROSS JOIN b$k)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |    FROM $src)
       |  WHERE regexp_matches(w, '^[a-z]+$$')
       |  GROUP BY w),
       |s0 AS MATERIALIZED (
       |  SELECT w, f,
       |         ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS s
       |  FROM w0),
       |$stages""".stripMargin
  }

  /** Shared CTE prefix for the q119/q120 oracles: the same w0/s0 seed
    * as [[bpeStagesSql]], then [[BpeBatchRounds]] unrolled BATCHED
    * rounds. Per round r: `p` = pair counts; `c` = the top-k ranked
    * candidate window; `k` = the disjointness filter — keep a candidate
    * iff NO higher-ranked candidate's symbol triple {a, b, a||b}
    * intersects its own (the all-higher-ranks rule of
    * [[learnBpeMergesBatched]], expressible as one NOT EXISTS instead
    * of a recursion), re-indexed densely by `j`; `v` = the kept pairs
    * pivoted to a FIXED k-column single row (aggregate over possibly-
    * empty input yields one all-NULL row, so an empty round is a
    * no-op, never an empty cross join); `s` = one fixed-depth replace
    * chain — NULL columns coalesce to chr(1), a byte absent from every
    * symbol, making the padded replaces identity.
    */
  private def bpeBatchStagesSql(): String = {
    val K = BpeBatchK
    val stages = (1 to BpeBatchRounds).map { r =>
      val piv = (1 to K).map(i =>
        s"max(CASE WHEN j = $i THEN a END) AS a$i, " +
          s"max(CASE WHEN j = $i THEN b END) AS b$i").mkString(",\n         ")
      val repl = (1 to K).foldLeft("s") { (acc, i) =>
        s"replace($acc,\n           coalesce(' ' || a$i || '  ' || b$i || ' ', chr(1)),\n           coalesce(' ' || a$i || b$i || ' ', chr(1)))"
      }
      s"""bp$r AS MATERIALIZED (
         |  SELECT a, b, sum(f) AS cnt FROM (
         |    SELECT f, unnest(tk[1:len(tk)-1]) AS a, unnest(tk[2:len(tk)]) AS b
         |    FROM (SELECT f, string_split(trim(s), '  ') AS tk FROM bs${r - 1})
         |    WHERE len(tk) >= 2)
         |  GROUP BY a, b),
         |bc$r AS MATERIALIZED (
         |  SELECT a, b, cnt, rn FROM (
         |    SELECT a, b, cnt, row_number() OVER (ORDER BY cnt DESC, a, b) AS rn
         |    FROM bp$r)
         |  WHERE rn <= $K),
         |bk$r AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY c.rn) AS j, c.rn,
         |         c.a, c.b, c.a || c.b AS merged, CAST(c.cnt AS BIGINT) AS freq
         |  FROM bc$r c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM bc$r h WHERE h.rn < c.rn AND (
         |      h.a IN (c.a, c.b, c.a || c.b) OR
         |      h.b IN (c.a, c.b, c.a || c.b) OR
         |      h.a || h.b IN (c.a, c.b, c.a || c.b)))),
         |bv$r AS MATERIALIZED (
         |  SELECT $piv
         |  FROM bk$r),
         |bs$r AS MATERIALIZED (
         |  SELECT w, f, $repl AS s
         |  FROM bs${r - 1} CROSS JOIN bv$r)""".stripMargin
    }.mkString(",\n")
    s"""bw0 AS MATERIALIZED (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
       |    FROM documents)
       |  WHERE regexp_matches(w, '^[a-z]+$$')
       |  GROUP BY w),
       |bs0 AS MATERIALIZED (
       |  SELECT w, f,
       |         ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS s
       |  FROM bw0),
       |$stages""".stripMargin
  }

  /** Unrolled CTE stages for the HOT-PARTITIONED learners (q121/q122
    * oracles). Per round r (all CTE names `px`-prefixed so two
    * instantiations can't collide): `p` = pair counts (byte-parallel
    * with [[bpeBatchStagesSql]]'s); `m` = symbol mass over the FULL
    * pair table (a = b pairs contribute twice — the UNION ALL of both
    * ends, exactly [[hotWinners]]' mass); `w` = the winner set — hot =
    * the higher-mass end (tie → least), one row_number() winner per hot
    * partition, re-ranked globally by (cnt desc, a, b) and capped at
    * `k`; `k` = the kept set — NOT EXISTS over higher-ranked WINNERS
    * (not raw candidates: the cascade-breaker), densely re-indexed and
    * capped at `capJ`; `v`/`s` = the same NULL-padded fixed-depth
    * replace chain as the q119 oracle, `capJ` wide. `wordsSql` supplies
    * the corpus words — the real token stream for q121, the
    * [[RichVocabWordSql]] synthetic construction for q122.
    */
  private def bpeHotStagesSql(px: String, rounds: Int, k: Int, capJ: Int,
      wordsSql: String): String = {
    val stages = (1 to rounds).map { r =>
      val piv = (1 to capJ).map(i =>
        s"max(CASE WHEN j = $i THEN a END) AS a$i, " +
          s"max(CASE WHEN j = $i THEN b END) AS b$i").mkString(",\n         ")
      val repl = (1 to capJ).foldLeft("s") { (acc, i) =>
        s"replace($acc,\n           coalesce(' ' || a$i || '  ' || b$i || ' ', chr(1)),\n           coalesce(' ' || a$i || b$i || ' ', chr(1)))"
      }
      s"""${px}p$r AS MATERIALIZED (
         |  SELECT a, b, sum(f) AS cnt FROM (
         |    SELECT f, unnest(tk[1:len(tk)-1]) AS a, unnest(tk[2:len(tk)]) AS b
         |    FROM (SELECT f, string_split(trim(s), '  ') AS tk FROM ${px}s${r - 1})
         |    WHERE len(tk) >= 2)
         |  GROUP BY a, b),
         |${px}m$r AS MATERIALIZED (
         |  SELECT s, sum(cnt) AS m FROM (
         |    SELECT a AS s, cnt FROM ${px}p$r
         |    UNION ALL SELECT b AS s, cnt FROM ${px}p$r)
         |  GROUP BY s),
         |${px}w$r AS MATERIALIZED (
         |  SELECT a, b, cnt, wrn FROM (
         |    SELECT a, b, cnt,
         |           row_number() OVER (ORDER BY cnt DESC, a, b) AS wrn
         |    FROM (
         |      SELECT a, b, cnt,
         |             row_number() OVER (PARTITION BY hot
         |               ORDER BY cnt DESC, a, b) AS prn
         |      FROM (
         |        SELECT p.a, p.b, p.cnt,
         |               CASE WHEN ma.m > mb.m THEN p.a
         |                    WHEN mb.m > ma.m THEN p.b
         |                    ELSE least(p.a, p.b) END AS hot
         |        FROM ${px}p$r p
         |        JOIN ${px}m$r ma ON ma.s = p.a
         |        JOIN ${px}m$r mb ON mb.s = p.b))
         |    WHERE prn = 1)
         |  WHERE wrn <= $k),
         |${px}k$r AS MATERIALIZED (
         |  SELECT j, a, b, merged, freq FROM (
         |    SELECT row_number() OVER (ORDER BY c.wrn) AS j, c.a, c.b,
         |           c.a || c.b AS merged, CAST(c.cnt AS BIGINT) AS freq
         |    FROM ${px}w$r c
         |    WHERE NOT EXISTS (
         |      SELECT 1 FROM ${px}w$r h WHERE h.wrn < c.wrn AND (
         |        h.a IN (c.a, c.b, c.a || c.b) OR
         |        h.b IN (c.a, c.b, c.a || c.b) OR
         |        h.a || h.b IN (c.a, c.b, c.a || c.b))))
         |  WHERE j <= $capJ),
         |${px}v$r AS MATERIALIZED (
         |  SELECT $piv
         |  FROM ${px}k$r),
         |${px}s$r AS MATERIALIZED (
         |  SELECT w, f, $repl AS s
         |  FROM ${px}s${r - 1} CROSS JOIN ${px}v$r)""".stripMargin
    }.mkString(",\n")
    s"""${px}f0 AS MATERIALIZED (
       |  SELECT w, count(*) AS f FROM ($wordsSql)
       |  WHERE regexp_matches(w, '^[a-z]+$$')
       |  GROUP BY w),
       |${px}s0 AS MATERIALIZED (
       |  SELECT w, f,
       |         ' ' || rtrim(regexp_replace(w, '(.)', '\\1  ', 'g')) || ' ' AS s
       |  FROM ${px}f0),
       |$stages""".stripMargin
  }

  /** The encode-APPLICATION oracle tail shared by q116/q120/q125 (r17
    * self-review: three verbatim copies of the seg/tok/applied chain
    * were one missed edit away from silent divergence — the same
    * factoring Dedup.simhashPairCtesFrom applied to the simhash
    * oracles): read `segTable`'s final s-representation as the word →
    * segmentation map, join it onto the pos-indexed token stream of
    * the corpus whose per-doc text is `textSql` (a column name or an
    * engine-shared expression), reassemble per doc in position order;
    * non-alphabetic types pass through whole (coalesce), empty docs
    * re-enter with the empty-string md5.
    */
  private def bpeEncodeApplySql(segTable: String, textSql: String,
      src: String = "documents"): String =
    s"""seg AS MATERIALIZED (
       |  SELECT w,
       |         array_to_string(string_split(trim(s), '  '), ' ') AS sws,
       |         CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sw
       |  FROM $segTable),
       |tok AS (
       |  SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
       |  FROM (SELECT doc_id,
       |               list_filter(string_split($textSql, ' '), x -> x <> '') AS ws
       |        FROM $src)
       |  WHERE len(ws) > 0),
       |applied AS (
       |  SELECT t.doc_id,
       |         sum(coalesce(seg.n_sw, 1)) AS n_subwords,
       |         md5(string_agg(coalesce(seg.sws, t.w), ' ' ORDER BY t.pos))
       |           AS toks_md5
       |  FROM tok t LEFT JOIN seg ON t.w = seg.w
       |  GROUP BY t.doc_id)
       |SELECT d.doc_id,
       |       CAST(coalesce(a.n_subwords, 0) AS BIGINT) AS n_subwords,
       |       coalesce(a.toks_md5, md5('')) AS toks_md5
       |FROM $src d LEFT JOIN applied a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The sequential-learner learn+encode oracle tail over an arbitrary
    * (doc_id, text) source relation — [[bpeStagesSql]]'s [[BpeMerges]]
    * unrolled greedy rounds seeded from `src`'s word frequencies, then
    * [[bpeEncodeApplySql]]'s application half over the same relation.
    * Exists for the composed pipeline's q132: learn on the SURVIVOR
    * corpus, encode the survivors (q114/q116 read it at
    * src = "documents"). Emits CTE text ending in the final SELECT, to
    * be appended to a chain that ends with a trailing comma.
    */
  private[ops] def bpeSeqEncodeOracleTail(src: String): String =
    s"""${bpeStagesSql(src)},
       |${bpeEncodeApplySql(s"s$BpeMerges", "text", src)}""".stripMargin

  /** The final merge-table SELECT over [[bpeHotStagesSql]] stages. */
  private def bpeHotMergesSql(px: String, rounds: Int,
      wordsSql: String, k: Int, capJ: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT $r AS round, j, a, b, merged, freq FROM ${px}k$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeHotStagesSql(px, rounds, k, capJ, wordsSql)},
       |all_kept AS (
       |  $union)
       |SELECT row_number() OVER (ORDER BY round, j) AS merge_rank,
       |       a, b, merged, freq
       |FROM all_kept ORDER BY merge_rank""".stripMargin
  }

  /** Shared CTE chain of the trigram-scorer oracles (q115 and q118 —
    * one text, zero drift): the full pruned-trigram stupid-backoff
    * pipeline through `doc_scores` (doc_id, n_trigrams, logprob).
    */
  private val TrigramScoreCtes: String =
    """ws AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents),
      |w3 AS (SELECT doc_id, ws FROM ws WHERE len(ws) >= 3),
      |tg AS (
      |  SELECT doc_id,
      |         unnest(ws[1:len(ws)-2]) AS p2,
      |         unnest(ws[2:len(ws)-1]) AS p1,
      |         unnest(ws[3:len(ws)]) AS w
      |  FROM w3),
      |tri AS (
      |  SELECT p2, p1, w, count(*) AS c3 FROM tg WHERE doc_id % 2 = 0
      |  GROUP BY p2, p1, w HAVING count(*) >= 2),
      |big AS (
      |  SELECT p, w, count(*) AS c2 FROM (
      |    SELECT doc_id,
      |           unnest(ws[1:len(ws)-1]) AS p,
      |           unnest(ws[2:len(ws)]) AS w
      |    FROM w3)
      |  WHERE doc_id % 2 = 0 GROUP BY p, w),
      |uni AS (
      |  SELECT w, count(*) AS c1 FROM (
      |    SELECT unnest(ws) AS w FROM w3 WHERE doc_id % 2 = 0)
      |  GROUP BY w),
      |tot AS (SELECT sum(c1) AS t FROM uni),
      |scored AS (
      |  SELECT tg.doc_id,
      |         CASE WHEN tri.c3 IS NOT NULL
      |                THEN CAST(tri.c3 AS DOUBLE) / CAST(den.c2 AS DOUBLE)
      |              WHEN bk.c2 IS NOT NULL
      |                THEN 0.4 * CAST(bk.c2 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
      |              WHEN uw.c1 IS NOT NULL
      |                THEN 0.16 * CAST(uw.c1 AS DOUBLE) / CAST(tot.t AS DOUBLE)
      |              ELSE 0.16 / CAST(tot.t AS DOUBLE) END AS sc
      |  FROM tg
      |  LEFT JOIN tri ON tg.p2 = tri.p2 AND tg.p1 = tri.p1 AND tg.w = tri.w
      |  LEFT JOIN big den ON tg.p2 = den.p AND tg.p1 = den.w
      |  LEFT JOIN big bk ON tg.p1 = bk.p AND tg.w = bk.w
      |  LEFT JOIN uni u1 ON tg.p1 = u1.w
      |  LEFT JOIN uni uw ON tg.w = uw.w
      |  CROSS JOIN tot),
      |doc_scores AS (
      |  SELECT doc_id, count(*) AS n_trigrams,
      |         round(avg(ln(sc)), 4) AS logprob
      |  FROM scored GROUP BY doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    // the three PII patterns are INTERPOLATED from the same Scala
    // constants the Spark query compiles (r13 ADVICE: no parallel
    // literals to drift — the Scala string values are already the raw
    // pattern text, and DuckDB single-quoted strings keep backslashes
    // literal, so the interpolation is byte-faithful).
    // DRIFT TRIPWIRE: the `aug` CTE's three CASE arms mirror the q110
    // query's planted-PII Column chain (search "DRIFT TRIPWIRE" above)
    // line for line — edit both together.
    "q110_pii_redact" ->
      s"""WITH aug AS (
        |  SELECT doc_id,
        |         text
        |         || CASE WHEN doc_id % 3 = 0
        |              THEN ' contact user' || CAST(doc_id AS VARCHAR)
        |                   || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |              ELSE '' END
        |         || CASE WHEN doc_id % 4 = 0
        |              THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |                   || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END
        |         || CASE WHEN doc_id % 5 = 0
        |              THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
        |                   || '.' || CAST((doc_id * 3) % 256 AS VARCHAR)
        |                   || '.' || CAST(doc_id % 100 AS VARCHAR)
        |              ELSE '' END AS t0
        |  FROM documents),
        |s1 AS (
        |  SELECT doc_id, t0,
        |         CAST(len(regexp_extract_all(t0,
        |           '$EmailRe')) AS BIGINT) AS n_emails,
        |         regexp_replace(t0, '$EmailRe',
        |           '<EMAIL>', 'g') AS t1
        |  FROM aug),
        |s2 AS (
        |  SELECT doc_id, n_emails,
        |         CAST(len(regexp_extract_all(t1,
        |           '$PhoneRe')) AS BIGINT) AS n_phones,
        |         regexp_replace(t1, '$PhoneRe',
        |           '<PHONE>', 'g') AS t2
        |  FROM s1),
        |s3 AS (
        |  SELECT doc_id, n_emails, n_phones,
        |         CAST(len(regexp_extract_all(t2,
        |           '$Ipv4Re')) AS BIGINT) AS n_ips,
        |         regexp_replace(t2, '$Ipv4Re',
        |           '<IP>', 'g') AS redacted
        |  FROM s2)
        |SELECT doc_id, n_emails, n_phones, n_ips,
        |       CAST(length(redacted) AS BIGINT) AS redacted_len,
        |       md5(redacted) AS redacted_md5
        |FROM s3 ORDER BY doc_id""".stripMargin,
    "q111_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split(text, ' '), w -> w <> '') AS ws,
        |         string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, text, ws, lines,
        |         CAST(len(ws) AS BIGINT) AS n_words,
        |         CAST(len(lines) AS BIGINT) AS n_lines,
        |         CASE WHEN len(ws) >= 2
        |              THEN list_transform(range(2, len(ws) + 1),
        |                     i -> ws[i-1] || ' ' || ws[i])
        |              ELSE [] END AS bg
        |  FROM base),
        |r AS (
        |  SELECT doc_id, n_words,
        |         CASE WHEN n_words > 0 THEN round(CAST(
        |           list_sum(list_transform(ws, w -> length(w))) AS DOUBLE)
        |           / n_words, 4) ELSE 0.0 END AS mean_word_len,
        |         CASE WHEN n_words > 0 THEN round(CAST(
        |           len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |           / n_words, 4) ELSE 0.0 END AS frac_alpha,
        |         CAST(len(list_intersect(list_distinct(ws),
        |           ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop,
        |         CASE WHEN n_words > 0 THEN round(CAST(
        |           (length(text) - length(replace(text, '#', '')))
        |           + (length(text) - length(replace(text, '...', ''))) / 3
        |           AS DOUBLE) / n_words, 4) ELSE 0.0 END AS symbol_ratio,
        |         round(CAST(len(list_filter(lines,
        |           l -> starts_with(l, '- ') OR starts_with(l, '* '))) AS DOUBLE)
        |           / n_lines, 4) AS frac_bullet,
        |         round(CAST(len(list_filter(lines,
        |           l -> ends_with(l, '...'))) AS DOUBLE) / n_lines, 4) AS frac_ellipsis,
        |         round(CAST(n_lines - len(list_distinct(lines)) AS DOUBLE)
        |           / n_lines, 4) AS dup_line_frac,
        |         CASE WHEN len(bg) > 0 THEN round(CAST(
        |           len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
        |           ELSE 0.0 END AS dup_2gram_frac
        |  FROM m),
        |f AS (
        |  SELECT *,
        |         CAST((CASE WHEN n_words < 3 OR n_words > 100000 THEN 1 ELSE 0 END)
        |            + (CASE WHEN mean_word_len < 3 OR mean_word_len > 10 THEN 1 ELSE 0 END)
        |            + (CASE WHEN frac_alpha < 0.8 THEN 1 ELSE 0 END)
        |            + (CASE WHEN n_stop < 2 THEN 1 ELSE 0 END)
        |            + (CASE WHEN symbol_ratio > 0.1 THEN 1 ELSE 0 END)
        |            + (CASE WHEN frac_bullet > 0.9 THEN 1 ELSE 0 END)
        |            + (CASE WHEN frac_ellipsis > 0.3 THEN 1 ELSE 0 END)
        |            + (CASE WHEN dup_line_frac > 0.3 THEN 1 ELSE 0 END)
        |            + (CASE WHEN dup_2gram_frac > 0.2 THEN 1 ELSE 0 END)
        |           AS BIGINT) AS n_rules_failed
        |  FROM r)
        |SELECT doc_id, n_words, mean_word_len, frac_alpha, n_stop, symbol_ratio,
        |       frac_bullet, frac_ellipsis, dup_line_frac, dup_2gram_frac,
        |       n_rules_failed,
        |       CASE WHEN n_rules_failed = 0 THEN CAST(1 AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS gopher_pass
        |FROM f ORDER BY doc_id""".stripMargin,
    "q112_bigram_logprob" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |w2 AS (SELECT doc_id, ws FROM ws WHERE len(ws) >= 2),
        |bg AS (
        |  SELECT doc_id,
        |         unnest(ws[1:len(ws)-1]) AS p,
        |         unnest(ws[2:len(ws)]) AS w
        |  FROM w2),
        |big AS (
        |  SELECT p, w, count(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY p, w),
        |ctx AS (SELECT p, sum(c2) AS cp FROM big GROUP BY p),
        |uni AS (
        |  SELECT w, count(*) AS c1 FROM (
        |    SELECT unnest(ws) AS w FROM w2 WHERE doc_id % 2 = 0)
        |  GROUP BY w),
        |tot AS (SELECT sum(c1) AS t FROM uni),
        |scored AS (
        |  SELECT bg.doc_id,
        |         CASE WHEN big.c2 IS NOT NULL
        |                THEN CAST(big.c2 AS DOUBLE) / CAST(ctx.cp AS DOUBLE)
        |              WHEN uni.c1 IS NOT NULL
        |                THEN 0.4 * CAST(uni.c1 AS DOUBLE) / CAST(tot.t AS DOUBLE)
        |              ELSE 0.4 / CAST(tot.t AS DOUBLE) END AS sc
        |  FROM bg
        |  LEFT JOIN big ON bg.p = big.p AND bg.w = big.w
        |  LEFT JOIN ctx ON bg.p = ctx.p
        |  LEFT JOIN uni ON bg.w = uni.w
        |  CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       round(avg(ln(sc)), 4) AS logprob
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q113_tokenize" ->
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id,
        |         unnest(ws) AS w,
        |         generate_subscripts(ws, 1) AS pos
        |  FROM ws WHERE len(ws) > 0),
        |vocab AS (
        |  SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS id
        |  FROM tok GROUP BY w),
        |seq AS (
        |  SELECT t.doc_id,
        |         count(*) AS n_tokens,
        |         md5(string_agg(CAST(v.id AS VARCHAR), ',' ORDER BY t.pos)) AS ids_md5,
        |         CAST(arg_min(v.id, t.pos) AS BIGINT) AS first_id,
        |         CAST(arg_max(v.id, t.pos) AS BIGINT) AS last_id
        |  FROM tok t JOIN vocab v USING (w)
        |  GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, ids_md5, first_id, last_id
        |FROM seq ORDER BY doc_id""".stripMargin,
    "q115_trigram_logprob" ->
      s"""WITH $TrigramScoreCtes
        |SELECT doc_id, n_trigrams, logprob
        |FROM doc_scores ORDER BY doc_id""".stripMargin,
    // q118's oracle: the SHARED trigram-scorer CTE chain
    // ([[TrigramScoreCtes]] — zero drift from q115's) + q117's exact
    // rank-bucketing tail over (logprob desc, doc_id).
    "q118_ccnet_trigram_buckets" ->
      s"""WITH $TrigramScoreCtes,
        |ranked AS (
        |  SELECT doc_id, n_trigrams, logprob,
        |         row_number() OVER (ORDER BY logprob DESC, doc_id) AS rk,
        |         count(*) OVER () AS n
        |  FROM doc_scores)
        |SELECT doc_id, n_trigrams, logprob,
        |       CASE WHEN rk * 3 <= n THEN 'head'
        |            WHEN rk * 3 <= n * 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin,
    "q117_ccnet_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT sum(c) AS t FROM freq),
        |scored AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         round(avg(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))), 4) AS logprob
        |  FROM tok JOIN freq USING (w) CROSS JOIN tot
        |  GROUP BY doc_id),
        |ranked AS (
        |  SELECT doc_id, n_tokens, logprob,
        |         row_number() OVER (ORDER BY logprob DESC, doc_id) AS rk,
        |         count(*) OVER () AS n
        |  FROM scored)
        |SELECT doc_id, n_tokens, logprob,
        |       CASE WHEN rk * 3 <= n THEN 'head'
        |            WHEN rk * 3 <= n * 2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM ranked ORDER BY doc_id""".stripMargin,
    "q108_unigram_logprob" ->
      """WITH tok AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT sum(c) AS t FROM freq)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(avg(ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))), 4) AS logprob
        |FROM tok JOIN freq USING (w) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q114's oracle: the SAME 20 greedy merge rounds, unrolled into
    // per-round CTE triples (pair counts → argmax → replace) generated
    // from the one BpeMerges constant the Spark loop uses
    // ([[bpeStagesSql]] — shared with q116's oracle). The seed
    // representation and the replace-based merge are byte-identical to
    // learnBpeMerges' (its scaladoc carries the shared-semantics
    // argument); DuckDB regexp_replace backreference is \1 where
    // Java's is $1 — the only engine-syntax difference in the chain.
    "q114_bpe_merges" -> {
      val union = (1 to BpeMerges).map(k => s"SELECT * FROM b$k")
        .mkString("\n  UNION ALL ")
      s"""WITH ${bpeStagesSql()}
         |SELECT merge_rank, a, b, merged, freq FROM (
         |  $union)
         |ORDER BY merge_rank""".stripMargin
    },
    // q116's oracle: the q114 merge stages, then the application half —
    // per word TYPE the final s-representation IS its segmentation
    // (split the double-space separators), joined back onto the
    // pos-indexed token stream and reassembled per doc in position
    // order. Non-alphabetic word types are absent from the stage table
    // and pass through whole (coalesce). Docs whose token list is
    // empty re-enter via the documents LEFT JOIN with the empty-string
    // md5.
    "q116_bpe_encode" ->
      s"""WITH ${bpeStagesSql()},
         |${bpeEncodeApplySql(s"s$BpeMerges", "text")}""".stripMargin,
    // q119's oracle: the batched stages ([[bpeBatchStagesSql]] — the
    // disjointness rule as NOT EXISTS, the batch apply as a NULL-padded
    // fixed-depth replace chain), merge_rank = global row_number over
    // (round, within-round rank).
    "q119_bpe_merges_batched" -> {
      val union = (1 to BpeBatchRounds)
        .map(r => s"SELECT $r AS round, j, a, b, merged, freq FROM bk$r")
        .mkString("\n  UNION ALL ")
      s"""WITH ${bpeBatchStagesSql()},
         |all_kept AS (
         |  $union)
         |SELECT row_number() OVER (ORDER BY round, j) AS merge_rank,
         |       a, b, merged, freq
         |FROM all_kept ORDER BY merge_rank""".stripMargin
    },
    // q121's oracle: the hot-partitioned stages over the real corpus
    // words ([[bpeHotStagesSql]] holds the stage-by-stage mirror
    // argument), same merge-table final select as q119's.
    "q121_bpe_merges_hotpart" -> bpeHotMergesSql("h", BpeHotRounds,
      "SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w" +
        " FROM documents",
      BpeHotK, BpeHotCap),
    // q122's oracle: the same stages seeded by the SYNTHETIC vocabulary
    // — the word expression is [[RichVocabWordSql]], the IDENTICAL
    // string the Spark declaration evaluates (one text, zero drift).
    "q122_bpe_rich_vocab" -> bpeHotMergesSql("r", RichVocabRounds,
      s"SELECT $RichVocabWordSql AS w FROM documents",
      RichVocabK, RichVocabCap),
    // q125's oracle: q116/q120's application half over the HOT stage
    // table's final segmentation (rs{RichVocabRounds} — the identical
    // stages q122's oracle materializes, one generator, zero drift)
    // applied to the SYNTHETIC corpus, whose per-doc text is
    // [[RichVocabWordSql]] — the IDENTICAL string the Spark
    // declaration evaluates.
    "q125_bpe_encode_rich" ->
      s"""WITH ${bpeHotStagesSql("r", RichVocabRounds, RichVocabK,
            RichVocabCap, s"SELECT $RichVocabWordSql AS w FROM documents")},
         |${bpeEncodeApplySql(s"rs$RichVocabRounds", RichVocabWordSql)}""".stripMargin,
    // q120's oracle: q116's application half over the BATCHED stage
    // table's final segmentation (bs{BpeBatchRounds}).
    "q120_bpe_encode_batched" ->
      s"""WITH ${bpeBatchStagesSql()},
         |${bpeEncodeApplySql(s"bs$BpeBatchRounds", "text")}""".stripMargin,
    "q109_vocab_topk" ->
      """WITH tok AS (
        |  SELECT w FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |freq AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |tot AS (SELECT sum(c) AS t FROM freq),
        |ranked AS (
        |  SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rank
        |  FROM freq)
        |SELECT rank, w, c,
        |       round(CAST(c AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
        |FROM ranked CROSS JOIN tot WHERE rank <= 50 ORDER BY rank""".stripMargin,
    "q69_tfidf" ->
      """WITH words AS (
        |  SELECT doc_id, w AS term FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE w <> ''),
        |tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |         round(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.dfreq), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, term, tf, tfidf,
        |         row_number() OVER (PARTITION BY doc_id
        |                            ORDER BY tfidf DESC, term ASC) AS rk
        |  FROM scored)
        |SELECT doc_id, rk, term, tf, tfidf FROM ranked
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q56_normalize_text" ->
      """WITH n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |              '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
        |  FROM documents)
        |SELECT doc_id, md5(norm) AS norm_md5,
        |       CAST(length(norm) AS BIGINT) AS norm_len,
        |       CAST(len(list_filter(string_split(norm, ' '), w -> w <> '')) AS BIGINT) AS n_words
        |FROM n ORDER BY doc_id""".stripMargin,
    "q87_lang_id" ->
      """WITH words AS (
        |  SELECT doc_id, lang, w FROM (
        |    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |    FROM documents WHERE text <> '')
        |  WHERE w <> ''),
        |markers AS (
        |  SELECT m_lang, m_w FROM (
        |    SELECT lang AS m_lang, w AS m_w, count(*) AS freq,
        |           row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, w) AS rn
        |    FROM words GROUP BY lang, w)
        |  WHERE rn <= 5),
        |hits AS (
        |  SELECT d.doc_id, m.m_lang, count(*) AS score
        |  FROM (SELECT DISTINCT doc_id, w FROM words) d
        |  JOIN markers m ON d.w = m.m_w
        |  GROUP BY d.doc_id, m.m_lang)
        |SELECT doc_id, m_lang AS pred_lang, score FROM (
        |  SELECT doc_id, m_lang, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, m_lang) AS rn
        |  FROM hits)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q88_quality_score" ->
      """WITH base AS (
        |  SELECT doc_id, n_chars,
        |         list_filter(string_split(text, ' '), w -> w <> '') AS ws
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n_chars,
        |         CAST(len(ws) AS BIGINT) AS n_words,
        |         CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq
        |  FROM base)
        |SELECT doc_id, n_words, n_uniq, n_chars,
        |       CASE WHEN n_words > 0
        |            THEN round(CAST(n_uniq AS DOUBLE) / n_words, 4) ELSE 0.0 END AS uniq_ratio,
        |       round(least(1.0, CAST(n_words AS DOUBLE) / 100), 4) AS len_score,
        |       round(CASE WHEN n_words > 0
        |                  THEN round(CAST(n_uniq AS DOUBLE) / n_words, 4) ELSE 0.0 END
        |             * round(least(1.0, CAST(n_words AS DOUBLE) / 100), 4), 4) AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "q67_length_histogram" ->
      """SELECT lang, CAST(floor(n_chars / 500.0) AS BIGINT) AS bucket,
        |       count(*) AS cnt
        |FROM documents GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "q77_repetition" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |  WHERE len(ws) >= 3),
        |cnt AS (
        |  SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY doc_id, sh)
        |SELECT doc_id,
        |       CAST(sum(c) AS BIGINT) AS total,
        |       CAST(max(c) AS BIGINT) AS max_rep,
        |       CAST(max(c) AS DOUBLE) / sum(c) AS rep_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q89_token_count" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |       CAST(ceil(CAST(n_chars AS DOUBLE) / 4) AS BIGINT) AS approx_bpe
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
