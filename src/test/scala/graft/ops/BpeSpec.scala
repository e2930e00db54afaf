package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BPE merge learning + application laws (q114, SURVEY.md §2.2):
  * hand-computed merges on a constructed corpus (including the greedy
  * left-to-right pairing of `aaa` and the frequency-weighted counts),
  * the monotone-frequency law, and the segmentation round-trip of
  * [[TextAnalysis.applyBpeMerges]].
  */
class BpeSpec extends SparkSpec {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("learns the hand-computed merge sequence, greedy + lexical tiebreak") {
    // corpus: aaab ×2, aab ×1 (one doc; weighting via occurrence count)
    // round 1: (a,a) counts 2·2+1=5 (OVERLAPPING positions in aaa both
    //   count), (a,b) 2+1=3 → merge aa
    // round 2: seqs ' aa  a  b '×2 (GREEDY: aaa → (aa, a), never
    //   (a, aa)), ' aa  b '×1; pairs (aa,a) 2, (a,b) 2, (aa,b) 1 →
    //   tie on count, lexical a < aa → merge ab
    // round 3: ' aa  ab '×2, ' aa  b '×1 → (aa,ab) 2 beats (aa,b) 1 →
    //   merge aaab
    val merges = TextAnalysis.learnBpeMerges(docs("aaab aaab aab"), 3)
    assert(merges == Seq(
      (1L, "a", "a", "aa", 5L),
      (2L, "a", "b", "ab", 2L),
      (3L, "aa", "ab", "aaab", 2L)))
  }

  test("pair counts weight by word frequency across docs, and merge freqs never increase") {
    // word freqs: xy ×4 (across three docs), yzyz ×1; q9 is non-alpha →
    // excluded. Round 1: (x,y) = 4 (frequency-weighted) beats
    // (y,z) = 2 and (z,y) = 1 from yzyz. Rounds 2-3 consume yzyz:
    // (y,z) → yz (cnt 2), then (yz,yz) → yzyz (cnt 1).
    val m = TextAnalysis.learnBpeMerges(
      docs("xy xy", "xy yzyz", "q9 xy"), 3)
    assert(m == Seq(
      (1L, "x", "y", "xy", 4L),
      (2L, "y", "z", "yz", 2L),
      (3L, "yz", "yz", "yzyz", 1L)), m.toString)
    // every new pair's count is bounded by the pair it derives from —
    // the merge frequency sequence is monotone non-increasing
    assert(m.map(_._5) == m.map(_._5).sorted.reverse)
  }

  test("q114 on the real table: ranks contiguous, merged = a||b, freqs monotone") {
    val rows = graft.SparkEntry.queries("q114_bpe_merges")(spark, sf())
      .orderBy("merge_rank").collect()
    assert(rows.length == TextAnalysis.BpeMerges)
    assert(rows.map(_.getLong(0)).toSeq == (1L to TextAnalysis.BpeMerges).toSeq)
    rows.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0L)
    }
    val freqs = rows.map(_.getLong(4)).toSeq
    assert(freqs == freqs.sorted.reverse,
      s"merge freqs must be non-increasing: $freqs")
  }

  test("applyBpeMerges segments with learned merges; concatenation reconstructs the words") {
    val merges = Seq(("a", "a"), ("a", "b"), ("aa", "ab"))
    val d = docs("aaab aab xyz9 b")
    val seg = d.select(col("doc_id"),
      TextAnalysis.applyBpeMerges(col("text"),
        merges.map { case (a, b) => (a, b) }).as("toks"))
    val toks = seg.head().getSeq[String](1)
    // aaab → fully merged; aab → ' aa  b ' ((a,b) cannot fire inside —
    // the wrapping invariant blocks partial-token matches); xyz9 is
    // non-alphabetic → passes through whole; b → single symbol
    assert(toks == Seq("aaab", "aa", "b", "xyz9", "b"), toks.toString)
  }

  test("exhausting mergeable pairs fails LOUDLY, never silently diverging from the oracle") {
    // all-non-alpha corpus: no seedable words at all
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.learnBpeMerges(docs("123 456 7a8"), 1)
    }
    assert(e1.getMessage.contains("no mergeable pairs"))
    // single-char vocab collapses after its only merges are spent
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.learnBpeMerges(docs("ab ab"), 3) // merge 1 = ab, then dry
    }
    assert(e2.getMessage.contains("round 2 of 3"))
  }

  test("learned merges are partitioning-independent (§7.5 determinism law)") {
    val base = graft.model.Tables(spark, sf(), "documents")
      .select("doc_id", "text")
    val a = TextAnalysis.learnBpeMerges(base.repartition(7), 10)
    val b = TextAnalysis.learnBpeMerges(base.repartition(3), 10)
    assert(a == b, s"partitioning changed the learned merges:\n$a\n$b")
  }

  test("q116 law: subword count is bounded by words below and characters above") {
    val out = graft.SparkEntry.queries("q116_bpe_encode")(spark, sf())
    val counts = graft.model.Tables(spark, sf(), "documents")
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= "")).cast("long")
          .as("n_words"),
        length(col("text")).cast("long").as("n_chars"))
    val j = out.join(counts, "doc_id")
    // each word maps to >= 1 subword; merging can never produce more
    // subwords than the word has characters
    assert(j.filter(col("n_subwords") < col("n_words")).isEmpty)
    assert(j.filter(col("n_subwords") > col("n_chars") + 1).isEmpty)
    spark.catalog.clearCache()
  }

  // ───────────────────── batched learner (q119/q120) ─────────────────────

  test("batched learner at k = 1 IS the sequential learner, bit for bit") {
    // the fixture from the hand-computed test AND the real table: the
    // k = 1 specialization must reproduce learnBpeMerges exactly (one
    // candidate per round, always kept)
    val d = docs("aaab aaab aab")
    assert(TextAnalysis.learnBpeMergesBatched(d, 3, 1) ==
      TextAnalysis.learnBpeMerges(d, 3))
    val base = graft.model.Tables(spark, sf(), "documents")
    assert(TextAnalysis.learnBpeMergesBatched(base, 10, 1) ==
      TextAnalysis.learnBpeMerges(base, 10))
  }

  test("one batched round of k mutually-disjoint pairs equals k sequential merges") {
    // 2-char words complete on their first merge, so no merge creates
    // new pairs — the disjointness precondition of the equivalence law
    // holds for the whole window: (a,b)=9, (c,d)=6, (e,f)=3
    val d = docs(("ab " * 9 + "cd " * 6 + "ef " * 3).trim)
    val batched = TextAnalysis.learnBpeMergesBatched(d, 1, 3)
    val sequential = TextAnalysis.learnBpeMerges(d, 3)
    assert(batched == sequential, s"$batched\nvs\n$sequential")
    assert(batched == Seq(
      (1L, "a", "b", "ab", 9L),
      (2L, "c", "d", "cd", 6L),
      (3L, "e", "f", "ef", 3L)))
  }

  test("interacting candidates defer to later rounds (all-higher-ranks rule)") {
    // Round 1: (a,b)=9 kept; (b,c)=6 shares b with rank 1 → dropped;
    // (c,d)=3 is disjoint from rank 1 but shares c with the DROPPED
    // rank 2 — the all-higher-ranks rule (decidable without sequential
    // state, the oracle's NOT EXISTS) drops it too. Round 2: (b,c)
    // kept, (c,d) STILL shares c with it → deferred again. Round 3:
    // (c,d) alone, kept. Three rounds to drain a 3-chain — the
    // conservative rule's worst case, by design.
    val d = docs(("ab " * 9 + "bc " * 6 + "cd " * 3).trim)
    val m = TextAnalysis.learnBpeMergesBatched(d, 3, 3)
    assert(m == Seq(
      (1L, "a", "b", "ab", 9L),
      (2L, "b", "c", "bc", 6L),
      (3L, "c", "d", "cd", 3L)), m.toString)
  }

  test("q119 on the real table: ranks contiguous, merged = a||b, within-round freqs sane") {
    val rows = graft.SparkEntry.queries("q119_bpe_merges_batched")(spark, sf())
      .orderBy("merge_rank").collect()
    assert(rows.nonEmpty &&
      rows.length <= TextAnalysis.BpeBatchRounds * TextAnalysis.BpeBatchK)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    rows.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
      assert(r.getLong(4) > 0L)
    }
    // deeper than q114's 20 merges: the batched run must actually reach
    // a higher merge count (the whole point of the dial)
    assert(rows.length > TextAnalysis.BpeMerges,
      s"batched run learned only ${rows.length} merges")
  }

  test("batched merges are partitioning-independent (§7.5 determinism law)") {
    val base = graft.model.Tables(spark, sf(), "documents")
      .select("doc_id", "text")
    val a = TextAnalysis.learnBpeMergesBatched(base.repartition(7), 5, 4)
    val b = TextAnalysis.learnBpeMergesBatched(base.repartition(3), 5, 4)
    assert(a == b, s"partitioning changed the batched merges:\n$a\n$b")
  }

  // ──────────────── hot-partitioned learner (q121/q122) ────────────────

  test("hot-partitioned rule drains the 3-chain in 2 rounds where all-higher-ranks takes 3") {
    // pairs (a,b)=9, (b,c)=6, (c,d)=3; mass a=9, b=15, c=9, d=3.
    // hot(a,b)=b, hot(b,c)=b, hot(c,d)=c → partition b's winner is
    // (a,b) (higher cnt), partition c's is (c,d). Winner order:
    // (a,b) then (c,d); (c,d) is disjoint from (a,b) → BOTH kept in
    // round 1 — the dropped (b,c) no longer blocks it (contrast the
    // all-higher-ranks deferral test above). Round 2 keeps (b,c).
    val d = docs(("ab " * 9 + "bc " * 6 + "cd " * 3).trim)
    val m = TextAnalysis.learnBpeMergesHotPart(d, 3, 3, 3)
    assert(m == Seq(
      (1L, "a", "b", "ab", 9L),
      (2L, "c", "d", "cd", 3L),
      (3L, "b", "c", "bc", 6L)), m.toString)
  }

  test("hot-partitioned learner at k = 1 IS the sequential learner, bit for bit") {
    // the global-best pair is rank 1 of its own hot partition and of
    // the winner ordering, so the k = 1 window is exactly the argmax
    val d = docs("aaab aaab aab")
    assert(TextAnalysis.learnBpeMergesHotPart(d, 3, 1, 1) ==
      TextAnalysis.learnBpeMerges(d, 3))
    val base = graft.model.Tables(spark, sf(), "documents")
    assert(TextAnalysis.learnBpeMergesHotPart(base, 10, 1, 1) ==
      TextAnalysis.learnBpeMerges(base, 10))
  }

  test("hot-partitioned yield >= all-higher-ranks yield at the same dials (r15 VERDICT #1 law)") {
    // same (rounds, window) budget, same fixtures: the cascade-breaker
    // must never learn FEWER merges. Real table: 89 vs 84 (and in 16
    // rounds vs 25 — the corpus exhausts, the rule doesn't).
    val base = graft.model.Tables(spark, sf(), "documents")
    val hot = TextAnalysis.learnBpeMergesHotPart(base,
      TextAnalysis.BpeHotRounds, TextAnalysis.BpeHotK, TextAnalysis.BpeHotCap)
    val all = TextAnalysis.learnBpeMergesBatched(base,
      TextAnalysis.BpeBatchRounds, TextAnalysis.BpeBatchK)
    assert(hot.size >= all.size,
      s"hot-partitioned learned ${hot.size} < all-higher-ranks ${all.size}")
    // and on a constructed chain fixture
    val chain = docs(("ab " * 9 + "bc " * 6 + "cd " * 3).trim)
    assert(TextAnalysis.learnBpeMergesHotPart(chain, 3, 3, 3).size >=
      TextAnalysis.learnBpeMergesBatched(chain, 3, 3).size)
  }

  test("hot-partitioned merges are partitioning-independent (§7.5 determinism law)") {
    val base = graft.model.Tables(spark, sf(), "documents")
      .select("doc_id", "text")
    val a = TextAnalysis.learnBpeMergesHotPart(base.repartition(7), 5, 4, 4)
    val b = TextAnalysis.learnBpeMergesHotPart(base.repartition(3), 5, 4, 4)
    assert(a == b, s"partitioning changed the learned merges:\n$a\n$b")
  }

  test("q122 learns vocabulary-limited >= 500 merges (the data-dominated regime)") {
    val rows = graft.SparkEntry.queries("q122_bpe_rich_vocab")(spark, sf())
      .orderBy("merge_rank").collect()
    // >= 500: firmly past the 31-type corpus's ~100-merge exhaustion
    // ceiling; <= rounds × cap: the budget, not exhaustion, limits it
    assert(rows.length >= 500, s"only ${rows.length} merges")
    assert(rows.length <=
      TextAnalysis.RichVocabRounds * TextAnalysis.RichVocabCap)
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    rows.foreach(r => assert(r.getString(3) == r.getString(1) + r.getString(2)))
  }

  test("q125 law: encode-at-depth segmentation equals an independent driver-side fold of q122's merges") {
    import spark.implicits._
    // q125's exact inputs: the synthetic rich corpus and the hot
    // learner at the declared q122 dials. The engine's chunked
    // segmentTypes fold (17+ stages at >= 500 merges) must reproduce,
    // word for word, a PLAIN-SCALA reference fold of the same merge
    // table — an implementation-independent tie between the encode
    // query and the merge table it claims to apply (stronger than the
    // chunked≡single-fold law, whose two sides share segmentTypes).
    val rich = graft.model.Tables(spark, sf(), "documents")
      .select(col("doc_id"), expr(TextAnalysis.RichVocabWordSql).as("text"))
    val merges = TextAnalysis.learnBpeMergesHotPart(rich,
      TextAnalysis.RichVocabRounds, TextAnalysis.RichVocabK,
      TextAnalysis.RichVocabCap)
    // the depth claim q125 exists for: >= 500 merges fold through
    // > 10 SegFoldChunk-sized stages (q120's oracle-proven fold spans 3)
    assert(merges.size >= 500, s"only ${merges.size} merges")
    assert(math.ceil(merges.size.toDouble / TextAnalysis.SegFoldChunk) > 10)
    val types = rich.select(col("text").as("w")).distinct()
    val seg = TextAnalysis.segmentTypes(types, merges.map(m => (m._2, m._3)))
      .select("w", "sws").as[(String, String)].collect().toMap
    // reference fold: the scaladoc'd representation, straight off
    // java.lang.String.replace (left-to-right non-overlapping — the
    // same semantics learnBpeMerges' representation argument cites)
    def ref(w: String): String = {
      var s = " " + w.map(_.toString).mkString("  ") + " "
      for ((_, a, b, _, _) <- merges) s = s.replace(s" $a  $b ", s" $a$b ")
      s.trim.split("  ").mkString(" ")
    }
    assert(seg.nonEmpty)
    seg.foreach { case (w, sws) =>
      // bind the ~534-merge reference fold once per word — the eager
      // clue interpolation used to run it a second time on every PASS
      val r = ref(w)
      assert(sws == r, s"word $w: engine '$sws' vs reference '$r'")
    }
  }

  test("keepDisjointWinners honors the cap and the winner-precedence rule") {
    val w = IndexedSeq(("a", "b", 9L), ("b", "c", 6L), ("c", "d", 3L),
      ("e", "f", 2L), ("g", "h", 1L))
    // (b,c) blocked by winner (a,b); (c,d) blocked by winner (b,c)
    // even though (b,c) was dropped — precedence is over WINNERS, and
    // all five inputs here are winners by construction
    assert(TextAnalysis.keepDisjointWinners(w, 8) ==
      IndexedSeq(("a", "b", 9L), ("e", "f", 2L), ("g", "h", 1L)))
    assert(TextAnalysis.keepDisjointWinners(w, 2) ==
      IndexedSeq(("a", "b", 9L), ("e", "f", 2L)))
  }

  test("declared BPE dials stay literal") {
    // the declared queries' dials are literal constants the oracles
    // unroll — nothing may silently retarget them
    assert(TextAnalysis.BpeBatchRounds == 25 && TextAnalysis.BpeBatchK == 8)
    assert(TextAnalysis.BpeHotRounds == 25 && TextAnalysis.BpeHotK == 8 &&
      TextAnalysis.BpeHotCap == 8)
    assert(TextAnalysis.RichVocabRounds == 28 &&
      TextAnalysis.RichVocabK == 128 && TextAnalysis.RichVocabCap == 24)
  }

  test("hot-partitioned learner rejects k < 1 or capJ < 1 before any Spark job") {
    // a zero window is a caller error, not a request to derive one
    val d = docs("aaab aaab aab")
    val sc = spark.sparkContext
    val group = "bpe-hot-dials"
    sc.setJobGroup(group, group)
    try {
      for ((k, capJ) <- Seq((0, 4), (4, 0)))
        intercept[IllegalArgumentException] {
          TextAnalysis.learnBpeMergesHotPart(d, 3, k, capJ)
        }
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "the dial check must fire before the vocabulary job")
  }

  test("keep-rule budget at the derived-k ceiling is driver-trivial (r15 VERDICT #5)") {
    // worst case: 4096 mutually-disjoint candidates — every candidate
    // scans ALL higher ranks (O(k²) = 8.4M 3-element intersections)
    val cand = (0 until 4096).map(i => (s"x${i}a", s"x${i}b", (8192 - i).toLong))
    val t0 = System.nanoTime()
    val kept = TextAnalysis.keepDisjointWinners(cand, 4096)
    val dt = (System.nanoTime() - t0) / 1e9
    assert(kept.size == 4096)
    assert(dt < 2.0, f"O(k²) keep rule took $dt%.2fs at k = 4096")
  }

  // ───────────────────── fold-depth guard (segmentTypes) ─────────────────────

  test("chunked segmentTypes equals the single-fold path beyond SegFoldChunk merges") {
    import spark.implicits._
    // 25 chained merges building the full alphabet + 10 inert ones —
    // 35 > SegFoldChunk(32), so segmentTypes runs TWO stages with a
    // checkpoint between, and the chain's later merges (ranks 26-35)
    // apply in the second chunk over the first chunk's output.
    assert(TextAnalysis.SegFoldChunk == 32)
    val chain = (1 until 26).map(i =>
      ("abcdefghijklmnopqrstuvwxyz".take(i), ('a' + i).toChar.toString))
    val inert = Seq(("q", "q"), ("zz", "z"), ("xx", "x"), ("pp", "p"),
      ("mm", "m"), ("tt", "t"), ("rr", "r"), ("ss", "s"), ("uu", "u"),
      ("vv", "v"))
    val merges = chain ++ inert
    val words = Seq("abcdefghijklmnopqrstuvwxyz", "abc", "abcd", "zzz",
      "hello", "q9x", "qqqq", "a")
    val types = words.toDF("w")
    val chunked = TextAnalysis.segmentTypes(types, merges)
      .select("w", "sws").as[(String, String)].collect().toMap
    // reference path: applyBpeMerges folds ALL merges into ONE
    // expression (fine at 35; the chunking exists for 30k)
    val single = types
      .select(col("w"), array_join(
        TextAnalysis.applyBpeMerges(col("w"), merges), " ").as("sws"))
      .as[(String, String)].collect().toMap
    assert(chunked == single, s"$chunked\nvs\n$single")
    // sanity: the full-alphabet word actually merged down to one symbol
    assert(chunked("abcdefghijklmnopqrstuvwxyz") ==
      "abcdefghijklmnopqrstuvwxyz")
    assert(chunked("abcd") == "abcd")
    assert(chunked("q9x") == "q9x") // non-alpha passes through whole
  }

  test("round-trip on real docs: subword concatenation equals the original words (q113-chain acceptance)") {
    val learned = TextAnalysis.learnBpeMerges(
      graft.model.Tables(spark, sf(), "documents"), TextAnalysis.BpeMerges)
    val merges = learned.map(m => (m._2, m._3))
    val d = graft.model.Tables(spark, sf(), "documents").limit(200)
    val bad = d.select(
        concat_ws("", filter(split(col("text"), " "), w => w =!= "")).as("orig"),
        concat_ws("", TextAnalysis.applyBpeMerges(col("text"), merges)).as("rt"))
      .filter(col("orig") =!= col("rt"))
    assert(bad.isEmpty, s"${bad.count()} docs fail the BPE round-trip")
  }
}
