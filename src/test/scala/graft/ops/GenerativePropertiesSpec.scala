package graft.ops

import java.sql.Timestamp
import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck properties over the core operator shapes (SURVEY.md §5.2.3)
  * — invariants that must hold for ARBITRARY inputs, run on generated
  * mini-tables with fixed seeds (the scalatest-scalacheck bridge isn't in
  * the offline cache, so generators are sampled directly). These pin the
  * operator semantics independently of the fixed testdata the oracle gate
  * uses.
  */
class GenerativePropertiesSpec extends SparkSpec {

  private val params = Gen.Parameters.default.withSize(40)

  /** n deterministic samples of g (seeds 0..n-1). */
  private def samples[A](g: Gen[A], n: Int = 5): Seq[A] =
    (0 until n).flatMap(i => g.apply(params, Seed(i.toLong)))

  private def forAll[A](g: Gen[A], n: Int = 5)(body: A => Unit): Unit =
    samples(g, n).foreach(body)

  private def whenever(cond: Boolean)(body: => Unit): Unit =
    if (cond) body

  private val eventGen: Gen[List[(Long, Long, String, Double)]] =
    Gen.listOf(for {
      id <- Gen.choose(0L, 999L)
      user <- Gen.choose(0L, 4L)
      tpe <- Gen.oneOf("click", "view", "purchase")
      v <- Gen.choose(-100.0, 100.0)
    } yield (id, user, tpe, v))

  private def eventsDf(rows: List[(Long, Long, String, Double)]): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((id, u, t, v), i) =>
      (i.toLong, new Timestamp(1700000000000L + id * 60000), u, t, v)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  private def keepFirst(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  test("dedup keep-first is idempotent and key-unique on arbitrary data") {
    forAll(eventGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = eventsDf(rows)
        val once = keepFirst(df)
        val twice = keepFirst(once)
        assert(once.count() == twice.count())
        assert(once.groupBy("user_id", "event_type").count()
          .filter(col("count") > 1).isEmpty)
        // keeps a row per present key, no more, no less
        assert(once.count() == df.select("user_id", "event_type").distinct().count())
      }
    }
  }

  test("analytic windows never change cardinality") {
    forAll(eventGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = eventsDf(rows)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val windowed = df.select(col("event_id"),
          lag("value", 1).over(w), lead("value", 1).over(w),
          rank().over(w), sum("value").over(w))
        assert(windowed.count() == df.count())
      }
    }
  }

  test("set-op cardinality algebra: |A∪B|=|A|+|B|; |A\\B|+|A∩B|=|dA|") {
    val pairGen = for {
      a <- Gen.listOf(Gen.choose(0, 20))
      b <- Gen.listOf(Gen.choose(0, 20))
    } yield (a, b)
    forAll(pairGen) { case (a, b) =>
      import spark.implicits._
      val da = a.toDF("v")
      val db = b.toDF("v")
      assert(da.unionAll(db).count() == a.size + b.size)
      val exceptC = da.except(db).count()
      val interC = da.intersect(db).count()
      assert(exceptC + interC == da.distinct().count())
    }
  }

  test("time buckets conserve row totals") {
    forAll(eventGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = eventsDf(rows)
        val bucketTotal = df.groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("cnt"))
          .agg(sum("cnt")).head().getLong(0)
        assert(bucketTotal == df.count())
      }
    }
  }

  test("text_shingles/char_ngrams match their HOF forms on arbitrary text") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    // arbitrary words incl. empties (consecutive/leading/trailing spaces)
    val textGen: Gen[String] = Gen.listOf(
      Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const("")))
      .map(_.mkString(" "))
    forAll(Gen.listOf(textGen), n = 8) { texts =>
      whenever(texts.nonEmpty) {
        val df = texts.toDF("text")
        val shingleHof = expr(
          """CASE WHEN text <> '' AND size(split(text, ' ')) >= 3
            |THEN transform(sequence(0, size(split(text, ' ')) - 3),
            |     i -> concat_ws(' ', split(text, ' ')[i], split(text, ' ')[i+1], split(text, ' ')[i+2]))
            |ELSE array() END""".stripMargin)
        val ngramHof = expr(
          """CASE WHEN length(text) >= 5
            |THEN transform(sequence(1, length(text) - 4), i -> substring(text, i, 5))
            |ELSE array() END""".stripMargin)
        assert(df.select(
          expr("text_shingles(text)").as("a"), shingleHof.as("b"))
          .filter(col("a") =!= col("b")).isEmpty)
        assert(df.select(
          expr("char_ngrams(text, 5)").as("a"), ngramHof.as("b"))
          .filter(col("a") =!= col("b")).isEmpty)
      }
    }
  }

  test("array_pairs emits exactly k(k-1)/2 ordered pairs of a sorted set") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    forAll(Gen.listOf(Gen.choose(0L, 50L)), n = 8) { xs =>
      val ds = xs.distinct.sorted
      val df = Seq(Tuple1(ds.toArray)).toDF("ds")
      val pairs = df.select(explode(expr("array_pairs(ds)")).as("p"))
        .select(col("p.a"), col("p.b"))
        .as[(Long, Long)].collect().toSeq
      assert(pairs.length == ds.length * (ds.length - 1) / 2)
      assert(pairs.forall { case (a, b) => a < b })
      assert(pairs.distinct.length == pairs.length)
    }
  }

  test("winnowing shares a fingerprint for any shared substring >= k+w-1") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    // random distinct prefixes/suffixes around one shared core of length
    // >= 8+4-1 = 11: the MOSS guarantee must hold for ANY such pair
    val gen = for {
      core <- Gen.listOfN(12, Gen.alphaLowerChar).map(_.mkString)
      p1 <- Gen.listOfN(15, Gen.alphaUpperChar).map(_.mkString)
      p2 <- Gen.listOfN(15, Gen.numChar).map(_.mkString)
      s1 <- Gen.listOfN(15, Gen.numChar).map(_.mkString)
      s2 <- Gen.listOfN(15, Gen.alphaUpperChar).map(_.mkString)
    } yield (p1 + core + s1, p2 + core + s2)
    forAll(gen, n = 8) { case (a, b) =>
      val out = Seq(a, b).toDF("text")
        .select(expr("winnow_fps(text, 8, 4)").as("fps")).collect()
      val fa = out(0).getSeq[String](0).toSet
      val fb = out(1).getSeq[String](0).toSet
      assert(fa.intersect(fb).nonEmpty, s"no shared fp for '$a' / '$b'")
    }
  }

  test("cumulative packing bins conserve items and bound overflow") {
    import spark.implicits._
    // arbitrary chunk streams: bin by cumulative-before div 512 — every
    // chunk lands in exactly one bin and a bin overflows 512 by less
    // than one max-sized chunk
    val gen = Gen.listOf(Gen.choose(1L, 50L))
    forAll(gen, n = 8) { sizes =>
      whenever(sizes.nonEmpty) {
        val df = sizes.zipWithIndex.map { case (n, i) => (i.toLong, n) }
          .toDF("idx", "n_tokens")
        val w = Window.orderBy("idx")
          .rowsBetween(Window.unboundedPreceding, -1)
        val binned = df
          .withColumn("cum0", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
          .withColumn("bin", floor(col("cum0") / 512).cast("long"))
        val packed = binned.groupBy("bin")
          .agg(count(lit(1)).as("n_chunks"), sum("n_tokens").as("tok_total"))
        assert(packed.agg(sum("n_chunks")).head().getLong(0) == sizes.length)
        assert(packed.filter(col("tok_total") >= 512 + 50).isEmpty)
      }
    }
  }

  test("capJaccardPairs (prefix-filtered AND expand) match a pure-Scala " +
      "set-Jaccard oracle on random corpora") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    // random per-doc-distinct (doc, gram) incidence lists (the helpers'
    // input contract since r10 — per-doc dedup is the caller's
    // array_distinct); small gram alphabet forces collisions, hot grams,
    // and df-cap hits. minJac spans the prefix-filter regimes: 0 (full
    // prefix — degenerates to the expand semantics), low, and high
    // (aggressive pruning, where a prefix-length off-by-one would LOSE
    // qualifying pairs).
    val corpusGen = Gen.listOf(for {
      doc <- Gen.choose(0L, 9L)
      g <- Gen.choose(0, 15).map(i => s"g$i")
    } yield (doc, g)).map(_.distinct)
    val cfgGen = for {
      corpus <- corpusGen
      maxDf <- Gen.choose(1, 5)
      minJac <- Gen.oneOf(0.0, 0.2, 0.34, 0.5, 0.75)
    } yield (corpus, maxDf, minJac)
    forAll(cfgGen, n = 10) { case (corpus, maxDf, minJac) =>
      whenever(corpus.nonEmpty) {
        val grams = corpus.toDF("doc_id", "g")
        val got = Extensions.capJaccardPairs(grams, "g", maxDf, minJac)
          .as[(Long, Long, Long, Double)].collect().toSeq
        val gotPrefix = Extensions.capJaccardPairsPrefix(grams, "g", maxDf, minJac)
          .as[(Long, Long, Long, Double)].collect().toSeq
        spark.catalog.clearCache() // helpers persist; caller owns cleanup
        // pure-Scala oracle over the same semantics
        val byDoc = corpus.groupBy(_._1)
          .view.mapValues(_.map(_._2).toSet).toMap
        val df = corpus.groupBy(_._2).view.mapValues(_.map(_._1).size)
        val hot = df.filter(_._2 > maxDf).keys.toSet
        val kept = byDoc.view.mapValues(_.diff(hot)).filter(_._2.nonEmpty).toMap
        val want = (for {
          a <- kept.keys; b <- kept.keys if a < b
          inter = kept(a).intersect(kept(b)).size if inter > 0
          jac = inter.toDouble / (kept(a).size + kept(b).size - inter)
          if jac >= minJac
        } yield (a, b, inter.toLong, jac)).toSeq.sortBy(p => (p._1, p._2))
        assert(got.map(p => (p._1, p._2, p._3)) == want.map(p => (p._1, p._2, p._3)),
          s"pair set mismatch vs oracle (maxDf=$maxDf minJac=$minJac)")
        assert(got == gotPrefix,
          s"expand vs prefix divergence (maxDf=$maxDf minJac=$minJac)")
        got.zip(want).foreach { case ((_, _, _, gj), (_, _, _, wj)) =>
          // got.jac is round(·,4); compare to the raw oracle within half an ulp
          assert(math.abs(gj - wj) <= 5e-5 + 1e-12, s"jac $gj vs $wj")
        }
      }
    }
  }

  test("capJaccardPairsAuto dispatches by threshold: prefix plan at t >= 0.7, expansion below") {
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val grams = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b")).toDF("doc_id", "g")
    // the prefix path is identifiable by its skew-capped topk_min_agg
    // doc-list aggregate; the expansion path has no such node
    val lo = Extensions.capJaccardPairsAuto(grams, "g", 5, 0.5)
    val mid = Extensions.capJaccardPairsAuto(grams, "g", 5, 0.7)
    assert(!lo.queryExecution.analyzed.toString.contains("topk_min_agg"),
      "t=0.5 must dispatch to the expansion path")
    assert(mid.queryExecution.analyzed.toString.contains("topk_min_agg"),
      "t=0.7 must dispatch to the prefix path")
    // and the dispatched results agree regardless of branch
    assert(Extensions.capJaccardPairsAuto(grams, "g", 5, 0.85).collect().toSeq ==
      Extensions.capJaccardPairsPrefix(grams, "g", 5, 0.85).collect().toSeq)
    spark.catalog.clearCache() // the prefix helper persists docArr
  }

  test("capJaccardPairs input contract: non-per-doc-distinct rows miscount " +
      "df (the violation is DETECTABLE, not silently absorbed)") {
    // Guard for the r10 contract change: the helpers no longer self-dedup,
    // so (doc, gram) multiplicity IS document frequency to them. This
    // fixture makes the violation visible: gram "h" occurs TWICE in each
    // of docs 0 and 1 — duplicated input reads df=4 > maxDf=3 and drops
    // "h"; the (0,1) pair still surfaces via gram "x" but with inter=1
    // instead of the per-doc-distinct inter=2 (the assertion below checks
    // output INEQUALITY, not pair absence — don't tighten it). If a
    // future edit re-adds internal dedup (absorbing the violation), or a
    // caller regression feeds occurrences, this spec fails loudly.
    graft.functions.VectorExpressions.ensureRegistered(spark)
    import spark.implicits._
    val base = Seq((0L, "h"), (0L, "x"), (1L, "h"), (1L, "x"))
    val dup = base ++ Seq((0L, "h"), (1L, "h"))
    def run(rows: Seq[(Long, String)]) = {
      val out = Extensions.capJaccardPairs(rows.toDF("doc_id", "g"), "g",
        maxDf = 3, minJac = 0.0).as[(Long, Long, Long, Double)].collect().toSeq
      spark.catalog.clearCache()
      out
    }
    val clean = run(base)
    val violated = run(dup)
    assert(clean.map(p => (p._1, p._2, p._3)) == Seq((0L, 1L, 2L)),
      "per-doc-distinct input must keep both shared grams")
    assert(violated != clean,
      "duplicated input no longer changes the output — the helper has " +
        "regained internal dedup; update the docDistinctGrams contract docs")
  }

  test("retention keeps a monotone subset and is idempotent") {
    val gen = for { rows <- eventGen; cut <- Gen.choose(0L, 999L) } yield (rows, cut)
    forAll(gen) { case (rows, cutId) =>
      whenever(rows.nonEmpty) {
        val df = eventsDf(rows)
        val cutoff = new Timestamp(1700000000000L + cutId * 60000)
        val kept = df.filter(col("ts") >= lit(cutoff))
        assert(kept.count() <= df.count())
        assert(kept.filter(col("ts") < lit(cutoff)).isEmpty)
        assert(kept.filter(col("ts") >= lit(cutoff)).count() == kept.count())
      }
    }
  }

  // ─── cdc_chunks (q107's chunker) — unit-level, no Spark jobs ─────────

  private val CdcW = 8

  /** (s, e, h) triples straight off the expression's eval. */
  private def cdc(text: String): Seq[(Long, Long, String)] = {
    val arr = graft.functions.CdcChunks.chunks(
      org.apache.spark.unsafe.types.UTF8String.fromString(text), CdcW)
    (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getLong(0), r.getLong(1), r.getUTF8String(2).toString)
    }
  }

  /** Code points of a string as a vector (chunk ranges are code-point
    * based, so slicing must be too). */
  private def cps(text: String): Vector[Int] =
    text.codePoints().toArray.toVector

  private def cpSlice(text: String, s: Long, e: Long): String = {
    val c = cps(text)
    new String(c.slice(s.toInt - 1, e.toInt).toArray, 0, (e - s + 1).toInt)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // multibyte chars included: the offsets walk is code-point based and a
  // byte-position bug would only show on non-ASCII input
  private val textGen: Gen[String] = Gen.chooseNum(0, 200).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ', 'é', '中', '9'))
      .map(_.mkString))

  test("cdc_chunks exactly partitions any text; every hash is the chunk's md5") {
    forAll(textGen, n = 12) { text =>
      val ch = cdc(text)
      val n = cps(text).length
      if (n == 0) assert(ch.isEmpty)
      else {
        // contiguous 1-based cover: s1 = 1, s_{k+1} = e_k + 1, e_last = n
        assert(ch.head._1 == 1L && ch.last._2 == n.toLong)
        assert(ch.zip(ch.tail).forall { case ((_, e, _), (s2, _, _)) => s2 == e + 1 })
        // reassembly is byte-exact and hashes match per chunk
        assert(ch.map { case (s, e, _) => cpSlice(text, s, e) }.mkString == text)
        assert(ch.forall { case (s, e, h) => h == md5hex(cpSlice(text, s, e)) })
      }
    }
  }

  test("cdc boundaries are phase-invariant: any prefix shifts them, never moves them") {
    // q107's load-bearing claim, generatively: a boundary decision reads
    // only the trailing w code points, so every boundary of `text` at
    // position >= w reappears in `prefix + text` shifted by |prefix| —
    // for ARBITRARY prefix lengths (stride sampling only survives this
    // when |prefix| ≡ 0 mod the stride). Forced final boundaries are
    // excluded on both sides (they ARE position-dependent, by design).
    val gen = for { p <- textGen; t <- textGen } yield (p, t)
    forAll(gen, n = 12) { case (prefix, text) =>
      val np = cps(prefix).length
      val nt = cps(text).length
      whenever(nt >= CdcW) {
        def contentEnds(s: String): Set[Long] = {
          val n = cps(s).length
          cdc(s).map(_._2).filter(_ < n).toSet // drop the forced final end
        }
        val shifted = contentEnds(prefix + text)
          .filter(_ >= np + CdcW).map(_ - np)
          .filter(_ < nt) // t's own forced end never qualifies either
        val direct = contentEnds(text).filter(_ >= CdcW)
        assert(shifted == direct,
          s"prefix len $np moved interior boundaries: $shifted vs $direct")
      }
    }
  }

  test("batched BPE learn + encode round-trips on arbitrary lowercase corpora") {
    import spark.implicits._
    // arbitrary lowercase-word corpora (plus empties and a non-alpha
    // token mixed in) — the q119/q120 chain must round-trip and hold
    // the words <= subwords <= chars law for ALL of them
    val wordGen: Gen[String] = Gen.oneOf(
      Gen.listOfN(3, Gen.oneOf('a', 'b', 'c')).map(_.mkString),
      Gen.listOfN(5, Gen.choose('a', 'f')).map(_.mkString),
      Gen.const("x9z"), Gen.const(""))
    val docGen: Gen[String] = Gen.listOf(wordGen).map(_.mkString(" "))
    forAll(Gen.listOf(docGen), n = 6) { texts =>
      whenever(texts.exists(_.exists(_.isLetter))) {
        val docs = texts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        // tiny alphabets make top pairs interact heavily — exactly the
        // regime where the disjointness filter must stay correct
        val merges = TextAnalysis.learnBpeMergesBatched(docs, 4, 3)
        merges.foreach { m => assert(m._4 == m._2 + m._3 && m._5 > 0L) }
        assert(merges.map(_._1) == (1L to merges.length))
        val (enc, seg) = TextAnalysis.bpeEncodeTokens(docs, merges)
        val joined = docs.join(enc, Seq("doc_id"), "left")
          .select(
            concat_ws("", filter(split(col("text"), " "), w => w =!= ""))
              .as("orig"),
            coalesce(regexp_replace(col("seq"), " ", ""), lit("")).as("rt"),
            coalesce(col("n_subwords"), lit(0L)).as("n_sw"),
            size(filter(split(col("text"), " "), w => w =!= "")).cast("long")
              .as("n_words"))
        assert(joined.filter(col("orig") =!= col("rt")).isEmpty,
          "batched BPE round-trip failed on a generated corpus")
        assert(joined.filter(col("n_sw") < col("n_words")).isEmpty)
        assert(joined.filter(col("n_sw") > length(col("orig")) + 1).isEmpty)
        seg.unpersist()
      }
    }
  }
}
