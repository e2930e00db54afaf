package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of the q107 span scrub (Dedup.scrubDupSpans) — the
  * substring-granularity removal step (Lee et al. 2022: cut the shared
  * span, keep the document):
  *
  *  1. PHASE INVARIANCE — the property q102's stride sampling lacks:
  *     shared boilerplate at offsets incongruent mod 10 is cut;
  *  2. canonical keep — the min-doc_id holder of each shared chunk is
  *     byte-untouched;
  *  3. byte preservation — non-span text survives exactly (the scrubbed
  *     text equals the hand-computed complement);
  *  4. idempotence / spans-absent — a second scrub pass rewrites
  *     nothing, on the constructed docs AND the organic fixture (the
  *     scaladoc documents the theoretical non-idempotent re-adjacency
  *     shape; these pin that it does not occur on this data);
  *  5. laws on the fixture: rows preserved, lengths monotone, uncut
  *     docs byte-identical.
  */
class ScrubSpansSpec extends SparkSpec {

  // deterministic pseudo-text without java.util.Random (stable forever)
  private def junk(seed: Int, n: Int, alphabet: String): String = {
    val sb = new StringBuilder
    var x = seed.toLong
    while (sb.length < n) {
      x = (x * 6364136223846793005L + 1442695040888963407L)
      sb.append(alphabet(((x >>> 33) % alphabet.length).toInt))
    }
    sb.toString
  }

  private val boiler = junk(7, 120, "abcdefgh ")
  // boilerplate offsets 100 vs 105 — incongruent mod 10 (phase 0 vs 5)
  private val docA = junk(11, 100, "xyzuvw ") + boiler + junk(13, 80, "pqrst ")
  private val docB = junk(17, 105, "klmno ") + boiler + junk(19, 90, "defgh ")
  private val docC = junk(23, 150, "qrstu ") // no shared content

  private def mk(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("phase-incongruent shared boilerplate is cut from the non-canonical doc only") {
    val docs = mk(1L -> docA, 2L -> docB, 3L -> docC)
    val out = Dedup.scrubDupSpans(docs).orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getAs[String]("scrubbed"), r.getLong(r.fieldIndex("n_spans_cut")))).toMap
    // canonical (min doc_id) byte-untouched
    assert(byId(1L)._1 == docA && byId(1L)._2 == 0L)
    // unrelated doc byte-untouched
    assert(byId(3L)._1 == docC && byId(3L)._2 == 0L)
    // non-canonical: exactly one span cut, and a LARGE part of the
    // 120-char boilerplate is gone (interior chunks; up to ~2 chunk
    // lengths of edge remnants may survive by construction)
    val (b2, n2) = byId(2L)
    assert(n2 == 1L, s"expected 1 span cut in doc 2, got $n2")
    assert(b2.length < docB.length - 60,
      s"expected >60 chars cut, got ${docB.length - b2.length}")
    // byte preservation: the scrubbed text is a prefix+suffix of docB —
    // exactly the complement of ONE contiguous cut
    val cutLen = docB.length - b2.length
    val splitAt = (0 to b2.length).find(i =>
      docB.startsWith(b2.substring(0, i)) &&
        docB.endsWith(b2.substring(i)) &&
        docB.substring(i, i + cutLen).nonEmpty)
    assert(splitAt.isDefined,
      "scrubbed text must be original minus one contiguous span")

    // the CONTRAST that motivated CDC: q102's stride windows see nothing
    // here (offsets 101 vs 106 are incongruent mod 10)
    docs.createOrReplaceTempView("documents")
    val q102 = spark.sql(
      """SELECT doc_id FROM (
        |  SELECT doc_id, explode(transform(
        |    sequence(1L, CAST(length(text) - 29 AS BIGINT), 10L),
        |    i -> md5(substring(text, CAST(i AS INT), 30)))) AS h
        |  FROM documents) a
        |WHERE h IN (
        |  SELECT h FROM (
        |    SELECT DISTINCT doc_id, explode(transform(
        |      sequence(1L, CAST(length(text) - 29 AS BIGINT), 10L),
        |      i -> md5(substring(text, CAST(i AS INT), 30)))) AS h
        |    FROM documents) b
        |  GROUP BY h HAVING count(1) >= 2)""".stripMargin)
    assert(q102.isEmpty,
      "fixture invariant: stride sampling must be blind to this phase pair")
  }

  test("idempotence on constructed docs: a second pass rewrites nothing") {
    val docs = mk(1L -> docA, 2L -> docB, 3L -> docC)
    val once = Dedup.scrubDupSpans(docs)
      .select(col("doc_id"), col("scrubbed").as("text"))
    val twice = Dedup.scrubDupSpans(once).orderBy("doc_id").collect()
    assert(twice.forall(r => r.getLong(r.fieldIndex("n_spans_cut")) == 0L))
    assert(twice.forall(r =>
      r.getAs[String]("scrubbed") == r.getAs[String]("text")))
  }

  test("fixture laws: rows preserved, lengths monotone, uncut docs byte-identical, idempotent") {
    val docs = graft.model.Tables(spark, sf(), "documents")
      .select("doc_id", "text")
    val out = Dedup.scrubDupSpans(docs)
      .persist()
    try {
      assert(out.count() == docs.count(), "scrub must not change row count")
      assert(out.filter(length(col("scrubbed")) > length(col("text"))).isEmpty)
      assert(out.filter(col("n_spans_cut") === 0 &&
        col("scrubbed") =!= col("text")).isEmpty,
        "uncut docs must be byte-identical")
      val cut = out.filter(col("n_spans_cut") > 0)
      assert(!cut.isEmpty, "fixture precondition: some doc should be cut")
      assert(cut.filter(length(col("scrubbed")) >= length(col("text"))).isEmpty,
        "cut docs must shrink")
      // organic idempotence (theoretical re-adjacency shape absent here)
      val second = Dedup.scrubDupSpans(
        out.select(col("doc_id"), col("scrubbed").as("text")))
      assert(second.filter(col("n_spans_cut") > 0).isEmpty,
        "second pass must cut nothing on this fixture")
    } finally {
      out.unpersist()
      spark.catalog.clearCache()
    }
  }

  test("pipeline scrub stage: rows kept, uncut text preserved, scrubbed text differs") {
    val docs = graft.model.Tables(spark, sf(), "documents")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val eval_ = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
    val base = TrainingPipeline.prepare(train, eval_)
    val scrubbed = TrainingPipeline.prepare(train, eval_,
      TrainingPipeline.Config(scrubDupSpans = true))
    try {
      // the scrub rewrites text BEFORE decontamination: some survivor's
      // text differs from the unscrubbed run's for the same doc_id
      val rewritten = scrubbed.survivors
        .select(col("doc_id"), col("text").as("cut"))
        .join(base.survivors.select(col("doc_id"), col("text").as("orig")),
          "doc_id")
        .filter(col("cut") =!= col("orig"))
      assert(!rewritten.isEmpty, "no survivor's text was scrubbed")
      // survivors of both runs agree on doc_id up to decontamination
      // differences induced by the rewrite; on this fixture the scrub
      // only removes grams, so scrubbed-run contamination can only drop
      // and the scrubbed survivor set contains the base one
      val bIds = base.survivors.select("doc_id")
      val sIds = scrubbed.survivors.select("doc_id")
      assert(bIds.exceptAll(sIds).isEmpty,
        "scrubbing must not contaminate previously-clean docs")
      // token conservation still holds through chunk+pack on the
      // SCRUBBED text
      val chunkTokens = scrubbed.survivors
        .select(size(filter(split(col("text"), " "), x => x =!= ""))
          .cast("long").as("n"))
        .filter(col("n") > 0)
        .select(sum(expr(
          """aggregate(sequence(0, CAST(ceil(n / 40.0) AS INT) - 1), 0L,
            |  (acc, i) -> acc + least(50L, n - CAST(i AS BIGINT) * 40))""".stripMargin)))
        .head.getLong(0)
      assert(scrubbed.packed.agg(sum("tok_total")).head.getLong(0) == chunkTokens)
    } finally spark.catalog.clearCache()
  }
}
