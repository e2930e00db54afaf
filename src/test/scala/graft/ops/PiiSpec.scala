package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of q110's PII redaction (TextAnalysis.redactPii):
  *
  *  1. each class detects and redacts (email/phone/IPv4 → typed marker);
  *  2. clean text is byte-preserved;
  *  3. fixed precedence — an IP-shaped domain inside an email is ONE
  *     email, not an email plus an IP;
  *  4. idempotence — markers contain no digits or '@', so a second pass
  *     rewrites nothing (the law the q110 scaladoc states);
  *  5. adjacency — runs of PII split into per-item matches, never one
  *     mega-match, and replacement count equals detection count;
  *  6. the pipeline stage redacts survivors and audits rewritten docs.
  */
class PiiSpec extends SparkSpec {

  private def redact(texts: String*): Seq[String] = {
    val s = spark
    import s.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
  }

  test("each PII class redacts to its typed marker") {
    val out = redact(
      "write to alice.smith+x@corp.example.org today",
      "call 555-867-5309 now",
      "server at 192.168.10.254 is down")
    assert(out(0) == "write to <EMAIL> today")
    assert(out(1) == "call <PHONE> now")
    assert(out(2) == "server at <IP> is down")
  }

  test("clean text is byte-preserved (incl. near-misses)") {
    val clean = Seq(
      "no pii here at all",
      "version 1.2 of thing 3",            // too few octets for an IP
      "ratio 12-34 and 123-456-78",        // phone shape incomplete
      "user at example dot com",           // no @
      "")
    assert(redact(clean: _*) == clean)
  }

  test("precedence: octet run inside a valid email is ONE email; numeric-TLD address is not an email") {
    val out = redact(
      "mail u@10.0.0.1.example.com or ping 10.0.0.2",
      "mail root@10.0.0.1 instead")
    assert(out(0) == "mail <EMAIL> or ping <IP>")
    // TLD must be alphabetic — root@10.0.0.1 is no email, its IP still redacts
    assert(out(1) == "mail root@<IP> instead")
  }

  test("idempotence: a second pass rewrites nothing") {
    val mixed = Seq(
      "a@b.co and 1.2.3.4 and 555-000-1111 and plain words",
      "stacked 1.2.3.4.5.6.7.8 octets",
      "two mails x@y.de z@w.fr")
    val once = redact(mixed: _*)
    assert(redact(once: _*) == once)
    // and the stacked-octet case split into two IPs, leftmost-first
    assert(once(1) == "stacked <IP>.<IP> octets")
  }

  test("q110 count law: detection counts equal replacement counts (marker tally)") {
    val rows = graft.SparkEntry.queries("q110_pii_redact")(spark, sf())
      .agg(sum("n_emails"), sum("n_phones"), sum("n_ips")).head()
    // doc_ids 0..499: every 3rd gets an email, every 4th a phone, every
    // 5th an IP — the planted ground truth
    assert(rows.getLong(0) == (0L until 500L).count(_ % 3 == 0))
    assert(rows.getLong(1) == (0L until 500L).count(_ % 4 == 0))
    assert(rows.getLong(2) == (0L until 500L).count(_ % 5 == 0))
  }

  test("pipeline PII stage: survivors carry no detectable PII, redacted text differs") {
    val s = spark
    import s.implicits._
    val docs = graft.model.Tables(spark, sf(), "documents")
      // plant PII on the real corpus the same way q110 does, so the
      // stage has work to do end-to-end
      .withColumn("text", concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit(""))))
    val evalDocs = Seq((900000L, "held out benchmark prose"))
      .toDF("doc_id", "text")
    val res = TrainingPipeline.prepare(docs, evalDocs,
      TrainingPipeline.Config(redactPii = true))
    try {
      // the stage rewrote text: some survivor differs from its input row
      val rewritten = res.survivors.select(col("doc_id"), col("text").as("out"))
        .join(docs.select(col("doc_id"), col("text").as("in")), "doc_id")
        .filter(col("out") =!= col("in"))
      assert(!rewritten.isEmpty, "no survivor's text was redacted")
      val dirty = res.survivors.filter(
        col("text").rlike(TextAnalysis.EmailRe) ||
        col("text").rlike(TextAnalysis.PhoneRe) ||
        col("text").rlike(TextAnalysis.Ipv4Re)).count()
      assert(dirty == 0, s"$dirty survivors still carry PII")
      // and the planted markers actually made it through
      assert(res.survivors.filter(col("text").contains("<EMAIL>")).count() > 0)
    } finally {
      res.release()
      spark.catalog.clearCache()
    }
  }
}
