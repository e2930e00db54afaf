package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-soak corpus builder (test-scoped main) — materializes the N×
  * corpus behind SURVEY §8's measured scaling decades, so the soak is
  * reproducible from the repo instead of from a session-local script.
  *
  * Usage: `sbt "Test/runMain graft.ops.ScaleCorpus <srcSfDir> <outDir> <N>"`
  * (e.g. `/root/testdata/sf0.1 /tmp/scale10 10`).
  *
  * Construction: N isomorphic replicas of the source, replica 0 the
  * identity, built so that per-replica structure is EXACTLY the
  * source's while replicas never interact:
  *
  *  - `documents`: ids offset by 10M per replica; text remapped by a
  *    per-replica letter bijection — replicas 0-25 Caesar-rotate by r
  *    (`translate` over both cases, byte-identical to the pre-r9
  *    construction), replicas ≥ 26 map a-zA-Z onto a DISJOINT 52-char
  *    unicode block (CJK range, one block per replica). Either way the
  *    mapping is a bijection on code points, so word lengths, gram
  *    document frequencies (grams are code-point based — see
  *    TextExpressions.offsets), and within-replica duplicate structure
  *    are preserved verbatim; the unicode blocks make cross-replica
  *    gram overlap zero BY CONSTRUCTION (disjoint char sets), which the
  *    Caesar decade could only claim empirically. This lifts the old
  *    N ≤ 26 rotation cap to the ~100× third soak point.
  *  - `embeddings`: ids offset by 10M; vectors circularly shifted by
  *    r % dim and, for r ≥ dim, sign-flipped on the dims selected by a
  *    per-replica mask (both orthogonal maps: all within-replica inner
  *    products are preserved exactly; shifted/flipped copies of
  *    near-orthogonal random vectors stay decorrelated across
  *    replicas).
  *  - `lineitem`/`orders`: order keys offset by 100M per replica —
  *    facts scale N×, the order⋈lineitem key structure stays
  *    within-replica — while every dimension key (custkey, partkey,
  *    suppkey) is left untouched: dims stay FIXED, the 100 TB shape
  *    (big facts, small dims) rather than a uniform blow-up.
  *  - `events`: event AND user ids offset by 10M — each replica is its
  *    own user population, so per-user series/session/window structure
  *    replicates instead of stacking duplicate timestamps per user.
  *  - dims (`customer supplier part nation region`): copied as-is.
  *
  * The construction is validated downstream by [[ScaleProbe]] row
  * counts: fact-proportional outputs must scale exactly N×,
  * fixed-cardinality groupings must not move — any cross-replica
  * contamination breaks those laws loudly.
  */
object ScaleCorpus {
  private val IdOff = 10000000L
  private val KeyOff = 100000000L

  /** Per-replica letter bijection (from, to) for `translate`.
    * r < 26: Caesar rotation (the original decade construction).
    * r ≥ 26: a-zA-Z → 52 consecutive code points from the CJK block at
    * U+4E00 + (r-26)*52 — disjoint across replicas and from ASCII, so
    * cross-replica gram overlap is structurally zero. All targets are
    * BMP single-UTF-16-unit code points: `length`-based stats and
    * code-point-based gramming see the same counts as the source.
    */
  private def rotated(r: Int): (String, String) = {
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    if (r < 26) {
      def rot(s: String) = s.drop(r % 26) + s.take(r % 26)
      (lower + upper, rot(lower) + rot(upper))
    } else {
      val base = 0x4E00 + (r - 26) * 52
      (lower + upper, (0 until 52).map(i => (base + i).toChar).mkString)
    }
  }

  private def replicate(src: DataFrame, n: Int)(one: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(one(src, _)).reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleCorpus <srcSfDir> <outDir> <N>")
    val Array(srcDir, outDir, nStr) = args
    val n = nStr.toInt
    // 128: the embedding variant space is shift (dim=64) × flip mask
    // (f = r/64 ∈ {0,1} here); the document alphabet blocks would carry
    // ~400 before exhausting the CJK range
    require(n >= 1 && n <= 128,
      s"N=$n out of range: embedding variants (shift x flip) support at most 128 replicas")
    // SPARK_GRAFT_TABLES=documents,embeddings restricts the build — the
    // ~100x third soak point only needs the docs-family tables, and the
    // fact tables at 100x would cost disk the probe never reads
    val tableFilter = sys.env.get("SPARK_GRAFT_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(t: String): Boolean = tableFilter.forall(_.contains(t))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.localSession(cpus, cpus)
    def read(t: String)  = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scale-corpus] wrote $t: ${spark.read.parquet(s"$outDir/$t.parquet").count()} rows")
    }

    if (wanted("documents")) write(replicate(read("documents"), n) { (d, r) =>
      val (from, to) = rotated(r)
      d.select(
        (col("doc_id") + lit(r * IdOff)).as("doc_id"),
        translate(col("text"), from, to).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    if (wanted("embeddings")) {
      // the shift wraps at the data's dimensionality; flip masks extend
      // the variant space beyond it (see scaladoc)
      val dim = read("embeddings").select(size(col("embedding"))).head.getInt(0)
      write(replicate(read("embeddings"), n) { (e, r) =>
        val s = r % dim
        val f = r / dim
        // circular left-shift by s: tail ++ head (slice len 0 = empty)
        val shifted = concat(
          slice(col("embedding"), lit(s + 1), size(col("embedding")) - lit(s)),
          slice(col("embedding"), lit(1), lit(s)))
        // f >= 1: negate dims where bit (f-1) of the 0-based index is
        // set — a diagonal ±1 map, orthogonal, so within-replica inner
        // products are exact while same-shift replicas decorrelate
        val variant =
          if (f == 0) shifted
          else {
            val p = 1 << (f - 1)
            zip_with(shifted, sequence(lit(0), lit(dim - 1)),
              (x, i) => when(i.cast("int").bitwiseAND(lit(p)) =!= 0, -x).otherwise(x))
          }
        e.select(
          (col("vec_id") + lit(r * IdOff)).as("vec_id"),
          variant.as("embedding"),
          col("label"))
      }, "embeddings")
    }

    if (wanted("lineitem")) write(replicate(read("lineitem"), n) { (l, r) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(r * KeyOff))
    }, "lineitem")

    if (wanted("orders")) write(replicate(read("orders"), n) { (o, r) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(r * KeyOff))
    }, "orders")

    // events' time encoding varies by testdata generation (ns BIGINT via
    // nanosAsLong, or µs TIMESTAMP_NTZ — see graft.model.Tables); read
    // RAW here so the time column round-trips byte-identical and the
    // replica reads exactly like the source through Tables' adaptive
    // loader
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if (wanted("events")) write(replicate(read("events"), n) { (e, r) =>
      e.withColumn("event_id", col("event_id") + lit(r * IdOff))
        .withColumn("user_id", col("user_id") + lit(r * IdOff))
    }, "events")

    for (t <- Seq("customer", "supplier", "part", "nation", "region") if wanted(t))
      write(read(t), t)

    spark.stop()
  }
}
