package graft.perfbench

import java.sql.Timestamp
import java.time.LocalDateTime
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.ops.{Dedup, Extensions, Multimodal, Reference, Relational,
  Similarity, TextAnalysis, TrainingPipeline, Windows}

/** `batch_suite`: the declared batch queries, family by family, over a
  * generated copy of the ten tables FIXTURES.md describes.
  *
  * The tables are generated from a fixed seed, so their contents (and
  * the goldens in `perfbench/goldens.json`) never change; the run's
  * `--seed` shuffles the query order of every pass. Each query is timed
  * as construction (the DataFrame-building call, which for some queries
  * runs jobs) plus the action (a `noop` write of the full plan), after
  * all persisted RDDs are dropped and the catalog cache is cleared.
  */
object Batch {

  val Families: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Reference" -> Reference.queries, "Relational" -> Relational.queries,
    "Windows" -> Windows.queries, "Extensions" -> Extensions.queries,
    "Dedup" -> Dedup.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Similarity" -> Similarity.queries, "Multimodal" -> Multimodal.queries,
    "TrainingPipeline" -> TrainingPipeline.queries)

  private val familyOf: Map[String, String] =
    Families.flatMap { case (f, qs) => qs.keys.map(_ -> f) }.toMap
  private val fnOf: Map[String, (SparkSession, String) => DataFrame] =
    Families.flatMap(_._2).toMap

  /** The timed suite: one or two queries per family, the cheapest that
    * represent it (q126 is the cheapest composed pipeline), including
    * q62, which the open performance items name. A pass takes about 7 s
    * on 4 cores. The whole 123-query sweep (about 110 s a pass even at
    * this scale), q81 (1.4 s) and the memo-bound q122/q125 (9 s each
    * without their memo) do not fit one run's budget; README.md has the
    * sizing.
    */
  val Suite: Seq[String] = Seq(
    "q01_range_scan_limit", "q48_downsample", "q16_join3_agg_topk", "q62_math_fns",
    "q43_moving_avg_rows", "q72_session_window", "q64_array_fns", "q86_simhash",
    "q90_fingerprint", "q110_pii_redact", "q93_cosine_topk_native",
    "q92_multimodal_decode", "q126_pipeline_pack")

  /** Timed passes after the warm pass; each query reports its median. */
  val TimedPasses = 3

  // ── generated inputs ─────────────────────────────────────────────────

  private val Words = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  /** Writes the ten tables (sf0.001 shapes and value domains, FIXTURES.md)
    * under `dir`, one parquet file each. Same `dataSeed`, same bytes.
    */
  def generate(spark: SparkSession, dir: String, dataSeed: Long = 42L): Unit = {
    val r = new Random(dataSeed)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = Timestamp.valueOf(from.plusDays(r.nextInt(days).toLong))
      .toLocalDateTime
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(n: String, t: DataType) = StructField(n, t)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until 150).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999, 9999), segs(r.nextInt(5)))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until 10).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(0, 9999))))
    val colors = Seq("blue", "cold", "green", "large", "red", "small", "hot", "dark")
    val things = Seq("anvil", "bolt", "gizmo", "ring", "rod", "widget", "nut", "gear")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until 200).map(i => Row(i.toLong, s"${colors(r.nextInt(8))} ${things(r.nextInt(8))}",
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + i / 10.0)))
    val t95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = (0 until 1500).map(_ => day(t95, 2404))
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until 1500).map(i => Row(i.toLong, r.nextInt(150).toLong, Seq("F", "O", "P")(r.nextInt(3)),
        money(1000, 500000), orderDates(i), prios(r.nextInt(5)))))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 6000).map { _ =>
        val o = r.nextInt(1500)
        val q = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(200).toLong, r.nextInt(10).toLong, 1 + r.nextInt(7), q,
          money(900 * q, 2100 * q), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          orderDates(o).plusDays(1L + r.nextInt(120)))
      })
    val t24 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTs = (0 until 1000).map(_ => (r.nextDouble() * 30 * 86400e6).toLong).sorted
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 1000).map(i => Row(i.toLong, t24.plusNanos(evTs(i) * 1000L), r.nextInt(15).toLong,
        evTypes(r.nextInt(5)), money(0, 330), s"""{"k": ${r.nextInt(100)}}""")))
    // word soup; every tenth document repeats an earlier one exactly or
    // with a few words changed, so the dedup families find clusters
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      texts += (
        if (i == 0) ""
        else if (i % 10 == 5 && i > 20) texts(r.nextInt(i - 1) + 1)
        else if (i % 10 == 7 && i > 20) {
          val w = texts(r.nextInt(i - 1) + 1).split(' ')
          (0 until 3).foreach(_ => w(r.nextInt(w.length)) = Words(r.nextInt(Words.size)))
          w.mkString(" ")
        } else Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.size))).mkString(" "))
    }
    val langs = Seq("de", "en", "es", "fr", "zh")
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), langs(r.nextInt(5)), s"src${i % 20}",
        texts(i).length.toLong)))
    val centers = Seq.fill(10)(Array.fill(64)(r.nextGaussian()))
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = r.nextInt(10)
        val v = centers(label).map(_ + 0.6 * r.nextGaussian())
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      })
  }

  // ── output checks ────────────────────────────────────────────────────

  private def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (math.abs(d) < 1e-9) "0" else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case x: Float => canon(x.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** (row count, order-insensitive 64-bit hash of the canonical rows). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    val h = rows.iterator.map { r =>
      val s = canon(r)
      val lo = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      val hi = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      (hi.toLong << 32) ^ (lo.toLong & 0xffffffffL)
    }.sum
    (rows.length.toLong, java.lang.Long.toHexString(h))
  }

  // ── the workload ─────────────────────────────────────────────────────

  private def clean(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** Record goldens for every declared query over the generated tables. */
  def recordGoldens(ctx: Ctx, out: String): Unit = {
    implicit val spark: SparkSession = ctx.spark
    val dir = s"${ctx.workDir}/tables"
    generate(spark, dir)
    val rows = Families.flatMap(_._2.keys).sorted.map { q =>
      clean(spark)
      val (n, h) = fingerprint(fnOf(q)(spark, dir))
      System.err.println(s"[perfbench] golden $q rows=$n hash=$h")
      s"  ${Json(q)}: {\"rows\": $n, \"hash\": \"$h\"}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      rows.mkString("{\n", ",\n", "\n}\n"))
  }

  def run(ctx: Ctx): Result = {
    implicit val spark: SparkSession = ctx.spark
    val tr = ctx.tracer
    val goldens = Goldens.load(ctx.goldensPath)
    val suite = Suite
    val setups = (0 until ctx.setupReps).map { i =>
      val t0 = System.nanoTime()
      generate(spark, s"${ctx.workDir}/tables$i")
      (System.nanoTime() - t0) / 1e9
    }
    val dir = s"${ctx.workDir}/tables${ctx.setupReps - 1}"
    val res = new Result(ctx)
    res.sloMs = 10000.0
    res.setupS = setups

    // warm pass: untimed, and the output check against the goldens
    val w0 = System.nanoTime()
    suite.foreach { q =>
      clean(spark)
      res.attempted += 1
      val ok = try {
        val (n, h) = fingerprint(fnOf(q)(spark, dir))
        goldens.get(q) match {
          case Some((gn, gh)) if gn == n && gh == h => true
          case g =>
            res.note(s"$q output rows=$n hash=$h, golden ${g.getOrElse("missing")}")
            false
        }
      } catch { case e: Throwable => res.note(s"$q failed: $e"); false }
      if (!ok) { res.failed += 1; res.correct = false }
    }

    val warmS = (System.nanoTime() - w0) / 1e9
    val passes = TimedPasses
    val rng = new Random(ctx.seed)
    val construct = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val action = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    ctx.engine.foreach(_.reset())
    val t0 = System.nanoTime()
    (0 until passes).foreach { _ =>
      rng.shuffle(suite).foreach { q =>
        val fam = familyOf(q)
        clean(spark)
        res.attempted += 1
        try tr.span(s"$fam.$q", tr.newTrace()) {
          val a = System.nanoTime()
          val df = tr.span(s"$fam.construct")(fnOf(q)(spark, dir))
          val b = System.nanoTime()
          tr.span(s"$fam.action")(df.write.format("noop").mode("overwrite").save())
          val c = System.nanoTime()
          construct(q) :+= (b - a) / 1e9
          action(q) :+= (c - b) / 1e9
          res.ops(q) = res.ops(q) :+ (c - a) / 1e6
          res.sloAttempted += 1
          if ((c - a) / 1e6 <= res.sloMs) res.sloOk += 1
        } catch {
          case e: Throwable =>
            res.failed += 1; res.sloAttempted += 1; res.note(s"$q failed: $e")
        }
      }
    }
    res.windowS = (System.nanoTime() - t0) / 1e9
    res.windowFromNs = t0
    res.windowToNs = System.nanoTime()
    clean(spark)

    res.artifact("passes") = passes
    res.artifact("warm_pass_s") = warmS
    res.artifact("queries") = suite.map { q =>
      q -> Map("family" -> familyOf(q), "construct_s" -> Stats.median(construct(q)),
        "action_s" -> Stats.median(action(q)), "samples" -> res.ops(q).size)
    }.toMap
    Families.foreach { case (fam, _) =>
      val qs = suite.filter(familyOf(_) == fam)
      res.layer(s"$fam.construct_s") = qs.map(q => Stats.median(construct(q))).sum
      res.layer(s"$fam.action_s") = qs.map(q => Stats.median(action(q))).sum
    }
    res.perPass = passes
    res.opsAreKinds = true
    res
  }
}

/** Goldens: query → (row count, hash), recorded from the program at the
  * commit that introduced the benchmark.
  */
object Goldens {
  def load(path: String): Map[String, (Long, String)] = {
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val re = "\"([^\"]+)\": *\\{\"rows\": *(\\d+), *\"hash\": *\"([0-9a-f]+)\"\\}".r
    re.findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
}
