package graft.perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The fixture tables the operator registry reads, generated from the
  * seed with the schemas of the repository's test tables (FIXTURES.md)
  * at a tenth of sf0.1 (60,000-odd lineitem rows). Each table is one
  * parquet file, `<dir>/<name>.parquet`, as the registry and the DuckDB
  * oracle both expect. Money columns are whole cents over 100, so the
  * DECIMAL casts in the queries and their oracles are exact. */
object TpchGen {
  val Customers = 1500
  val Suppliers = 100
  val Parts = 2000
  val Orders = 15000
  val Events = 2000
  val Documents = 500
  val Embeddings = 100

  private val Words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "line", "sort", "window", "spark", "order",
    "data", "column", "join", "small", "big", "customer", "query", "filter", "group",
    "vector", "stream", "index", "plan", "shuffle", "cache", "state", "sink")
  private val Day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

  private def cents(c: Long): Double = c / 100.0

  private def write(spark: SparkSession, dir: Path, name: String, schema: StructType,
                    rows: Seq[Row]): Unit = {
    val tmp = dir.resolve(s"$name.tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, dir.resolve(s"$name.parquet"))
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
  }

  private def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t) })

  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    Files.createDirectories(dir)
    def rnd(salt: Int) = new java.util.Random(seed * 1000003L + salt)
    val ts = TimestampNTZType

    write(spark, dir, "region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })

    write(spark, dir, "nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType), (0 until 25).map(i => Row(i, f"NATION$i%02d", i % 5)))

    val r1 = rnd(1)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark, dir, "customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (1 to Customers).map(k => Row(k.toLong, f"Customer#$k%09d", r1.nextInt(25),
        cents(r1.nextInt(1100000) - 100000L), segments(r1.nextInt(segments.size)))))

    val r2 = rnd(2)
    write(spark, dir, "supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (1 to Suppliers).map(k => Row(k.toLong, f"Supplier#$k%09d", r2.nextInt(25),
        cents(r2.nextInt(1100000) - 100000L))))

    val r3 = rnd(3)
    write(spark, dir, "part", schema("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (1 to Parts).map(k => Row(k.toLong, s"${Words(r3.nextInt(Words.size))} ${Words(r3.nextInt(Words.size))}",
        s"Brand#${1 + r3.nextInt(5)}${1 + r3.nextInt(5)}",
        Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")(r3.nextInt(6)) + " BRASS",
        1 + r3.nextInt(50), cents(90000L + r3.nextInt(110000)))))

    val r4 = rnd(4)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orders = (1 to Orders).map { k =>
      (k.toLong, 1L + r4.nextInt(Customers), "FOP".charAt(r4.nextInt(3)).toString,
        cents(100000L + r4.nextInt(50000000)), Day0.plusDays(r4.nextInt(2400).toLong),
        priorities(r4.nextInt(priorities.size)))
    }
    write(spark, dir, "orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> ts,
      "o_orderpriority" -> StringType), orders.map(o => Row(o.productIterator.toSeq: _*)))

    val r5 = rnd(5)
    val lines = orders.flatMap { case (ok, _, _, _, day, _) =>
      (1 to 1 + r5.nextInt(7)).map { ln =>
        val qty = 1 + r5.nextInt(50)
        Row(ok, 1L + r5.nextInt(Parts), 1L + r5.nextInt(Suppliers), ln, qty.toDouble,
          cents(qty * (90000L + r5.nextInt(120000))), cents(r5.nextInt(11)), cents(r5.nextInt(9)),
          "ANR".charAt(r5.nextInt(3)).toString, "FO".charAt(r5.nextInt(2)).toString,
          day.plusDays(1L + r5.nextInt(120)))
      }
    }
    write(spark, dir, "lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> ts), lines)

    val r6 = rnd(6)
    val kinds = Seq("signup", "purchase", "error", "click", "view")
    write(spark, dir, "events", schema("event_id" -> LongType, "ts" -> ts, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType),
      (1 to Events).map(k => Row(k.toLong,
        LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(r6.nextInt(30 * 86400).toLong),
        1L + r6.nextInt(1000), kinds(r6.nextInt(kinds.size)), cents(r6.nextInt(100000)),
        s"""{"k": ${r6.nextInt(100)}}""")))

    // word soup; every tenth document is a near copy of the one before it
    // (one word replaced), so the near-duplicate operators find pairs
    val r7 = rnd(7)
    val texts = (0 until Documents).foldLeft(Vector.empty[String]) { (acc, i) =>
      acc :+ (if (i % 10 == 9) {
        val toks = acc(i - 1).split(" ")
        toks.updated(r7.nextInt(toks.length), Words(r7.nextInt(Words.size))).mkString(" ")
      } else Seq.fill(20 + r7.nextInt(60))(Words(r7.nextInt(Words.size))).mkString(" "))
    }
    write(spark, dir, "documents", schema("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      texts.zipWithIndex.map { case (t, i) =>
        Row(i.toLong, t, Seq("en", "es", "de", "fr", "zh")(r7.nextInt(5)), s"src${i % 20}",
          t.length.toLong)
      })

    val r8 = rnd(8)
    write(spark, dir, "embeddings", schema("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until Embeddings).map(i => Row(i.toLong,
        Seq.fill(16)((r8.nextInt(2001) - 1000) / 1000.0f), r8.nextInt(10))))
  }
}

/** Operators and Catalyst planning: a fixed list of `SparkEntry.queries`
  * over the generated fixture tables, warm, in repeated whole passes.
  * The set-up generates the tables and runs untimed warm passes, the
  * first of which writes every result for `perfbench/run.py` to check
  * against DuckDB running `SparkEntry.oracleSql`. */
object QuerySuite extends Workload {
  val name = "query-suite"

  /** six relational queries that cover hash aggregation, shuffle and
    * broadcast joins, ranking windows, exact percentiles and a correlated
    * subquery, and n-gram Jaccard near-duplicate pairs */
  val Queries = Seq("q01_pricing_summary", "q03_join_agg", "q04_broadcast_star_join",
    "q07_window_rank", "q17_percentiles", "q22_correlated_subquery",
    "d02_dedup_ngram_jaccard")

  /** iterative PageRank: nearly as long as the other seven together, so
    * only the traced run adds it to its one timed pass, for its per-layer
    * figures; its result is not checked */
  val TracedOnly = Seq("g01_word_pagerank")

  /** untimed passes in the set-up; the first writes the checked results */
  val WarmPasses = 2

  private def tables(b: Bench) = b.work.resolve("query-suite/tables")
  private def results(b: Bench) = b.work.resolve("query-suite/results")
  private var checkedRows = Map.empty[String, Long]

  def setup(b: Bench): Unit = {
    TpchGen.generate(b.spark, tables(b), b.seed)
    // queries keep speeding up over the first passes: the first warm
    // pass writes every result for the check, the others collect
    val out = results(b)
    Files.createDirectories(out)
    checkedRows = Queries.map { q =>
      val df = SparkEntry.queries(q)(b.spark, tables(b).toString)
      df.coalesce(1).write.parquet(out.resolve(q).toString)
      q -> b.spark.read.parquet(out.resolve(q).toString).count()
    }.toMap
    Files.writeString(out.resolve("oracle_sql.json"),
      Main.json(SparkEntry.oracleSql.filter { case (k, _) => Queries.contains(k) }))
    if (!b.brief) (2 to WarmPasses).foreach(_ => Queries.foreach(execute(b, _)))
  }

  /** runs one query to completion; returns (ok, wall ms, rows) */
  private def execute(b: Bench, q: String): (Boolean, Double, Long) = {
    val t0 = System.nanoTime()
    try {
      val rows = b.rec.span("operators", q) {
        SparkEntry.queries(q)(b.spark, tables(b).toString).collect().length.toLong
      }
      (true, (System.nanoTime() - t0) / 1e6, rows)
    } catch {
      case e: Exception =>
        System.err.println(s"query $q failed: $e")
        (false, (System.nanoTime() - t0) / 1e6, -1L)
    }
  }

  private def measured(b: Bench, pass: Int, q: String): Map[String, Any] = {
    val c0 = if (b.rec.enabled) Some(b.rec.snapshot()) else None
    val startMs = System.currentTimeMillis()
    val spanId = b.rec.current
    val (ok, ms, rows) = execute(b, q)
    val endMs = System.currentTimeMillis()
    var entry = Map[String, Any]("query" -> q, "pass" -> pass, "ms" -> ms, "ok" -> ok,
      "rows" -> rows, "rows_match" -> checkedRows.get(q).forall(_ == rows))
    c0.foreach { c =>
      b.rec.addJobs(spanId, startMs, endMs)
      entry ++= Map("counters" -> (b.rec.snapshot() - c).toMap, "start_ms" -> startMs,
        "end_ms" -> endMs, "jobs_ms" -> b.rec.jobIntervals(startMs, endMs))
    }
    entry
  }

  def run(b: Bench, seconds: Int): Map[String, Any] = {
    // whole passes until the time is up, and at least two of them (one
    // in a brief run), so every query has the same number of samples
    val minPasses = if (b.brief) 1 else 2
    val deadline = System.nanoTime() + seconds * 1000000000L
    var log = Vector.empty[Map[String, Any]]
    var passes = 0
    while (passes < minPasses || System.nanoTime() < deadline) {
      passes += 1
      log ++= (if (b.brief) Queries ++ TracedOnly else Queries).map(measured(b, passes, _))
    }
    // the shuffle exchanges of g01's five-iteration plan, before its
    // lineage is truncated
    val g01Exchanges = if (b.rec.enabled) {
      val (plan, caches) = graft.operators.Graph.g01Plan(b.spark, tables(b).toString)
      try "\\(\\d+\\) Exchange\\b".r.findAllIn(plan.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)).length
      finally caches.foreach(_.unpersist())
    } else -1
    val failed = log.count(e => e("ok") == false || e("rows_match") == false)
    Map(
      "runs" -> log,
      "passes" -> passes,
      "g01_exchanges" -> g01Exchanges,
      // the result check itself runs in run.py, against DuckDB
      "suite" -> Queries,
      "oracle" -> Map("tables" -> tables(b).toString, "results" -> results(b).toString,
        "queries" -> Queries),
      "check" -> Map("rows_per_query" -> checkedRows),
      "correct" -> (failed == 0),
      "attempted" -> log.size,
      "failed" -> failed)
  }
}
