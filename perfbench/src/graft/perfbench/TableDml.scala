package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.table.GraftTable

/** One row of the `orders`-shaped table: the independent model's view. */
final case class OrderRow(cust: Long, status: String, cents: Long, day: Int)

/** Closed loop, one client: a seeded sequence of INSERT, MERGE, UPDATE
  * and DELETE beside point, range-aggregate and VERSION AS OF reads,
  * issued as SQL through `GraftCatalog` on a keyed table seeded with
  * 150,000 `orders`-shaped rows (the sf0.1 row count). Every statement
  * is mirrored on an in-memory model, which the reads and the final
  * checks are compared against. */
object TableDml extends Workload {
  val name = "table-dml"
  val Table = "bench.orders"
  val BaseRows = 150000L

  private val Day0 = "DATE'1992-01-01'"
  private def price(cents: String) =
    s"CAST(CAST($cents AS DECIMAL(20,0)) / 100 AS DECIMAL(18,2))"

  /** a statement: its op class, SQL, and its effect on the model */
  final case class Stmt(op: String, kind: String, sql: String,
                        apply: Map[Long, OrderRow] => Map[Long, OrderRow])

  // ---- model state, rebuilt by every set-up ------------------------------

  private var rnd: java.util.Random = _
  private var model: Map[Long, OrderRow] = Map.empty
  private var versions: Map[Long, Map[Long, OrderRow]] = Map.empty
  private var nextKey = 0L
  private var location = ""

  private def baseKey(i: Long) = (i / 8) * 32 + (i % 8) + 1
  private val MaxBaseKey = baseKey(BaseRows - 1)

  private def baseModel: Map[Long, OrderRow] =
    (0L until BaseRows).iterator.map { i =>
      baseKey(i) -> OrderRow(1 + (i * 7919) % 15000, Seq("F", "O", "P")((i % 3).toInt),
        (i * 104729) % 50000000, (i % 2400).toInt)
    }.toMap

  /** One round: every statement kind once, in a seeded order, so each
    * round does the same mix of work whatever the seed. */

  val Round = Seq("insert", "merge", "update-by-customer", "update-by-key-range", "delete",
    "read-point", "read-range", "read-version")

  private def nextRound(): Seq[Stmt] = {
    val kinds = new java.util.ArrayList(Round.asJava)
    java.util.Collections.shuffle(kinds, rnd)
    kinds.asScala.toSeq.map(statement)
  }

  /** a statement of the given kind with seeded parameters */
  private def statement(kind: String): Stmt = {
    if (kind == "insert") {
      val (a, n) = (nextKey, 100L + rnd.nextInt(200))
      nextKey += n
      Stmt("insert", "insert", s"INSERT INTO $Table SELECT id, 1 + (id * 31) % 15000, 'N', " +
        s"${price("(id * 7) % 1000000")}, DATE_ADD($Day0, CAST(id % 2400 AS INT)) " +
        s"FROM RANGE($a, ${a + n})",
        m => m ++ (a until a + n).map(k =>
          k -> OrderRow(1 + (k * 31) % 15000, "N", (k * 7) % 1000000, (k % 2400).toInt)))
    } else if (kind == "merge") {
      val s = 1 + rnd.nextInt(MaxBaseKey.toInt)
      val keys = s.toLong until s + 2000L by 7L
      Stmt("merge", "merge",
        s"""MERGE INTO $Table t USING (
           |  SELECT id AS dk, CASE WHEN id % 5 = 0 THEN 'D' ELSE 'U' END AS op,
           |    ${price("id % 1000")} AS amt FROM RANGE($s, ${s + 2000}, 7)) d
           |ON t.o_orderkey = d.dk
           |WHEN MATCHED AND d.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M',
           |  o_totalprice = CAST(t.o_totalprice + d.amt AS DECIMAL(18,2))
           |WHEN NOT MATCHED THEN INSERT
           |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate)
           |  VALUES (d.dk, 1 + (d.dk * 31) % 15000, 'I', d.amt, $Day0)""".stripMargin,
        m => keys.foldLeft(m) { (acc, k) =>
          acc.get(k) match {
            case Some(_) if k % 5 == 0 => acc - k
            case Some(r) => acc.updated(k, r.copy(status = "M", cents = r.cents + k % 1000))
            case None => acc.updated(k, OrderRow(1 + (k * 31) % 15000, "I", k % 1000, 0))
          }
        })
    } else if (kind.startsWith("update")) {
      // by customer touches rows in every file; by key range, a few files
      val bump = (r: OrderRow) => r.copy(status = "U", cents = r.cents + 100)
      val set = s"UPDATE $Table SET o_orderstatus = 'U', " +
        "o_totalprice = CAST(o_totalprice + 1 AS DECIMAL(18,2)) WHERE "
      if (kind == "update-by-customer") {
        val c = 1L + rnd.nextInt(15000)
        Stmt("update", kind, set + s"o_custkey = $c",
          m => m.map { case (k, r) => k -> (if (r.cust == c) bump(r) else r) })
      } else {
        val a = 1L + rnd.nextInt(MaxBaseKey.toInt)
        Stmt("update", kind, set + s"o_orderkey BETWEEN $a AND ${a + 400}",
          m => m.map { case (k, r) => k -> (if (k >= a && k <= a + 400) bump(r) else r) })
      }
    } else if (kind == "delete") {
      val a = 1L + rnd.nextInt(MaxBaseKey.toInt)
      Stmt("delete", "delete", s"DELETE FROM $Table WHERE o_orderkey BETWEEN $a AND ${a + 300}",
        m => m.filter { case (k, _) => k < a || k > a + 300 })
    } else {
      val sql = kind match {
        case "read-point" =>
          s"SELECT o_custkey, o_orderstatus, o_totalprice FROM $Table " +
            s"WHERE o_orderkey = ${1 + rnd.nextInt(MaxBaseKey.toInt)}"
        case "read-range" =>
          val a = 1 + rnd.nextInt(MaxBaseKey.toInt)
          s"SELECT o_orderstatus, COUNT(*), SUM(o_totalprice) FROM $Table " +
            s"WHERE o_orderkey BETWEEN $a AND ${a + 20000} GROUP BY o_orderstatus"
        case _ =>
          val vs = versions.keys.toSeq.sorted
          s"SELECT COUNT(*), SUM(o_totalprice) FROM $Table VERSION AS OF ${vs(rnd.nextInt(vs.size))}"
      }
      Stmt("read", kind, sql, identity)
    }
  }

  private val PointKey = "o_orderkey = (\\d+)".r
  private val Between = "BETWEEN (\\d+) AND (\\d+)".r
  private val AsOf = "VERSION AS OF (\\d+)".r

  /** what the model says a read returns, in the same string form */
  private def expectedRead(s: Stmt): Seq[String] = {
    def money(c: Long) = BigDecimal(c, 2).toString
    s.kind match {
      case "read-point" =>
        val k = PointKey.findFirstMatchIn(s.sql).get.group(1).toLong
        model.get(k).map(r => s"${r.cust}|${r.status}|${money(r.cents)}").toSeq
      case "read-range" =>
        val m = Between.findFirstMatchIn(s.sql).get
        val (a, z) = (m.group(1).toLong, m.group(2).toLong)
        model.filter { case (k, _) => k >= a && k <= z }.values.groupBy(_.status)
          .map { case (st, rs) => s"$st|${rs.size}|${money(rs.map(_.cents).sum)}" }.toSeq.sorted
      case _ =>
        val snap = versions(AsOf.findFirstMatchIn(s.sql).get.group(1).toLong)
        Seq(s"${snap.size}|${if (snap.isEmpty) "null" else money(snap.values.map(_.cents).sum)}")
    }
  }

  private def rowStrings(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(_.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")).toSeq.sorted

  private def headVersion(b: Bench): Long =
    GraftTable.open(b.spark, location, "o_orderkey").head

  /** (files, bytes) under the table's storage location */
  private def storage(): (Long, Long) = {
    val walk = Files.walk(Paths.get(location))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((n, sz), p) => (n + 1, sz + Files.size(p)) }
    finally walk.close()
  }

  /** runs one statement; returns (ok, wall ms, rows as strings) */
  private def execute(b: Bench, s: Stmt): (Boolean, Double, Seq[String]) = {
    val t0 = System.nanoTime()
    try {
      val rows = b.rec.span("table.sql", s.kind) {
        val df = b.spark.sql(s.sql)
        if (s.op == "read") df.collect() else Array.empty[org.apache.spark.sql.Row]
      }
      val ms = (System.nanoTime() - t0) / 1e6
      (true, ms, rowStrings(rows))
    } catch {
      case e: Exception =>
        System.err.println(s"statement failed: ${s.sql}\n$e")
        (false, (System.nanoTime() - t0) / 1e6, Nil)
    }
  }

  /** applies a successful write to the model and records the version it made */
  private def commit(b: Bench, s: Stmt): Unit = if (s.op != "read") {
    model = s.apply(model)
    versions = versions.updated(headVersion(b), model)
  }

  def setup(b: Bench): Unit = {
    val spark = b.spark
    rnd = new java.util.Random(b.seed)
    nextKey = MaxBaseKey + 1000000L
    spark.sql(s"DROP TABLE IF EXISTS $Table")
    spark.sql(s"CREATE TABLE $Table (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DECIMAL(18,2), o_orderdate DATE) " +
      "TBLPROPERTIES ('key' = 'o_orderkey')")
    val wh = spark.conf.get("spark.sql.catalog.bench.warehouse")
    location = Files.readAllLines(Paths.get(s"$wh/orders/catalog.conf")).get(1).trim
    spark.sql(s"INSERT INTO $Table SELECT (id DIV 8) * 32 + id % 8 + 1, " +
      "1 + (id * 7919) % 15000, ELT(CAST(id % 3 AS INT) + 1, 'F', 'O', 'P'), " +
      s"${price("(id * 104729) % 50000000")}, DATE_ADD($Day0, CAST(id % 2400 AS INT)) " +
      s"FROM RANGE(0, $BaseRows, 1, ${b.cores})")
    model = baseModel
    versions = Map(headVersion(b) -> model)
  }

  /** runs a statement of the timed rounds and checks or applies it */
  private def measured(b: Bench, s: Stmt): Map[String, Any] = {
    val before = if (b.rec.enabled) Some((b.rec.snapshot(), storage())) else None
    val startMs = System.currentTimeMillis()
    val spanId = b.rec.current
    val (ok, ms, rows) = execute(b, s)
    val endMs = System.currentTimeMillis()
    var entry = Map[String, Any]("op" -> s.op, "kind" -> s.kind, "ms" -> ms, "ok" -> ok)
    if (ok && s.op == "read") {
      val want = expectedRead(s)
      if (rows != want)
        System.err.println(s"read mismatch: ${s.sql}\n got ${rows.take(5)}\n want ${want.take(5)}")
      entry += ("matches_model" -> (rows == want))
    } else if (ok) commit(b, s)
    before.foreach { case (c0, (files0, bytes0)) =>
      val (files1, bytes1) = storage()
      b.rec.addJobs(spanId, startMs, endMs)
      entry ++= Map("counters" -> (b.rec.snapshot() - c0).toMap,
        "start_ms" -> startMs, "end_ms" -> endMs,
        "jobs_ms" -> b.rec.jobIntervals(startMs, endMs),
        "files_added" -> (files1 - files0), "bytes_written" -> math.max(0L, bytes1 - bytes0))
    }
    entry
  }

  def run(b: Bench, seconds: Int): Map[String, Any] = {
    // one untimed warm-in round, then at least two timed ones (one in a
    // brief run)
    val (warmRounds, minRounds) = if (b.brief) (1, 1) else (1, 2)
    b.rec.span("warm-in", name) {
      (1 to warmRounds).foreach(_ => nextRound().foreach(s => if (execute(b, s)._1) commit(b, s)))
    }
    // whole rounds until the time is up, and at least minRounds of them,
    // so every run does the same mix of work
    val deadline = System.nanoTime() + seconds * 1000000000L
    var log = Vector.empty[Map[String, Any]]
    var rounds = 0
    while (rounds < minRounds || System.nanoTime() < deadline) {
      rounds += 1
      log ++= nextRound().map(measured(b, _))
    }
    val failed = log.count(_("ok") == false)
    val mismatched = log.count(_.get("matches_model").contains(false))
    // final checks, untimed: the head and one mid-sequence version
    // against the model
    val (headOk, midOk, midVersion) = b.rec.span("check", "table-model") {
      def table(v: Option[Long]): Map[Long, OrderRow] =
        b.spark.sql(s"SELECT * FROM $Table" + v.fold("")(x => s" VERSION AS OF $x")).collect()
          .map(r => r.getLong(0) -> OrderRow(r.getLong(1), r.getString(2),
            r.getDecimal(3).movePointRight(2).longValueExact(),
            (r.getDate(4).toLocalDate.toEpochDay - java.time.LocalDate.of(1992, 1, 1).toEpochDay).toInt))
          .toMap
      val vs = versions.keys.toSeq.sorted
      val mid = vs(vs.size / 2)
      (table(None) == model, table(Some(mid)) == versions(mid), mid)
    }
    val filesLive = if (b.rec.enabled) {
      val h = GraftTable.open(b.spark, location, "o_orderkey").history()
        .orderBy(org.apache.spark.sql.functions.col("version").desc).head()
      h.getInt(1) + h.getInt(2)
    } else -1
    Map(
      "statements" -> log,
      "check" -> Map("head_matches_model" -> headOk, "mid_version" -> midVersion,
        "mid_version_matches_model" -> midOk, "read_mismatches" -> mismatched,
        "rows" -> model.size, "versions" -> versions.size),
      "files_live_end" -> filesLive,
      "correct" -> (headOk && midOk && mismatched == 0 && failed == 0),
      "attempted" -> log.size,
      "failed" -> (failed + mismatched))
  }
}
