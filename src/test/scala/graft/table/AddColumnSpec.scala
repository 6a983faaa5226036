package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** ADD COLUMN with write-time defaults (x56 — Delta's `ALTER TABLE
  * ... ADD COLUMN` + column defaults, completing the rename/drop/add
  * evolution verbs over `kind = "addcol"` manifest rows). Pins what
  * the gated query's hash cannot see: zero data files touched, the
  * non-retroactive default boundary (pre-add rows NULL, post-add
  * inserts filled, explicit values win), file narrowness without a
  * default, guards (duplicate/retired/non-constant/uncastable), the
  * rename/drop interplay, a mid-race declaration forcing the full
  * re-compose, and the change feed across the declaration boundary. */
class AddColumnSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Long*) = ks.map(k => (k, s"s$k")).toDF("k", "v")

  test("add is metadata-only; old rows NULL, appends fill the default, explicit wins") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-basic"), "k", rows(1L to 6L: _*))
    val v1Files = t.filesOf(1)
    assert(t.addColumn("tier", StringType, Some("'std'")) == 2)
    assert(t.filesOf(2) == v1Files,
      "an add must not touch, add, or remove one data file")
    assert(t.read().columns.toSeq == Seq("k", "v", "tier"))
    assert(t.read().where(col("k") === 3).head.isNullAt(2),
      "pre-add rows read NULL — defaults are never retroactive")
    assert(t.read(1).columns.toSeq == Seq("k", "v"),
      "time travel below the add serves the old schema")
    t.append(rows(7, 8)) // omits tier -> default materializes
    assert(t.read().where(col("k") === 7).head.getString(2) == "std")
    t.append(Seq((9L, "s9", "gold")).toDF("k", "v", "tier"))
    assert(t.read().where(col("k") === 9).head.getString(2) == "gold",
      "an explicit value must win over the default")
    assert(t.read().where(col("k") === 1).head.isNullAt(2),
      "old rows stay NULL after post-add writes")
  }

  test("no-default add: reads NULL, post-add files stay narrow") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-nodefault"), "k", rows(1, 2))
    t.addColumn("note", StringType, None)
    t.append(rows(3))
    assert(t.read().columns.toSeq == Seq("k", "v", "note"))
    assert(t.read().select(col("note")).collect().forall(_.isNullAt(0)))
    // the appended file's recorded schema must NOT carry the column —
    // the reader's NULL fill is identical and the file stays narrower
    val appended = t.manifestOf(3).filter(r =>
      r.kind == "data" && !t.filesOf(2).contains(r.file))
    assert(appended.nonEmpty &&
      appended.forall(!_.schemaJson.contains("note")))
  }

  test("merge and overwriteWhere fill the default on the incoming side only") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-merge"), "k", rows(1L to 8L: _*))
    t.addColumn("tier", StringType, Some("'std'"))
    // upsert of k=2 (existing) and k=20 (insert), both omitting tier
    t.merge(rows(2, 20))
    val byK = t.read().select(col("k"), col("tier")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(byK(2L) == "std" && byK(20L) == "std",
      "merge rows that omit the column get the default")
    assert(byK(1L) == null && byK(8L) == null,
      "rows the merge carried (rewritten or not) keep their NULL")
    // a backfill window replaced without the column gets it too
    t.overwriteWhere(col("k") >= 7 && col("k") <= 8, rows(7, 8))
    val after = t.read().select(col("k"), col("tier")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    assert(after(7L) == "std" && after(8L) == "std")
    assert(after(3L) == null)
  }

  test("guards: duplicate, declared twice, retired name, non-constant or uncastable default") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-guards"), "k", rows(1, 2))
    intercept[IllegalArgumentException] {
      t.addColumn("v", StringType, None) // exists
    }
    intercept[IllegalArgumentException] {
      t.addColumn("not ok", StringType, None) // not an identifier
    }
    intercept[IllegalArgumentException] {
      t.addColumn("bad", IntegerType, Some("k + 1")) // references a column
    }
    intercept[Exception] {
      t.addColumn("bad2", IntegerType, Some("'abc'")) // uncastable (ANSI)
    }
    t.renameColumn("v", "label")
    intercept[IllegalArgumentException] {
      t.addColumn("v", StringType, None) // retired physical name
    }
    t.addColumn("tier", StringType, Some("'std'"))
    intercept[IllegalArgumentException] {
      t.addColumn("tier", StringType, None) // already declared
    }
    assert(t.head == 3) // v2 rename, v3 the one successful add
  }

  test("rename/drop interplay: the default follows a rename, dies with the drop") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-remap"), "k", rows(1, 2))
    t.addColumn("tier", StringType, Some("'std'")) // v2
    t.renameColumn("tier", "grade")                // v3
    t.append(rows(3)) // omits grade -> default fills under the NEW name
    assert(t.read().columns.toSeq == Seq("k", "v", "grade"))
    assert(t.read().where(col("k") === 3).head.getString(2) == "std")
    t.dropColumn("grade")                          // v5
    assert(t.read().columns.toSeq == Seq("k", "v"))
    t.append(rows(4)) // the dropped declaration must NOT resurrect
    assert(t.read().columns.toSeq == Seq("k", "v"))
    intercept[IllegalArgumentException] {
      t.addColumn("tier", StringType, None) // retired physical name
    }
  }

  test("a mid-race declaration costs a racing merge its rebase (full re-compose)") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-race"), "k", rows(1L to 6L: _*))
    val t2 = GraftTable.open(spark, t.root, "k")
    // t2's merge stages, then t declares the column inside the race
    // window: the loser must re-compose (stage twice), and its
    // re-staged insert must carry the NEW default
    var fired = false
    t2.beforePublishHook = () => {
      if (!fired) { fired = true
        t.addColumn("tier", StringType, Some("'std'")) }
    }
    t2.stageCounter.set(0)
    t2.merge(rows(10))
    assert(t2.stageCounter.get() >= 2,
      "a metadata commit in the race window must force the re-compose")
    assert(t2.read().where(col("k") === 10).head.getString(2) == "std",
      "the re-composed insert must see the mid-race default")
  }

  test("a mid-race declaration re-stages a racing APPEND (stage-once staleness)") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-appendrace"), "k",
      rows(1L to 4L: _*))
    val t2 = GraftTable.open(spark, t.root, "k")
    // t2's append stages against the pre-add metadata; the declaration
    // lands inside the publish window — the commit loop must
    // discard and re-stage so the committed rows carry the default
    var fired = false
    t2.beforePublishHook = () => {
      if (!fired) { fired = true
        t.addColumn("tier", StringType, Some("'std'")) }
    }
    t2.stageCounter.set(0)
    t2.append(rows(10))
    t2.beforePublishHook = () => ()
    assert(t2.stageCounter.get() >= 2,
      "a metadata commit after our stage must force a re-stage")
    assert(t2.read().where(col("k") === 10).head.getString(2) == "std",
      "the re-staged append must materialize the mid-race default")
    assert(t2.read().where(col("k") === 1).head.isNullAt(2),
      "pre-add rows stay NULL")
  }

  test("changes() spans the declaration boundary; count() stays metadata-only") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-cdf"), "k", rows(1, 2)) // v1
    t.addColumn("tier", StringType, Some("'std'"))                 // v2
    t.append(rows(3))                                              // v3
    val feed = t.changes(1, 3)
    assert(feed.columns.toSeq == Seq("k", "v", "tier", "change_type"))
    val ins = feed.where(col("change_type") === "insert").collect()
    assert(ins.map(_.getLong(0)).toSeq == Seq(3L) &&
      ins.head.getString(2) == "std")
    // the count fast path must survive data-less metadata rows
    assert(t.count() == 3L)
    // declared-only empty table reads as an empty typed frame
    val e = GraftTable.open(spark,
      graft.util.Scratch.dir("graft-addcol-empty"), "k")
    e.addColumn("flag", LongType, Some("1"))
    assert(e.read().columns.toSeq == Seq("flag") && e.read().count() == 0)
    e.append(Seq((1L, "a")).toDF("k", "v"))
    assert(e.read().where(col("k") === 1).select(col("flag"))
      .head.getLong(0) == 1L, "the pre-data declaration fills on ingest")
  }

  test("enforce mode re-records the schema across the add") {
    val t = GraftTable.create(spark,
      graft.util.Scratch.dir("graft-addcol-enforce"), "k", rows(1, 2))
    t.setSchemaMode("enforce")
    t.addColumn("tier", StringType, Some("'std'"))
    t.append(rows(3)) // filled to the full recorded schema -> accepted
    assert(t.read().where(col("k") === 3).head.getString(2) == "std")
    // drift beyond the declared set still rejects
    intercept[IllegalArgumentException] {
      t.append(Seq((4L, "s4", "x", 1L)).toDF("k", "v", "tier", "extra"))
    }
  }
}
