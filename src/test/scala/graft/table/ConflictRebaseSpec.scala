package graft.table

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** LOGICAL CONFLICT DETECTION on lost commit races (round-14 verdict
  * #1 — Delta's conflict checker): a merge/delete that loses the slot
  * race used to delete its staged files and re-run the WHOLE mutation,
  * re-paying O(matched-file bytes) of COW rewrite per interleaved
  * commit. Now the loser diffs its compose base against the new head:
  * DISJOINT winners (no removed/rewritten dependency, no key/predicate
  * overlap in their adds, no new DV on a read file) rebase
  * METADATA-ONLY — `stage()` runs once, witnessed by the per-handle
  * stage counter; overlapping winners still force the full re-compose,
  * witnessed the same way. The deterministic race window is the
  * `beforePublishHook` seam (fires between compose and the publish
  * attempt). */
class ConflictRebaseSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(ks: Seq[Long], tag: String = "s") =
    ks.map(k => (k, s"$tag$k")).toDF("k", "v")

  private def kv(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** a fresh 6-file range-clustered table over keys 1..60 plus a
    * second handle that plays the racing writer */
  private def fixture(name: String): (GraftTable, GraftTable) = {
    val t = GraftTable.create(spark, graft.util.Scratch.dir(name), "k",
      rows(1L to 60L).repartitionByRange(6, col("k"))
        .sortWithinPartitions("k"))
    (t, GraftTable.open(spark, t.root, "k"))
  }

  /** no `.staging-*` markers and no unreferenced data dirs left behind
    * — the orphan check a marker-respecting vacuum can't make (it
    * SKIPS marked dirs silently) */
  private def assertNoOrphans(t: GraftTable): Unit = {
    val data = new java.io.File(s"${t.root}/data")
    val markers = Option(data.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".staging-"))
    assert(markers.isEmpty,
      s"left-behind staging markers: ${markers.map(_.getName).toSeq}")
    assert(GraftTable.open(spark, t.root, "k")
      .expire(keepLast = t.head.toInt).isEmpty,
      "every physical file must be referenced by a retained manifest")
  }

  /** arm `loser` to lose its first publish attempt to `interleave` */
  private def armRace(loser: GraftTable)(interleave: => Unit): Unit = {
    var fired = false
    loser.beforePublishHook = () =>
      if (!fired) { fired = true; interleave }
  }

  test("disjoint-key merge vs append: the loser re-points, stage() runs ONCE") {
    val (t, other) = fixture("graft-race-disjoint")
    armRace(t) { other.append(rows(1000L to 1005L, "a")) }
    t.stageCounter.set(0)
    val v = t.merge(rows(Seq(3L, 30L), "U"))
    t.beforePublishHook = () => ()
    assert(v == 3, "create=v1, interleaved append=v2, rebased merge=v3")
    assert(t.stageCounter.get == 1,
      "a DISJOINT lost race must re-compose metadata-only, never re-stage")
    // the rebased manifest serves both writers' rows exactly
    val got = kv(t.read())
    assert(got(3L) == "U3" && got(30L) == "U30")
    assert((1000L to 1005L).forall(k => got(k) == s"a$k"))
    assert(got.size == 66)
    // and the loser's staged files are live table files, not orphans
    assertNoOrphans(t)
  }

  test("overlapping-key merge vs append: the loser re-stages and wins correctness") {
    val (t, other) = fixture("graft-race-overlap")
    armRace(t) { other.append(rows(Seq(61L), "a")) } // 61 ∈ delta keys
    t.stageCounter.set(0)
    val v = t.merge(rows(Seq(30L, 61L), "U"))
    t.beforePublishHook = () => ()
    assert(v == 3)
    assert(t.stageCounter.get == 2,
      "an overlapping add MUST force the full re-compose")
    val got = kv(t.read())
    assert(got(61L) == "U61",
      "the re-composed merge must upsert over the interleaved row")
    assert(got(30L) == "U30" && got.size == 61)
  }

  test("delete vs disjoint append rebases; vs stats-matching append re-composes") {
    val (t, other) = fixture("graft-race-del")
    // range predicates are what the min/max rebase check can prove
    // disjoint (a modulo predicate is conservatively "may match" and
    // re-stages — pruning-grade fidelity, never wrong)
    armRace(t) { other.append(rows(Seq(1001L), "a")) } // outside [10, 20)
    t.stageCounter.set(0)
    t.delete(col("k") >= 10 && col("k") < 20)
    t.beforePublishHook = () => ()
    assert(t.stageCounter.get == 1, "non-matching interleaved add: rebase")
    val got = kv(t.read())
    assert(!(10L until 20L).exists(got.contains))
    assert(got.contains(1001L) && got.size == 51)
    // now a stats-MATCHING interleaved add: the delete must cover it
    armRace(t) { other.append(rows(Seq(25L), "a")) } // inside [20, 30)
    t.stageCounter.set(0)
    t.delete(col("k") >= 20 && col("k") < 30)
    t.beforePublishHook = () => ()
    assert(t.stageCounter.get == 2, "matching add forces re-compose")
    assert(!kv(t.read()).contains(25L),
      "a matching interleaved add must not survive the delete")
  }

  test("MoR delete vs a merge rewriting a matched file: positions re-stage") {
    val (t, other) = fixture("graft-race-mor")
    // the interleaved merge rewrites the file holding key 5 — the MoR
    // delete's (file, pos) rows for that file would be stale
    armRace(t) { other.merge(rows(Seq(6L), "W")) }
    t.stageCounter.set(0)
    t.delete(col("k") === 5, mode = "mor")
    t.beforePublishHook = () => ()
    assert(t.stageCounter.get == 2,
      "a rewritten read-file invalidates DV positions: full re-compose")
    val got = kv(t.read())
    assert(!got.contains(5L) && got(6L) == "W6" && got.size == 59)
  }

  test("a replayed txn that lands via a racing writer aborts the loser as a no-op") {
    val (t, other) = fixture("graft-race-txn")
    armRace(t) { other.merge(rows(Seq(7L), "T"), txn = 99L) }
    val v = t.merge(rows(Seq(7L), "T"), txn = 99L)
    t.beforePublishHook = () => ()
    assert(v == 2, "the loser must observe the committed txn and no-op")
    assert(t.head == 2, "exactly one commit for one batch id")
    assert(kv(t.read())(7L) == "T7")
    // the aborted attempt's staged files must be gone (no orphans)
    assertNoOrphans(t)
  }

  test("a constraint added mid-race rejects a rebasing writer's violating rows") {
    // round-15 verdict #7: constraints live in a side file stage()
    // validates against, so a constraint added between a racing
    // writer's stage and its publish used to rebase the loser's
    // already-validated (now-violating) rows in silently. addCheck is
    // now a VERSIONED metadata commit (a `prop` fingerprint row): the
    // loser loses the slot race, canRebase sees the fingerprint
    // change, and the forced re-compose re-validates — the violating
    // merge aborts loudly, the table keeps only the constraint commit.
    val (t, other) = fixture("graft-race-check-add")
    armRace(t) { other.addCheck("v_no_bad", "v NOT LIKE 'BAD%'") }
    val ex = intercept[IllegalArgumentException] {
      t.merge(rows(Seq(3L), "BAD"))
    }
    t.beforePublishHook = () => ()
    assert(ex.getMessage.contains("v_no_bad"),
      s"the abort must name the mid-race constraint: ${ex.getMessage}")
    assert(t.head == 2, "only the constraint's metadata commit may land")
    val got = kv(t.read())
    assert(got.size == 60 && got(3L) == "s3",
      "nothing of the violating merge may be visible")
    assertNoOrphans(t)
  }

  test("a COMPLIANT mutation racing a constraint add re-stages (never rebases past it)") {
    val (t, other) = fixture("graft-race-check-ok")
    armRace(t) { other.addCheck("v_nonempty", "length(v) > 0") }
    t.stageCounter.set(0)
    val v = t.merge(rows(Seq(1000L), "ok")) // disjoint keys, valid rows
    t.beforePublishHook = () => ()
    assert(v == 3, "constraint commit = v2, re-composed merge = v3")
    assert(t.stageCounter.get == 2,
      "a metadata change must force the full re-compose (re-validate), " +
        "even for a key-disjoint loser")
    assert(kv(t.read())(1000L) == "ok1000")
    assertNoOrphans(t)
  }

  test("rebase survives a CHAIN of disjoint winners (multi-loss window)") {
    val (t, other) = fixture("graft-race-chain")
    var fires = 0
    t.beforePublishHook = () =>
      if (fires < 3) { fires += 1; other.append(rows(Seq(900L + fires), "a")) }
    t.stageCounter.set(0)
    val v = t.merge(rows(Seq(12L), "U"))
    t.beforePublishHook = () => ()
    assert(v == 5 && t.stageCounter.get == 1,
      "three interleaved disjoint appends, still one stage pass")
    val got = kv(t.read())
    assert(got(12L) == "U12" && Seq(901L, 902L, 903L).forall(got.contains))
  }

  test("REPLACE racing an append serializes: replacement wins the head") {
    val (t, other) = fixture("graft-race-replace")
    armRace(t) { other.append(rows(Seq(500L), "a")) }
    val declared = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val v = t.replaceTable(rows(Seq(7L, 8L), "R"), declared)
    t.beforePublishHook = () => ()
    assert(v == 3, "create=v1, interleaved append=v2, replace=v3")
    // REPLACE is serialized LAST: the head is the replacement ALONE —
    // the racing append's rows are gone from the head (replace
    // semantics), but its version remains time-travelable
    assert(kv(t.read()) == Map(7L -> "R7", 8L -> "R8"))
    assert(kv(t.read(2)).contains(500L),
      "the interleaved append's version stays readable")
    // the replaced table keeps mutating normally
    t.merge(rows(Seq(8L, 9L), "M"))
    assert(kv(t.read()) == Map(7L -> "R7", 8L -> "M8", 9L -> "M9"))
    assertNoOrphans(t)
  }
  test("append vs a disjoint append: stage() runs ONCE, both rows land") {
    val (t, other) = fixture("graft-race-append")
    armRace(t) { other.append(rows(Seq(500L), "a")) }
    t.stageCounter.set(0)
    val v = t.append(rows(Seq(600L), "b"))
    t.beforePublishHook = () => ()
    assert(v == 3, "create=v1, interleaved append=v2, re-pointed append=v3")
    assert(t.stageCounter.get == 1,
      "an append has no read footprint: a lost race never re-stages")
    val got = kv(t.read())
    assert(got(500L) == "a500" && got(600L) == "b600" && got.size == 62)
    assertNoOrphans(t)
  }

  test("streamAppend of one batch id via a racing handle commits once") {
    val (t, other) = fixture("graft-race-stream")
    armRace(t) { other.streamAppend(rows(Seq(700L), "b"), 5L) }
    t.stageCounter.set(0)
    val v = t.streamAppend(rows(Seq(700L), "b"), 5L)
    t.beforePublishHook = () => ()
    assert(v == 2 && t.head == 2,
      "the loser sees the racing delivery's txn and no-ops")
    assert(t.stageCounter.get == 1, "the loser staged once, then discarded")
    val got = kv(t.read())
    assert(got(700L) == "b700" && got.size == 61)
    assert(t.read().where(col("k") === 700L).count() == 1,
      "one batch id lands exactly once")
    assertNoOrphans(t)
  }

  test("update vs disjoint append rebases; vs stats-matching append re-composes") {
    val (t, other) = fixture("graft-race-update")
    armRace(t) { other.append(rows(Seq(1001L), "a")) } // outside [10, 20)
    t.stageCounter.set(0)
    t.update(col("k") >= 10 && col("k") < 20, Map("v" -> lit("X")))
    t.beforePublishHook = () => ()
    assert(t.stageCounter.get == 1, "non-matching interleaved add: rebase")
    val got = kv(t.read())
    assert((10L until 20L).forall(k => got(k) == "X"))
    assert(got(1001L) == "a1001" && got(9L) == "s9" && got.size == 61)
    armRace(t) { other.append(rows(Seq(25L), "a")) } // inside [20, 30)
    t.stageCounter.set(0)
    t.update(col("k") >= 20 && col("k") < 30, Map("v" -> lit("Y")))
    t.beforePublishHook = () => ()
    assert(t.stageCounter.get == 2, "matching add forces re-compose")
    val at25 = t.read().where(col("k") === 25L).collect().map(_.getString(1))
    assert(at25.toSeq == Seq("Y", "Y"),
      "the update, serialized last, must cover the interleaved row")
  }

  test("overwriteWhere vs disjoint append rebases; vs stats-matching append re-composes") {
    val (t, other) = fixture("graft-race-ow")
    armRace(t) { other.append(rows(Seq(1001L), "a")) } // outside [10, 20)
    t.stageCounter.set(0)
    t.overwriteWhere(col("k") >= 10 && col("k") < 20, rows(Seq(10L, 11L), "O"))
    t.beforePublishHook = () => ()
    assert(t.stageCounter.get == 1, "non-matching interleaved add: rebase")
    val got = kv(t.read())
    assert(got(10L) == "O10" && got(11L) == "O11")
    assert(!(12L until 20L).exists(got.contains))
    assert(got(1001L) == "a1001" && got.size == 53)
    armRace(t) { other.append(rows(Seq(25L), "a")) } // inside [20, 30)
    t.stageCounter.set(0)
    t.overwriteWhere(col("k") >= 20 && col("k") < 30, rows(Seq(20L), "P"))
    t.beforePublishHook = () => ()
    assert(t.stageCounter.get == 2, "matching add forces re-compose")
    val got2 = kv(t.read())
    assert(got2(20L) == "P20" && !(21L until 30L).exists(got2.contains),
      "a matching interleaved add must not survive the overwrite")
    assertNoOrphans(t)
  }

  test("overwriteAll racing an append: the winner's rows leave the head only") {
    val (t, other) = fixture("graft-race-owall")
    armRace(t) { other.append(rows(Seq(500L), "a")) }
    t.stageCounter.set(0)
    val v = t.overwriteAll(rows(Seq(7L, 8L), "O"))
    t.beforePublishHook = () => ()
    assert(v == 3, "create=v1, interleaved append=v2, overwrite=v3")
    assert(t.stageCounter.get == 1,
      "the overwrite reads nothing: a lost race never re-stages")
    assert(kv(t.read()) == Map(7L -> "O7", 8L -> "O8"))
    assert(kv(t.read(2)).contains(500L),
      "the interleaved append's version stays readable")
    assertNoOrphans(t)
  }

  test("compact racing an append: the appended rows survive, no orphans") {
    val (t, other) = fixture("graft-race-compact")
    armRace(t) { other.append(rows(Seq(500L), "a")) }
    t.stageCounter.set(0)
    val v = t.compact()
    t.beforePublishHook = () => ()
    assert(v == 3)
    assert(t.stageCounter.get == 1,
      "the append leaves every folded file alone: the fold re-points")
    val got = kv(t.read())
    assert(got(500L) == "a500" && got(7L) == "s7" && got.size == 61)
    assertNoOrphans(t)
  }

  test("cluster racing an append: the appended rows survive, no orphans") {
    val (t, other) = fixture("graft-race-cluster")
    armRace(t) { other.append(rows(Seq(500L), "a")) }
    t.stageCounter.set(0)
    val v = t.cluster(Seq("k"), targetFiles = 2)
    t.beforePublishHook = () => ()
    assert(v == 3)
    assert(t.stageCounter.get == 1,
      "the append leaves every rewritten file alone: the rewrite re-points")
    val got = kv(t.read())
    assert(got(500L) == "a500" && got(7L) == "s7" && got.size == 61)
    assertNoOrphans(t)
  }
}
