package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.PredicateTree

/** The user-facing table-format API — the x17-x29 mechanisms composed
  * into one handle a pipeline actually programs against:
  *
  * {{{
  * val t = GraftTable.create(spark, root, keyCol = "id", df)
  * t.append(more)                  // new files + a new version
  * t.merge(delta)                  // COW upsert by key, stats-pruned
  * t.merge(batch, txn = batchId)   // ...idempotent by txn id
  * t.delete(col("id") % 53 === 0)  // COW delete (NULL rows kept)
  * t.delete(pred, mode = "mor")    // deletion-vector delete: no rewrite
  * t.compact()                     // fold SMALL files, big ones carry
  * t.cluster(Seq("cust", "day"))   // OPTIMIZE ZORDER BY: 2-D locality
  * t.expire(keepLast = 1)          // vacuum unreferenced files
  * t.read()                        // head snapshot (DV-applied,
  * t.read(version = 2)             //   schema-merged) / time travel
  * t.streamAppend(batch, batchId)  // exactly-once streaming ingestion
  * t.changes(1, 3)                 // net CDC feed between versions
  * t.changes(1, 3, preimages=true) // ...with update pre/post images
  * t.applyChanges(feed, txn = v)   // apply a CDC feed atomically
  * t.restore(2)                    // roll back as a new commit
  * t.history()                     // one metadata row per version
  * }}}
  *
  * Storage model (the x18/x28 layout): immutable data files under
  * `root/data/<uuid>/part-*`, one manifest parquet per version under
  * `root/commits/v{N}`. A slot is either a FULL manifest (v1, legacy
  * tables, and every MaxManifestChain-cadence checkpoint) or a DELTA
  * against the previous version — adds + `rm` rows + the complete txn
  * checkpoint set + a `delta` marker — so steady-state commit I/O is
  * O(change), not O(files), and readers fold back at most
  * MaxManifestChain slots to the nearest checkpoint (Delta's
  * JSON-actions-plus-checkpoint log, expressed in slot files; see
  * [[manifestSnap]]/[[tryCommit]]). A manifest row is `(file, kind,
  * lo, hi, txn, stats)`: `kind` is `data` or `dv` (an x29-style
  * deletion-vector
  * sidecar of `(dv_file, dv_pos)` positions readers anti-join),
  * `lo`/`hi` are the file's key range and `stats` maps EVERY integral
  * column to its per-file (min, max) — Iceberg's inclusive metrics,
  * collected ONCE at stage time, so every later mutation PLANS
  * against manifest rows instead of scanning the table (the x17/x23
  * half of the story the round-9 API lacked), and a predicate over
  * ANY stats-covered column prunes, not just the clustering key (the
  * GDPR shape: a table keyed by row id, clustered by customer,
  * deletes one customer's rows by reading only that customer's
  * files). Non-numeric keys degrade gracefully: their stats are the
  * full range and planning falls back to candidate-everything, never
  * to wrong answers.
  *
  * Mutation planning is two-phase and reads only range-overlapping
  * files: (1) prune candidate files off the manifest stats — a
  * broadcast range join for MERGE deltas (ScaleOps x23Plan's shape), a
  * min/max interval evaluator over the predicate tree for DELETE
  * (Iceberg's inclusive-metrics idea) — then (2) refine to the exactly
  * matched files by scanning the CANDIDATES ONLY with `_metadata`
  * provenance. A key-localized daily upsert against a range-clustered
  * 100 TB table therefore reads the overlapping files and nothing else
  * (GraftTableSpec proves it by physically hiding the non-overlapping
  * files during a merge).
  *
  * Delete semantics are SQL's: a row is removed iff the predicate is
  * TRUE. A rewritten file keeps rows via `coalesce(NOT p, true)`, so
  * rows where the predicate evaluates NULL survive a sibling-triggered
  * rewrite (the round-9 three-valued-logic data-loss bug, spec-pinned).
  * `mode = "mor"` writes a deletion-vector sidecar instead of
  * rewriting — O(deleted positions), zero data files touched — and
  * every read path (including later mutations' rewrites) applies the
  * version's DVs before doing anything else, so COW and MoR deletes
  * are row-for-row equivalent through the API.
  *
  * Every commit is PREPARED at a temp name and PUBLISHED by an atomic
  * rename onto the next version slot — optimistic concurrency (x28):
  * exactly one writer wins a slot. Only the slot-taken conflict
  * (FileAlreadyExists / DirectoryNotEmpty) retries; any other I/O
  * failure (ATOMIC_MOVE unsupported, disk errors) is rethrown rather
  * than spun on. Every writer publishes through ONE loop ([[commit]]):
  * a loser whose read footprint the winners left alone re-points its
  * staged files onto the new head (an append, whose footprint is
  * empty, always does); one whose footprint they touched DELETES its
  * staged files and re-composes, so contention cannot accumulate
  * orphans.
  *
  * Vacuum safety: `stage()` drops a `.staging-<uuid>` marker beside the
  * staged directory BEFORE writing any data file and clears it only
  * after the files are referenced by a committed manifest. `expire`
  * skips marked directories, so a writer mid-commit can never have its
  * staged-but-unpublished files vacuumed out from under it (the
  * round-9 race); a crashed writer's permanently-marked leftovers can
  * be reclaimed by passing `staleStagingMs` (Delta's age-based
  * retention window). Deletion is still computed as (all physical) −
  * (union of retained manifests) — never a file a retained version
  * reads.
  */
final class GraftTable private (spark: SparkSession, val root: String,
                                keyCol: String) {
  import spark.implicits._
  import GraftTable.{FileRef, Mutation, Staged}

  private val commitsDir = s"$root/commits"
  private val dataDir = s"$root/data"

  /** every physical-filesystem operation (listing, markers, sizes,
    * deletes, the commit publish) goes through the Hadoop FileSystem
    * seam — local paths, `file:`/`hdfs://` URIs, anything with a
    * connector; see [[TableIO]] for the commit-rename semantics and
    * the documented S3 caveat */
  private val io = new TableIO(spark.sessionState.newHadoopConf())

  /** the publish protocol this root declares (lazy: the property may
    * be set after open but before the first commit) — rename-CAS by
    * default, conditional-put for object stores; see [[CommitArbiter]] */
  private lazy val arbiter: CommitArbiter = CommitArbiter.forRoot(io, root)

  /** select the COMMIT PUBLISH protocol for this table root (Delta's
    * per-store LogStore choice, as a table property): `"rename"` (the
    * default — atomic no-overwrite rename, correct on POSIX/HDFS) or
    * `"cput"` (single-object manifests via atomic create-if-absent —
    * the S3 `If-None-Match` / GCS-precondition shape, the correct
    * protocol where rename is copy+delete). Set it BEFORE concurrent
    * writers race the root; handles read it once, at first commit.
    *
    * Selecting `"cput"` PROBES the root's connector for a store-side
    * conditional-create primitive first (round-14 advisor: stock s3a
    * without conditional-write support implements no-overwrite create
    * as a client-side HEAD + PUT — check-then-act, which can hand one
    * version slot to two racing writers, the exact hazard the arbiter
    * exists to prevent) and fails LOUDLY when the capability is
    * absent. Local paths and HDFS pass outright (O_EXCL /
    * NameNode-serialized); object stores must advertise it via
    * `hasPathCapability` — on s3a that means Hadoop 3.4.1+ with
    * `fs.s3a.create.conditional.enabled` (HADOOP-19256). A connector
    * that implements-but-doesn't-advertise can still opt in by
    * writing `commit.conf` by hand; the probe guards the API path. */
  def setCommitArbiter(mode: String): Unit = {
    require(mode == "rename" || mode == "cput",
      s"commit arbiter is 'rename' or 'cput' (got '$mode')")
    if (mode == "rename") io.delete(s"$root/commit.conf")
    else {
      require(io.supportsConditionalCreate(s"$root/commits"),
        s"setCommitArbiter(\"cput\"): the connector for $root does not " +
          "advertise an atomic conditional-create primitive " +
          s"(probed ${TableIO.ConditionalCreateCapabilities.mkString(", ")}" +
          "); without store-side If-None-Match semantics two racing " +
          "writers can both win a version slot. On s3a, upgrade to " +
          "Hadoop 3.4.1+ and set fs.s3a.create.conditional.enabled; a " +
          "connector that implements the primitive without advertising " +
          "it can opt in by writing '<root>/commit.conf' with " +
          "'arbiter=cput' directly")
      io.writeUtf8(s"$root/commit.conf", "arbiter=cput\n")
    }
  }

  /** current head version (0 = no commit yet) */
  def head: Long =
    io.list(commitsDir).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .foldLeft(0L)(math.max)

  /** the OLDEST version slot still in the log (= head when the table
    * has one version; > 1 after `expire` GC'd the pre-checkpoint
    * prefix — Delta's logRetentionDuration cleanup). Versions below it
    * are gone from history/time-travel entirely. */
  def oldestVersion: Long = {
    val vs = io.list(commitsDir).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
    if (vs.isEmpty) 0L else vs.min
  }

  /** version `v`'s full manifest: data files + DV sidecars + stats,
    * FOLDED when the slot is delta-encoded (see [[manifestSnap]]). */
  private[table] def manifestOf(v: Long): Seq[FileRef] = manifestSnap(v).refs

  /** the slot's PHYSICAL rows (delta slots: adds + `rm`/`delta` marker
    * rows; full slots: the whole manifest), plus the commit-level txn
    * id and in-commit stamp every row carries. Columns a manifest
    * predates (a pre-string-stats `sstats`, a pre-v2 `stats`) degrade
    * to the empty map — an upgraded reader opens any older table, it
    * just plans without the missing bounds (the same degradation
    * dvPositions uses for pre-counter DV refs). Memoized per handle:
    * slots are immutable per (root, version). */
  private def rawSlotRows(v: Long): (Seq[FileRef], Long, Long) = {
    val hit = rawCache.get(v)
    if (hit != null) return hit
    val out = readSlot(v)
    rawCache.put(v, out)
    out
  }

  private def readSlot(v: Long): (Seq[FileRef], Long, Long) = {
    // DRIVER-LOCAL decode (round-18, guide §1: a slot is KB-MB of
    // metadata — the old spark.read+collect paid a whole Spark job of
    // driver latency per slot touch; see [[SlotIO]])
    val (rows, commitTxn, commitTs) =
      SlotIO.read(s"$commitsDir/v$v", spark.sessionState.newHadoopConf())
    (rows.sortBy(r => (r.kind, r.file)), commitTxn, commitTs)
  }

  /** the folded snapshot a version denotes, plus its delta-chain depth
    * and commit-level (txn id, in-commit stamp) — the read half of the
    * DELTA-ENCODED manifest format (Delta's log-of-actions idea,
    * folded into the slot files; see [[tryCommit]] for the writer):
    * a slot is either FULL (the entire manifest — v1, legacy slots,
    * and every [[GraftTable.MaxManifestChain]]-cadence or
    * bigger-than-half-rewrite checkpoint) or a DELTA against the
    * previous version — added refs, `kind = "rm"` rows naming removed
    * files, the canonical txn-checkpoint rows (always complete, so
    * replay guards stay one-slot reads), and one `kind = "delta"`
    * marker carrying (base version, chain depth). Folding walks back
    * at most MaxManifestChain slots to the nearest full one; each
    * fold along the walk is memoized, so a handle pays each slot read
    * once. Removes apply before adds: a ref whose fields changed for
    * the same file (a re-stamped zgen, a rewritten stats row) encodes
    * as rm + add and folds to the new ref. */
  private[table] def manifestSnap(v: Long): GraftTable.Snap = {
    val hit = snapCache.get(v)
    if (hit != null) return hit
    val (rows, cTxn, cTs) = rawSlotRows(v)
    val snap = rows.find(_.kind == "delta") match {
      case None =>
        GraftTable.Snap(rows, 0L, cTxn, cTs)
      case Some(marker) =>
        val parent = manifestSnap(marker.lo)
        val rm = rows.iterator.filter(_.kind == "rm").map(_.file).toSet
        val carried = parent.refs.filter(r => r.kind != "txn" && !rm(r.file))
        val fresh = rows.filter(r => r.kind != "rm" && r.kind != "delta")
        GraftTable.Snap((carried ++ fresh).sortBy(r => (r.kind, r.file)),
          marker.hi, cTxn, cTs)
    }
    // reader feature gate: validated once per version per handle (the
    // memo carries the verdict); see GraftTable.requireReadable
    GraftTable.requireReadable(root, v, snap.refs)
    snapCache.put(v, snap)
    snap
  }

  /** folded-manifest memo (slots are immutable per version, so entries
    * never go stale within a handle's life) + the raw-slot-rows memo
    * behind it. BOUNDED (round-14 advisor): the round-13 unbounded
    * maps pinned O(versions × files) Seq entries in driver memory on
    * any handle that walked many versions — history() folds every
    * retained version through them, and at the 10⁵-file scale the
    * manifest docs target that is the driver heap. An access-ordered
    * LRU sized past a full fold walk (MaxManifestChain) keeps the
    * common shapes memoized — repeated head reads, the ascending
    * history walk (each fold consumes its immediate parent), short
    * time-travel hops — while a long walk holds ~capacity snapshots,
    * not every one it ever touched; an evicted fold re-reads at most
    * MaxManifestChain slots. */
  private val snapCache = new GraftTable.Lru[GraftTable.Snap](32)
  private val rawCache = new GraftTable.Lru[(Seq[FileRef], Long, Long)](64)

  /** the exact DATA file set version `v` committed */
  def filesOf(v: Long): Seq[String] =
    manifestOf(v).filter(_.kind == "data").map(_.file).sorted

  /** version `v`'s deletion-vector sidecar files (empty when none) */
  def deletionVectorsOf(v: Long): Seq[String] =
    manifestOf(v).filter(_.kind == "dv").map(_.file).sorted

  /** version `v`'s bloom-index sidecar files (empty when none) */
  def bloomSidecarsOf(v: Long): Seq[String] =
    manifestOf(v).filter(_.kind == "bloom").map(_.file).sorted

  /** version `v`'s data bytes off the manifest counters — one manifest
    * read, no data file opened; −1 when a pre-counter manifest can't
    * say (callers keep their conservative default) */
  def bytesOf(version: Long = -1L): Long = {
    val v = if (version < 0) head else version
    if (v == 0) return 0L
    val sizes = manifestOf(v).filter(_.kind == "data").map(_.bytes)
    if (sizes.exists(_ < 0)) -1L else sizes.sum
  }

  /** snapshot read — head by default, any retained version by number.
    * DV-applied: positions recorded by merge-on-read deletes are
    * anti-joined out (broadcast — DVs are deleted-position-scale).
    * Schema-merged: a version whose later files carry evolved columns
    * (x27's O(metadata) ALTER — `append` a wider frame, old files
    * never rewrite) reads under the unified schema, NULL where a file
    * predates a column. */
  def read(version: Long = -1L): DataFrame = {
    val v = if (version < 0) head else version
    if (v == 0) return spark.emptyDataFrame
    // explicit time travel below log retention fails loudly (the
    // head path never pays the extra listing: head >= oldest always)
    if (version >= 0)
      require(v >= oldestVersion,
        s"version $v expired from the log (oldest retained: $oldestVersion)")
    val refs = manifestOf(v)
    toLogical(refs, readPhysical(refs))
  }

  /** the snapshot under its PHYSICAL (storage) column names — what
    * every internal scan, stage, and stats row is keyed by; `read`
    * wraps it in the version's logical projection (x53) */
  private def readPhysical(refs: Seq[FileRef]): DataFrame = {
    val data = refs.filter(_.kind == "data").map(_.file)
    if (data.isEmpty) {
      // a data-less snapshot still has a schema if columns were
      // DECLARED (addColumn on an empty table): an empty typed frame
      val declared = GraftTable.parseAddColRows(refs)
      if (declared.isEmpty) spark.emptyDataFrame
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(declared.map(a =>
          org.apache.spark.sql.types.StructField(
            a.name, a.dataType, nullable = true))))
    }
    else if (!refs.exists(_.kind == "dv")) readFiles(refs, data)
    else scan(refs, data).drop("__file", "__pos")
  }

  /** the snapshot schema a manifest's data refs witness — the
    * name-based union of their recorded per-file schemas, resolved in
    * O(distinct schemas) off the MANIFEST ALONE (Delta records the
    * schema in its log's metaData action for the same reason: at
    * 10⁵-10⁶ files, a mergeSchema footer sweep is a distributed job
    * before every query, and it grows with the table, not the query).
    *
    * TYPE WIDENING (round-14 verdict #2, Delta's type-widening table
    * feature): two files that declare the same column at different
    * widths resolve to the WIDER type when the promotion is lossless
    * (byte→short→int→long, float→double) — Spark 4's parquet readers
    * upcast physically narrower values under the requested schema in
    * both the vectorized and parquet-mr paths, so an `append` of a
    * widened frame is an O(metadata) evolution exactly like adding a
    * column; old files never rewrite. The per-file schemas the
    * manifest records ARE the resolution record: every reader derives
    * the same widened snapshot schema from the same rows.
    *
    * None — and the reader falls back to the legacy footer sweep —
    * when any ref predates the recorded schema. A TRUE type conflict
    * (no lossless widening, e.g. string vs long) also returns None
    * but now logs LOUDLY first: silently re-entering the O(files)
    * sweep was the round-13 latent scale hazard, and the sweep's
    * mergeSchema will reject the merge anyway — the log line names
    * the column and both types so the operator sees WHY. */
  private[table] def schemaOf(refs: Seq[FileRef])
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    val data = refs.filter(_.kind == "data")
    if (data.isEmpty || data.exists(_.schemaJson.isEmpty)) return None
    val fields =
      scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    for (json <- data.map(_.schemaJson).distinct) {
      val st = schemaCache.computeIfAbsent(json,
        j => DataType.fromJson(j).asInstanceOf[StructType])
      for (f <- st.fields) fields.get(f.name) match {
        // every field reads nullable: a file that predates a column
        // fills NULL, exactly as the mergeSchema read did
        case None => fields(f.name) = f.copy(nullable = true)
        case Some(g) if g.dataType == f.dataType => ()
        case Some(g) =>
          GraftTable.widen(g.dataType, f.dataType) match {
            case Some(w) => fields(f.name) = g.copy(dataType = w)
            case None =>
              GraftTable.log.warn(
                s"table $root: column '${f.name}' has IRRECONCILABLE " +
                  s"per-file types ${g.dataType.simpleString} vs " +
                  s"${f.dataType.simpleString} — no lossless widening; " +
                  "falling back to the O(files) mergeSchema footer " +
                  "sweep, which will reject the same conflict. Rewrite " +
                  "the offending files to one type.")
              return None // true conflict
          }
      }
    }
    // DECLARED columns (x56 ADD COLUMN): part of the snapshot schema
    // even before any file carries them (readers fill NULL, exactly
    // like a file that predates an evolved column); a file written
    // AFTER the declaration carries the column physically and must
    // agree with (or losslessly widen against) the declared type
    for (a <- GraftTable.parseAddColRows(refs))
      fields.get(a.name) match {
        case None =>
          fields(a.name) = StructField(a.name, a.dataType, nullable = true)
        case Some(g) if g.dataType == a.dataType => ()
        case Some(g) =>
          GraftTable.widen(g.dataType, a.dataType) match {
            case Some(w) => fields(a.name) = g.copy(dataType = w)
            case None =>
              GraftTable.log.warn(
                s"table $root: declared column '${a.name}' " +
                  s"(${a.dataType.simpleString}) conflicts with a " +
                  s"file-recorded type ${g.dataType.simpleString} — " +
                  "no lossless widening; falling back to the O(files) " +
                  "mergeSchema footer sweep.")
              return None
          }
      }
    // VISIBLE ORDER: first-recorded order (creation order), declared
    // columns appended as they land — stable across keyed rewrites
    // because every mutation frame now restores the snapshot's column
    // order before staging (the round-18 using-join fix below); a
    // declared-ordinal reorder here would be wrong for HANDLE tables,
    // whose base columns have no declarations and whose ADD COLUMNs
    // must append, not lead.
    Some(StructType(fields.values.toSeq))
  }

  /** the version's user-visible LOGICAL schema, resolved from the
    * MANIFEST ALONE — [[schemaOf]]'s widened physical union (or the
    * declarations, for a data-less snapshot) under the column
    * mapping's rename/drop projection. O(manifest), ZERO file opens:
    * what a catalog must answer `schema()` from, because deriving it
    * by analyzing a full-snapshot read existence-checks every data
    * file path at 100 TB scale (and breaks the file-hiding pruning
    * specs for free). None when any ref predates recorded per-file
    * schemas — callers fall back to `read(v).schema` (the legacy
    * footer sweep). */
  def schemaAt(version: Long = -1L)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val v = if (version < 0) head else version
    if (v == 0) return None
    val refs = manifestOf(v)
    val data = refs.filter(_.kind == "data")
    val phys: Option[StructType] =
      if (data.isEmpty) {
        val declared = GraftTable.parseAddColRows(refs)
        if (declared.isEmpty) None
        else Some(StructType(declared.map(a =>
          StructField(a.name, a.dataType, nullable = true))))
      } else schemaOf(refs)
    phys.map { st =>
      val byPhys = colRows(refs).map { case (l, p) => p -> l }.toMap
      StructType(st.fields.toSeq.flatMap { f =>
        byPhys.get(f.name) match {
          case Some("") => None // dropped
          case Some(l)  => Some(f.copy(name = l))
          case None     => Some(f)
        }
      })
    }
  }

  /** rows of `files` under the manifest-resolved snapshot schema —
    * ZERO footer reads on a current-format table; `mergeSchema` only
    * as the pre-schema-manifest legacy fallback */
  private def readFiles(refs: Seq[FileRef], files: Seq[String]): DataFrame =
    schemaOf(refs) match {
      case Some(s) => spark.read.schema(s).parquet(files: _*)
      case None =>
        spark.read.option("mergeSchema", "true").parquet(files: _*)
    }

  /** row count of a version — FROM THE MANIFEST when possible (the
    * Delta/Iceberg `SELECT COUNT(*)` fast path: per-file footer row
    * counts are recorded at stage time, DV refs carry their position
    * counts, and round-12 DV retirement guarantees new commits' DV
    * rows all target live files, so `Σ data rows − Σ dv positions` is
    * exact): a 100 TB table answers in one manifest read, no data file
    * opened (spec-pinned by physically hiding every data file).
    * Falls back to a real scan-count only when a pre-counter manifest
    * lacks the numbers or a pre-retirement DV targets a removed file
    * (both detected, never guessed). */
  def count(version: Long = -1L): Long = {
    val v = if (version < 0) head else version
    if (v == 0) return 0L
    val refs = manifestOf(v)
    val data = refs.filter(_.kind == "data")
    val dvs = refs.filter(_.kind == "dv")
    val counted = data.forall(_.rows >= 0L) && dvs.forall(_.hi >= 0L)
    if (!counted) return read(v).count()
    val dataRows = data.map(_.rows).sum
    if (dvs.isEmpty) dataRows
    else {
      // a DV position is counted iff its target file is in THIS
      // version (retirement maintains that for new commits; positions
      // are disjoint across DVs because deletes match DV-applied rows)
      val live = data.map(_.file).toSet
      if (dvTargets(dvs.map(_.file)).forall(live))
        dataRows - dvs.map(_.hi).sum
      else read(v).count() // stale pre-retirement DV: exact fallback
    }
  }

  /** version `v`'s commit timestamp (epoch millis): the manifest's
    * IN-COMMIT stamp when it has one (strictly monotonic across
    * versions — Delta's inCommitTimestamps), else the commit slot's
    * filesystem mtime (Delta's own pre-ICT fallback; approximately
    * monotonic, exactly as approximate there) */
  def commitTimestampOf(v: Long): Long = {
    val stamped = manifestOf(v).foldLeft(-1L)((m, r) => math.max(m, r.ts))
    if (stamped >= 0) stamped
    else io.mtime(s"$commitsDir/v$v").getOrElse(
      throw new IllegalArgumentException(s"version $v does not exist"))
  }

  /** the version current AS OF `tsMillis` — the greatest version whose
    * commit timestamp is <= the probe (Delta's TIMESTAMP AS OF
    * resolution): a binary search over O(log versions) manifest
    * reads, sound because in-commit stamps are strictly monotonic.
    *
    * A table with PRE-ICT versions (their timestamp is the commit
    * slot's filesystem mtime — clock skew or a copied/restored commit
    * dir can make those NON-monotonic) falls back to a linear
    * max-version-with-ts<=probe scan instead: O(versions) mtime
    * reads, but never a silently wrong resolution (the round-13
    * advisor's case). Because every post-upgrade commit stamps
    * `max(now, base.max + 1)`, stamps — once present — are present
    * and monotonic in every later version, so "version 1 is stamped"
    * certifies the whole log for the fast path. */
  def versionAt(tsMillis: Long): Long = {
    val h = head
    require(h > 0, "empty table has no versions")
    val v0 = oldestVersion // > 1 after log GC: older stamps are gone
    require(tsMillis >= commitTimestampOf(v0),
      s"timestamp $tsMillis predates the oldest retained version $v0 " +
        s"(committed ${commitTimestampOf(v0)})")
    val allStamped = manifestOf(v0).exists(_.ts >= 0)
    if (!allStamped)
      return (v0 to h).filter(commitTimestampOf(_) <= tsMillis).max
    var lo = v0
    var hi = h
    while (lo < hi) { // invariant: ts(lo) <= probe
      val mid = (lo + hi + 1) / 2
      if (commitTimestampOf(mid) <= tsMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** snapshot read AS OF a wall-clock instant — `read(versionAt(ts))`
    * (Delta's `timestampAsOf`; also reachable as the batch source's
    * `timestampAsOf` option) */
  def readAsOf(tsMillis: Long): DataFrame = read(versionAt(tsMillis))

  /** one-row metadata summary of the head (Delta's DESCRIBE DETAIL) —
    * everything from the manifest and table properties, no data file
    * opened (rows ride [[count]]'s metadata path; a pre-counter
    * manifest falls back to its exact scan) */
  def detail(): DataFrame = {
    val h = head
    val refs = if (h == 0) Seq.empty[FileRef] else manifestOf(h)
    val data = refs.filter(_.kind == "data")
    Seq((root, h, oldestVersion, data.size,
        refs.count(_.kind == "dv"), refs.count(_.kind == "bloom"),
        if (h == 0) 0L else count(h),
        data.map(_.bytes).filter(_ >= 0).sum,
        if (h == 0) -1L else commitTimestampOf(h),
        bloomConfig().map(_._1.mkString(",")).getOrElse(""),
        checks().keys.toSeq.sorted.mkString(","),
        refs.collect { case r if r.kind == "feature" =>
          r.file.stripPrefix("feature:") }.sorted.mkString(","),
        autoCompact().map { case (n, b, t) => s"min=$n small=$b target=$t" }
          .getOrElse("")))
      .toDF("root", "version", "oldest_version", "n_data_files",
        "n_dv_files", "n_bloom_sidecars", "n_rows", "bytes", "commit_ts",
        "bloom_columns", "check_constraints", "reader_features",
        "auto_compact")
  }

  // ---- column mapping (x53) --------------------------------------------
  //
  // RENAME/DROP COLUMN as O(metadata) commits — Delta's columnMapping
  // table feature, re-derived over the manifest-row vocabulary: data
  // files are IMMUTABLE and always carry their original (PHYSICAL)
  // column names; a `kind = "col"` manifest row maps one physical name
  // to the LOGICAL name users see (`logical = ""` marks a dropped
  // column). Because the rows live in the manifest, the mapping is
  // VERSIONED: time travel to a pre-rename version reads under the old
  // name, restore reverts it, shallow clones inherit it, and the
  // delta-encoded log carries a rename as one rm + one add row.
  //
  // The conversion discipline: user-facing frames (read output,
  // mutation inputs, predicates) speak LOGICAL; everything under them —
  // staged files, manifest stats/sstats/nstats keys, bloom sidecars,
  // deletion vectors, provenance — speaks PHYSICAL, where names never
  // change. `toLogical`/`toPhysical` convert at exactly that boundary,
  // and predicate skeletons cross it via `PredicateTree.mapColumns`,
  // so a merge/delete on a RENAMED key still prunes against the
  // physical-name-keyed per-file statistics. Tables that never
  // renamed/dropped have no `col` rows and every path short-circuits
  // to identity.
  //
  // Known limits (documented, Delta-shaped): CHECK constraints and the
  // bloom-index config bind to PHYSICAL names (they predate the rename;
  // re-declare them to re-bind), and a retired physical name cannot be
  // reused as a fresh logical column (Delta reserves dropped physical
  // names the same way).

  private def colRows(refs: Seq[FileRef]): Seq[(String, String)] =
    GraftTable.parseColRows(refs)

  /** logical→physical name resolution under `refs`' mapping — identity
    * for every unmapped name */
  private def physicalOf(refs: Seq[FileRef]): String => String = {
    val m = colRows(refs).collect {
      case (l, p) if l.nonEmpty => (l, p) }.toMap
    if (m.isEmpty) identity[String] _
    else n => m.get(n) match {
      case Some(p) => p
      // a struct-field stats path maps its ROOT (fields don't rename;
      // an exact whole-name hit above wins for literal dotted names)
      case None if n.contains('.') =>
        val parts = n.split("\\.")
        (m.getOrElse(parts.head, parts.head) +: parts.tail.toSeq)
          .mkString(".")
      case None => n
    }
  }

  /** the key column's PHYSICAL (storage) name — what manifest `lo`/`hi`
    * ranges, stats maps, and staged files key on. Physical names are
    * immutable, so this is stable across versions. */
  private def physKeyOf(refs: Seq[FileRef]): String =
    physicalOf(refs)(keyCol)

  /** the head manifest (empty when no commit yet) — the mapping every
    * NEW write converts through */
  private def headRefs: Seq[FileRef] = {
    val h = head
    if (h == 0) Seq.empty else manifestOf(h)
  }

  /** physical frame → the user-visible logical frame: renamed physical
    * columns alias to their logical names, dropped physical columns
    * project OUT, everything else (`__file`/`__pos` provenance
    * included) passes through untouched */
  private def toLogical(refs: Seq[FileRef], df: DataFrame): DataFrame = {
    val rows = colRows(refs)
    if (rows.isEmpty) return df
    val byPhys = rows.map { case (l, p) => p -> l }.toMap
    val cols = df.columns.toSeq.flatMap { c =>
      byPhys.get(c) match {
        case Some("") => None // dropped
        case Some(l)  => Some(col(c).as(l))
        case None     => Some(col(c))
      }
    }
    df.select(cols: _*)
  }

  /** logical frame → PHYSICAL column names for staging. Rejects a
    * frame column that collides with a RETIRED physical name (the
    * storage name behind a rename, or a dropped column's) — new files
    * carrying it would silently render under the other column's
    * logical name or vanish under the drop row. */
  private def toPhysical(refs: Seq[FileRef], df: DataFrame): DataFrame = {
    val rows = colRows(refs)
    if (rows.isEmpty) return df
    val toPhys = rows.collect {
      case (l, p) if l.nonEmpty => (l, p) }.toMap
    val reserved = rows.map(_._2).toSet
    val cols = df.columns.toSeq.map { c =>
      toPhys.get(c) match {
        case Some(p) => col(c).as(p)
        case None =>
          require(!reserved(c),
            s"column name '$c' is retired (it is the physical storage " +
              "name behind a rename or drop on this table) — write " +
              "under the current logical name, or pick a fresh one")
          col(c)
      }
    }
    df.select(cols: _*)
  }

  /** materialize declared-column WRITE-TIME DEFAULTS (x56) into an
    * insert-shaped LOGICAL frame that omits them — the one transform
    * every user-facing insert path (`append`, a merge/apply delta, an
    * `overwriteWhere` replacement) runs before composing/staging.
    * Only default-bearing declarations fill (a no-default added column
    * stays absent: the reader's NULL fill is identical and the file
    * stays narrower); explicit values always win; a dropped
    * declaration never resurrects. Identity on tables that never
    * declared a column. */
  private def fillDefaults(refs: Seq[FileRef], df: DataFrame): DataFrame = {
    val added = GraftTable.parseAddColRows(refs)
    if (added.isEmpty) return df
    val byPhys = colRows(refs).map { case (l, p) => p -> l }.toMap
    added.foldLeft(df) { (out, a) =>
      val logicalName = byPhys.get(a.name) match {
        case Some("") => None // dropped since: nothing to fill
        case Some(l)  => Some(l)
        case None     => Some(a.name)
      }
      logicalName match {
        // presence check is CASE-INSENSITIVE to match withColumn's
        // resolution (default spark.sql.caseSensitive=false): an
        // explicit "Tier" column must count as supplying "tier", or
        // the fill would silently overwrite the caller's values
        case Some(ln) if a.defaultSql.isDefined &&
            !out.columns.exists(_.equalsIgnoreCase(ln)) =>
          out.withColumn(ln, expr(a.defaultSql.get).cast(a.dataType))
        case _ => out
      }
    }
  }

  /** the LOGICAL column names of a manifest's snapshot — the physical
    * schema (manifest-recorded; legacy fallback resolves lazily, no
    * job) with the mapping applied */
  private def logicalCols(refs: Seq[FileRef]): Seq[String] = {
    val data = refs.filter(_.kind == "data")
    // a data-less snapshot's columns are its DECLARATIONS (a catalog
    // CREATE TABLE bootstrap, or addColumn before the first ingest) —
    // evolution verbs must resolve against them like any other schema
    val phys: Seq[String] =
      if (data.nonEmpty)
        schemaOf(refs).map(_.fieldNames.toSeq).getOrElse(
          readFiles(refs, data.map(_.file)).schema.fieldNames.toSeq)
      else GraftTable.parseAddColRows(refs).map(_.name)
    if (phys.isEmpty) return Seq.empty
    val byPhys = colRows(refs).map { case (l, p) => p -> l }.toMap
    phys.flatMap(c => byPhys.get(c) match {
      case Some("") => None
      case Some(l)  => Some(l)
      case None     => Some(c)
    })
  }

  /** RENAME a column (Delta's `ALTER TABLE ... RENAME COLUMN`): an
    * O(metadata) commit writing the `kind = "col"` mapping row — ZERO
    * data files touched, at 100 TB exactly as at 100 MB. Pre-rename
    * files read through the new name immediately; time travel below
    * this commit still serves the old one. Renaming back to the
    * column's own physical name drops the row (identity restored). */
  def renameColumn(oldName: String, newName: String): Long =
    commitManifest(applyRenameColumn(_, oldName, newName))

  /** the rename applied to a manifest row set — every guard included,
    * so [[alterColumns]] composes it atomically with other changes */
  private def applyRenameColumn(base: Seq[FileRef], oldName: String,
                                newName: String): Seq[FileRef] = {
    require(oldName.matches(GraftTable.ColIdent) &&
            newName.matches(GraftTable.ColIdent),
      s"column names are identifiers ([A-Za-z_][A-Za-z0-9_]*): " +
        s"'$oldName' -> '$newName'")
    val lcols = logicalCols(base)
    require(lcols.contains(oldName),
      s"column '$oldName' does not exist " +
        s"(columns: ${lcols.mkString(", ")})")
    require(oldName == newName || !lcols.contains(newName),
      s"column '$newName' already exists")
    val p = physicalOf(base)(oldName)
    require(newName == p || !colRows(base).exists(_._2 == newName),
      s"'$newName' is a retired physical name on this table")
    val kept = base.filterNot(r => r.kind == "col" &&
      GraftTable.parseColRows(Seq(r)).exists(_._2 == p))
    val added =
      if (newName == p) Seq.empty
      else Seq(GraftTable.colRow(newName, p))
    // an identity-restoring rename adds no mapping row — don't
    // stamp a reader requirement the snapshot doesn't exercise
    // (any pre-existing flag rides `kept` untouched)
    val stamped =
      if (added.isEmpty) kept else withFeature(kept, "colmap")
    stamped ++ added
  }

  /** DECLARE every column of `schema` in ONE metadata commit — the
    * catalog's CREATE TABLE bootstrap (x58): an empty table gains a
    * real schema (reads serve a typed empty frame, evolution verbs
    * resolve against it) before any data lands. A field carrying
    * Spark's `CURRENT_DEFAULT` metadata (what the parser attaches for
    * `CREATE TABLE (c STRING DEFAULT 'x')`) declares that default —
    * validated here exactly like [[addColumn]]'s, and materialized by
    * the same write-time fill — so a CREATE-time default and an
    * ADD-COLUMN-time default behave identically (the round-15 advisor
    * hole: accepted-then-silently-dropped). Only valid as the very
    * first commit. */
  def declareColumns(schema: org.apache.spark.sql.types.StructType,
                     keyRecord: Option[String] = None): Long = {
    val cols = schema.fields.toSeq.map { f =>
      val d =
        if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(f.metadata.getString("CURRENT_DEFAULT"))
        else None
      validateDefault(f.name, f.dataType, d)
      GraftTable.AddedCol(f.name, f.dataType, d)
    }
    commitManifest { base =>
      require(base.isEmpty,
        "declareColumns bootstraps an EMPTY table; declare more " +
          "columns one at a time with addColumn")
      schema.fieldNames.foreach(n => require(n.matches(GraftTable.ColIdent),
        s"column names are identifiers: '$n'"))
      // the key stamp rides the SAME declaring commit (round 18):
      // every version of a catalog table is key-self-describing
      withFeature(cols.zipWithIndex.map {
        case (c, i) => GraftTable.addColRow(c, ordinal = i.toLong)
      }, "addcol") ++ keyRecord.map(GraftTable.keyRecRow)
    }
  }

  /** the snapshot's key-record stamp ([[GraftTable.keyRecRow]]):
    * None on pre-stamp (legacy) tables and on versions below the
    * stamp's introduction — callers fall back to the pointer/key.conf
    * heuristics there */
  private[graft] def keyRecordAt(version: Long = -1L): Option[String] = {
    val v = if (version < 0) head else version
    // head 0 = no commit yet: there is no manifest to read a stamp
    // from (manifestOf(0) would fail on the missing slot) — callers
    // fall to their pre-stamp heuristics
    if (v == 0L) None else GraftTable.parseKeyRec(manifestOf(v))
  }

  /** every declared column's write-time default, by CURRENT LOGICAL
    * name — what the SQL catalog re-attaches to `schema()` as
    * `CURRENT_DEFAULT` metadata so Spark's own default resolution pads
    * an `INSERT INTO t (k, v)` column list with the declared default
    * instead of NULL (the fill in [[fillDefaults]] only covers frames
    * that OMIT the column; Spark's NULL padding makes it present). */
  private[graft] def declaredDefaults(): Map[String, String] = {
    val refs = headRefs
    val byPhys = colRows(refs).map { case (l, p) => p -> l }.toMap
    GraftTable.parseAddColRows(refs).flatMap { a =>
      val logical = byPhys.get(a.name) match {
        case Some("") => None // dropped since: no default to expose
        case Some(l)  => Some(l)
        case None     => Some(a.name)
      }
      for { l <- logical; d <- a.defaultSql } yield l -> d
    }.toMap
  }

  /** the CURRENT LOGICAL name of this handle's key column, treating
    * the handle's `keyCol` as the key's immutable PHYSICAL storage
    * name — the catalog's load-time resolution (it persists the
    * physical name, which never changes, so a key rename needs no
    * pointer rewrite and there is no crash window between the rename
    * commit and a pointer update). A `keyCol` that is not a physical
    * name under the mapping (a pre-existing pointer that stored the
    * logical name, or a table with no renames) resolves to itself. */
  private[graft] def logicalKeyName: String = logicalNameOf(keyCol)

  /** the CURRENT LOGICAL name behind a PHYSICAL column name (identity
    * when unmapped — including names that are already logical); used
    * for the key and for compound-key parts, both persisted physical */
  private[graft] def logicalNameOf(physical: String): String = {
    val byPhys = colRows(headRefs).map { case (l, p) => p -> l }.toMap
    byPhys.get(physical) match {
      case Some("") => throw new IllegalStateException(
        s"column (physical '$physical') is marked dropped but is " +
          "still referenced as a key component")
      case Some(l) => l
      case None    => physical
    }
  }

  /** `rows` plus the feature flag (idempotent) — every verb that makes
    * the table depend on a reader capability stamps it (see
    * [[GraftTable.requireReadable]]) */
  private def withFeature(rows: Seq[FileRef], f: String): Seq[FileRef] =
    if (rows.exists(r => r.kind == "feature" &&
          r.file == s"feature:$f")) rows
    else rows :+ GraftTable.featureRow(f)

  /** DROP a column (Delta's `ALTER TABLE ... DROP COLUMN` under column
    * mapping): an O(metadata) commit — old files keep their bytes
    * untouched, the column simply stops projecting; time travel below
    * this commit still reads it. New writes must not reuse the retired
    * physical name. The key column cannot drop. */
  def dropColumn(name: String): Long =
    commitManifest(applyDropColumn(_, name))

  /** the drop applied to a manifest row set (see [[alterColumns]]) */
  private def applyDropColumn(base: Seq[FileRef],
                              name: String): Seq[FileRef] = {
    require(name.matches(GraftTable.ColIdent),
      s"column names are identifiers: '$name'")
    val lcols = logicalCols(base)
    require(lcols.contains(name),
      s"column '$name' does not exist (columns: ${lcols.mkString(", ")})")
    val p = physicalOf(base)(name)
    require(p != physKeyOf(base),
      s"cannot drop '$name': it is the table's key column")
    val kept = base.filterNot(r => r.kind == "col" &&
      GraftTable.parseColRows(Seq(r)).exists(_._2 == p))
    withFeature(kept, "colmap") :+ GraftTable.colRow("", p)
  }

  /** ADD a column (Delta's `ALTER TABLE ... ADD COLUMN`, completing
    * the rename/drop/add evolution verb set): an O(metadata) commit
    * writing a `kind = "addcol"` declaration row — ZERO data files
    * touched at any table size. Existing rows read NULL (Delta's
    * non-retroactive semantics: defaults are never backfilled);
    * `defaultSql` — a constant SQL expression — materializes at WRITE
    * time into any insert-shaped frame (`append`, a merge/applyChanges
    * delta, an `overwriteWhere` replacement) that omits the column, so
    * post-add ingest gets the default while explicit values always
    * win. Time travel below this commit serves the old schema; the new
    * column renames/drops like any other. The declaration is
    * manifest-versioned, so a mid-race add costs every in-flight
    * writer its CAS race and forces the full re-compose (whose
    * write-time fill sees the new default) — same discipline as the
    * constraint/schema-mode stamps. */
  def addColumn(name: String,
                dataType: org.apache.spark.sql.types.DataType,
                defaultSql: Option[String] = None): Long = {
    validateDefault(name, dataType, defaultSql)
    val v = commitManifest(applyAddColumn(_, name, dataType, defaultSql))
    // an enforce-mode table's recorded schema must gain the column, or
    // every post-add write would be rejected as drift; re-capturing
    // from the head snapshot (which now includes the declaration) also
    // re-stamps the property fingerprint
    if (schemaMode() == "enforce") setSchemaMode("enforce")
    v
  }

  /** eager default validation — fail loudly at declare time, not
    * mid-ingest: the default must parse, be CONSTANT (no column
    * references, no subquery — a nested plan hides references the
    * expression walk cannot see and re-evaluates per fill), and cast
    * to the declared type */
  private def validateDefault(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      defaultSql: Option[String]): Unit = defaultSql.foreach { d =>
    require(!d.contains("\n") && d.nonEmpty,
      "default must be one non-empty line")
    val parsed = spark.sessionState.sqlParser.parseExpression(d)
    val attrs = parsed.collect {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        u.sql
    }
    require(attrs.isEmpty,
      s"default for '$name' must be a constant expression; it " +
        s"references: ${attrs.mkString(", ")}")
    require(!parsed.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.SubqueryExpression]),
      s"default for '$name' must be a constant expression, not a " +
        "subquery")
    spark.range(1).select(expr(d).cast(dataType)).collect()
    ()
  }

  /** the declaration applied to a manifest row set (see
    * [[alterColumns]]); callers run [[validateDefault]] first */
  private def applyAddColumn(base: Seq[FileRef], name: String,
      dataType: org.apache.spark.sql.types.DataType,
      defaultSql: Option[String]): Seq[FileRef] = {
    require(name.matches(GraftTable.ColIdent),
      s"column names are identifiers ([A-Za-z_][A-Za-z0-9_]*): '$name'")
    val lcols = logicalCols(base)
    require(!lcols.contains(name), s"column '$name' already exists " +
      s"(columns: ${lcols.mkString(", ")})")
    require(!colRows(base).exists(_._2 == name),
      s"'$name' is a retired physical name on this table (the " +
        "storage name behind a rename or drop) — pick a fresh one")
    require(!GraftTable.parseAddColRows(base).exists(_.name == name),
      s"column '$name' is already declared")
    val data = base.filter(_.kind == "data")
    require(data.forall(_.schemaJson.nonEmpty),
      "addColumn requires manifest-recorded per-file schemas; this " +
        "table has pre-schema-manifest files — compact() once to " +
        "rewrite them under the recorded schema")
    val ord = base.iterator.filter(_.kind == "addcol")
      .map(_.lo).foldLeft(-1L)(math.max) + 1
    withFeature(base, "addcol") :+ GraftTable.addColRow(
      GraftTable.AddedCol(name, dataType, defaultSql), ord)
  }

  /** apply SEVERAL column changes in ONE atomic commit — the ANSI
    * `ALTER TABLE` statement contract the catalog needs (a
    * per-change commit sequence could half-apply on a mid-statement
    * guard failure or a lost race): every change folds over the same
    * base inside one CAS loop with the full per-verb guard set, so
    * the batch commits entirely or not at all, racing writers retry
    * the WHOLE fold, and sequential semantics hold (a rename's new
    * name is visible to the next change). Returns the new version. */
  def alterColumns(changes: Seq[GraftTable.ColChange]): Long = {
    require(changes.nonEmpty, "no changes")
    changes.foreach {
      case GraftTable.AddCol(n, t, d) => validateDefault(n, t, d)
      case _ => ()
    }
    val v = commitManifest(changes.foldLeft(_) {
      case (b, GraftTable.RenameCol(o, n)) => applyRenameColumn(b, o, n)
      case (b, GraftTable.DropCol(n))      => applyDropColumn(b, n)
      case (b, GraftTable.AddCol(n, t, d)) => applyAddColumn(b, n, t, d)
    })
    if (changes.exists(_.isInstanceOf[GraftTable.AddCol]) &&
        schemaMode() == "enforce") setSchemaMode("enforce")
    v
  }

  // ---- read plumbing --------------------------------------------------

  /** parsed-schema cache for [[schemaOf]] — a handle resolves the same
    * distinct schema strings on every read */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** rows of `files` with `__file`/`__pos` provenance columns, read
    * under `refs`' manifest-resolved schema (a SUBSET scan — a
    * mutation's candidates — still resolves against the full
    * snapshot, so rewrites stage under the unified schema) */
  private def withProv(refs: Seq[FileRef], files: Seq[String]): DataFrame =
    readFiles(refs, files)
      // _metadata.file_path is a URI; manifests hold plain paths
      .withColumn("__file",
        regexp_replace(col("_metadata.file_path"), "^file:(//)?", ""))
      .withColumn("__pos", col("_metadata.row_index"))

  /** total recorded positions across DV refs (each DV ref's `hi`
    * carries its footer row count since round 11) — Long.MaxValue when
    * any ref predates the counter, forcing the broadcast-free path */
  private def dvPositions(refs: Seq[FileRef]): Long =
    if (refs.nonEmpty && refs.forall(_.hi >= 0)) refs.map(_.hi).sum
    else Long.MaxValue

  /** the distinct data files a DV sidecar list targets. DV files are
    * immutable once committed, so the set for a given list never
    * changes — memoized (single entry, key = the sorted list) because
    * one mutation past the DV broadcast budget otherwise re-pays this
    * collect for each of its scans (candidate refinement, touched
    * read, rewrite) plus retirement (the round-11 advisor's note). */
  @volatile private var dvTargetsCache: (Seq[String], Set[String]) = null
  private def dvTargets(dvFiles: Seq[String]): Set[String] = {
    val key = dvFiles.sorted
    val c = dvTargetsCache
    if (c != null && c._1 == key) return c._2
    val t = spark.read.parquet(key: _*)
      .select(col("dv_file")).distinct()
      .collect().map(_.getString(0)).toSet // ≤ data-file count rows
    dvTargetsCache = (key, t)
    t
  }

  /** DV-applied rows of `files` with `__file`/`__pos` provenance
    * columns — the one scan shape every mutation's refinement and
    * rewrite read through, so merge-on-read deletes are honored by
    * every later mutation, not just by `read`.
    *
    * DV application is ADAPTIVE on the manifest-recorded position
    * count (zero extra reads): a small DV broadcasts (one cheap
    * hash-probe per row, no shuffle); past
    * [[GraftTable.DvBroadcastPositions]] it applies FILE-LOCALLY —
    * only the files the DV actually targets (the distinct `dv_file`
    * set, file-count-bounded metadata) enter an un-broadcast shuffled
    * hash join, and every untargeted file is unioned in untouched.
    * This removes the one unbounded broadcast the round-10 engine had:
    * a 0.1% MoR delete of a 100 TB table (~10⁸ positions) now costs a
    * shuffle of the targeted files' rows plus the DV — never a
    * driver/executor-memory-bound broadcast of the whole DV. (Delta
    * and Iceberg reach the same shape with per-file roaring-bitmap
    * sidecars applied inside each file's reader.) */
  private def scan(refs: Seq[FileRef], files: Seq[String]): DataFrame = {
    val dvRefs = refs.filter(_.kind == "dv")
    if (dvRefs.isEmpty) return withProv(refs, files)
    val dv = spark.read.parquet(dvRefs.map(_.file): _*)
    def anti(base: DataFrame, side: DataFrame): DataFrame =
      base.join(side,
        base("__file") === dv("dv_file") && base("__pos") === dv("dv_pos"),
        "left_anti")
    if (dvPositions(dvRefs) <= GraftTable.DvBroadcastPositions)
      anti(withProv(refs, files), broadcast(dv))
    else {
      val targets = dvTargets(dvRefs.map(_.file))
      val (dirty, clean) = files.partition(targets)
      val applied =
        if (dirty.isEmpty) None
        else Some(anti(withProv(refs, dirty), dv.hint("shuffle_hash")))
      val carried = if (clean.isEmpty) None else Some(withProv(refs, clean))
      (carried.toSeq ++ applied.toSeq)
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** zero-row frame with the table's schema (for all-insert merges) —
    * built from the manifest-recorded schema when present, so an
    * insert-only merge against a current-format table opens NO file */
  private def emptyLike(data: Seq[FileRef], fallback: DataFrame): DataFrame =
    schemaOf(data) match {
      case Some(s) =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
      case None =>
        if (data.isEmpty) fallback.limit(0)
        else spark.read.parquet(data.head.file).limit(0)
    }

  // ---- mutation planning ----------------------------------------------

  /** files whose key range CAN contain one of `delta`'s keys — a
    * broadcast range join of the delta's keys against manifest stats
    * rows (metadata-scale; x23Plan's exact template). Dispatches on
    * the key's DECLARED type: integral keys range-join the `lo`/`hi`
    * bounds, STRING keys range-join the lexicographic bounds in
    * `sstats` (Spark's string comparison is unsigned-UTF-8-byte order,
    * exactly the order the parquet footers minted the bounds in, so
    * the join is pruning in the bounds' own order). Any other key type
    * falls back to all files — its stats are the vacuous sentinel,
    * never truncated values a planner could wrongly treat as exact
    * (the advisor's fractional-key bug). */
  private[table] def pruneByKeys(data: Seq[FileRef], delta: DataFrame,
                                 physKey: String = null): Seq[String] = {
    if (data.isEmpty) return Seq.empty
    // manifest sstats are keyed by the key's PHYSICAL name; the delta
    // frame carries the LOGICAL one (identity on unmapped tables)
    val pk = if (physKey == null) keyCol else physKey
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    delta.schema.fields.find(_.name == keyCol).map(_.dataType) match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        val mdf = data.map(r => (r.file, r.lo, r.hi))
          .toDF("__mfile", "__lo", "__hi")
        delta.select(col(keyCol).cast("long").as("__k"))
          .where(col("__k").isNotNull)
          .join(broadcast(mdf),
            col("__k") >= col("__lo") && col("__k") <= col("__hi"))
          .select(col("__mfile")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
      case Some(StringType) =>
        // files without string bounds for the key (all-NULL, or a
        // stats-suppressing writer) stay candidates unconditionally
        val unbounded = data.collect {
          case r if !r.sstats.contains(pk) => r.file }
        val bounded = data.flatMap(r =>
          r.sstats.get(pk).map { case (lo, hi) => (r.file, lo, hi) })
        if (bounded.isEmpty) return data.map(_.file).sorted
        val mdf = bounded.toDF("__mfile", "__lo", "__hi")
        val matched = delta.select(col(keyCol).as("__k"))
          .where(col("__k").isNotNull)
          .join(broadcast(mdf),
            col("__k") >= col("__lo") && col("__k") <= col("__hi"))
          .select(col("__mfile")).distinct()
          .collect().map(_.getString(0)).toSeq
        (matched ++ unbounded).distinct.sorted
      case _ => data.map(_.file).sorted
    }
  }

  /** files whose statistics can satisfy `predicate` — a min/max
    * interval evaluator over the predicate's boolean skeleton
    * ([[PredicateTree]]): a conjunct over ANY column the manifest
    * carries stats for prunes (the key via its dedicated range, every
    * other integral column via the per-file stats map — Iceberg's
    * inclusive metrics); anything else is conservatively "may match".
    * Skipping is sound for NULL values too: a pure comparison never
    * selects a NULL row under three-valued logic, and min/max over the
    * non-NULL rows bounds exactly the rows a comparison can select. */
  private[table] def pruneByPredicate(data: Seq[FileRef],
                                      predicate: Column): Seq[String] = {
    val tree = statsTree(PredicateTree.parse(predicate), data)
    data.filter(r => mayMatch(tree, r)).map(_.file).sorted
  }

  /** a parsed predicate skeleton, resolved for evaluation against
    * `refs`' per-file stats. [[PredicateTree]] emits FULL dotted
    * paths because, pre-resolution, `t.k` (qualifier + column) and
    * `meta.price` (column + struct field — the round-18 nested stats
    * key) are indistinguishable; this is where the schema is known:
    * the first part matching a top-level column (under the SESSION
    * resolver — case-insensitive by default, exactly like the row
    * filter the scan re-applies) anchors the path, leading non-column
    * parts drop as relation qualifiers, and the tail canonicalizes
    * through the struct fields so a case-mismatched reference still
    * finds its recorded bounds. An unresolvable name stays as-is —
    * its lookups miss and the file stays a candidate. Then LOGICAL
    * maps to PHYSICAL (x53; a dotted path maps its root). Legacy
    * manifests with no recorded schema resolve NOTHING: they carry no
    * nested stats, and collapsing a dotted name to its leaf (the
    * pre-round-18 behavior) could alias a same-named top-level
    * column's bounds — the wrong-prune class this round closed. */
  private def statsTree(n: PredicateTree.Node,
                        refs: Seq[FileRef]): PredicateTree.Node =
    schemaOf(refs) match {
      case Some(st) =>
        import org.apache.spark.sql.types.{DataType, StructField, StructType}
        val resolver = spark.sessionState.conf.resolver
        val byPhys = colRows(refs).map { case (l, p) => p -> l }.toMap
        val tops: Seq[(String, StructField)] = st.fields.toSeq
          .map(f => (byPhys.getOrElse(f.name, f.name), f))
          .filter(_._1.nonEmpty)
        def canon(c: String): String =
          if (!c.contains('.')) c
          else tops.find(t => resolver(t._1, c)) match {
            // a literal dotted top-level name wins over path-splitting
            case Some((l, _)) => l
            case None =>
              val parts = c.split("\\.").toSeq
              val i = parts.indexWhere(p =>
                tops.exists(t => resolver(t._1, p)))
              if (i < 0) c
              else {
                val (headLogical, headField) =
                  tops.find(t => resolver(t._1, parts(i))).get
                val out =
                  scala.collection.mutable.ArrayBuffer(headLogical)
                var cur: DataType = headField.dataType
                var ok = true
                val tail = parts.drop(i + 1).iterator
                while (ok && tail.hasNext) {
                  val p = tail.next()
                  cur match {
                    case s: StructType =>
                      s.fields.find(f => resolver(f.name, p)) match {
                        case Some(f) => out += f.name; cur = f.dataType
                        case None => ok = false
                      }
                    case _ => ok = false
                  }
                }
                if (ok) out.mkString(".") else c
              }
          }
        PredicateTree.mapColumns(n, c => physicalOf(refs)(canon(c)))
      case None =>
        PredicateTree.mapColumns(n, physicalOf(refs))
    }

  /** the per-file stats+bloom evaluator — a serializable value (see
    * [[StatsEval]]) so bloom refinement can evaluate it NEXT TO the
    * bloom bytes on executors */
  private val eval = StatsEval(keyCol)

  private def mayMatch(e: PredicateTree.Node, r: FileRef): Boolean =
    eval.mayMatch(e, r)

  // ---- write path -----------------------------------------------------

  /** land `df` as immutable files under a fresh uuid dir, lift each
    * file's per-column (min, max) stats — every integral column's and
    * every string column's (Iceberg's inclusive metrics) — FROM THE
    * PARQUET FOOTERS the write just produced (a few KB per file, no
    * second pass over the data — the round-10 write path re-read every
    * staged byte to aggregate the same numbers), and leave a
    * `.staging-<uuid>` marker until a commit adopts the files.
    *
    * The key's `lo`/`hi` range comes from its integral stats; a
    * NON-INTEGRAL key records the sentinel full range — including
    * fractional keys, whose truncated cast-to-long bounds would
    * otherwise be treated as exact by the delete planner and skip
    * files whose real values straddle a literal (the advisor's
    * missed-delete bug; a string key instead prunes via its own
    * lexicographic bounds in `sstats`). An all-NULL column simply
    * records no stats (always a candidate — planning may weaken,
    * correctness cannot). */
  private def stage(df: DataFrame): Staged = {
    enforceSchema(df) // BEFORE the write: nothing to clean up
    stageCounter.incrementAndGet()
    io.mkdirs(dataDir)
    val uuid = java.util.UUID.randomUUID().toString
    val marker = s"$dataDir/.staging-$uuid"
    io.touch(marker) // BEFORE any data file exists (expire skips it)
    val sub = s"$dataDir/$uuid"
    // a FAILED write (an ANSI cast mid-job, a dead executor) must not
    // leave the marker + partial dir as staging orphans until a
    // stale-staging sweep — clean up like a checks violation does
    try df.write.parquet(sub)
    catch { case e: Throwable =>
      io.deleteTree(sub); io.delete(marker); throw e
    }
    val listed = io.list(sub)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(st => io.canon(st.getPath.toString) -> st.getLen)
      .sortBy(_._1)
    val files = listed.map(_._1)
    val sizes = listed.toMap
    // stats leaves: every top-level integral/string column PLUS every
    // such leaf reachable through STRUCT nesting (round 18 — dotted
    // paths, e.g. `meta.price`; parquet footers carry these bounds for
    // free). Array/map subtrees stay out: repeated values make
    // per-file min/max a different, not-yet-planned pruning story.
    // COLLIDING names record no stats at all: a top-level column
    // literally named "a.b" and a struct leaf a.b share one footer
    // key — their bounds would union (sound) but their null counts
    // would SUM, and an IS NOT NULL delete planned off the inflated
    // count could prune live files.
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType, StructType}
    val typedLeaves =
      scala.collection.mutable.ArrayBuffer.empty[(String, DataType)]
    def leafWalk(prefix: String, st: StructType): Unit =
      st.fields.foreach { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => leafWalk(name, s)
          case dt => typedLeaves += name -> dt
        }
      }
    leafWalk("", df.schema)
    val leafCount = typedLeaves.groupBy(_._1).view.mapValues(_.size)
    val intCols = typedLeaves.collect {
      case (n, ByteType | ShortType | IntegerType | LongType)
          if leafCount(n) == 1 => n
    }.toSet
    val strCols = typedLeaves.collect {
      case (n, StringType) if leafCount(n) == 1 => n
    }.toSet
    // CHECK constraints gate the commit HERE: a violation discards the
    // staged files (vacuum-safe — marker cleared after the delete) and
    // throws before any manifest exists
    try validateChecks(files, df.schema)
    catch { case e: Throwable =>
      io.deleteTree(sub); io.delete(marker); throw e
    }
    val perFile = FooterStats.readAll(spark, files, intCols, strCols)
    // each data ref records the schema it was WRITTEN under, so every
    // later read resolves the snapshot schema from the manifest alone
    // (merge of the distinct per-file schemas — Delta's metaData
    // action, per-file-provenanced) instead of sweeping every footer
    val schemaJson = df.schema.json
    val pk = physKeyOf(headRefs) // staged frames are PHYSICAL (x53)
    val dataStaged = Staged(sub, files.map { f =>
      val st = perFile.get(f)
      val (lo, hi) = st.flatMap(_.intStats.get(pk))
        .getOrElse((Long.MinValue, Long.MaxValue))
      FileRef(f, "data", lo, hi,
        st.map(_.intStats).getOrElse(Map.empty),
        st.map(_.strStats).getOrElse(Map.empty),
        rows = st.map(_.rows).getOrElse(-1L),
        bytes = sizes.getOrElse(f, -1L),
        nstats = st.map(_.nulls).getOrElse(Map.empty),
        schemaJson = schemaJson)
    }, marker)
    bloomConfig() match {
      case Some((cols, fpp)) =>
        val rowsByFile = dataStaged.refs.map(r => r.file -> r.rows).toMap
        stageBloomSidecar(files, rowsByFile, cols, fpp, df.schema) match {
          case Some(bs) =>
            dataStaged.copy(refs = dataStaged.refs ++ bs.refs,
              extra = Seq(bs))
          case None => dataStaged
        }
      case None => dataStaged
    }
  }

  /** stage a deletion-vector sidecar (`dv_file`, `dv_pos` rows).
    * Written with the positions frame's NATURAL partitioning — it
    * comes out of the matched-files scan, so the sidecars land
    * roughly one per matched data file (Delta's per-file-DV shape)
    * and a 10⁸-position delete isn't funneled through one writer.
    * Each ref's `hi` records its footer row count, the plan-time size
    * estimate `scan`'s adaptive DV application keys on. */
  private def stageDv(df: DataFrame): Staged = {
    stageCounter.incrementAndGet()
    io.mkdirs(dataDir)
    val uuid = java.util.UUID.randomUUID().toString
    val marker = s"$dataDir/.staging-$uuid"
    io.touch(marker)
    val sub = s"$dataDir/$uuid"
    // a FAILED write (an ANSI cast mid-job, a dead executor) must not
    // leave the marker + partial dir as staging orphans until a
    // stale-staging sweep — clean up like a checks violation does
    try df.write.parquet(sub)
    catch { case e: Throwable =>
      io.deleteTree(sub); io.delete(marker); throw e
    }
    val listed = io.list(sub)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(st => io.canon(st.getPath.toString) -> st.getLen)
      .sortBy(_._1)
    val conf = spark.sessionState.newHadoopConf()
    Staged(sub,
      listed.map { case (f, len) =>
        val n = FooterStats.rowCount(f, conf)
        FileRef(f, "dv", 0L, n, rows = n, bytes = len)
      },
      marker)
  }

  // ---- bloom file index -----------------------------------------------

  // ---- CHECK constraints ------------------------------------------------

  private def checksConfPath = s"$root/checks.conf"

  /** declare a CHECK CONSTRAINT (Delta's `ALTER TABLE ... ADD
    * CONSTRAINT ... CHECK`): every row a mutation stages FROM NOW ON
    * must satisfy `exprSql` (a boolean SQL expression over the row's
    * columns; SQL-standard semantics — NULL passes, only a strict
    * FALSE violates). A violating commit ABORTS before any manifest is
    * written: the staged files discard, the table is untouched, and
    * the error names the constraint and one offending row. Validation
    * reads the just-staged files back (column/constraint-pruned, no
    * recompute of the caller's plan), so the cost is one scan of the
    * STAGED delta — mutation-proportional, never table-proportional:
    * exactly where Delta pays it, and the shape that holds when a
    * 100 TB table ingests a GB batch. Existing rows are not
    * re-validated (add constraints before data, or validate
    * retroactively with `readWhere(!expr)`). */
  def addCheck(name: String, exprSql: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint names are [A-Za-z0-9_]+: '$name'")
    require(!exprSql.contains("\n") && exprSql.nonEmpty,
      "constraint expression must be one non-empty line")
    // fail loudly NOW on a syntax error, not mid-ingest (Spark 4's
    // functions.expr defers parsing to analysis — call the parser)
    spark.sessionState.sqlParser.parseExpression(exprSql)
    val before = checks()
    val kept = before.filterNot(_._1 == name)
    val content = (kept.toSeq :+ (name -> exprSql)).sortBy(_._1)
      .map { case (n, e) => s"$n=$e" }.mkString("", "\n", "\n")
    io.writeUtf8(checksConfPath, content)
    if (before.get(name) != Some(exprSql)) commitPropStamp("checks", content)
  }

  /** drop a CHECK constraint by name (no-op when absent) */
  def dropCheck(name: String): Unit = {
    val before = checks()
    if (!before.contains(name)) return // nothing changes, nothing stamps
    val kept = before.filterNot(_._1 == name).toSeq.sortBy(_._1)
    val content =
      if (kept.isEmpty) { io.delete(checksConfPath); "" }
      else {
        val c = kept.map { case (n, e) => s"$n=$e" }.mkString("", "\n", "\n")
        io.writeUtf8(checksConfPath, c)
        c
      }
    commitPropStamp("checks", content)
  }

  /** VERSION a metadata property change into the manifest (round-15
    * verdict #7 — the rebase-vs-metadata-commits hole): constraints
    * and the schema mode live in side files that stage() validates
    * against, so a constraint added between a racing writer's stage
    * and its publish was invisible to the commit race — the loser's
    * already-validated rows would rebase in un-revalidated (Delta
    * versions its metadata in the log exactly to close this). Each
    * change now also commits a `kind = "prop"` fingerprint row: the
    * change claims a version slot, every in-flight writer therefore
    * LOSES its CAS race, and [[canRebase]] treats a fingerprint
    * difference as a real conflict — the forced re-compose re-stages
    * and re-validates against the new set. No-op on an empty table
    * (nothing can be in flight against no base; the conf file alone
    * governs, exactly as before). */
  private def commitPropStamp(kind: String, content: String): Unit =
    if (head > 0) {
      val stamp = GraftTable.propRow(kind, content)
      commitManifest(_.filterNot(r => r.kind == "prop" &&
        r.file.startsWith(s"prop:$kind:")) :+ stamp)
      ()
    }

  /** the table's CHECK constraints, name → boolean SQL expression */
  def checks(): Map[String, String] =
    io.readUtf8(checksConfPath).map { s =>
      s.linesIterator.map(_.trim).filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
    }.getOrElse(Map.empty)

  /** validate freshly staged files against every constraint whose
    * columns the staged schema carries (a delta narrower than the
    * table — a DV sidecar, a pre-evolution feed — skips constraints it
    * cannot express, matching Delta's per-write scoping); throws with
    * the constraint name and one offending row on violation */
  private def validateChecks(files: Seq[String],
                             schema: org.apache.spark.sql.types.StructType)
      : Unit = {
    val cs = checks()
    if (cs.isEmpty || files.isEmpty) return
    val names = schema.fieldNames.toSet
    // pre-analysis reference collection: walk the PARSED (unresolved)
    // expression for attribute names — Spark 4 Columns carry
    // ColumnNodes, and Expression.references is undefined pre-analysis
    def refs(e: String): Seq[String] =
      spark.sessionState.sqlParser.parseExpression(e).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.nameParts.head
      }
    val applicable = cs.filter { case (_, e) => refs(e).forall(names) }
    if (applicable.isEmpty) return
    // the staged schema is in hand — no footer re-read
    val staged = spark.read.schema(schema).parquet(files: _*)
    applicable.foreach { case (n, e) =>
      // SQL CHECK semantics: only a strict FALSE violates (NULL passes)
      val bad = staged.where(coalesce(expr(e), lit(true)) === false)
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint '$n' ($e) violated by staged row: ${bad.head}")
    }
  }

  // ---- schema mode ------------------------------------------------------

  private def schemaModePath = s"$root/schema.conf"

  /** set the table's SCHEMA MODE (Delta's schema enforcement):
    *  - `"evolve"` (the default, and the pre-existing behavior): any
    *    staged schema commits; readers union schemas and fill NULL —
    *    x27/x35's O(metadata) column add;
    *  - `"enforce"`: a mutation whose staged schema differs from the
    *    RECORDED one — missing columns, new columns, or a changed
    *    type — ABORTS before any manifest exists, exactly like the
    *    CHECK gate. The recorded schema is captured HERE from the
    *    head snapshot (or by the first enforced write on an empty
    *    table) and kept as a table property, so per-mutation
    *    validation is one small property read — never a footer sweep
    *    (Delta keeps the schema in its log for the same reason). The
    *    accidental-drift protection Delta turns on by default; here
    *    it is opt-in because evolution-by-append is a first-class
    *    workflow this engine ships. */
  def setSchemaMode(mode: String): Unit = {
    require(mode == "evolve" || mode == "enforce",
      s"schema mode is 'evolve' or 'enforce' (got '$mode')")
    if (mode == "evolve") {
      val had = io.readUtf8(schemaModePath).isDefined
      io.delete(schemaModePath)
      if (had) commitPropStamp("schema", "")
    } else {
      val h = head
      // recorded under PHYSICAL names: enforcement compares against
      // staged frames, which stage physically (renames don't drift it)
      val json =
        if (h == 0) "" else readPhysical(manifestOf(h)).schema.json
      io.writeUtf8(schemaModePath, "enforce\n" + json)
      commitPropStamp("schema", "enforce\n" + json)
    }
  }

  /** the persisted schema mode — "evolve" unless set */
  def schemaMode(): String =
    if (io.readUtf8(schemaModePath).exists(_.startsWith("enforce")))
      "enforce"
    else "evolve"

  /** under `enforce`, reject a staged schema that differs from the
    * recorded one (names AND types; column order is immaterial —
    * readers are name-based) */
  private def enforceSchema(df: DataFrame): Unit = {
    val confOpt = io.readUtf8(schemaModePath)
    if (!confOpt.exists(_.startsWith("enforce"))) return
    val conf = confOpt.get
    val json = conf.linesIterator.drop(1).mkString("\n").trim
    if (json.isEmpty) { // empty table at set time: this write defines it
      io.writeUtf8(schemaModePath, "enforce\n" + df.schema.json)
      return
    }
    val want = org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.map(f => f.name -> f.dataType).toMap
    val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
    if (want != got) {
      val missing = want.keySet -- got.keySet
      val extra = got.keySet -- want.keySet
      val changed = (want.keySet & got.keySet)
        .filter(c => want(c) != got(c))
      throw new IllegalArgumentException(
        s"schema mode 'enforce' rejects this write: " +
          s"missing=${missing.toSeq.sorted.mkString(",")} " +
          s"extra=${extra.toSeq.sorted.mkString(",")} " +
          s"changed=${changed.toSeq.sorted.mkString(",")} — " +
          "setSchemaMode(\"evolve\") to allow schema drift")
    }
  }

  private def bloomConfPath = s"$root/bloom.conf"

  /** declare a BLOOM FILE INDEX on `cols` (Delta's bloom-filter index /
    * Iceberg's puffin blobs): every file staged FROM NOW ON gets a
    * per-file bloom filter per indexed column, committed as a sidecar
    * (`kind = "bloom"` manifest rows, the DV pattern), and every
    * mutation/readWhere EQUALITY constraint on an indexed column
    * prunes files whose filter proves the value absent. This is the
    * pruning modality min/max stats can't provide: a high-cardinality
    * UNSORTED column (UUID, email, content hash) has near-full-range
    * bounds in every file, but its bloom answers point lookups — the
    * GDPR-erase / dedup-probe shape at 100 TB.
    *
    * Existing files are not indexed retroactively; a `compact()` or
    * `cluster(...)` rewrite (re-)indexes whatever it stages, exactly
    * like Delta. The filter is sized from each file's footer row count
    * at `fpp`; values hash as widened longs (integral columns) or
    * UTF-8 strings. Config is a table property (last writer wins) —
    * it changes FUTURE writes only, so concurrent readers are
    * unaffected. */
  def indexBloom(cols: Seq[String], fpp: Double = 0.01): Unit = {
    require(cols.nonEmpty, "indexBloom needs at least one column")
    require(cols.forall(c => c.nonEmpty && !c.contains(",")),
      s"column names must be non-empty and comma-free: $cols")
    require(fpp > 0.0 && fpp < 0.5, s"fpp must be in (0, 0.5): $fpp")
    // sidecars key on PHYSICAL column names (staged frames and the
    // mapped predicate skeletons both speak physical — x53), so a
    // LOGICAL name resolves here, once, at declaration time; without
    // this a post-rename indexBloom("new_name") would silently build
    // no filters (the staged frame has no such column)
    val phys = cols.map(physicalOf(headRefs))
    io.writeUtf8(bloomConfPath, s"cols=${phys.mkString(",")}\nfpp=$fpp\n")
  }

  /** the persisted bloom-index config — (columns, fpp), None when the
    * table isn't indexed */
  def bloomConfig(): Option[(Seq[String], Double)] =
    io.readUtf8(bloomConfPath).flatMap { s =>
      val kv = s.linesIterator.map(_.trim).filter(_.contains("="))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
        .toMap
      kv.get("cols")
        .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .filter(_.nonEmpty)
        .map(cols => (cols, kv.get("fpp").map(_.toDouble).getOrElse(0.01)))
    }

  /** build the bloom sidecar for freshly staged `files`: one filter
    * per (file, indexed column), sized from the file's footer row
    * count. One column-pruned pass over the staged files; partial
    * filters build per PARTITION and merge per (file, column) — the
    * shuffle moves KB-scale filter bytes, never rows (a file split
    * across input partitions produces compatible partials:
    * BloomFilter.create derives its geometry from (n, fpp) alone). */
  private def stageBloomSidecar(files: Seq[String],
                                rowsByFile: Map[String, Long],
                                cols: Seq[String], fpp: Double,
                                schema: org.apache.spark.sql.types.StructType)
      : Option[Staged] = {
    import org.apache.spark.sql.types._
    val typed = cols.flatMap(c =>
      schema.fields.find(_.name == c).map(f => c -> f.dataType)).collect {
      case (c, t @ (ByteType | ShortType | IntegerType | LongType |
                    StringType)) => c -> (t == StringType)
    }
    // footer counts size the filters; a stats-suppressed write simply
    // isn't indexed (pruning weakens, correctness can't)
    if (typed.isEmpty || files.isEmpty || rowsByFile.exists(_._2 < 0))
      return None
    val names = typed.map(_._1)
    val isStr = typed.map(_._2).toArray
    val fileIdx = names.size
    val nByFile = spark.sparkContext.broadcast(rowsByFile)
    val fppL = fpp
    val src = spark.read.schema(schema).parquet(files: _*)
      .select(names.map(col) :+
        regexp_replace(col("_metadata.file_path"), "^file:(//)?", "")
          .as("__file"): _*)
    import spark.implicits._
    val namesL = names.toArray
    val partials = src.mapPartitions { rows =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, Int), org.apache.spark.util.sketch.BloomFilter]
      rows.foreach { r =>
        val f = r.getString(fileIdx)
        var i = 0
        while (i < fileIdx) {
          if (!r.isNullAt(i)) {
            val b = acc.getOrElseUpdate((f, i),
              org.apache.spark.util.sketch.BloomFilter.create(
                math.max(nByFile.value.getOrElse(f, 1L), 1L), fppL))
            if (isStr(i)) b.putString(r.getString(i))
            else b.putLong(r.get(i) match {
              case x: java.lang.Byte    => x.toLong
              case x: java.lang.Short   => x.toLong
              case x: java.lang.Integer => x.toLong
              case x: java.lang.Long    => x.longValue
            })
          }
          i += 1
        }
      }
      acc.iterator.map { case ((f, i), b) =>
        val bos = new java.io.ByteArrayOutputStream()
        b.writeTo(bos)
        (f, namesL(i), bos.toByteArray)
      }
    }
    val merged = partials.groupByKey(t => (t._1, t._2))
      .reduceGroups { (a, b) =>
        val ba = org.apache.spark.util.sketch.BloomFilter.readFrom(a._3)
        ba.mergeInPlace(
          org.apache.spark.util.sketch.BloomFilter.readFrom(b._3))
        val bos = new java.io.ByteArrayOutputStream()
        ba.writeTo(bos)
        (a._1, a._2, bos.toByteArray)
      }
      .map(_._2)
      .toDF("data_file", "idx_col", "bloom")
    // each row records the kind it hashed with, so refinement only
    // consults a filter whose probes hash the same way (a coerced
    // literal of the other kind must NOT see "definitely absent")
    val kindByCol = typed.toMap.map { case (c, s) =>
      c -> (if (s) "str" else "long") }
    Some(stageSidecarDf(merged.withColumn("hash_kind",
      element_at(typedLit(kindByCol), col("idx_col")))))
  }

  /** sidecar rows under the CURRENT schema: pre-`hash_kind` rows (a
    * legacy sidecar, or a fold that mixed them in) read with a NULL
    * kind, which refinement never consults — degradation is
    * weaker pruning, never a wrong prune */
  private def readSidecars(files: Seq[String]): DataFrame = {
    val df = spark.read.option("mergeSchema", "true").parquet(files: _*)
    if (df.columns.contains("hash_kind")) df
    else df.withColumn("hash_kind", lit(null).cast("string"))
  }

  /** stage a bloom sidecar parquet of (data_file, idx_col, bloom) rows
    * under its own uuid dir + staging marker (vacuum-safe like any
    * stage) */
  private def stageSidecarDf(df: DataFrame): Staged = {
    io.mkdirs(dataDir)
    val uuid = java.util.UUID.randomUUID().toString
    val marker = s"$dataDir/.staging-$uuid"
    io.touch(marker)
    val sub = s"$dataDir/$uuid"
    // a FAILED write (an ANSI cast mid-job, a dead executor) must not
    // leave the marker + partial dir as staging orphans until a
    // stale-staging sweep — clean up like a checks violation does
    try df.write.parquet(sub)
    catch { case e: Throwable =>
      io.deleteTree(sub); io.delete(marker); throw e
    }
    val listed = io.list(sub)
      .filter(_.getPath.getName.startsWith("part-"))
      .map(st => io.canon(st.getPath.toString) -> st.getLen)
      .sortBy(_._1)
    Staged(sub, listed.map { case (f, len) =>
      FileRef(f, "bloom", 0L, 0L, bytes = len) }, marker)
  }

  /** SIDECAR DEFRAGMENTATION, compact()'s bloom half: every commit on
    * an indexed table stages its own sidecar, so an append-heavy table
    * accumulates one tiny sidecar per commit and refinement pays one
    * file-open each. Past [[GraftTable.BloomFoldSidecars]] sidecars,
    * compact folds them into ONE (the retirement read re-staged) —
    * sidecar-scale work, rows untouched, same OPTIMIZE cadence that
    * already owns small-file hygiene. */
  private def foldBloomSidecars(refs: Seq[FileRef], staged: Seq[Staged])
      : (Seq[FileRef], Seq[Staged]) = {
    val bRefs = refs.filter(_.kind == "bloom")
    if (bRefs.size <= GraftTable.BloomFoldSidecars) return (refs, staged)
    val rows = readSidecars(bRefs.map(_.file)).coalesce(1)
    val st = stageSidecarDf(rows)
    (refs.filterNot(_.kind == "bloom") ++ st.refs, staged :+ st)
  }

  /** BLOOM RETIREMENT (the DV-retirement pattern): a commit that
    * removes data files rewrites carried bloom sidecars down to rows
    * whose target file survives — stale rows would otherwise
    * accumulate forever and inflate every refinement read. Cost:
    * sidecar-scale, paid only by file-removing commits on indexed
    * tables. */
  private def retireBlooms(base: Seq[FileRef], refs: Seq[FileRef],
                           staged: Seq[Staged]): (Seq[FileRef], Seq[Staged]) = {
    val live = refs.collect { case r if r.kind == "data" => r.file }.toSet
    val removed = base.collect {
      case r if r.kind == "data" && !live(r.file) => r.file }.toSet
    val bRefs = refs.filter(_.kind == "bloom")
    if (removed.isEmpty || bRefs.isEmpty) return (refs, staged)
    val rows = readSidecars(bRefs.map(_.file))
    val targets = rows.select(col("data_file")).distinct()
      .collect().map(_.getString(0)).toSet
    if (!targets.exists(removed)) return (refs, staged)
    val noBloom = refs.filterNot(_.kind == "bloom")
    if (targets.forall(removed)) return (noBloom, staged)
    val liveDf = live.intersect(targets).toSeq.toDF("__live_file")
    val survivors = rows.join(broadcast(liveDf),
      rows("data_file") === col("__live_file"), "left_semi")
    val st = stageSidecarDf(survivors)
    (noBloom ++ st.refs, staged :+ st)
  }

  /** drop candidate files whose bloom filters prove the predicate's
    * equality constraints can't match. Evaluation happens ON EXECUTORS
    * next to the bloom bytes (the predicate tree, the candidates'
    * manifest rows, and the [[StatsEval]] broadcast out; only pruned
    * file NAMES come back) — at 100 TB the candidate set is ~10⁵
    * files × ~100 KB of filter, which must never funnel through the
    * driver. Missing/vacuumed sidecars and files without bloom rows
    * degrade to stats-only pruning (weaker, never wrong). */
  private[table] def bloomRefine(base: Seq[FileRef], data: Seq[FileRef],
                                 cand: Seq[String],
                                 tree: PredicateTree.Node): Seq[String] = {
    if (cand.isEmpty) return cand
    val eqCols = PredicateTree.equalityColumns(tree)
    if (eqCols.isEmpty) return cand
    val sidecars = base.collect { case r if r.kind == "bloom" => r.file }
      .filter(io.exists)
    if (sidecars.isEmpty) return cand
    val candSet = cand.toSet
    val refByFile = data.collect {
      case r if candSet(r.file) => r.file -> r }.toMap
    val ctx = spark.sparkContext.broadcast((tree, refByFile, eval))
    import spark.implicits._
    val dropped = readSidecars(sidecars)
      .where(col("idx_col").isin(eqCols.toSeq: _*))
      .select(col("data_file"), col("idx_col"), col("bloom"),
        col("hash_kind"))
      .as[(String, String, Array[Byte], Option[String])]
      .groupByKey(_._1)
      .flatMapGroups { (f, it) =>
        val (t, refs, ev) = ctx.value
        refs.get(f) match {
          case None => Iterator.empty // not a candidate file
          case Some(r) =>
            // rows without a recorded hash kind (legacy sidecars) are
            // never consulted — they might answer cross-kind probes
            val blooms = it.collect { case (_, c, bytes, Some(kind)) =>
              c -> (kind,
                org.apache.spark.util.sketch.BloomFilter.readFrom(bytes))
            }.toMap
            if (ev.mayMatch(t, r, blooms)) Iterator.empty
            else Iterator.single(f)
        }
      }
      .collect().toSet
    if (dropped.isEmpty) cand else cand.filterNot(dropped)
  }

  /** snapshot read RESTRICTED BY `predicate`, planned off the
    * manifest: only stats- and bloom-pruned candidate files open, then
    * the predicate re-applies row-level (pruning is an optimization,
    * never a correctness dependency — an opened false-positive file
    * just contributes zero rows). The 100 TB point-lookup path: a
    * `WHERE token = '...'` over a bloom-indexed column opens the
    * handful of files whose filters might contain the value instead
    * of the whole table. */
  def readWhere(predicate: Column, version: Long = -1L): DataFrame = {
    val v = if (version < 0) head else version
    if (v == 0) return spark.emptyDataFrame
    val refs = manifestOf(v)
    // the predicate arrives over LOGICAL names; stats/sstats/bloom
    // rows are keyed physically — resolve struct paths, then map the
    // skeleton across (x53)
    val cand =
      candidates(refs, statsTree(PredicateTree.parse(predicate), refs))
    if (cand.isEmpty) read(v).limit(0).where(predicate)
    else rowsOf(refs, cand).where(predicate)
  }

  private def discardStaged(st: Staged): Unit = {
    io.deleteTree(st.dir)
    io.delete(st.marker)
    st.extra.foreach(discardStaged)
  }

  /** one CAS attempt: prepare the manifest at a temp name, publish by
    * an atomic no-overwrite rename onto v{expected+1} ([[TableIO
    * .publish]] — NIO ATOMIC_MOVE on local paths, FileContext rename
    * with Rename.NONE on DFS URIs). Only the slot-taken race (another
    * writer won) returns false; any other I/O failure is rethrown so a
    * broken filesystem surfaces instead of livelocking the retry
    * loop.
    *
    * DELTA-ENCODED when it pays: a commit whose change is small
    * relative to the snapshot writes only its adds, its `rm` rows,
    * the canonical txn rows, and a `delta` marker — O(change) manifest
    * I/O per commit instead of O(files) (the write-side twin of the
    * round-12 schema-sweep fix: a full-manifest-per-commit log makes
    * every APPEND cost grow with the table, not the change; Delta's
    * JSON actions + periodic checkpoint solve exactly this).
    * Checkpoints (full slots) land every [[GraftTable
    * .MaxManifestChain]] commits — bounding every reader's fold walk —
    * and whenever the delta wouldn't be smaller than half the full
    * manifest (compact, restore, cluster rewrites), so the heuristic
    * never writes a delta LARGER than the checkpoint it replaces. */
  private def tryCommit(expected: Long, refs: Seq[FileRef],
                        txn: Long, ts: Long,
                        base: GraftTable.Snap): Boolean = {
    val tmp = s"$commitsDir/.tmp-${java.util.UUID.randomUUID()}"
    // DRIVER-LOCAL encode (round-18, guide §1: the old toDF+coalesce(1)
    // +write paid a whole Spark job per commit for KB of metadata; the
    // on-disk format is unchanged — see [[SlotIO]])
    SlotIO.write(tmp, encodeSlot(expected, refs, base), txn, ts,
      spark.sessionState.newHadoopConf())
    arbiter.publish(tmp, s"$commitsDir/v${expected + 1}")
  }

  /** the delta-vs-checkpoint choice (see [[tryCommit]]) — `refs` is
    * the commit's FULL manifest (txn rows included); returns the rows
    * the slot physically stores */
  private def encodeSlot(expected: Long, refs: Seq[FileRef],
                         base: GraftTable.Snap): Seq[FileRef] = {
    if (expected == 0 || base == null) return refs
    val txnRows = refs.filter(_.kind == "txn")
    val fresh = refs.filterNot(_.kind == "txn")
    val baseRows = base.refs.filterNot(_.kind == "txn")
    val freshSet = fresh.toSet
    val baseSet = baseRows.toSet
    val adds = fresh.filterNot(baseSet)
    val rms = baseRows.filterNot(freshSet)
      .map(r => FileRef(r.file, "rm", -1L, -1L))
    if (base.depth + 1 > GraftTable.MaxManifestChain ||
        2 * (adds.size + rms.size) >= fresh.size) refs
    else (adds ++ rms ++ txnRows) :+
      FileRef("delta:base", "delta", expected, base.depth + 1)
  }

  /** THE CAS loop every writer runs. `compose` plans the write against
    * a base manifest and returns it as a [[Mutation]]: the
    * new manifest as a function of the base it is applied to, the
    * files it staged, and its read footprint. Each attempt publishes
    * the mutation applied to the head it read; a loser checks the
    * commits that landed since its compose base (Delta's conflict
    * checker, the ConcurrentAppend / ConcurrentDeleteRead taxonomy —
    * see [[canRebase]]):
    *
    *  - a winner REMOVED/REWROTE a footprint file (our staged rows embed
    *    its old content, or we remove it too) → real conflict → discard
    *    the staged files and re-compose;
    *  - a winner ADDED a data file whose stats overlap the mutation's
    *    keys/predicate → real conflict (an upsert could duplicate a
    *    key, a delete could miss matching rows);
    *  - a winner ADDED a deletion vector targeting a footprint file →
    *    real conflict (our rewrite would resurrect its deleted rows);
    *  - a winner committed METADATA (constraint, schema mode, declared
    *    default) → re-compose: staged rows were validated and filled
    *    against the old set;
    *  - otherwise the writes are DISJOINT: the mutation re-applies to
    *    the new head METADATA-ONLY — the staged files are re-pointed,
    *    never deleted and re-computed. `stage()` runs once however many
    *    disjoint writers land first (spec-pinned by the per-handle
    *    stage counter). An append's footprint is empty, so it always
    *    re-points; a metadata commit stages nothing, so re-applying it
    *    is re-composing it.
    *
    * A mutator pays O(matched-file bytes) of COW rewrite per attempt,
    * so re-running it per lost race is the WRONG cost model for the
    * multi-writer norm (a streaming ingester racing a nightly GDPR
    * delete). The footprint check diffs the ORIGINAL compose base
    * against the CURRENT head in one shot, so transient state (a file
    * added by one interleaved commit and compacted away by another) is
    * judged by what actually survives — sound because staged output
    * depends only on the content of the footprint files, and
    * key-duplication/missed-match hazards live entirely in the files
    * present at the final base.
    *
    * TXN GUARD: a writer carrying a batch id (`txn` ≥ 0) aborts as a
    * no-op — discarding anything it staged and returning the head —
    * as soon as the base it holds already carries that id. The check
    * runs every attempt, so two racing deliveries of one batch commit
    * exactly once.
    *
    * TXN CHECKPOINT (Delta's snapshot `txn` actions): every manifest
    * this loop publishes carries the FULL set of txn ids committed so
    * far as `kind = "txn"` rows (id in `lo`, plus one `lo = -1`
    * checkpoint marker), managed HERE — the mutation's own txn rows
    * are discarded and the canonical set (base's ∪ this commit's) is
    * appended, so cluster/restore can rebuild manifests freely without
    * forgetting replay guards. [[committedTxns]] then reads ONE slot
    * per guarded write instead of every manifest in the log — the
    * round-11 O(versions)-reads-per-streaming-batch cost, gone. A
    * pre-upgrade base manifest (no marker row) falls back to the
    * legacy full-log scan exactly once: the next commit writes the
    * checkpointed form. The winning attempt's staging markers clear
    * after the publish. */
  private def commit(txn: Long = -1L)(
      compose: Seq[FileRef] => Mutation): Long = {
    var m: Mutation = null
    var mBase: Seq[FileRef] = null // the base `m` was composed against
    while (true) {
      val h = head
      val baseSnap = if (h == 0) null else manifestSnap(h)
      val base = if (h == 0) Seq.empty[FileRef] else baseSnap.refs
      val txns = txnsIn(base)
      if (txn >= 0 && txns.contains(txn)) {
        if (m != null) m.staged.foreach(discardStaged)
        return h
      }
      if (m != null && !canRebase(mBase, base, m)) {
        m.staged.foreach(discardStaged)
        m = null
      }
      if (m == null) { m = compose(base); mBase = base }
      val (refs1, staged1) = retireDvs(base, m.manifest(base), m.staged)
      val (refs, staged) = retireBlooms(base, refs1, staged1)
      val txnRefs = FileRef("txn:ckpt", "txn", -1L, -1L) +:
        (if (txn >= 0) txns + txn else txns).toSeq.sorted
          .map(t => FileRef(s"txn:$t", "txn", t, t))
      // IN-COMMIT TIMESTAMP (Delta's ICT): strictly monotonic past
      // the base's stamp, so timestamp time travel binary-searches
      // soundly even under clock skew or same-millisecond commits
      val ts = math.max(System.currentTimeMillis(),
        base.foldLeft(0L)((mx, r) => math.max(mx, r.ts)) + 1)
      beforePublishHook()
      if (tryCommit(h, refs.filterNot(_.kind == "txn") ++ txnRefs,
                    txn, ts, baseSnap)) {
        staged.foreach(s => s.markers.foreach(io.delete))
        return h + 1
      }
      // retire* staged per-attempt sidecar rewrites against THIS base —
      // discard those, keep the mutation's own staged files for the
      // rebase check at the top of the next attempt
      staged.filterNot(m.staged.contains).foreach(discardStaged)
    }
    0L // unreachable
  }

  /** a commit that stages nothing: `manifest` maps the head onto the
    * new manifest (column, constraint and property commits; restore
    * and clone, whose manifest is a constant) */
  private def commitManifest(manifest: Seq[FileRef] => Seq[FileRef]): Long =
    commit()(_ => Mutation(manifest))

  /** test seam: runs immediately before every publish attempt of the
    * commit loop, so a spec can deterministically interleave a
    * competing commit into the race window */
  private[table] var beforePublishHook: () => Unit = () => ()

  /** per-handle count of data/DV staging passes — the spec's witness
    * that a disjoint lost race re-points staged files instead of
    * re-running the mutation */
  private[table] val stageCounter =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** is `m` (composed against `oldBase`) logically disjoint from
    * everything that committed between `oldBase` and `newBase`? See
    * [[commit]] for the hazard classes. */
  private def canRebase(oldBase: Seq[FileRef], newBase: Seq[FileRef],
                        m: Mutation): Boolean = {
    // a METADATA commit (constraint added/dropped, schema mode flipped,
    // column declared) landed in the window: our staged rows were
    // validated/filled against the OLD set — force the full
    // re-compose, whose stage() re-validates against the new one
    // (round-15 verdict #7) and whose fill sees the new default (x56)
    if (metaStamp(oldBase) != metaStamp(newBase)) return false
    // winner removed/rewrote a file whose content our staged rows embed
    val newF = newBase.iterator.map(_.file).toSet
    if (oldBase.exists(r => m.footprint(r.file) && !newF(r.file)))
      return false
    val oldF = oldBase.iterator.map(_.file).toSet
    val wAdded = newBase.filterNot(r => oldF(r.file))
    // winner added files that may hold our keys / match our predicate
    val wData = wAdded.filter(_.kind == "data")
    if (wData.nonEmpty && m.addConflicts(wData)) return false
    // winner's new deletion vectors may erase rows of files we read
    val wDvs = wAdded.collect { case r if r.kind == "dv" => r.file }
    wDvs.isEmpty || !dvTargets(wDvs).exists(m.footprint)
  }

  /** DV RETIREMENT (the round-11 advisor's monotonic-growth fix): a
    * commit that REMOVES data files (COW merge/delete rewrite, compact
    * fold) rewrites the carried deletion vectors down to the rows
    * whose target file survives — a rewritten file already applied its
    * DV rows, so they are dead weight that would otherwise accumulate
    * forever, inflate `dvPositions`, and permanently force every scan
    * onto the shuffle path. Cost: DV-scale (never table-scale), paid
    * only by file-removing commits on tables that HAVE DVs; a commit
    * whose DV targets all survive keeps its refs untouched. A DV
    * emptied entirely just drops. */
  private def retireDvs(base: Seq[FileRef], refs: Seq[FileRef],
                        staged: Seq[Staged]): (Seq[FileRef], Seq[Staged]) = {
    val live = refs.collect { case r if r.kind == "data" => r.file }.toSet
    val removed = base.collect {
      case r if r.kind == "data" && !live(r.file) => r.file }.toSet
    val dvRefs = refs.filter(_.kind == "dv")
    if (removed.isEmpty || dvRefs.isEmpty) return (refs, staged)
    val dv = spark.read.parquet(dvRefs.map(_.file): _*)
    val targets = dvTargets(dvRefs.map(_.file))
    if (!targets.exists(removed)) return (refs, staged)
    val noDv = refs.filterNot(_.kind == "dv")
    if (targets.forall(removed)) return (noDv, staged) // all stale: drop
    val liveDf = live.intersect(targets).toSeq.toDF("__live_file")
    val survivors = dv.join(broadcast(liveDf),
      dv("dv_file") === col("__live_file"), "left_semi")
    val st = stageDv(survivors)
    (noDv ++ st.refs, staged :+ st)
  }

  /** the committed-txn set a manifest's rows witness: its checkpoint
    * rows when it has them, the legacy full-log scan when it predates
    * the checkpoint (upgrade path — paid once, the next commit
    * checkpoints) */
  private def txnsIn(manifest: Seq[FileRef]): Set[Long] =
    if (manifest.isEmpty) Set.empty
    else if (manifest.exists(r => r.kind == "txn" && r.lo == -1L))
      manifest.collect { case r if r.kind == "txn" && r.lo >= 0 => r.lo }.toSet
    else legacyTxnScan()

  /** the write-relevant METADATA a staged frame was prepared against:
    * declared defaults (addcol rows, materialized by `fillDefaults`)
    * and the constraint/schema-mode fingerprints (validated by
    * `stage`). A base that grew a DIFFERENT set forces [[canRebase]]
    * to re-compose, so the re-stage fills and validates against the
    * new one. */
  private def metaStamp(refs: Seq[FileRef]): Set[String] =
    refs.iterator.filter(r => r.kind == "prop" || r.kind == "addcol")
      .map(_.file).toSet

  /** the insert-shaped writers (append, streamAppend, overwriteAll):
    * fill declared defaults and lay out the standing clustering
    * against the base, stage, and publish `manifest(base, staged
    * refs)` with an EMPTY footprint — a lost race re-points the staged
    * files unless a metadata commit landed in the window. */
  private def ingest(df: DataFrame, txn: Long = -1L,
                     autoCompactAfter: Boolean = true)(
      manifest: (Seq[FileRef], Seq[FileRef]) => Seq[FileRef]): Long = {
    val v = commit(txn) { base =>
      val st = stage(toPhysical(base, layoutFor(base, fillDefaults(base, df))))
      Mutation(manifest(_, st.refs), Seq(st))
    }
    if (autoCompactAfter)
      maybeAutoCompact() // may advance head past the returned version
    v
  }

  /** append `df` as new files; every existing file carries by reference */
  def append(df: DataFrame): Long = ingest(df)(_ ++ _)

  /** `append` with exactly-once batch-id idempotency — the w18 streaming
    * commit protocol behind the handle. Drive it from foreachBatch:
    * {{{ q.foreachBatch((b, id) => { t.streamAppend(b, id); () }) }}}
    * A replayed already-committed batch (Spark re-delivers the last
    * batch after a failure between sink commit and checkpoint write) is
    * detected by its `txn` marker and skipped — the check re-runs
    * inside the CAS loop, so two racing deliveries of one batch commit
    * exactly once. The check reads ONE slot: every slot carries the
    * complete txn checkpoint row set. */
  def streamAppend(df: DataFrame, batchId: Long): Long = {
    require(batchId >= 0, "batchId must be >= 0")
    if (committedTxns().contains(batchId)) return head
    ingest(df, txn = batchId)(_ ++ _)
  }

  /** every batch id any committed version recorded — ONE slot read
    * (every slot, delta or full, carries the COMPLETE txn checkpoint
    * row set, so replay detection never folds the chain); legacy
    * pre-checkpoint tables fall back to the full-log scan until their
    * next commit */
  private def committedTxns(): Set[Long] = {
    val h = head
    if (h == 0) Set.empty else txnsIn(rawSlotRows(h)._1)
  }

  /** the pre-checkpoint path: union the `txn` column over EVERY
    * manifest (O(versions) reads — what the checkpoint rows replace) */
  private def legacyTxnScan(): Set[Long] = {
    val vs = io.list(commitsDir)
      .filter(_.getPath.getName.matches("v\\d+"))
      .map(_.getPath.toString)
    if (vs.isEmpty) Set.empty
    else spark.read.parquet(vs: _*)
      .select(col("txn")).where(col("txn") >= 0).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  /** COW upsert by key. Planning: stats-pruned candidates (broadcast
    * range join vs manifest rows), refined to the exactly-matched files
    * by scanning the candidates ONLY; only matched files rewrite (delta
    * rows take precedence), delta keys in no file insert as new files.
    * Rows a MoR delete already removed stay removed (rewrites read
    * DV-applied).
    *
    * `txn` makes the merge IDEMPOTENT by id (default −1 = none): a
    * merge whose txn some committed version already carries is a
    * no-op, with the check re-run inside the CAS loop. This is what
    * makes MERGE-in-foreachBatch exactly-once — a replayed micro-batch
    * must not double-apply its upserts (plain Delta MERGE in
    * foreachBatch is NOT replay-safe without a txn guard; w20 gates
    * the safe pattern). */
  def merge(delta: DataFrame, txn: Long = -1L,
            preCountedKeys: Long = -1L): Long =
    upsert(delta, txn, preCountedKeys)(identity)

  /** merge's and applyChanges' shared prelude: a txn some committed
    * version carries is a no-op; otherwise the feed materializes ONCE
    * (round-18, guide §1/§5) — the key count, the stats prune, the
    * matched-file join and the staged rewrite each act on it, and an
    * unpersisted feed (often a join or subquery output, or a subquery
    * DML feed embedding a pruned sibling scan + exceptAll) re-executed
    * its whole plan per action, ~4× the compute for zero benefit;
    * feeds are change-scale by contract, the same budget
    * GraftSqlMergeCommand's source materialization already assumes.
    * The key count sizes the key-side joins, once — a caller that
    * already counted the feed (x69's one-aggregate duplicate guard,
    * the SQL MERGE's precheck) passes it in and saves the action.
    * Rows keyed by the feed leave; `post(feed)` rows come back. */
  private def upsert(feed: DataFrame, txn: Long, preCountedKeys: Long)(
      post: DataFrame => DataFrame): Long = {
    if (txn >= 0 && committedTxns().contains(txn)) return head
    val mat = feed.persist(org.apache.spark.storage.StorageLevel
      .MEMORY_AND_DISK)
    try {
      val keys = mat.select(col(keyCol))
      val nKeys =
        if (preCountedKeys >= 0) preCountedKeys else keys.count()
      val rows = post(mat)
      commit(txn)(composeApply(_, rows, keys, nKeys))
    } finally mat.unpersist()
  }

  /** the HEAD rows whose key appears in `keys` (a one-column frame
    * named like the key), read through the SAME two-phase pruned plan
    * every keyed mutation uses: manifest stats prune candidate files
    * (broadcast range join), bloom sidecars refine them, and only the
    * candidates open — against a 100 TB table a delta-scale key set
    * reads the overlapping files, never the table. This is the
    * matched-target read SQL `MERGE INTO` compiles through to evaluate
    * WHEN MATCHED clauses that reference target columns (x59) —
    * Delta's findTouchedFiles phase, exposed as a read. */
  def readMatchingKeys(keys: DataFrame): DataFrame = {
    val base = headRefs
    val data = base.filter(_.kind == "data")
    val dkeys = keys.select(col(keyCol))
    val nKeys = dkeys.count() // sizes the key-side joins, once
    val pk = physKeyOf(base)
    val cand = bloomRefineKeys(base, data,
      pruneByKeys(data, dkeys, pk), dkeys, nKeys, pk)
    if (cand.isEmpty) return read(head).limit(0)
    val rows = rowsOf(base, cand)
    // a USING-column semi-join projects the join key FIRST in Spark's
    // analyzer rewrite — restore the snapshot's column order (the
    // caller-visible contract, and what downstream writes record)
    rows.join(keySide(dkeys.distinct(), nKeys), Seq(keyCol), "left_semi")
      .select(rows.columns.map(col).toSeq: _*)
  }

  /** APPLY a CDC feed in one atomic commit — the consumption dual of
    * [[changes]] (Delta Live Tables' `APPLY CHANGES INTO` verb, the
    * general row-level mutation Spark's own MERGE expresses as
    * WHEN MATCHED THEN UPDATE/DELETE + WHEN NOT MATCHED THEN INSERT).
    * `feed` carries the table's columns plus `change_type` ∈
    * {insert, update, delete} — exactly the net shape `changes(fromV,
    * toV)` emits: insert/update rows land as upserts (the postimage
    * replaces the key), delete rows remove the key, and because ALL of
    * it is one commit a reader can never observe a half-applied state
    * (an upsert-then-delete split across two versions could).
    *
    * Planning is stats-pruned over every feed key regardless of its
    * change type (each may touch an existing file) and refined to the
    * exactly-matched files — the same two-phase read-set as `merge`,
    * so a day's CDC volume against a 100 TB table rewrites only the
    * files holding affected keys. Deletes of keys the table never had
    * are no-ops (the feed may be a superset replay).
    *
    * `txn` makes the apply idempotent by id, with the check re-run
    * inside the CAS loop: with `changes(v-1, v)` as the feed and `v`
    * as the txn, a streaming replication loop (w21) is exactly-once —
    * a re-delivered version cannot double-apply. Requires feed keys
    * non-null. The CDC/upsert usage requires them UNIQUE (what
    * `changes` of an upsert table produces — one postimage per key);
    * a MULTI-row-per-key feed is also well-defined and deterministic:
    * ALL existing rows under each feed key leave and the feed's
    * non-delete postimage multiset lands — whole-KEY-GROUP
    * replacement. The subquery DML path (GraftRowLevelSql) uses this
    * deliberately to express ROW-addressed UPDATE/DELETE on
    * duplicate-key tables: matched postimages plus carried sibling
    * identity rows under the same key. */
  def applyChanges(feed: DataFrame, txn: Long = -1L,
                   preCountedKeys: Long = -1L): Long =
    upsert(feed, txn, preCountedKeys)(
      _.where(col("change_type") =!= "delete").drop("change_type"))

  /** ROW-addressed variant of [[applyChanges]] for the subquery DML
    * commands (ANSI UPDATE/DELETE semantics on duplicate-key tables,
    * round 18 — optimized single-scan shape): `post` carries the
    * matched rows' postimages (UPDATE; empty for DELETE) and
    * `oldImages` their pre-mutation images, both in the table's
    * LOGICAL columns. Rows in matched files that share a key with a
    * matched row but are NOT themselves matched — the siblings ANSI
    * row addressing must carry — are computed HERE from the same
    * `touched` scan the rewrite performs anyway (multiset subtraction
    * of the old images), instead of the commands running a SECOND
    * stats+bloom pruned read (`readMatchingKeys` + key count + bloom
    * key collect + candidate scan) to build a carry feed. Same
    * result, one pruned read and two driver actions fewer per
    * statement; the sibling subtraction stays delta-scale (it
    * operates on the rows under matched keys, never the whole
    * touched set — the anti/semi joins keep the old broadcast shape).
    *
    * CALLER CONTRACT: `post` and `oldImages` must derive from ONE
    * materialized (persisted) frame, so a non-deterministic condition
    * selects a single row set across the key-count / matched-file /
    * staged-rewrite traversals — the commands persist their dual
    * old/new projection and pass projections of it. */
  def applyChangesRowAddressed(post: DataFrame,
                               oldImages: DataFrame): Long = {
    val fkeys = oldImages.select(col(keyCol))
    val nKeys = fkeys.count() // sizes the key-side joins, once
    commit()(composeApply(_, post, fkeys, nKeys,
      oldImages = Some(oldImages)))
  }

  /** the delta-key side of composeApply's two joins, sized ADAPTIVELY
    * the way `scan` sizes DV application: a feed under the broadcast
    * budget ships as one cheap hash side; past it the join shuffles
    * (shuffled-hash, never a driver-memory-bound broadcast) — a day's
    * CDC backfill of 10⁸ keys against a 100 TB table must not ride
    * the same unbounded broadcast the round-11 DV fix removed. The
    * key count is ONE aggregate over the delta (keys-scale, computed
    * once per mutation, not per CAS attempt). */
  private def keySide(allKeys: DataFrame, nKeys: Long): DataFrame =
    if (nKeys <= GraftTable.DvBroadcastPositions) broadcast(allKeys)
    else allKeys.hint("shuffle_hash")

  /** the shared upsert/apply composition: rows keyed by `allKeys`
    * leave (their files rewrite without them), `post` rows come back —
    * `merge` passes post = delta = allKeys' rows (pure upsert),
    * `applyChanges` passes the non-delete postimages against ALL feed
    * keys (so a delete key leaves and nothing returns). `nKeys` is the
    * feed's key count, precomputed by the caller outside the CAS
    * loop. */
  private def composeApply(base: Seq[FileRef], post: DataFrame,
                           allKeys: DataFrame,
                           nKeys: Long,
                           oldImages: Option[DataFrame] = None)
      : Mutation = {
      val data = base.filter(_.kind == "data")
      val pk = physKeyOf(base)
      val cand = bloomRefineKeys(base, data,
        pruneByKeys(data, allKeys, pk), allKeys, nKeys, pk)
      val matched =
        if (cand.isEmpty) Seq.empty[String]
        else matchedFiles(base, cand, allKeys, nKeys)
      // rewrites compute in LOGICAL space (the caller's delta/post
      // frames speak it) and stage back physically (x53)
      val touched = toLogical(base,
        if (matched.isEmpty) emptyLike(data, post)
        else scan(base, matched).drop("__file", "__pos"))
      // kept ∪ post IS the mutation: post rows replace matched keys and
      // supply the inserts (a key absent from every candidate file is
      // absent from the table — stats containment); a key with no
      // postimage (a delete) simply never comes back. Missing columns
      // on either side (an evolved table merged with a pre-evolution
      // delta, or vice versa) fill with NULL — whole-row replacement,
      // not column-wise patching — except declared write-time defaults
      // (x56), which materialize into the incoming side first.
      // the USING-column anti-join projects keyCol FIRST (Spark's
      // analyzer rewrite for semi/anti using-joins) — restore the
      // snapshot's column order, or the staged rewrite RECORDS a
      // key-first schema and flips the visible column order of any
      // table whose key is not column 0 (surfaced by the round-18
      // key-stamp fixture, whose replaced table keys on column 1)
      val kept = touched.join(keySide(allKeys, nKeys), Seq(keyCol),
        "left_anti")
        .select(touched.columns.map(col).toSeq: _*)
      // ROW-addressed carry (applyChangesRowAddressed): the rows under
      // matched keys minus the matched old images — the unmatched
      // siblings ANSI UPDATE/DELETE must keep. Computed off the SAME
      // touched scan (semi-join keeps the broadcast key-side shape;
      // exceptAll subtracts full duplicates by count, delta-scale
      // input by construction). Key-addressed callers (merge, CDC
      // apply) pass None and keep whole-key-group replacement.
      val carried = oldImages match {
        case None => None
        case Some(old) =>
          val under = touched.join(keySide(allKeys, nKeys), Seq(keyCol),
            "left_semi")
            .select(touched.columns.map(col).toSeq: _*)
          Some(under.exceptAll(old.select(
            touched.columns.map(col).toSeq: _*)))
      }
      val st = stage(toPhysical(base,
        carried.foldLeft(kept)(_ unionByName _)
          .unionByName(fillDefaults(base, post),
            allowMissingColumns = true)))
      // footprint for the lost-race rebase check: content dependency =
      // the matched files (their unmatched rows ride our rewrite);
      // foreign adds conflict when their key stats could hold one of
      // OUR keys (a kept foreign file with a delta key would duplicate
      // it against our staged upsert row)
      Mutation.rewrite(matched.toSet, st.refs, Seq(st),
        wAdded => pruneByKeys(wAdded, allKeys, pk).nonEmpty)
  }

  /** bloom refinement of a MERGE's key-pruned candidates — Delta's
    * small-source predicate pushdown: a delta under
    * [[GraftTable.BloomKeyPushdown]] keys collects them (bounded, the
    * budget is the documented cap) into an IN constraint over the KEY
    * column and runs the same executor-side bloom refinement reads
    * use, so a scattered-key upsert against a bloom-indexed key opens
    * only files that might hold a delta key. Bigger deltas skip (the
    * range join already pruned; collecting 10⁸ keys to build a
    * predicate would be the unbounded-driver-state mistake). No-op
    * unless the key column is bloom-indexed. */
  private def bloomRefineKeys(base: Seq[FileRef], data: Seq[FileRef],
                              cand: Seq[String], allKeys: DataFrame,
                              nKeys: Long,
                              physKey: String = null): Seq[String] = {
    if (cand.isEmpty || nKeys > GraftTable.BloomKeyPushdown ||
        !base.exists(_.kind == "bloom")) return cand
    // the IN skeleton probes bloom sidecars + stats, both keyed by the
    // key's PHYSICAL name (identity on unmapped tables)
    val pk = if (physKey == null) keyCol else physKey
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val tree = allKeys.schema.fields.find(_.name == keyCol)
      .map(_.dataType) match {
      case Some(ByteType | ShortType | IntegerType | LongType) =>
        val ks = allKeys.select(col(keyCol).cast("long"))
          .where(col(keyCol).isNotNull)
          .collect().map(_.getLong(0)).toSeq // <= BloomKeyPushdown rows
        if (ks.isEmpty) return cand
        PredicateTree.In(pk, ks)
      case Some(StringType) =>
        val ks = allKeys.select(col(keyCol))
          .where(col(keyCol).isNotNull)
          .collect().map(_.getString(0)).toSeq
        if (ks.isEmpty) return cand
        PredicateTree.InS(pk, ks)
      case _ => return cand
    }
    bloomRefine(base, data, cand, tree)
  }

  /** matched-file discovery plan: the exact files among `cand`
    * holding a delta key (the plan exposed separately so the spec can
    * pin the adaptive key-side shape without running a commit) */
  private[table] def matchedFilesPlan(base: Seq[FileRef], cand: Seq[String],
                                      allKeys: DataFrame,
                                      nKeys: Long): DataFrame =
    toLogical(base, scan(base, cand)) // provenance passes through (x53)
      .join(keySide(allKeys, nKeys), Seq(keyCol))
      .select(col("__file")).distinct()

  private def matchedFiles(base: Seq[FileRef], cand: Seq[String],
                           allKeys: DataFrame, nKeys: Long): Seq[String] =
    matchedFilesPlan(base, cand, allKeys, nKeys)
      .collect().map(_.getString(0)).toSeq.sorted

  /** row-level DELETE: removes rows where `predicate` is TRUE (SQL
    * three-valued semantics — NULL-evaluating rows always survive).
    *
    *  - `mode = "cow"` (default): matched files rewrite with
    *    `coalesce(NOT predicate, true)`; unmatched files carry.
    *  - `mode = "mor"`: an x29-style deletion-vector sidecar of
    *    matched `(file, row_index)` positions commits instead — zero
    *    data files rewritten, O(deleted positions); readers and later
    *    mutations anti-join it.
    *
    * Both plan off the manifest stats first and scan only candidate
    * files to find matches. */
  def delete(predicate: Column, mode: String = "cow"): Long = {
    require(mode == "cow" || mode == "mor", s"unknown delete mode: $mode")
    val tree0 = PredicateTree.parse(predicate)
    commit() { base =>
      val (matched, addConflicts) = matchPredicate(base, tree0, predicate)
      if (matched.isEmpty)
        // commits an empty version (mutator contract); its only
        // rebase dependency is that no foreign add matches
        Mutation(identity, addConflicts = addConflicts)
      else if (mode == "cow") {
        val st = stage(toPhysical(base, rowsOf(base, matched)
          .where(coalesce(!predicate, lit(true)))))
        Mutation.rewrite(matched.toSet, st.refs, Seq(st), addConflicts)
      } else {
        val st = stageDv(toLogical(base, scan(base, matched))
          .where(predicate)
          .select(col("__file").as("dv_file"), col("__pos").as("dv_pos")))
        // MoR removes nothing, but its DV positions are row indexes
        // INTO the matched files — any winner that rewrites them
        // invalidates the positions, hence the footprint = matched
        Mutation(_ ++ st.refs, Seq(st), matched.toSet, addConflicts)
      }
    }
  }

  /** the predicate writers' shared plan (delete, update,
    * overwriteWhere): the base's files holding a row where `predicate`
    * is TRUE — stats- and bloom-pruned candidates, refined by scanning
    * the candidates only — plus the foreign-add conflict test: a
    * winner's file whose stats may satisfy the predicate (the writer,
    * serialized LAST, would have to cover its rows); the stats
    * evaluator is the same one candidate pruning trusts, so a false
    * "may match" costs a re-stage, never a wrong rebase. The predicate
    * speaks LOGICAL names: its skeleton maps to physical for
    * stats/bloom pruning, and row evaluation happens on the
    * logically-projected scan (x53). */
  private def matchPredicate(base: Seq[FileRef], tree0: PredicateTree.Node,
                             predicate: Column)
      : (Seq[String], Seq[FileRef] => Boolean) = {
    val tree = statsTree(tree0, base)
    val cand = candidates(base, tree)
    val matched =
      if (cand.isEmpty) Seq.empty[String]
      else toLogical(base, scan(base, cand)).where(predicate)
        .select(col("__file")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    (matched, _.exists(r => eval.mayMatch(tree, r)))
  }

  /** the data files of `refs` a resolved predicate skeleton may match:
    * manifest stats prune, bloom sidecars refine */
  private def candidates(refs: Seq[FileRef],
                         tree: PredicateTree.Node): Seq[String] = {
    val data = refs.filter(_.kind == "data")
    bloomRefine(refs, data,
      data.filter(r => eval.mayMatch(tree, r)).map(_.file).sorted, tree)
  }

  /** the LOGICAL rows of `files` (DV-applied, no provenance columns) */
  private def rowsOf(refs: Seq[FileRef], files: Seq[String]): DataFrame =
    toLogical(refs, scan(refs, files).drop("__file", "__pos"))

  /** row-level UPDATE (Delta's `UPDATE ... SET ... WHERE`, the DML
    * verb between merge-by-key and delete-by-predicate): rows where
    * `predicate` is TRUE get each `set` assignment applied; every
    * other row — NULL-evaluating rows included, SQL semantics —
    * carries verbatim. COW: the same stats/bloom-pruned candidate →
    * exactly-matched-files planning as [[delete]], so only files
    * holding qualifying rows rewrite (the 100 TB shape: a
    * fix-one-field backfill touches the matched key range's files,
    * never the table).
    *
    * All right-hand sides evaluate against the OLD row (SQL UPDATE
    * semantics — `SET a = b, b = a` swaps), assignments must target
    * existing non-key columns, and CHECK constraints re-validate the
    * rewritten files at stage time like every mutation. */
  def update(predicate: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    val tree0 = PredicateTree.parse(predicate)
    commit() { base =>
      val lcols = logicalCols(base)
      set.keys.foreach { c =>
        require(lcols.contains(c),
          s"SET targets unknown column '$c' (columns: ${lcols.mkString(", ")})")
        require(c != keyCol, s"cannot UPDATE the key column '$c' — " +
          "use merge() to move rows between keys")
      }
      val (matched, addConflicts) = matchPredicate(base, tree0, predicate)
      if (matched.isEmpty)
        Mutation(identity, addConflicts = addConflicts)
      else {
        val touched = rowsOf(base, matched)
        val types = touched.schema.fields.map(f => f.name -> f.dataType)
          .toMap
        // ONE select evaluates every RHS against the old row; a NULL
        // predicate leaves the row unchanged (only strict TRUE
        // updates). Each RHS CASTS to the column's EXISTING type
        // (Delta's UPDATE semantics — ANSI, so a lossy value throws
        // loudly): without the cast, `when` would coerce the WHOLE
        // column to the RHS's type and poison the staged schema.
        val updated = touched.select(touched.columns.toSeq.map { c =>
          set.get(c) match {
            case Some(e) =>
              when(predicate, e.cast(types(c))).otherwise(col(c)).as(c)
            case None => col(c)
          }
        }: _*)
        val st = stage(toPhysical(base, updated))
        Mutation.rewrite(matched.toSet, st.refs, Seq(st), addConflicts)
      }
    }
  }

  /** OVERWRITE WHERE (Delta's `replaceWhere` — the backfill verb): ONE
    * atomic commit that deletes every row matching `predicate` and
    * inserts `df` in its place, so a reader sees the old partition or
    * the new one, never neither/both. `df`'s rows must ALL satisfy the
    * predicate (Delta's replaceWhere constraint) — a row outside the
    * window would silently survive the next backfill of the same
    * window; violations abort before any manifest exists. Planning is
    * the stats-pruned matched-file rewrite of [[delete]]; the
    * replacement stages as new files alongside. */
  def overwriteWhere(predicate: Column, df: DataFrame): Long = {
    val tree0 = PredicateTree.parse(predicate)
    // the replaceWhere constraint: one scan of the REPLACEMENT (delta-
    // scale), before anything stages
    val violating = df.where(coalesce(!predicate, lit(true))).count()
    require(violating == 0,
      s"overwriteWhere: $violating replacement row(s) do not satisfy " +
        "the predicate — a backfill must stay inside its own window")
    commit() { base =>
      val (matched, addConflicts) = matchPredicate(base, tree0, predicate)
      val df2 = fillDefaults(base, df) // write-time defaults (x56)
      val st = stage(toPhysical(base,
        if (matched.isEmpty) df2
        else rowsOf(base, matched).where(coalesce(!predicate, lit(true)))
          .unionByName(df2, allowMissingColumns = true)))
      Mutation.rewrite(matched.toSet, st.refs, Seq(st), addConflicts)
    }
  }

  /** FULL OVERWRITE in one commit (SQL's `INSERT OVERWRITE`, Delta's
    * `mode("overwrite")`): the snapshot's data/DV/bloom refs are
    * replaced by the staged replacement — readers see old-or-new,
    * never both — while table-describing rows (column mapping,
    * declarations, property stamps, feature flags) and the txn replay
    * guards carry. Zero reads of the old data: unlike
    * `overwriteWhere(lit(true), df)` this never scans for matches,
    * so a 100 TB table overwrites at the cost of writing the
    * replacement. Old files remain owned by their versions for time
    * travel until `expire`. */
  def overwriteAll(df: DataFrame): Long =
    ingest(df, autoCompactAfter = false) { (base, staged) =>
      base.filter(r => GraftTable.CarriedKinds(r.kind)) ++ staged
    }

  /** REPLACE the table — data AND schema — in ONE atomic commit
    * (`REPLACE TABLE` / `CREATE OR REPLACE ... AS SELECT`, x61): the
    * new snapshot is the staged replacement under FRESH declarations;
    * the old schema's column-mapping, declaration, and property rows
    * drop (a replace RESETS evolution state and table configuration —
    * Delta's REPLACE semantics), txn replay guards carry (the commit
    * loop appends the canonical set to every manifest), and every
    * prior version stays time-travelable until `expire`. Readers see
    * old-or-new, never absent and never a schema/data mix — unlike
    * drop-then-create, which exposes a missing-table window and
    * forgets history.
    *
    * `clusterBy` (optional) becomes the standing ingest clustering
    * and lays the replacement out immediately; the caller must reset
    * advisory side-configs (checks/schema-mode/bloom/auto-compact)
    * BEFORE calling — old-schema constraints cannot validate
    * new-schema files (the SQL catalog's REPLACE does this). The
    * handle's key column is the NEW schema's key. */
  def replaceTable(df: DataFrame, declared: org.apache.spark.sql.types.StructType,
                   clusterBy: Seq[String] = Seq.empty,
                   keyRecord: Option[String] = None): Long = {
    require(declared.fieldNames.contains(keyCol),
      s"key column '$keyCol' is not in the replacement schema " +
        s"(${declared.fieldNames.mkString(", ")})")
    val cols = declared.fields.toSeq.map { f =>
      require(f.name.matches(GraftTable.ColIdent),
        s"column names are identifiers: '${f.name}'")
      val d =
        if (f.metadata.contains("CURRENT_DEFAULT"))
          Some(f.metadata.getString("CURRENT_DEFAULT"))
        else None
      validateDefault(f.name, f.dataType, d)
      GraftTable.AddedCol(f.name, f.dataType, d)
    }
    val addRows = cols.zipWithIndex.map {
      case (c, i) => GraftTable.addColRow(c, ordinal = i.toLong) }
    if (clusterBy.nonEmpty) {
      clusterBy.foreach(c => require(declared.fieldNames.contains(c),
        s"cluster column '$c' is not in the replacement schema"))
      io.writeUtf8(clusterConfPath, clusterBy.mkString(" "))
    } else io.delete(clusterConfPath)
    // shape the replacement to the declared schema (CTAS queries may
    // order/alias differently); names are fresh-physical by
    // construction, so no mapping applies
    val shaped = df.select(declared.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val laidOut =
      if (clusterBy.isEmpty) shaped
      else shaped.repartitionByRange(clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    commit() { _ =>
      val st = stage(laidOut)
      // the replacement ignores the base snapshot entirely: fresh
      // declarations + staged files ARE the table (txn rows are
      // re-attached canonically by the loop); the NEW key stamp rides
      // the same commit — a stale stamp surviving a key-changing
      // replace would be worse than none, so an unstamped replace
      // (bare-handle callers) drops any prior stamp with the base
      val refs = withFeature(addRows, "addcol") ++ st.refs ++
        keyRecord.map(GraftTable.keyRecRow)
      Mutation(_ => refs, Seq(st))
    }
  }

  /** small-file compaction (OPTIMIZE): bin-packs only files under
    * `smallFileBytes` into ~`targetFiles` right-sized files — files
    * already at target size carry between versions BY REFERENCE (x19's
    * actual shape; the previous whole-snapshot rewrite was O(table) per
    * call). Folding applies pending DVs to the folded files, so
    * compaction also physically reclaims MoR-deleted rows. Always
    * commits a version (mutator contract), even when nothing folds.
    * The folded files are the footprint: a racing append re-points the
    * fold onto the new head, a racing rewrite of a folded file re-folds. */
  def compact(targetFiles: Int = 1, smallFileBytes: Long = 64L << 20,
              where: Option[Column] = None): Long =
    commit() { base =>
      val data = base.filter(_.kind == "data")
      // predicate-scoped compaction (Delta's OPTIMIZE ... WHERE): fold
      // only small files whose STATS overlap the predicate — an
      // operator reorganizes the hot key range without paying for the
      // cold 99% of a 100 TB table. Stats-pruned, so the scope check
      // is manifest-only; folding a stats-overlapping file that holds
      // no matching rows is harmless (rows are unchanged either way).
      val scoped = where match {
        case Some(p) =>
          // logical predicate vs physical-name-keyed stats (x53),
          // struct paths and qualifiers resolved like every other
          // predicate consumer
          val tree = statsTree(PredicateTree.parse(p), base)
          data.filter(r => eval.mayMatch(tree, r))
        case None => data
      }
      // size off the manifest's byte counters — zero FileSystem RPCs
      // for post-counter tables (one length() round trip per file per
      // OPTIMIZE adds up on object stores); only pre-counter refs
      // still ask the filesystem
      val small = scoped.filter(r =>
        (if (r.bytes >= 0) r.bytes else io.length(r.file)) < smallFileBytes)
      val (refs, staged) =
        if (small.size <= math.max(1, targetFiles))
          foldBloomSidecars(base, Seq.empty)
        else {
          // folded files stay KEY-SORTED: the bigger file's parquet
          // row-group stats keep point lookups cheap inside it, and its
          // manifest key range stays as tight as the inputs' union
          // (skipped for key-less handles — SQL OPTIMIZE opens with a
          // sentinel key the frame doesn't carry)
          val folded = scan(base, small.map(_.file))
            .drop("__file", "__pos").coalesce(math.max(1, targetFiles))
          val pk = physKeyOf(base) // folded frames are physical (x53)
          val st = stage(
            if (folded.columns.contains(pk))
              folded.sortWithinPartitions(pk)
            else folded)
          val ss = small.map(_.file).toSet
          foldBloomSidecars(
            base.filterNot(r => r.kind == "data" && ss(r.file)) ++ st.refs,
            Seq(st))
        }
      Mutation.diff(base, refs, staged)
    }

  // ---- auto-compaction ----------------------------------------------

  private def autoCompactConfPath = s"$root/autocompact.conf"

  /** enable AUTO-COMPACTION (Delta's `autoCompact` table property —
    * the built-in answer to the streaming small-file problem): after
    * every `append`/`streamAppend` commit, if the head manifest holds
    * at least `minSmallFiles` data files under `smallFileBytes`, an
    * inline bin-packing [[compact]] folds them to `targetFiles`. The
    * policy is pure maintenance — it never changes table CONTENTS, so
    * unlike checks/schema-mode it needs no manifest fingerprint stamp
    * (a racing writer's staged rows are valid under either setting);
    * the compaction itself is an ordinary CAS-looped commit.
    *
    * 100 TB cost shape: each fold is O(small-file bytes) — never
    * table-scale — and a row re-folds only while its file is still
    * under `smallFileBytes`, so a b-byte micro-batch ingest pays
    * O(log(smallFileBytes / b)) amortized rewrites per row (the
    * LSM-merge bound) while the manifest stays at
    * O(minSmallFiles + big files) instead of growing one entry per
    * micro-batch forever — unbounded manifest growth is what actually
    * kills a year-old streaming table. */
  def setAutoCompact(minSmallFiles: Int, smallFileBytes: Long = 64L << 20,
                     targetFiles: Int = 1): Unit = {
    require(minSmallFiles >= 2 && smallFileBytes > 0 && targetFiles >= 1,
      s"need minSmallFiles >= 2, smallFileBytes > 0, targetFiles >= 1")
    io.writeUtf8(autoCompactConfPath,
      s"$minSmallFiles $smallFileBytes $targetFiles")
  }

  def clearAutoCompact(): Unit = io.delete(autoCompactConfPath)

  private def clusterConfPath = s"$root/cluster.conf"

  /** declare a STANDING ingest-time clustering (Delta liquid's
    * `CLUSTER BY` declaration; what the catalog maps `PARTITIONED BY`
    * onto, x60): every subsequent insert-shaped commit (`append`,
    * `streamAppend`, `overwriteAll`) range-partitions and sorts the
    * incoming frame on these columns BEFORE staging, so each new
    * file covers a narrow range and its manifest stats prune reads
    * and mutations on the clustered columns from the first insert —
    * no OPTIMIZE pass required (the `cluster()` verb remains the
    * reorganization for data already written). Column names are
    * stored PHYSICAL (immutable across renames) and resolve to the
    * current logical names at apply time; columns later dropped, or
    * absent from a given frame, simply stop participating.
    *
    * Cost model: one range-shuffle of each ingest batch — exactly
    * what a partitioned write costs anywhere — with the file count
    * set by `spark.sql.shuffle.partitions` (AQE coalescing applies);
    * auto-compaction folds stragglers. Advisory like the auto-compact
    * policy: layout, never correctness. */
  def setClusterBy(cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.size <= 4,
      s"1..4 clustering columns (got ${cols.size})")
    cols.foreach(c => require(c.matches(GraftTable.ColIdent),
      s"column names are identifiers: '$c'"))
    val hr = headRefs
    val lcols = logicalCols(hr)
    if (lcols.nonEmpty)
      cols.foreach(c => require(lcols.contains(c),
        s"clustering column '$c' does not exist " +
          s"(columns: ${lcols.mkString(", ")})"))
    val phys = physicalOf(hr)
    io.writeUtf8(clusterConfPath, cols.map(phys).mkString(" "))
  }

  def clearClusterBy(): Unit = io.delete(clusterConfPath)

  /** the standing clustering, by PHYSICAL column name */
  def clusterBy(): Seq[String] =
    io.readUtf8(clusterConfPath)
      .map(_.trim.split("\\s+").toSeq.filter(_.nonEmpty))
      .getOrElse(Seq.empty)

  /** apply the standing clustering to an insert-shaped LOGICAL frame */
  private def layoutFor(refs: Seq[FileRef], df: DataFrame): DataFrame = {
    val phys = clusterBy()
    if (phys.isEmpty) return df
    val byPhys = colRows(refs).map { case (l, p) => p -> l }.toMap
    val cols = phys.flatMap { p =>
      byPhys.get(p) match {
        case Some("") => None // dropped since: stops participating
        case Some(l)  => Some(l)
        case None     => Some(p)
      }
    }.filter(c => df.columns.exists(_.equalsIgnoreCase(c)))
    if (cols.isEmpty) df
    else df.repartitionByRange(cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
  }

  /** the policy, if set: (minSmallFiles, smallFileBytes, targetFiles) */
  def autoCompact(): Option[(Int, Long, Int)] =
    io.readUtf8(autoCompactConfPath).map { s =>
      val a = s.trim.split("\\s+")
      (a(0).toInt, a(1).toLong, a(2).toInt)
    }

  /** post-ingest hook: ONE manifest scan (zero FileSystem RPCs on
    * post-counter tables) decides; a no-op without the policy or
    * below threshold. Never recursive — compact() has no hook. */
  private def maybeAutoCompact(): Unit = try {
    autoCompact() match {
      case Some((minSmall, smallBytes, target)) =>
        val small = headRefs.count(r => r.kind == "data" &&
          (if (r.bytes >= 0) r.bytes else io.length(r.file)) < smallBytes)
        // `small > target` too: compact() always commits a version
        // (mutator contract), and a fold that cannot shrink anything
        // would be pure version churn re-armed on every append
        if (small >= minSmall && small > target) {
          compact(target, smallBytes); ()
        }
      case None => ()
    }
  } catch {
    // BEST-EFFORT by contract: this runs AFTER the ingest commit has
    // published, so a failure here (transient FS error, a lost-race
    // loop giving up) must not surface as an ingest failure — the
    // caller's data is durably committed, and a foreachBatch driver
    // that saw an exception would retry/abort a batch that is already
    // in the table (the round-15 advisor race; streamAppend's txn
    // guard saves the replay, plain append has no such guard). The
    // next qualifying ingest re-arms the trigger.
    case scala.util.control.NonFatal(e) =>
      GraftTable.log.warn(
        s"post-commit auto-compaction failed (ingest unaffected): $e")
  }

  /** Z-ORDER the table (Delta's `OPTIMIZE ... ZORDER BY`): rewrite the
    * snapshot clustered on the Morton interleave of up to four
    * columns' bits (16 bits each, min/max-normalized — x12's curve,
    * generalized to N dimensions), so every file covers a small
    * RECTANGLE of the clustering space and the manifest's per-column
    * stats go tight on EVERY clustered dimension at once — after
    * `cluster(Seq("cust", "day"))`, a delete or merge predicate on
    * either column (or both) prunes, where a single-column sort keeps
    * only that column's stats tight. Pending deletion vectors fold in
    * (the rewrite reads DV-applied), so clustering also physically
    * reclaims MoR-deleted rows.
    *
    * This is a REORGANIZATION verb — O(table) by design, like the
    * engine it imitates; run it per partition / on a schedule, not per
    * commit. The payoff is every subsequent stats-pruned mutation and
    * read. Rows are bit-identical to the pre-cluster snapshot
    * (spec-pinned); only the layout and the stats tightness change. */
  def cluster(zorderBy: Seq[String], targetFiles: Int = 16,
              incremental: Boolean = false): Long = {
    require(zorderBy.nonEmpty && zorderBy.size <= 4,
      s"1..4 z-order columns (got ${zorderBy.size}: 16 bits each interleave into a 64-bit key)")
    // the spec resolves to PHYSICAL names (x53): the rewrite reads and
    // sorts physical frames, and the generation stamp stays stable
    // across renames (physical names never change)
    val zPhys = zorderBy.map(physicalOf(headRefs))
    val gen = GraftTable.zgenOf(zPhys)
    commit() { base =>
      val all = base.filter(_.kind == "data")
      // INCREMENTAL clustering (Delta liquid's cadence): rewrite only
      // files not already stamped with this spec's generation — a
      // scheduled `cluster(cols, incremental = true)` after a day's
      // appends z-orders the NEW files and carries the clustered bulk
      // by reference, so the reorganization is append-proportional,
      // not table-proportional. New files' rectangles normalize over
      // their OWN bounds (mild drift vs a full rewrite — each file's
      // stats still prune exactly; OPTIMIZE-FULL semantics remain the
      // default incremental=false).
      val data = if (incremental) all.filter(_.zgen != gen) else all
      if (data.isEmpty) Mutation(identity)
      else {
        val snap = scan(base, data.map(_.file)).drop("__file", "__pos")
        // fail LOUDLY on a column the curve can't normalize (the
        // advisor's string-UUID case: cast-to-long yields NULL for
        // every row → coalesce(-1) → one giant output file with no
        // clustering and no error). Delta rejects non-eligible ZORDER
        // columns the same way.
        zPhys.foreach { c =>
          val f = snap.schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"z-order column '$c' does not exist " +
                s"(columns: ${snap.columns.mkString(", ")})"))
          import org.apache.spark.sql.types._
          val ok = f.dataType match {
            case _: NumericType | DateType | TimestampType |
                 TimestampNTZType | BooleanType => true
            case _ => false
          }
          if (!ok) throw new IllegalArgumentException(
            s"z-order column '$c' has type ${f.dataType.simpleString}, " +
              "which the Morton curve cannot normalize — cluster on " +
              "numeric/date/timestamp/boolean columns (a string key " +
              "would z-map every row to NULL and collapse the layout)")
        }
        val aggs = zPhys.flatMap(c =>
          Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
        val mm = snap.agg(aggs.head, aggs.tail: _*).head()
        val bounds = zPhys.indices.map { j =>
          if (mm.isNullAt(2 * j) || mm.isNullAt(2 * j + 1)) (0L, 0L)
          else (mm.getLong(2 * j), mm.getLong(2 * j + 1))
        }
        val n = zPhys.size
        val normed = zPhys.zip(bounds).map { case (c, (lo, hi)) =>
          // normalize to [0, 65535]: double ratio then truncate —
          // products stay far under 2^53, so exact-deterministic
          ((col(c).cast("double") - lit(lo.toDouble)) * lit(65535.0) /
            lit(math.max(hi - lo, 1L).toDouble)).cast("long")
        }
        // bit i of column j lands at n*i + (n-1-j): round-robin
        // interleave, pure codegen'd bitwise expressions (no UDF)
        val zv = (0 until 16).foldLeft(lit(0L)) { (acc, i) =>
          normed.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
            a.bitwiseOR(shiftleft(c.bitwiseAND(lit(1L << i)),
              i * (n - 1) + (n - 1 - j)))
          }
        }
        val st = stage(snap
          .withColumn("__zv", coalesce(zv, lit(-1L)))
          .repartitionByRange(math.max(1, targetFiles), col("__zv"))
          .sortWithinPartitions("__zv")
          .drop("__zv"))
        // staged data files carry this spec's generation stamp, so a
        // later incremental pass knows to leave them alone
        val stamped = st.refs.map(r =>
          if (r.kind == "data") r.copy(zgen = gen) else r)
        // the rewritten files are the footprint: a racing append's
        // files carry onto the clustered head, a racing rewrite of one
        // of ours re-clusters
        if (incremental)
          Mutation.rewrite(data.map(_.file).toSet, stamped, Seq(st))
        else
          // the full rewrite is the whole live row set with DVs
          // applied: the new manifest is the staged files plus the
          // table-level metadata rows (column mapping, property
          // fingerprints), which describe the table, not its files
          Mutation.diff(base,
            base.filter(r => GraftTable.CarriedKinds(r.kind)) ++ stamped,
            Seq(st))
      }
    }
  }

  /** expire everything but the last `keepLast` (≥ 1) versions and
    * VACUUM: physically delete (all physical) − (retained manifests'
    * union), skipping directories whose `.staging` marker shows a
    * writer mid-commit (files staged but not yet published are NOT
    * garbage — the round-9 concurrent-writer race). Markers older than
    * `staleStagingMs` are treated as crashed writers and reclaimed
    * (default: never — retention policy belongs to the operator).
    *
    * Ordering against concurrent writers (the round-10 advisor race):
    * the data listing is snapshotted FIRST — anything staged after it
    * is simply not a candidate; the retained-file union is read AFTER
    * the listing and topped up with any version that commits while the
    * sweep runs (per-directory head re-check); and each directory's
    * `.staging` marker is re-tested IMMEDIATELY before its physical
    * deletes, so a stage that began between the listing and the sweep
    * is seen (markers exist before any data file, and clear only after
    * publish). The one window left is a writer that stages, commits,
    * AND clears its marker between a directory's head re-check and its
    * unlink calls — microseconds against a commit that itself takes a
    * parquet write; `minAgeMs` (Delta's retention floor, default 7
    * DAYS there) closes even that by never deleting a file younger
    * than the floor. The default 0 keeps test-speed semantics;
    * production sweeps should pass an hours-scale floor.
    * Returns the deleted files — or, with `dryRun = true` (Delta's
    * VACUUM DRY RUN), the files a real sweep would delete, with every
    * safety re-check exercised and nothing touched.
    *
    * LOG RETENTION: the sweep also GC's version SLOTS below the newest
    * checkpoint at-or-below the retention cutoff (Delta's
    * logRetentionDuration cleanup) — without it the commits dir grows
    * O(all-time commits). Time travel, `history()`, and `versionAt`
    * then start at [[oldestVersion]]; `restore` below it fails with
    * "expired from the log". Legacy pre-checkpoint tables keep their
    * full log until a post-upgrade commit checkpoints the txn set. */
  def expire(keepLast: Int, staleStagingMs: Long = Long.MaxValue,
             minAgeMs: Long = 0L, dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1,
      s"keepLast must be >= 1 (got $keepLast): expiring every version would vacuum the head snapshot")
    if (!io.exists(dataDir)) return Seq.empty
    // 1) snapshot the physical listing first ((name, canon path,
    // mtime) per candidate file — one FileSystem status read each)
    val dirs = io.list(dataDir).filter(_.isDirectory)
      .map(sub => sub.getPath.getName ->
        io.list(sub.getPath.toString)
          .filter(_.getPath.getName.startsWith("part-"))
          .map(f => (io.canon(f.getPath.toString), f.getModificationTime)))
    // 2) retained union — read AFTER the listing, topped up on movement
    var hSeen = head
    val hSweep = hSeen // the sweep-epoch head: log GC below keys on it
    val ov = oldestVersion // a prior sweep may have GC'd the log prefix
    val retained = scala.collection.mutable.Set.empty[String]
    def topUp(lo: Long, hi: Long): Unit =
      (math.max(math.max(1L, ov), lo) to hi)
        .foreach(v => retained ++= manifestOf(v).map(_.file))
    // data retention reaches down to the LOG-GC ANCHOR, not just the
    // version-retention cutoff (round-14 advisor): log GC keeps slots
    // in [anchor, cutoff) — the cutoff's own fold chain — so those
    // versions remain time-travel-readable, which means their
    // exclusively-referenced data files must survive this same sweep
    // (the old [cutoff, head] union could vacuum them, reproducing
    // the quiet mid-scan missing-file failure on a version the loud
    // "expired from the log" guard still admits)
    val cutoff = hSeen - keepLast + 1
    val anchor =
      if (hSeen == 0 || cutoff <= ov) ov
      else cutoff - manifestSnap(cutoff).depth
    topUp(anchor, hSeen)
    val now = System.currentTimeMillis()
    val out = Seq.newBuilder[String]
    for ((subName, files) <- dirs) {
      var doomed = files
        .filter { case (p, mtime) => !retained(p) && now - mtime >= minAgeMs }
      if (doomed.nonEmpty) {
        // a commit may have landed since the retained snapshot: its
        // files were either marker-protected or are now referenced
        val h1 = head
        if (h1 != hSeen) {
          topUp(hSeen + 1, h1); hSeen = h1
          doomed = doomed.filter { case (p, _) => !retained(p) }
        }
      }
      if (doomed.nonEmpty) {
        // 3) marker re-check immediately before the physical deletes
        val marker = s"$dataDir/.staging-$subName"
        val inFlight = io.mtime(marker).exists(m => now - m < staleStagingMs)
        if (!inFlight) {
          // 4) with no age floor to absorb it, close the last window (a
          // writer that staged, committed AND cleared its marker since
          // the marker read) with one more head re-read — production
          // sweeps should still pass an hours-scale minAgeMs, like
          // Delta's 7-day retention default
          if (minAgeMs == 0L) {
            val h2 = head
            if (h2 != hSeen) {
              topUp(hSeen + 1, h2); hSeen = h2
              doomed = doomed.filter { case (p, _) => !retained(p) }
            }
          }
          // dryRun (Delta's VACUUM DRY RUN): report what WOULD delete,
          // all safety re-checks included, without touching a byte
          if (!dryRun) doomed.foreach { case (p, _) => io.delete(p) }
          out ++= doomed.map(_._1)
        }
      }
    }
    // LOG RETENTION (Delta's logRetentionDuration cleanup): version
    // slots below the newest CHECKPOINT at-or-below the retention
    // cutoff serve no retained fold — without GC the log grows
    // O(all-time commits) and every head listing pays for it. The
    // anchor is exact: cutoff's fold walks back exactly `depth` slots,
    // so every retained version's chain stays intact; slots in
    // [anchor, cutoff) stay FULLY EXECUTABLE until the next sweep —
    // the data-retention union above reaches down to the same anchor,
    // so a version the log still serves never scans into a vacuumed
    // file (round-14 advisor). The same `minAgeMs` floor guards an
    // in-flight reader of a just-expired version, and dryRun touches
    // nothing.
    // keyed on the SWEEP-EPOCH head (hSweep), not the topped-up one:
    // the data-retention union above covers [anchor(hSweep), head], so
    // the anchor the slots GC down to is exactly the floor whose data
    // this sweep preserved — a head that moved mid-sweep must not
    // shift the anchor past files already vacuumed (or below files
    // never retained)
    if (!dryRun && hSweep > 0 && cutoff > ov) {
      // a LEGACY head (no txn checkpoint rows) means replay guards
      // still scan the full log — GC only after a post-upgrade commit
      // has checkpointed the txn set into the head slot
      val headCkpted = rawSlotRows(hSweep)._1
        .exists(r => r.kind == "txn" && r.lo == -1L)
      if (headCkpted) {
        (ov until anchor).foreach { v =>
          val slot = s"$commitsDir/v$v"
          val old = io.mtime(slot).forall(m => now - m >= minAgeMs)
          if (old) io.deleteTree(slot)
        }
      }
    }
    out.result().sorted
  }

  /** roll the table back to version `v` AS A NEW COMMIT (Delta's
    * RESTORE): the head becomes v's exact manifest, history is
    * preserved (the bad batches stay time-travel-readable until they
    * expire), and nothing is copied — pure metadata, O(manifest).
    * Fails loudly if any of v's data files has already been vacuumed
    * (restoring past the retention window is unrecoverable by
    * design). */
  def restore(v: Long): Long = {
    val h = head
    require(v >= 1 && v <= h, s"need 1 <= v <= $h (got $v)")
    require(v >= oldestVersion,
      s"version $v expired from the log (oldest retained: $oldestVersion)")
    val target = manifestOf(v)
    target.filter(r => r.kind == "data" || r.kind == "dv")
      .foreach(r => require(io.exists(r.file),
        s"version $v is not restorable: ${r.file} was vacuumed"))
    commitManifest(_ => target)
  }

  /** one row per committed version: the audit/debug view (Delta's
    * DESCRIBE HISTORY shape) — per-version SNAPSHOT totals off the
    * folded manifests, built driver-side in one ascending walk that
    * reads each slot exactly once (the per-handle fold memo), never a
    * job per version. A counter a version's manifest predates (`rows`,
    * `bytes`, `ts`) surfaces NULL, exactly as the pre-fold
    * mergeSchema read did. */
  def history(): DataFrame = {
    val h = head
    if (h == 0)
      return Seq.empty[(Long, Int, Int, Long, Option[Long], Option[Long],
          Option[Long])]
        .toDF("version", "n_data_files", "n_dv_files", "txn",
          "n_rows", "bytes", "commit_ts")
    val out = (oldestVersion to h).map { v =>
      val snap = manifestSnap(v)
      val data = snap.refs.filter(_.kind == "data")
      val dvs = snap.refs.filter(_.kind == "dv")
      // live rows = Σ data rows − Σ dv positions, NULL when every data
      // counter predates the column (SQL SUM-over-NULLs semantics)
      val dataRows = data.map(_.rows).filter(_ >= 0)
      val nRows: Option[Long] =
        if (dataRows.isEmpty) None
        else Some(dataRows.sum - dvs.map(_.rows).filter(_ >= 0).sum)
      val byteVals = snap.refs.filter(_.kind != "txn")
        .map(_.bytes).filter(_ >= 0)
      val bytes: Option[Long] =
        if (byteVals.isEmpty) None else Some(byteVals.sum)
      (v, data.size, dvs.size, snap.commitTxn, nRows, bytes,
        if (snap.commitTs >= 0) Some(snap.commitTs) else None)
    }
    out.toDF("version", "n_data_files", "n_dv_files", "txn",
        "n_rows", "bytes", "commit_ts")
      .orderBy(col("version"))
  }

  /** NET row-level changes between two committed versions — the
    * incremental-consumption path (Delta's change data feed / Iceberg's
    * incremental scan): what a downstream materialization applies to go
    * from its `fromV`-based state to `toV` without re-reading the
    * table. Returns the table's columns plus `change_type` ∈
    * {insert, delete, update} — postimage rows for insert/update,
    * the `fromV` preimage for delete; rows untouched across the window
    * (including rows of rewritten files that carried verbatim) emit
    * nothing, and a row born and erased inside the window nets out.
    *
    * Computed CHANGE-proportionally off the manifest diff, never a
    * table scan: only files removed by the window, files added by it,
    * and carried files targeted by new deletion vectors are read; the
    * classification is one keyed full-outer join of those row sets
    * with a null-safe all-columns comparison. Requires the key to be
    * unique AND non-null per row (the upsert-table contract `merge`
    * maintains) — duplicate keys would cross-multiply in the join,
    * and a NULL key can never match its own other-side row, so such a
    * row would misclassify as a delete+insert pair.
    *
    * `preimages = true` splits each update into `update_preimage` +
    * `update_postimage` rows (Delta CDF's shape) — what an
    * incremental AGGREGATE refresh needs: subtract the preimage, add
    * the postimage, and a downstream SUM/COUNT stays exact without
    * touching the base table (x34 composes exactly this). */
  def changes(fromV: Long, toV: Long,
              preimages: Boolean = false): DataFrame = {
    val h = head
    require(fromV >= 1 && fromV <= toV && toV <= h,
      s"need 1 <= fromV <= toV <= $h (got $fromV, $toV)")
    // loud, not a path error out of a slot read: a feed consumer that
    // fell behind log retention must re-bootstrap (Delta CDF's
    // earliest-available-version error has the same shape)
    require(fromV >= oldestVersion,
      s"changes($fromV, $toV): version $fromV expired from the log " +
        s"(oldest retained: $oldestVersion) — re-bootstrap the consumer")
    val from = manifestOf(fromV)
    val to = manifestOf(toV)
    val fromData = from.filter(_.kind == "data").map(_.file).toSet
    val toData = to.filter(_.kind == "data").map(_.file).toSet
    val removed = (fromData -- toData).toSeq.sorted
    val added = (toData -- fromData).toSeq.sorted
    val carried = fromData.intersect(toData).toSeq.sorted
    val fromDvs = from.filter(_.kind == "dv").map(_.file).toSet
    val newDvs = to.filter(_.kind == "dv").map(_.file)
      .filterNot(fromDvs).sorted
    val schema = emptyLike((from ++ to).filter(_.kind == "data"),
      spark.emptyDataFrame)
    // fromV-visible rows the window removed or rewrote...
    val oldRows =
      if (removed.isEmpty) schema
      else scan(from, removed).drop("__file", "__pos")
    // ...plus carried-file rows a new deletion vector erased: visible
    // at fromV (from's DVs applied by scan), dead at toV. Only the
    // carried files the new DVs actually TARGET are read — the
    // distinct dv_file set is file-count-bounded metadata, so a big
    // carried snapshot costs nothing when the window's deletes were
    // localized.
    val dvErased =
      if (newDvs.isEmpty || carried.isEmpty) schema
      else {
        val newDvRefs = to.filter(r => r.kind == "dv" && newDvs.contains(r.file))
        val dv = spark.read.parquet(newDvs: _*)
        val targets = dvTargets(newDvs)
        val hit = carried.filter(targets)
        if (hit.isEmpty) schema
        else {
          val c = scan(from, hit)
          // same adaptive shape as scan(): a window whose deletes
          // exceed the broadcast budget semi-joins via shuffle
          val side =
            if (dvPositions(newDvRefs) <= GraftTable.DvBroadcastPositions)
              broadcast(dv)
            else dv.hint("shuffle_hash")
          c.join(side,
              c("__file") === dv("dv_file") && c("__pos") === dv("dv_pos"),
              "left_semi")
            .drop("__file", "__pos")
        }
      }
    // toV-visible rows of the window's new files (toV's DVs applied)
    val newRows =
      if (added.isEmpty) schema
      else scan(to, added).drop("__file", "__pos")
    // conform BOTH sides to the union schema across the whole window:
    // a schema-evolution boundary (x35) puts the evolved column on
    // only one side, and removed files themselves may span schemas —
    // allowMissingColumns unions fill with NULL, and the limit(0)
    // cross-union gives each side the other's columns with the types
    // the owning side declared
    val l0 = oldRows.unionByName(dvErased, allowMissingColumns = true)
    val leftC = l0.unionByName(newRows.limit(0), allowMissingColumns = true)
    val rightC = newRows.unionByName(l0.limit(0), allowMissingColumns = true)
    val dataCols = leftC.columns.toSeq
    // the diff computes under PHYSICAL names (stable across renames —
    // a feed window spanning a rename boundary still joins); output
    // rows project to toV's LOGICAL mapping, dropped columns omitted
    val pk = physKeyOf(to)
    val byPhys = colRows(to).map { case (lg, p) => p -> lg }.toMap
    val outCols: Seq[(String, String)] = dataCols.flatMap(c =>
      byPhys.get(c) match {
        case Some("") => None
        case Some(lg) => Some(c -> lg)
        case None     => Some(c -> c)
      })
    val l = leftC.select(dataCols.map(c => col(c).as(s"__l_$c")): _*)
    val r = rightC.select(dataCols.map(c => col(c).as(s"__r_$c")): _*)
    val same = dataCols
      .map(c => col(s"__l_$c") <=> col(s"__r_$c")).reduce(_ && _)
    val classified = l
      .join(r, col(s"__l_$pk") === col(s"__r_$pk"), "full_outer")
      .withColumn("change_type",
        when(col(s"__l_$pk").isNull, lit("insert"))
          .when(col(s"__r_$pk").isNull, lit("delete"))
          .when(same, lit("unchanged"))
          .otherwise(lit("update")))
      .where(col("change_type") =!= "unchanged")
    if (!preimages)
      classified.select(outCols.map { case (c, lg) =>
        coalesce(col(s"__r_$c"), col(s"__l_$c")).as(lg) } :+
        col("change_type"): _*)
    else {
      // Delta-CDF shape: one row per side of an update
      val nonUpdate = classified.where(col("change_type") =!= "update")
        .select(outCols.map { case (c, lg) =>
          coalesce(col(s"__r_$c"), col(s"__l_$c")).as(lg) } :+
          col("change_type"): _*)
      val pre = classified.where(col("change_type") === "update")
        .select(outCols.map { case (c, lg) => col(s"__l_$c").as(lg) } :+
          lit("update_preimage").as("change_type"): _*)
      val post = classified.where(col("change_type") === "update")
        .select(outCols.map { case (c, lg) => col(s"__r_$c").as(lg) } :+
          lit("update_postimage").as("change_type"): _*)
      nonUpdate.unionByName(pre).unionByName(post)
    }
  }

  /** the window `(fromV, toV]`'s CHANGE VOLUME estimate, from the
    * manifests alone (zero data reads): bytes of data files the window
    * removed plus added, plus — for its new DV sidecars — the ERASED
    * ROWS they denote, priced as positions × the snapshot's average
    * data-row width (a DV file itself is ~16 bytes/position, but the
    * feed a consumer reads carries the erased rows at FULL width — the
    * sidecar's own size would under-estimate a big MoR delete by the
    * row-width factor). The cdf source's direct-vs-shuttle choice keys
    * on this as an upper-bound proxy for the net feed: changed rows
    * live in exactly those files/positions. −1 when any involved ref
    * predates the byte/row counters — callers must then take the
    * conservative (shuttle) path. */
  def changeVolumeBytes(fromV: Long, toV: Long): Long = {
    val from = manifestOf(fromV)
    val to = manifestOf(toV)
    val f = from.collect { case r if r.kind == "data" => r.file -> r.bytes }
      .toMap
    val t = to.collect { case r if r.kind == "data" => r.file -> r.bytes }
      .toMap
    val fdv = from.collect { case r if r.kind == "dv" => r.file }.toSet
    val toData = to.filter(_.kind == "data")
    val dataBytes = toData.map(_.bytes)
    val dataRows = toData.map(_.rows)
    val avgRowBytes =
      if (dataBytes.exists(_ < 0) || dataRows.exists(_ < 0)) -1L
      else math.max(64L, dataBytes.sum / math.max(1L, dataRows.sum))
    val newDvPositions = to.collect {
      case r if r.kind == "dv" && !fdv(r.file) => r.hi } // footer counts
    val vols = (f.keySet -- t.keySet).toSeq.map(f) ++
      (t.keySet -- f.keySet).toSeq.map(t) ++
      newDvPositions.map(p =>
        if (p < 0 || avgRowBytes < 0) -1L else p * avgRowBytes)
    if (vols.exists(_ < 0)) -1L else vols.sum
  }

  // test seam: a completed-but-uncommitted stage IS the mid-commit state
  // the vacuum-safety race is about (stage() returns, tryCommit hasn't
  // run) — exposed so the spec can hold a table in exactly that state
  private[table] def stageForTest(df: DataFrame): Staged = stage(df)
  private[table] def adoptForTest(st: Staged): Long = {
    val v = commitManifest(_ ++ st.refs)
    st.markers.foreach(io.delete)
    v
  }
}

object GraftTable {
  private[table] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[GraftTable])

  /** the LOSSLESS type promotion lattice (Delta's type widening, the
    * same pairs Spark 4's parquet readers upcast natively): integral
    * widths promote up the byte→short→int→long chain, float promotes
    * to double. Anything else — including int→double, whose 2⁵³
    * boundary makes it lossy for longs and which Spark's vectorized
    * reader only gained behind the type-widening feature — is a true
    * conflict here. */
  private[table] def widen(a: org.apache.spark.sql.types.DataType,
                           b: org.apache.spark.sql.types.DataType)
      : Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def rank(t: DataType): Int = t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => -1
    }
    val (ra, rb) = (rank(a), rank(b))
    if (ra > 0 && rb > 0) Some(if (ra >= rb) a else b)
    else (a, b) match {
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case _ => None
    }
  }

  /** parse `kind = "col"` manifest rows into (logical, physical) name
    * pairs — the COLUMN MAPPING (Delta's columnMapping table feature,
    * x53): `logical == ""` marks a DROPPED physical column. Tables
    * that never renamed/dropped have no rows and every path
    * short-circuits to identity. */
  private[table] def parseColRows(refs: Seq[FileRef]): Seq[(String, String)] =
    refs.collect { case r if r.kind == "col" =>
      val s = r.file.stripPrefix("col:")
      val i = s.indexOf(':')
      (s.take(i), s.drop(i + 1))
    }

  private[table] def colRow(logical: String, physical: String): FileRef =
    FileRef(s"col:$logical:$physical", "col", -1L, -1L)

  /** a metadata-property fingerprint row (`kind = "prop"`) — the
    * manifest-versioned witness of the checks/schema-mode side files,
    * so racing writers see property changes as commit conflicts (see
    * `commitPropStamp`) */
  private[table] def propRow(kind: String, content: String): FileRef =
    FileRef(s"prop:$kind:${java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(content))}", "prop",
      -1L, -1L)

  /** a DECLARED column (`kind = "addcol"` manifest row — Delta's
    * `ALTER TABLE ... ADD COLUMN`, x56): `name` is the column's
    * PHYSICAL storage name (it is born unmapped; a later rename adds a
    * `col` row over it), `dataType` the declared type, `defaultSql`
    * the write-time default — a constant SQL expression materialized
    * into any INSERT-shaped frame that omits the column. Rows that
    * predate the declaration read NULL (Delta's documented
    * non-retroactive default semantics: `existing rows are not
    * backfilled`). */
  private[table] final case class AddedCol(
      name: String, dataType: org.apache.spark.sql.types.DataType,
      defaultSql: Option[String])

  /** parse `kind = "addcol"` rows in DECLARATION ORDER (`lo` carries
    * the ordinal — manifest folds sort rows by (kind, file), which
    * would otherwise alphabetize a declared-only schema) — base64
    * keeps the type JSON and the default expression colon-free inside
    * the row encoding */
  private[table] def parseAddColRows(refs: Seq[FileRef]): Seq[AddedCol] =
    refs.collect { case r if r.kind == "addcol" =>
      val s = r.file.stripPrefix("addcol:")
      val Array(name, tB64, dB64) = s.split(":", 3)
      val dec = java.util.Base64.getDecoder
      val t = org.apache.spark.sql.types.DataType.fromJson(
        new String(dec.decode(tB64), java.nio.charset.StandardCharsets.UTF_8))
      val d = new String(dec.decode(dB64),
        java.nio.charset.StandardCharsets.UTF_8)
      (r.lo, AddedCol(name, t, if (d.isEmpty) None else Some(d)))
    }.sortBy(_._1).map(_._2)

  private[table] def addColRow(c: AddedCol, ordinal: Long = -1L): FileRef = {
    val enc = java.util.Base64.getEncoder
    def b64(s: String) = enc.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    FileRef(s"addcol:${c.name}:${b64(c.dataType.json)}:" +
      b64(c.defaultSql.getOrElse("")), "addcol", ordinal, -1L)
  }

  /** manifest row kinds that CARRY through whole-snapshot rewrites
    * (cluster's full rewrite replaces every data/DV/bloom ref, but
    * column-mapping, declared-column, property-fingerprint,
    * feature-flag, and key-record rows describe the TABLE, not its
    * files) */
  private[table] val CarriedKinds: Set[String] =
    Set("col", "addcol", "prop", "feature", "keyrec")

  /** the KEY RECORD stamp (round 18): one `kind = "keyrec"` row per
    * snapshot naming the table's key — the key column's immutable
    * PHYSICAL name, or the comma-joined compound part list — written
    * by the SAME commit that declares or replaces the schema, so
    * every version is self-describing: a catalog load resolves the
    * key from the manifest of the version it serves, and the one
    * crash window the pointer cannot cover (a key-changing REPLACE
    * that commits on storage but dies before the pointer rewrite)
    * closes structurally, including the two cases the key.conf
    * heuristic could not detect (the old key column surviving into
    * the new schema, and a reordered same-part-set compound key).
    * key.conf remains the pre-stamp legacy fallback. */
  private[table] def keyRecRow(record: String): FileRef =
    FileRef("keyrec:" + java.util.Base64.getEncoder.encodeToString(
      record.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      "keyrec", -1L, -1L)

  private[table] def parseKeyRec(refs: Seq[FileRef]): Option[String] =
    refs.find(_.kind == "keyrec").map(r => new String(
      java.util.Base64.getDecoder.decode(r.file.stripPrefix("keyrec:")),
      java.nio.charset.StandardCharsets.UTF_8))

  /** READER FEATURE FLAGS (Delta's protocol/table-features,
    * Iceberg's format-version): the first commit that makes a table
    * depend on a reader capability also writes a `kind = "feature"`
    * row naming it, and every reader validates a snapshot's flags
    * against [[SupportedFeatures]] BEFORE serving it — an older
    * binary opening a newer table fails with the feature's name
    * instead of silently mis-projecting (a pre-x53 reader would
    * resurrect dropped columns and show physical names; a pre-x56 one
    * would lose declared columns). Unknown row KINDS fail the same
    * way: a future feature always lands as new-kind rows + its flag,
    * so the closed-world check is the defense-in-depth layer.
    * Validation is per-version and memoized with the snapshot
    * (zero cost on the read path); flags are manifest rows, so time
    * travel below the feature's introduction still reads, restore
    * below it drops the requirement, and clones inherit it. */
  private[table] val SupportedFeatures: Set[String] = Set("colmap", "addcol")

  /** every row kind this binary understands — final-snapshot kinds
    * plus the slot-encoding markers (`delta`/`rm`) consumed during
    * the fold */
  private[table] val KnownKinds: Set[String] =
    Set("data", "dv", "bloom", "txn", "col", "addcol", "prop", "feature",
        "keyrec", "delta", "rm")

  private[table] def featureRow(name: String): FileRef =
    FileRef(s"feature:$name", "feature", -1L, -1L)

  /** fail loudly if snapshot `v` needs capabilities this reader lacks */
  private[table] def requireReadable(root: String, v: Long,
                                     refs: Seq[FileRef]): Unit =
    refs.foreach { r =>
      if (!KnownKinds(r.kind))
        throw new IllegalStateException(
          s"table $root version $v carries manifest rows of unknown " +
            s"kind '${r.kind}' — written by a newer engine without a " +
            "feature flag this reader recognizes; upgrade the reader")
      if (r.kind == "feature") {
        val f = r.file.stripPrefix("feature:")
        if (!SupportedFeatures(f))
          throw new IllegalStateException(
            s"table $root version $v requires reader feature '$f' " +
              s"(supported here: ${SupportedFeatures.toSeq.sorted
                .mkString(", ")}) — upgrade the reader, or time-travel " +
              "below the version that introduced it")
      }
    }

  /** rename/drop work on identifier-shaped names only (the `col:` row
    * encoding and the projection both depend on it); shared with the
    * catalog's CREATE-time validation so the checks cannot drift */
  private[graft] val ColIdent = "[A-Za-z_][A-Za-z0-9_]*"

  /** one column change of an atomic [[GraftTable.alterColumns]] batch */
  sealed trait ColChange
  final case class RenameCol(oldName: String, newName: String)
      extends ColChange
  final case class DropCol(name: String) extends ColChange
  final case class AddCol(name: String,
      dataType: org.apache.spark.sql.types.DataType,
      defaultSql: Option[String] = None) extends ColChange

  /** DV positions above which `scan` stops broadcasting the deletion
    * vector and applies it file-locally (≈16 MB of (file, pos) rows —
    * comfortably under executor budgets, far under where a broadcast
    * would strain the driver) */
  private[table] val DvBroadcastPositions: Long = 1L << 20

  /** delta-key count up to which a merge collects its keys into an IN
    * constraint for bloom refinement (Delta's small-source predicate
    * pushdown); past it the range-join pruning stands alone */
  private[table] val BloomKeyPushdown: Long = 10000L

  /** bloom sidecar count above which compact() folds them into one */
  private[table] val BloomFoldSidecars: Int = 8

  /** longest delta-slot chain before a commit is forced to write a
    * full (checkpoint) manifest — bounds every reader's fold walk
    * (Delta's checkpointInterval; its default is 10) */
  private[table] val MaxManifestChain: Long = 8L

  /** a version's FOLDED manifest + its delta-chain depth (0 = the slot
    * is a full checkpoint) and commit-level txn id / in-commit stamp */
  private[table] final case class Snap(refs: Seq[FileRef], depth: Long,
                                       commitTxn: Long, commitTs: Long)

  /** one writer's commit as the CAS loop ([[GraftTable.commit]]) sees
    * it: `manifest` maps the base it is applied to onto the new
    * manifest, `staged` = this composition's staged directories, and
    * the read footprint — `footprint` = the files whose CONTENT the
    * staged output embeds or that the write removes (a merge's matched
    * files — their unmatched rows ride the rewrite), `addConflicts` =
    * does a set of FOREIGN added data refs overlap this write's
    * keys/predicate (stats-level — inclusive bounds make a false
    * positive a harmless re-stage, never a wrong rebase). */
  private[table] final case class Mutation(
      manifest: Seq[FileRef] => Seq[FileRef],
      staged: Seq[Staged] = Nil,
      footprint: Set[String] = Set.empty,
      addConflicts: Seq[FileRef] => Boolean = _ => false)

  private[table] object Mutation {
    /** a rewrite: base minus `removed` plus `added`, with the removed
      * files as its footprint */
    def rewrite(removed: Set[String], added: Seq[FileRef],
                staged: Seq[Staged],
                addConflicts: Seq[FileRef] => Boolean = _ => false)
        : Mutation =
      Mutation(_.filterNot(r => removed(r.file)) ++ added, staged, removed,
        addConflicts)

    /** the rewrite that turns `base` into `refs`, a manifest composed
      * whole (compact, cluster) — so files a racing writer adds carry */
    def diff(base: Seq[FileRef], refs: Seq[FileRef],
             staged: Seq[Staged]): Mutation = {
      val kept = refs.iterator.map(_.file).toSet
      val had = base.iterator.map(_.file).toSet
      rewrite(base.iterator.collect {
        case r if r.kind != "txn" && !kept(r.file) => r.file }.toSet,
        refs.filterNot(r => had(r.file)), staged)
    }
  }

  /** tiny synchronized access-ordered LRU for the per-handle manifest
    * memos (null = absent, matching the ConcurrentHashMap contract the
    * call sites were written against) */
  private[table] final class Lru[V <: AnyRef](cap: Int) {
    private val m =
      new java.util.LinkedHashMap[java.lang.Long, V](cap * 2, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[java.lang.Long, V]): Boolean = size > cap
      }
    def get(k: Long): V = m.synchronized(m.get(k))
    def put(k: Long, v: V): Unit = m.synchronized { m.put(k, v); () }
  }

  /** a z-order spec's stable generation stamp (murmur3 of the column
    * list — deterministic across JVMs; −1 is the "unclustered"
    * sentinel, so a colliding hash is nudged off it) */
  private[table] def zgenOf(cols: Seq[String]): Long = {
    val h = scala.util.hashing.MurmurHash3
      .stringHash(cols.mkString(",")).toLong
    if (h == -1L) -2L else h
  }

  /** one manifest row: a data file or DV sidecar + its statistics —
    * `lo`/`hi` are the KEY column's range (what `pruneByKeys`' range
    * join consumes; the sentinel full range when the key isn't
    * integral); `stats` holds (min, max) for EVERY integral column of
    * the file and `sstats` the lexicographic (min, max) for every
    * STRING column (both Iceberg's per-column inclusive metrics,
    * lifted from the parquet footers at stage time), so predicate
    * pruning is not limited to the clustering key and a UUID/email-
    * keyed table (the GDPR subject shape) keeps mutation pruning. A
    * column absent from both maps (unsupported type, or all-NULL in
    * the file) evaluates against the unbounded range. String bounds
    * order is parquet's unsigned-UTF-8-byte order — the same order
    * Spark compares strings in. */
  final case class FileRef(file: String, kind: String, lo: Long, hi: Long,
                           stats: Map[String, (Long, Long)] = Map.empty,
                           sstats: Map[String, (String, String)] = Map.empty,
                           rows: Long = -1L, bytes: Long = -1L,
                           ts: Long = -1L,
                           nstats: Map[String, Long] = Map.empty,
                           zgen: Long = -1L,
                           schemaJson: String = "")

  /** a staged-but-uncommitted file set and its in-flight marker.
    * `extra` carries companion sidecar stages (a data stage's bloom
    * sidecar) so a discard or a marker sweep covers every directory
    * the stage produced; `refs` on the OUTER value already includes
    * the extras' refs. */
  private[table] final case class Staged(dir: String, refs: Seq[FileRef],
                                         marker: String,
                                         extra: Seq[Staged] = Nil) {
    def markers: Seq[String] = marker +: extra.flatMap(_.markers)
  }

  /** version 1 = the initial file set */
  def create(spark: SparkSession, root: String, keyCol: String,
             df: DataFrame): GraftTable = {
    val t = new GraftTable(spark, root, keyCol)
    t.io.mkdirs(s"$root/commits")
    require(t.head == 0, s"table at $root already exists")
    t.append(df)
    t
  }

  /** open an existing table (or an empty root a stream will populate) */
  def open(spark: SparkSession, root: String, keyCol: String): GraftTable = {
    val t = new GraftTable(spark, root, keyCol)
    t.io.mkdirs(s"$root/commits")
    t
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE src`): a
    * new table at `root` whose v1 manifest REFERENCES the source's
    * data/DV/bloom files at `version` (head by default) — ZERO data
    * bytes copied, O(manifest) work. Mutations copy-on-write into the
    * clone's OWN data dir, so the source never changes through the
    * clone; the clone's `expire` lists only its own data dir, so it
    * can never vacuum a source file. Table properties (bloom index,
    * CHECK constraints, schema mode) copy; the source's txn replay
    * guards do NOT (batch-id idempotency is per table), and the
    * commit-arbiter choice stays a per-root deployment decision.
    * The dev/test-on-production shape at 100 TB: an experiment table
    * in seconds, paying only for its own divergence. Caveat (same as
    * Delta's): vacuuming the SOURCE below the cloned version breaks
    * the clone — clones share retention policy with their source. */
  def shallowClone(spark: SparkSession, srcRoot: String, keyCol: String,
                   root: String, version: Long = -1L): GraftTable = {
    val src = open(spark, srcRoot, keyCol)
    val v = if (version < 0) src.head else version
    require(v >= 1, s"source table at $srcRoot has no committed version")
    val refs = src.manifestOf(v).filterNot(_.kind == "txn")
    val t = new GraftTable(spark, root, keyCol)
    t.io.mkdirs(s"$root/commits")
    require(t.head == 0, s"table at $root already exists")
    Seq("bloom.conf", "checks.conf", "schema.conf",
        "autocompact.conf").foreach { p =>
      src.io.readUtf8(s"$srcRoot/$p")
        .foreach(s => t.io.writeUtf8(s"$root/$p", s))
    }
    t.commitManifest(_ => refs)
    t
  }
}
