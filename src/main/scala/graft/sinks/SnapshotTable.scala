package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A minimal transactional snapshot table over plain parquet — the missing
  * sink-side primitive between "write parquet files" and a warehouse: at
  * 100 TB, incremental loads need ATOMIC visibility (readers must never see
  * a half-written batch), TIME TRAVEL (reprocess against the exact input a
  * job saw), and safe COMPACTION (rewrite files without breaking readers) —
  * the properties table formats (Delta/Iceberg/Hudi) exist for. This is the
  * core of that idea in one file, on nothing but parquet + a manifest log.
  *
  * Layout:
  * {{{
  *   <root>/_manifests/v00000001.json   // one immutable manifest per commit
  *   <root>/data/<commit-uuid>/...      // immutable parquet dirs, append-only
  * }}}
  *
  * Every manifest is a SELF-CONTAINED snapshot: it lists every live data dir
  * for its version (not a delta), so `readVersion` is one manifest read +
  * one multi-path parquet scan — no log replay, O(1) metadata reads at any
  * history length.
  *
  * Commit protocol (optimistic concurrency):
  *   1. read the current latest version V (one directory listing),
  *   2. write the new data files under `data/<fresh-uuid>/` — invisible to
  *      every reader, because readers only follow manifests,
  *   3. publish `_manifests/v{V+1}.json` atomically: on HDFS via
  *      `FileSystem.create(path, overwrite = false)` (a namenode
  *      transaction), on LOCAL filesystems via write-temp + atomic
  *      hard-link — Hadoop's local create-if-absent is exists-check-then-
  *      create and loses a real race (see [[publish]]). Of two racing
  *      committers exactly one wins; the loser gets
  *      [[ConcurrentCommitException]] and retries from step 1 (its orphaned
  *      data dir is reclaimed by [[vacuum]]; plain [[append]] retries
  *      automatically, since appends commute). On S3-style stores without
  *      atomic create, point `_manifests` at an HDFS/consistent volume or
  *      front it with a lock service — the data dirs can stay on S3.
  *
  * Readers never list `data/`: a killed writer leaves only an unreferenced
  * dir, never a torn table. Failure atomicity therefore holds at every
  * step: crash before publish → invisible; crash after → fully visible.
  */
object SnapshotTable {

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  /** Per-file statistics recorded in the manifest at write time: row count
    * plus min/max per orderable top-level column (numeric, string, date,
    * timestamp, boolean). This is the planning-time data-skipping index the
    * table formats carry: at 100 TB a range predicate should decide from
    * the MANIFEST which of millions of files can possibly match, instead of
    * listing and footer-probing every one — parquet row-group stats only
    * help after the file is already opened. Values are stored as JSON
    * (numbers/strings; timestamps as epoch micros) and compared through the
    * manifest-recorded table schema. A column with no entry (all-null file,
    * unsupported type, 64-char-plus strings, non-finite doubles) is simply
    * unprunable for that file — absence is always safe. */
  final case class FileStat(
      path: String,
      rows: Long,
      min: Map[String, JValue],
      max: Map[String, JValue],
      nonNull: Map[String, Long] = Map.empty,
      bloom: Map[String, String] = Map.empty,
      bytes: Long = -1L) // -1 = unrecorded (pre-bytes manifest); stat on demand

  /** One commit's metadata. `dirs` are root-relative live data ENTRIES —
    * usually whole data dirs, but row-level DML commits ([[deleteWhere]],
    * [[updateWhere]], [[mergeUpsert]]) carry the untouched files of a
    * partially-rewritten dir as individual file paths (parquet reads accept
    * both; [[vacuum]] maps every entry back to its containing dir);
    * `batchId` tags commits made by [[appendBatchExactlyOnce]] so replayed
    * streaming epochs are recognized; `schemaJson` is the TABLE schema as
    * of this version (Spark StructType JSON) — the manifest, not the
    * parquet footers, is the source of truth, so an old version reads with
    * exactly the schema it committed and a widened table reads old files
    * with the new columns null. Absent only in pre-schema manifests
    * (read-compat: [[schemaOf]] merges their footers once, when a read
    * opens the manifest). `files` carries
    * [[FileStat]] rows for every live file the manifest's writer could
    * attribute stats to — like `dirs` it is a SELF-CONTAINED snapshot
    * (carried forward across appends), so data skipping needs exactly one
    * manifest read. Dirs not covered by `files` (pre-stats commits) are
    * read in full. */
  final case class Commit(
      version: Int,
      action: String,
      dirs: Seq[String],
      addedRows: Long,
      batchId: Option[Long] = None,
      schemaJson: Option[String] = None,
      files: Seq[FileStat] = Seq.empty,
      ts: Long = 0L, // wall-clock publish time (epoch ms); 0 in pre-ts manifests
      constraints: Map[String, String] = Map.empty, // name -> CHECK sql, carried like schema
      // physical-name -> type JSON of columns dropped while live files
      // still carry their bytes: enforces the revival contract (re-adding
      // the name requires the same type). Cleared by full rewrites
      // (overwrite/compact) — no live file holds the bytes anymore.
      dropped: Map[String, String] = Map.empty,
      // merge-on-read deletion masks ([[deleteWhereMor]]/[[mergeUpsertMor]]):
      // each hides SOME rows of the listed live entries at read time.
      // Masks only ever shrink — a rewrite of a masked file satisfies and
      // removes its entry; compaction/overwrite clear them all.
      masks: Seq[Mask] = Seq.empty,
      // write-time CHANGE capture ([[Cdc]]) — recorded by COW DML commits
      // so [[changesBetween]] reads O(changed rows) instead of diffing
      // rewritten files; absent on pre-capture manifests and non-DML
      // commits (the reader falls back to the EXCEPT ALL file diff)
      cdc: Option[Cdc] = None,
      // the exactly-once epoch's WRITER identity (Delta's txn appId): the
      // DSv2 catalog sink records its stable streaming query id alongside
      // batchId, so TWO independent queries writing one table can never
      // silently dedupe each other's epoch 0. Absent on path-sink and
      // pre-appId commits (single-logical-stream contract unchanged).
      appId: Option[String] = None)

  /** Write-time change capture of one COW DML commit — the Delta
    * Change-Data-Feed economics: a rewrite that carries most rows
    * unchanged would otherwise force every CDC consumer to EXCEPT-ALL
    * diff added vs removed files (~2× the rewritten bytes PER RANGE
    * READ); instead the writer, which is already scanning exactly those
    * files, captures the true delta once.
    *
    *  - `covered`: the removed entries whose row-level delta the capture
    *    fully accounts for (the rewrite's scan set). Removed entries NOT
    *    listed here are WHOLE-FILE drops — every live row is a delete, so
    *    the reader reads them directly (already O(changed rows)); the
    *    zero-I/O whole-file delete fast path is thereby preserved at
    *    write time.
    *  - `chDir`: ONE `_cdc/w-<uuid>` sidecar holding the captured change
    *    rows — table columns (PHYSICAL names, immutable across renames)
    *    plus a `_change_type` column ('delete' pre-images / 'insert'
    *    post-images), published object-store-safe via the `_SUCCESS`
    *    named-set protocol. The change rows leave in the rewrite's OWN
    *    write job ([[writeRewrite]]), routed from the data rows by their
    *    tag (the role of Delta's `__is_cdc` partition column): one scan
    *    of the rewrite set yields the survivors and the change rows (an
    *    update's post-image as a survivor plus its pre/post pair, a
    *    struct-array generator).
    *  - `insEntries`: added DATA entries that are wholly inserts (e.g. a
    *    merge's source dir) — read directly, no sidecar copy.
    *
    * Capture cost: the O(changed rows) change files the rewrite's own
    * write job adds — no extra scan, job or count: the commit's net row
    * delta is the inserts minus the deletes that write counted, whether
    * or not it keeps them. Paid once at COMMIT time, where the old diff
    * cost ~2× the rewritten bytes on EVERY uncached CDC range read.
    * Disable per-session with `spark.graft.cdc.onWrite=false` (readers
    * honor whatever each manifest recorded); the rewrite then counts its
    * change rows and writes its data rows alone.
    *
    * One deliberate semantic refinement vs the diff path: an UPDATE that
    * rewrites a row to IDENTICAL values emits its delete+insert pair
    * (the write-side truth — Delta CDF's convention), where the
    * except-all diff cancels such pairs. Downstream algebra (MV deltas,
    * upsert-apply) is invariant either way. */
  final case class Cdc(
      covered: Seq[String],
      chDir: Option[String],
      insEntries: Seq[String])

  /** The sidecar's change-type column (reader emits it verbatim). */
  private[sinks] val CdcTypeCol = "_change_type"

  /** One merge-on-read deletion mask. `kind`:
    *  - `"pred"` — rows of `entries` matching the recorded range predicate
    *    (`predBounds`, the conjunction of [[Bound]]s serialized on the
    *    same typed axes as the manifest stats; LOGICAL column names;
    *    three-valued: a null bound column never matches, so its rows
    *    survive — [[matchCol]] semantics exactly) are deleted; written by
    *    [[deleteWhereMor]] with ZERO data I/O.
    *  - `"keys"` — rows of `entries` whose `keyCols` tuple appears in the
    *    key-tombstone sidecar parquet at `keyDir` (root-relative) are
    *    deleted (read-time LEFT ANTI join; null keys never match);
    *    written by [[mergeUpsertMor]] — the scattered-key merge that
    *    copy-on-write would answer with a full rewrite.
    * Economics: a mask is manifest metadata + (for keys) a source-sized
    * sidecar — write cost is O(source), never O(table); reads pay a
    * filter/anti-join on ONLY the masked entries; compaction reconciles
    * (applies + clears) all masks. */
  final case class MaskBound(column: String, lower: Option[JValue], upper: Option[JValue])

  /** `id` is the mask's IDENTITY across manifests (a fresh UUID at
    * creation, carried verbatim as entry lists shrink): CDC detects "new
    * mask this commit" by id, so two merge-on-read deletes with the SAME
    * bounds at different versions stay distinguishable — structural
    * identity would silently swallow the second one's deletes. */
  final case class Mask(
      kind: String,
      entries: Seq[String],
      predBounds: Seq[MaskBound] = Seq.empty,
      keyCols: Seq[String] = Seq.empty,
      keyDir: Option[String] = None,
      id: String = java.util.UUID.randomUUID().toString,
      // exact count of LIVE rows this mask hides, recorded at write time
      // (read through any EARLIER masks, so overlapping masks never
      // double-count). None = unknown: a pre-field manifest, or the entry
      // set shrank since (a rewrite satisfied part of the mask — the
      // remainder's count would be stale).
      maskedRows: Option[Long] = None)

  /** Carry a mask forward with only the `keep` entries; a SHRUNK set
    * invalidates the recorded row count (the dropped entries' hidden rows
    * left with their rewrite). */
  private def shrinkMask(mk: Mask, keep: String => Boolean): Mask = {
    val kept = mk.entries.filter(keep)
    if (kept.size == mk.entries.size) mk
    else mk.copy(entries = kept, maskedRows = None)
  }

  /** Write-time CDC capture (default ON) — see [[Cdc]]. Readers honor
    * whatever each manifest recorded, so mixed histories are fine. */
  private def cdcOnWrite(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.cdc.onWrite").forall(_.toBoolean)

  /** The key ENVELOPE of `df` — per-key min/max collapsed to prune
    * [[Bound]]s (one tiny agg job; all-None bounds mean every value of
    * that key was null, which matches nothing). The fallback of
    * [[writeSource]] when the write's stats lack a key's range, and
    * rebase's replay of a recorded key sidecar. */
  private def keyEnvelope(df: DataFrame, keyCols: Seq[String]): Seq[Bound] = {
    import org.apache.spark.sql.functions.{col, max, min}
    val aggs = keyCols.flatMap(k =>
      Seq(min(col("`" + k + "`")).as("__lo_" + k), max(col("`" + k + "`")).as("__hi_" + k)))
    val kb = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    keyCols.map(k =>
      Bound(k, Option(kb.getAs[Any]("__lo_" + k)), Option(kb.getAs[Any]("__hi_" + k))))
  }

  /** The key envelope of a merge source the commit has just written, from
    * the stats its write recorded (`stats`, keyed by PHYSICAL name) instead
    * of an aggregate job over the written dir: per key, the least file
    * min and the greatest file max over the files holding a non-null key
    * (strings in UTF-8 byte order, as the aggregate orders them), as the
    * same JVM values that aggregate collects. No such file → that key's
    * bound is (None, None), as is a key `schema` lacks (no file carries
    * it). None when some file with a non-null key has no complete
    * [min, max] pair (a string past the stat cap, a NaN) or a key type
    * records none — the caller then runs [[keyEnvelope]]. */
  private[graft] def statsEnvelope(
      schema: org.apache.spark.sql.types.StructType,
      physicalOf: Map[String, String],
      stats: Seq[FileStat],
      keyCols: Seq[String]): Option[Seq[Bound]] = {
    import org.apache.spark.sql.types._
    def bound(k: String): Option[Bound] = schema.fields.find(_.name == k).map(_.dataType).fold(
      Option(Bound(k, None, None))) { dt =>
      val p = physicalOf.getOrElse(k, k)
      val held = stats.filter(f => f.rows > 0 && f.nonNull.get(p).forall(_ > 0))
      if (!WriteStats.statable(dt) || held.exists(f => !f.min.contains(p) || !f.max.contains(p))) None
      else {
        def less(a: JValue, b: JValue): Boolean = (a, b) match {
          case (JString(x), JString(y)) if dt == StringType =>
            org.apache.spark.unsafe.types.UTF8String.fromString(x)
              .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(y)) < 0
          case _ => (normJ(dt, a), normJ(dt, b)) match {
              case (Some(x), Some(y)) => lt(x, y)
              case _ => false
            }
        }
        def num(j: JValue): BigDecimal = jNum(j).get
        def value(j: JValue): Any = dt match {
          case StringType => j.asInstanceOf[JString].s
          case DateType => java.sql.Date.valueOf(j.asInstanceOf[JString].s)
          case ByteType => num(j).toByte
          case ShortType => num(j).toShort
          case IntegerType => num(j).toInt
          case LongType => num(j).toLong
          case FloatType => num(j).toFloat
          case DoubleType => num(j).toDouble
          case _: DecimalType => num(j).bigDecimal
          case BooleanType => num(j) == 1
          case TimestampType =>
            val us = num(j).toLong
            val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
            t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
            t
          case TimestampNTZType =>
            val us = num(j).toLong
            java.time.LocalDateTime.ofEpochSecond(
              Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
        }
        val lo = held.map(_.min(p)).reduceOption((a, b) => if (less(b, a)) b else a)
        val hi = held.map(_.max(p)).reduceOption((a, b) => if (less(a, b)) b else a)
        Some(Bound(k, lo.map(value), hi.map(value)))
      }
    }
    val bounds = keyCols.map(bound)
    if (bounds.forall(_.isDefined)) Some(bounds.flatten) else None
  }

  /** Table schema of `next` committed over `prior`: same-named columns
    * must keep their type (loud failure beats silent corruption — parquet
    * would happily coexist an int and a string column of the same name
    * until a reader dies much later); columns new in `next` append; columns
    * absent from `next` persist (an append needn't carry every column).
    * Everything nullable: any column can be missing from some files. */
  private[graft] def mergeSchemas(
      prior: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    val byName = next.fields.map(f => f.name -> f).toMap
    prior.fields.foreach { pf =>
      byName.get(pf.name).foreach { nf =>
        require(
          nf.dataType == pf.dataType,
          s"schema evolution cannot change column '${pf.name}' from ${pf.dataType.sql} to ${nf.dataType.sql}")
      }
    }
    val priorNames = prior.fieldNames.toSet
    val merged = org.apache.spark.sql.types.StructType(
      (prior.fields ++ next.fields.filterNot(f => priorNames(f.name))).map(_.copy(nullable = true)))
    // renamed columns freeze their physical parquet name; a NEW logical
    // column may not collide with any frozen physical name (two logical
    // columns would read the same bytes)
    val phys = merged.fields.map(physName)
    require(
      phys.distinct.length == phys.length,
      s"physical column collision after evolution: ${phys.diff(phys.distinct).mkString(", ")} " +
        "(a new column matches a renamed column's frozen physical name)")
    // and no LOGICAL name may equal a DIFFERENT field's physical name —
    // the write-side logical->physical rename would otherwise corrupt the
    // frame (swap-chains are refused loudly rather than silently mangled)
    merged.fields.foreach { f =>
      val clash = merged.fields.exists(o => (o ne f) && physName(o) == f.name)
      require(
        !clash,
        s"column '${f.name}' collides with another column's frozen physical name; " +
          "rename it away first")
    }
    merged
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(dataRoot(root)).getFileSystem(spark.sessionState.newHadoopConf())

  // ─────────────────────── refs: branches and tags ───────────────────────
  // A root string may carry a BRANCH qualifier — `<path>#branch=<name>` —
  // and the qualified string is a first-class table handle: every operator
  // (append, DML, merge-on-read, CDC, checkpoints, streaming source/sink,
  // SQL routes) resolves its MANIFEST lineage under the branch's private
  // log dir (`_manifests/ref-<name>/`) while sharing the physical root's
  // immutable data files — Iceberg's branch model re-expressed over this
  // table's linear manifest log. A branch forks at a recorded main version
  // (`_branch.json`); versions ≤ fork resolve to MAIN manifests (full
  // pre-fork history: time travel, CDC across the fork), versions > fork
  // to branch-local ones. Data dirs are uuid-named, so branch and main
  // writers never collide; sharing is safe because files are immutable
  // and [[vacuum]] counts every ref's manifests as live.
  private[sinks] val RefSep = "#branch="

  /** `(physical root, branch name?)` of a possibly ref-qualified root. */
  private[graft] def splitRef(root: String): (String, Option[String]) = {
    val i = root.indexOf(RefSep)
    if (i < 0) (root, None)
    else (root.substring(0, i), Some(root.substring(i + RefSep.length)))
  }

  /** The PHYSICAL table root (data dirs, sidecars, `_cdc`) of a handle. */
  private[graft] def dataRoot(root: String): String = splitRef(root)._1

  /** The ref-qualified handle for branch `name` of the table at `root` —
    * pass it anywhere a root is accepted to operate on the branch. Only
    * the CHARSET is validated here (this is a resolution path — it must
    * keep addressing whatever exists on disk); creation-time rules live
    * in [[requireRefName]]. */
  def branchRef(root: String, name: String): String = {
    require(splitRef(root)._2.isEmpty, s"'$root' is already a branch handle; nested refs are not supported")
    require(
      name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9_-]+, got '$name'")
    root + RefSep + name
  }

  /** CREATION-time ref-name rules (strictly stronger than [[branchRef]]'s
    * resolution charset, so every created ref stays addressable). */
  private def requireRefName(name: String): Unit = {
    require(
      name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"ref name must be [A-Za-z0-9_-]+, got '$name'")
    // an all-digit ref would be unaddressable: every name-resolution
    // surface (VERSION AS OF, the DataSource options) reads digits as a
    // VERSION NUMBER first — refuse at creation, not at lookup
    require(
      !name.forall(_.isDigit),
      s"ref name '$name' is all digits — it would parse as a version number everywhere a ref name is accepted")
    // [[rebase]] stages its replayed chain under this internal prefix and
    // drops it on completion or retry — a user branch there could be
    // swept as a stale staging artifact
    require(
      !name.startsWith("__rebase-"),
      s"ref name '$name' uses the reserved '__rebase-' staging prefix")
  }

  private def refDir(physRoot: String, name: String): Path =
    new Path(new Path(physRoot, "_manifests"), "ref-" + name)

  private def branchMetaPath(physRoot: String, name: String): Path =
    new Path(refDir(physRoot, name), "_branch.json")

  // A branch's fork is IMMUTABLE for its lifetime (_branch.json is
  // written once via put-if-absent; dropBranch deletes the whole ref
  // dir), so it memoizes per (root, name) — without this every manifest
  // access on a branch handle would re-open and re-parse the meta file
  // (history/CDC over n versions = n redundant reads; on object storage,
  // n extra GETs). [[dropBranch]] invalidates; a drop-and-recreate of
  // the SAME name from ANOTHER process while this one holds live branch
  // handles needs fresh handles — the same single-coordinator assumption
  // the CommitStore seam documents for external stores.
  // miss-loads and invalidations serialize on the map itself: an unlocked
  // getOrElseUpdate whose thunk straddles a dropBranch+createBranch pair
  // would re-insert the OLD fork after the invalidation (file reads are
  // microseconds-local, so the lock is uncontended in practice)
  private val forkCache = scala.collection.mutable.HashMap.empty[(String, String), Int]

  /** The fork version a branch split from main at (from `_branch.json`). */
  private[graft] def forkOf(f: FileSystem, physRoot: String, name: String): Int =
    forkCache.synchronized {
      forkCache.getOrElseUpdate((physRoot, name), {
        val p = branchMetaPath(physRoot, name)
        require(f.exists(p), s"no branch '$name' at $physRoot")
        (JsonMethods.parse(new String(readSmall(f, p), "UTF-8")) \ "fork") match {
          case JInt(v) => v.toInt
          case other => sys.error(s"malformed _branch.json for '$name': $other")
        }
      })
    }

  private[graft] def readSmall(f: FileSystem, p: Path): Array[Byte] = {
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  /** Create branch `name` forking from main version `asOf` (default: the
    * current latest) — ZERO-COPY: the branch is one tiny `_branch.json`
    * recording the fork; pre-fork reads resolve main's manifests in place.
    * Creation is a [[CommitStore]] put-if-absent, so two racing creators
    * of the same name fail loudly rather than fork at different versions.
    * Returns the ref-qualified handle ([[branchRef]]) — pass it anywhere a
    * root is accepted (append, DML, merge, CDC, streams, SQL registry) to
    * operate on the branch in isolation; [[fastForward]] publishes it back. */
  def createBranch(spark: SparkSession, root: String, name: String, asOf: Option[Int] = None): String = {
    require(splitRef(root)._2.isEmpty, "create branches from the main table handle")
    requireRefName(name)
    val f = fs(spark, root)
    val latest = latestOrFail(spark, root)
    val fork = asOf.getOrElse(latest)
    require(
      versions(spark, root).contains(fork),
      s"version $fork is not a committed main version (vacuumed or never existed)")
    f.mkdirs(refDir(root, name))
    val json = JsonMethods.compact(
      JsonMethods.render(
        JObject("fork" -> JInt(fork), "ts" -> JLong(System.currentTimeMillis()))))
    try commitStoreRef.get().putIfAbsent(f, branchMetaPath(root, name), json.getBytes("UTF-8"))
    catch {
      case e: ConcurrentCommitException =>
        throw new ConcurrentCommitException(s"branch '$name' already exists at $root (${e.getMessage})")
    }
    // install the authoritative fork under the lock — overwrites any
    // stale entry a concurrent pre-drop reader might have raced in
    forkCache.synchronized { forkCache.put((root, name), fork) }
    branchRef(root, name)
  }

  /** Delete branch `name`: its private manifest log and derived CDC cache
    * go immediately; data dirs only IT referenced become unreferenced and
    * are reclaimed by the next [[vacuum]] (shared pre-fork files stay —
    * they are referenced by main's manifests). */
  def dropBranch(spark: SparkSession, root: String, name: String): Unit = {
    require(splitRef(root)._2.isEmpty, "drop branches from the main table handle")
    val f = fs(spark, root)
    require(f.exists(branchMetaPath(root, name)), s"no branch '$name' at $root")
    f.delete(refDir(root, name), true)
    f.delete(new Path(root, s"_cdc/ref-$name"), true)
    forkCache.synchronized { forkCache.remove((root, name)) } // a later same-named branch may fork elsewhere
  }

  /** Drop EVERY cached fork version for the table at `root` — the catalog
    * calls this when it deletes or renames a whole table tree: manifest
    * resolution consults the cache before disk, so a same-JVM
    * drop-then-recreate at the same root would otherwise resolve a stale
    * fork and serve the NEW table's data for a branch that no longer
    * exists. */
  private[sinks] def invalidateForks(root: String): Unit =
    forkCache.synchronized { forkCache.filterInPlace((k, _) => k._1 != root) }

  /** [[invalidateForks]] for every table root AT or UNDER `prefix` — the
    * namespace-cascade twin (a recursive delete kills many table trees). */
  private[sinks] def invalidateForksUnder(prefix: String): Unit =
    forkCache.synchronized {
      forkCache.filterInPlace((k, _) => k._1 != prefix && !k._1.startsWith(prefix + "/"))
    }

  /** All branches of the table: `(name, fork version)`, name-sorted. Torn
    * creates (dir without `_branch.json`) are invisible. */
  def branches(spark: SparkSession, root: String): Seq[(String, Int)] =
    // [[rebase]]'s staging refs are internal: hidden from the user
    // surface. They stay vacuum-LIVE through [[allRefs]] (vacuum's
    // liveness walk), so an in-flight or crashed-pre-swap rebase's
    // files are never swept; the next rebase of the branch drops a
    // stale one, and dropBranch(root, "__rebase-<b>") clears an
    // abandoned one.
    allRefs(spark, root).filterNot(_._1.startsWith("__rebase-"))

  /** EVERY branch ref incl. [[rebase]]'s internal `__rebase-*` staging —
    * the liveness surface [[vacuum]] must walk (sweeping a staging chain
    * would destroy the only copy of a mid-rebase branch's history);
    * [[branches]] is the user-facing filtered view. */
  private[graft] def allRefs(spark: SparkSession, root: String): Seq[(String, Int)] = {
    val r = dataRoot(root)
    val f = fs(spark, root)
    val dir = new Path(r, "_manifests")
    if (!f.exists(dir)) Seq.empty
    else
      f.listStatus(dir)
        .toSeq
        .map(_.getPath.getName)
        .collect { case n if n.startsWith("ref-") => n.drop(4) }
        .filter(b => f.exists(branchMetaPath(r, b)))
        .sorted
        .map(b => b -> forkOf(f, r, b))
  }

  private def tagPath(physRoot: String, name: String): Path =
    new Path(new Path(physRoot, "_manifests"), s"tag-$name.json")

  private val TagRe = """tag-(.+)\.json""".r

  /** Name main version `asOf` (default: latest) as immutable tag `name` —
    * a human handle for time travel ([[tagVersion]] + [[readVersion]]) that
    * also PINS the version against [[vacuum]] (tagged versions and their
    * files are retained regardless of `keepLast`). Put-if-absent: retagging
    * an existing name is refused ([[dropTag]] first — tags never move). */
  def createTag(spark: SparkSession, root: String, name: String, asOf: Option[Int] = None): Int = {
    require(splitRef(root)._2.isEmpty, "tags name MAIN versions; create them from the main handle")
    requireRefName(name)
    val f = fs(spark, root)
    val latest = latestOrFail(spark, root)
    val v = asOf.getOrElse(latest)
    require(
      versions(spark, root).contains(v),
      s"version $v is not a committed main version (vacuumed or never existed)")
    val json = JsonMethods.compact(
      JsonMethods.render(
        JObject("version" -> JInt(v), "ts" -> JLong(System.currentTimeMillis()))))
    try commitStoreRef.get().putIfAbsent(f, tagPath(root, name), json.getBytes("UTF-8"))
    catch {
      case e: ConcurrentCommitException =>
        throw new ConcurrentCommitException(s"tag '$name' already exists at $root (${e.getMessage})")
    }
    v
  }

  /** The main version tag `name` pins. Refuses a branch handle: the
    * pinned number indexes MAIN's lineage, and resolving it against a
    * branch's private log would silently read the branch's same-numbered
    * snapshot (wrong data, no error). */
  def tagVersion(spark: SparkSession, root: String, name: String): Int = {
    require(
      splitRef(root)._2.isEmpty,
      s"tags name MAIN versions; resolve tag '$name' from the main handle, not a branch")
    val f = fs(spark, root)
    val p = tagPath(dataRoot(root), name)
    require(f.exists(p), s"no tag '$name' at $root")
    (JsonMethods.parse(new String(readSmall(f, p), "UTF-8")) \ "version") match {
      case JInt(v) => v.toInt
      case other => sys.error(s"malformed tag '$name': $other")
    }
  }

  /** Remove tag `name` (its pinned version becomes ordinary history). */
  def dropTag(spark: SparkSession, root: String, name: String): Unit = {
    val f = fs(spark, root)
    val p = tagPath(dataRoot(root), name)
    require(f.exists(p), s"no tag '$name' at $root")
    f.delete(p, false)
  }

  /** All tags: `(name, version)`, name-sorted. */
  def tags(spark: SparkSession, root: String): Seq[(String, Int)] = {
    val f = fs(spark, root)
    val dir = new Path(dataRoot(root), "_manifests")
    if (!f.exists(dir)) Seq.empty
    else
      f.listStatus(dir)
        .toSeq
        .flatMap(s => TagRe.findFirstMatchIn(s.getPath.getName).map(_.group(1)))
        .sorted
        .map(t => t -> tagVersion(spark, root, t))
  }

  /** Publish branch `name`'s commits onto main — the PUBLISH step of
    * write-audit-publish (stage writes on a branch, audit the branch's
    * snapshot, fast-forward). Sound only while main still sits at the
    * branch's fork: each branch manifest is self-contained (full live-file
    * list), so copying the log forward reproduces the branch's exact state
    * commit by commit, and every copy is a [[CommitStore]] put-if-absent —
    * a concurrent main writer makes the copy LOSE loudly
    * ([[ConcurrentCommitException]]) instead of silently dropping its
    * commit. A partially-failed fast-forward RESUMES: already-published
    * prefix manifests are verified byte-identical to the branch's, then
    * the remainder publishes. Main advanced past the fork with different
    * content ⇒ refused (divergence needs a rebase, not a publish). Returns
    * the new main latest version. The branch survives (drop it when done). */
  def fastForward(spark: SparkSession, root: String, name: String): Int = {
    require(splitRef(root)._2.isEmpty, "fast-forward from the main table handle")
    val f = fs(spark, root)
    val fork = forkOf(f, root, name)
    val bRoot = branchRef(root, name)
    val bLatest = latestVersion(spark, bRoot).getOrElse(fork)
    val mLatest = latestOrFail(spark, root)
    require(
      mLatest <= bLatest,
      s"main (v$mLatest) advanced past branch '$name' (v$bLatest); fast-forward impossible")
    (fork + 1 to mLatest).foreach { v =>
      // a vacuumed prefix manifest means byte-identity is UNVERIFIABLE —
      // refuse with the real reason instead of leaking FileNotFound
      // (resume-after-crash composes with vacuum only while the copied
      // prefix is still retained)
      val mainP = new Path(new Path(root, "_manifests"), f"v$v%08d.json")
      require(
        f.exists(mainP),
        s"main v$v was vacuumed; cannot verify the already-published prefix of branch " +
          s"'$name' — drop the branch and re-stage (or fast-forward before vacuuming)")
      val mine = readSmall(f, mainP)
      val theirs = readSmall(f, new Path(refDir(root, name), f"v$v%08d.json"))
      require(
        java.util.Arrays.equals(mine, theirs),
        s"main v$v diverges from branch '$name'; fast-forward impossible (rebase the branch)")
    }
    (mLatest + 1 to bLatest).foreach { v =>
      val bytes = readSmall(f, new Path(refDir(root, name), f"v$v%08d.json"))
      try commitStoreRef.get().putIfAbsent(f, new Path(new Path(root, "_manifests"), f"v$v%08d.json"), bytes)
      catch {
        case e: ConcurrentCommitException =>
          throw new ConcurrentCommitException(
            s"a concurrent main commit beat fast-forward of branch '$name' at v$v (${e.getMessage}); " +
              "the already-published prefix is live and the operation is resumable once main matches the branch again")
      }
    }
    bLatest
  }

  /** Publish branch `name`'s APPEND-ONLY delta onto main as ONE new
    * commit, even when main has ADVANCED past the fork — the answer to
    * [[fastForward]]'s divergence refusal for the staged-append workflow
    * (Iceberg's cherry-pick): appends COMMUTE with any later main
    * history, because the branch's new dirs are immutable, uuid-named
    * branch-private, and carry no dependence on the fork's file set.
    * Strictly checked, loudly refused otherwise:
    *   - every branch-local commit must be an `append` (branch DML /
    *     overwrite / compact makes the delta depend on fork state —
    *     that genuinely needs main-at-fork [[fastForward]]);
    *   - the delta's schema must merge into MAIN's current schema under
    *     the same evolution rules appends use (type conflicts refuse;
    *     columns main dropped since the fork re-enter under the
    *     dropped-column revival contract);
    *   - CHECK constraints main gained since the branch enforced its
    *     appends re-prove over the delta rows before the commit claims
    *     them.
    * IDEMPOTENT: if any main commit already references the delta dirs,
    * the call is a no-op returning the current latest (so a crashed
    * cherry-pick simply re-runs) — re-introducing rows that a LATER main
    * commit deleted requires an explicit re-append, never a re-pick.
    * The branch survives (drop it when done). */
  def cherryPick(spark: SparkSession, root: String, name: String): Int = {
    require(splitRef(root)._2.isEmpty, "cherry-pick from the main table handle")
    val f = fs(spark, root)
    val fork = forkOf(f, root, name)
    val bRoot = branchRef(root, name)
    val bLatest = latestVersion(spark, bRoot).getOrElse(fork)
    val mLatest = latestOrFail(spark, root)
    if (bLatest == fork) return mLatest // nothing staged
    val bCommits = (fork + 1 to bLatest).map(readManifest(spark, bRoot, _))
    val nonAppend = bCommits.filterNot(_.action == "append").map(c => s"v${c.version}=${c.action}")
    require(
      nonAppend.isEmpty,
      s"cherry-pick requires an append-only branch delta (appends commute with main history); " +
        s"branch '$name' holds ${nonAppend.mkString(", ")} — fast-forward with main at the fork instead")
    val forkDirs = readManifest(spark, root, fork).dirs.toSet
    val tip = bCommits.last
    val deltaDirs = tip.dirs.filterNot(forkDirs)
    // filter by BOTH dir and file identity: a fork manifest produced by
    // pre-fork row-level DML lists untouched files as individual FILE
    // entries, so matching only the containing dir would re-publish their
    // stats in the pick commit (double-counted countWhere / double scans,
    // and resurrection if main dropped the file after the fork)
    val deltaStats = tip.files.filterNot(fst => forkDirs(dataDirOf(fst.path)) || forkDirs(fst.path))
    val deltaRows = bCommits.map(_.addedRows).sum
    val deltaSchema = tip.schemaJson.map(schemaFromJson)
    // idempotence: a main commit already referencing the delta is a
    // completed pick (crashed caller re-running) — never publish twice
    historyLite(spark, root).find(c => deltaDirs.exists(c.dirs.contains)).foreach { prior =>
      require(
        deltaDirs.forall(prior.dirs.contains),
        s"main v${prior.version} references PART of branch '$name''s delta — " +
          "refusing a partial re-pick; inspect the history")
      return mLatest
    }
    var enforced: Map[String, String] = tip.constraints // the appends proved these
    var attempts = 0
    // every retry re-scans the commits published SINCE the last scan
    // (not just the tip): a racing identical pick may have landed AND a
    // later delete/compact may have already dropped the delta dirs from
    // the tip manifest — a tip-only check would re-publish the delta and
    // resurrect the deleted rows
    var scannedTo = mLatest
    while (true) {
      val base = openBase(spark, root)
      val m = base.m
      // the base itself was just parsed: only the versions between re-read
      val since = ((scannedTo + 1) until base.version).map(readManifest(spark, root, _)) :+ m
      since.foreach { c =>
        if (deltaDirs.exists(c.dirs.contains)) {
          require(
            deltaDirs.forall(c.dirs.contains),
            s"main v${c.version} references PART of branch '$name''s delta — refusing a partial re-pick")
          return base.version // a racer completed the pick; ours is a no-op
        }
      }
      scannedTo = base.version
      val merged = (base.schema, deltaSchema) match {
        case (Some(a), Some(b)) => mergeSchemas(a, b)
        case (a, b) => a.orElse(b).getOrElse(sys.error("cherry-pick needs a schema-recording manifest"))
      }
      reproveChecks(spark, root, deltaDirs, merged, m.constraints.toSet -- enforced.toSet)
      enforced = m.constraints
      // CDC computes the file-set diff → exactly the delta's rows as inserts
      try
        return publish(spark, root, base.commit(
          "cherrypick", m.dirs, deltaDirs, deltaStats, deltaRows, Nil, Some(merged.json), None, None, None))
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts >= 50) throw e
      }
    }
    -1 // unreachable
  }

  /** REBASE branch `name` onto CURRENT main — the third ref verb, closing
    * the one stuck state in the workflow ([[fastForward]] refuses
    * divergence; [[cherryPick]] covers only append-only deltas): the
    * branch's local commits REPLAY in order onto a fork at main's tip,
    * each by its own commutation rule —
    *   - `append`: the delta dirs are immutable, uuid-named and carry no
    *     dependence on the fork state — they re-attach zero-copy (schema
    *     re-merged against the new base; CHECK constraints main gained
    *     since the branch enforced its appends re-prove over the delta);
    *   - `mor-delete`: the mask RECORDS its bounds — the delete
    *     re-executes against the new base ([[deleteWhereMor]] with the
    *     decoded bounds: whole-drop / mask decisions re-derive from the
    *     new base's stats, so rows main added since the fork that match
    *     the predicate are deleted too, exactly re-run semantics);
    *   - `mor-merge`: the key tombstones are RECORDED (sidecar parquet)
    *     and the inserted rows are an immutable dir — the upsert
    *     re-executes (candidate files re-pruned against the new base, the
    *     same sidecar masks them, the dir re-attaches);
    *   - copy-on-write `delete`/`update`/`merge` with a write-time CDC
    *     record REPLAYS BY APPLYING ITS CAPTURED ROW DELTA
    *     ([[replayCowDelta]]): pre-images subtract by full-row multiset
    *     `exceptAll`, post-images re-land, whole-file drops stay zero-I/O
    *     when the file is still live — and a pre-image that no longer
    *     exists identically at the new base REFUSES as a named conflict
    *     (the git contract; a silently-partial replay would be a wrong
    *     table);
    *   - anything else (a COW commit with no capture — pre-capture
    *     manifest or `spark.graft.cdc.onWrite=false` — plus compact and
    *     overwrite) REFUSES with the version named: its rewritten files
    *     bake in fork-time content that a replay would resurrect over
    *     main's changes.
    * The branch ends forked at main's tip with its replayed history and
    * is then [[fastForward]]-able (if main advances meanwhile, that
    * refuses again — rebase again, the git contract). Returns the
    * rebased branch's latest version.
    *
    * SINGLE-WRITER, like git rebase: the branch is rewritten in place
    * (staged under the reserved `__rebase-<name>` ref, then swapped); do
    * not rebase a branch another process is writing. A crash before the
    * swap leaves only the staging ref — HIDDEN from [[branches]]/SHOW
    * BRANCHES but vacuum-live (an in-flight rebase's files are never
    * swept); the next rebase of the branch drops it, and
    * `dropBranch(root, "__rebase-<name>")` clears an abandoned one. The
    * swap itself is a drop + dir rename. Exactly-once epoch markers
    * (`batchId`) ride the replayed commits, so a stream whose epoch
    * landed pre-rebase still no-ops its replay afterwards. */
  /** True iff a `schema` commit's p→c delta is MONOTONE — every fork-time
    * field survives under the same logical name at the same or a
    * losslessly-wider type, and only metadata moved (dirs/masks
    * unchanged, `dropped` can only shrink — an ADD reviving a dropped
    * column). Exactly these commits can re-apply as DDL on a new base:
    * a DROP or RENAME re-merged from the tip would silently undo itself. */
  private def monotoneSchemaDelta(p: Commit, c: Commit): Boolean =
    (p.schemaJson, c.schemaJson) match {
      case (Some(pj), Some(cj)) =>
        val ps = schemaFromJson(pj)
        val cs = schemaFromJson(cj)
        val cByPhys = cs.fields.map(f => physName(f) -> f).toMap
        ps.fields.forall { pf =>
          cByPhys.get(physName(pf)).exists { cf =>
            cf.name == pf.name &&
            (cf.dataType == pf.dataType || losslessWiden(pf.dataType, cf.dataType))
          }
        } &&
        c.dirs == p.dirs && c.masks == p.masks &&
        c.dropped.keySet.subsetOf(p.dropped.keySet)
      case _ => false
    }

  /** A rebase-local schema pre-alignment: fields the TIP already holds at
    * a losslessly WIDER type take the tip's type before [[mergeSchemas]]'
    * strict-equality merge — the branch's narrow-written files read
    * correctly at the wide type (the [[losslessWiden]] contract), so the
    * replay is commutable and must not abort on the type diff. */
  private def upcastToTip(
      tip: org.apache.spark.sql.types.StructType,
      cs: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(cs.fields.map { cf =>
      tip.fields.find(tf => physName(tf) == physName(cf)) match {
        case Some(tf) if tf.dataType != cf.dataType && losslessWiden(cf.dataType, tf.dataType) =>
          cf.copy(dataType = tf.dataType)
        case _ => cf
      }
    })

  /** The DDL change list that re-applies a monotone `schema` commit onto
    * a rebase's staged tip — adds and widens the TIP does not already
    * have (main may have landed the same migration post-fork). When the
    * tip holds a SAME-NAMED column, it must be genuinely the same column
    * (same frozen physical name) at the same or a losslessly-convergeable
    * type — anything else REFUSES loudly rather than silently narrowing
    * the branch's migration or pairing its data files with a column whose
    * physical name they never wrote (which would read back as NULLs). */
  private def schemaDeltaChanges(
      p: Commit,
      c: Commit,
      tipSchema: Option[org.apache.spark.sql.types.StructType]): Seq[SchemaChange] = {
    val ps = schemaFromJson(p.schemaJson.get)
    val cs = schemaFromJson(c.schemaJson.get)
    val pByPhys = ps.fields.map(f => physName(f) -> f).toMap
    val tipFields = tipSchema.map(_.fields.toSeq).getOrElse(Seq.empty)
    // logical names compare through the SESSION RESOLVER (case-insensitive
    // by default) exactly as alterSchema's analyzer-facing checks do: a
    // convergent add differing only in case ('Note' vs 'note') must either
    // converge here or refuse with the dedicated rename/different-column
    // diagnostics below — not fall through to AddCol and die mid-replay
    // inside alterSchema with a generic 'column already exists'
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    def converge(cf: org.apache.spark.sql.types.StructField): Option[SchemaChange] = {
      val tf = tipFields
        .find(tf0 => physName(tf0) == physName(cf) || resolver(tf0.name, cf.name))
        .getOrElse(return Some(AddCol(cf.name, cf.dataType)))
      require(
        physName(tf) == physName(cf) && resolver(tf.name, cf.name),
        if (physName(tf) == physName(cf))
          s"rebase: the new base holds the branch migration's column (physical " +
            s"'${physName(cf)}') under a DIFFERENT logical name ('${tf.name}' vs the " +
            s"branch's '${cf.name}') — a rename conflict the replay cannot arbitrate; " +
            "drop and re-stage the branch"
        else
          s"rebase: the new base's column '${tf.name}' and the branch migration's " +
            s"'${cf.name}' collide by name but are DIFFERENT columns (physical " +
            s"'${physName(tf)}' vs '${physName(cf)}') — the branch's data files would " +
            "read back null under the base's column; drop and re-stage the branch")
      if (tf.dataType == cf.dataType) None // the tip already has it
      else if (losslessWiden(cf.dataType, tf.dataType)) None // tip already wider
      else if (losslessWiden(tf.dataType, cf.dataType)) Some(WidenCol(cf.name, cf.dataType))
      else
        sys.error(
          s"rebase: column '${cf.name}' is ${tf.dataType.sql} on the new base but the " +
            s"branch migration needs ${cf.dataType.sql}, and neither losslessly widens " +
            "to the other — un-mergeable; drop and re-stage the branch")
    }
    cs.fields.toSeq.flatMap { cf =>
      pByPhys.get(physName(cf)) match {
        case None => converge(cf) // the branch's ADD
        case Some(pf) if pf.dataType != cf.dataType => converge(cf) // the branch's WIDEN
        case _ => None // untouched by the migration
      }
    }
  }

  def rebase(spark: SparkSession, root: String, name: String): Int = {
    require(splitRef(root)._2.isEmpty, "rebase from the main table handle")
    val f = fs(spark, root)
    val fork = forkOf(f, root, name)
    val bRoot = branchRef(root, name)
    val bLatest = latestVersion(spark, bRoot).getOrElse(fork)
    val mLatest = latestOrFail(spark, root)
    if (mLatest == fork) return bLatest // already based on main's tip
    val locals = ((fork + 1) to bLatest).map(readManifest(spark, bRoot, _))
    val preds = readManifest(spark, bRoot, fork) +: locals.dropRight(1)
    // classify EVERY local commit's REPLAYABILITY before touching any
    // state. Schema-CONVERGENCE conflicts (rename/different-physical/
    // un-mergeable types, the revival-type contract) are the exception:
    // they can only be judged against the staged tip mid-replay, so they
    // refuse there — the catch below sweeps the stage and the branch
    // stays intact
    def newMasks(c: Commit, p: Commit): Seq[Mask] = {
      val old = p.masks.map(_.id).toSet
      c.masks.filterNot(mk => old(mk.id))
    }
    locals.zip(preds).foreach { case (c, p) =>
      val replayable = c.action match {
        case "append" => true
        // both MOR-delete shapes replay: the pred mask records its bounds,
        // the keys mask (deleteByKeys / MERGE matched-DELETE) records its
        // key-tombstone sidecar — either re-executes against the new base.
        // A NO-OP mor-delete (no new mask, no dir change — the shape a
        // PRIOR rebase leaves when the delete matched nothing on its new
        // base) replays as a skip: without this arm a branch that rebased
        // cleanly once could never rebase again.
        case "mor-delete" =>
          newMasks(c, p).exists(mk =>
            mk.kind == "pred" || (mk.kind == "keys" && mk.keyDir.isDefined)) ||
            // SET equality: a no-op deleteWhereMor re-publishes the same
            // entries reordered (survivors ++ uncovered). batchId-carrying
            // maskless commits qualify too — a PRIOR rebase's replay of a
            // streaming-delete epoch that matched nothing publishes exactly
            // this shape as its exactly-once marker; dirs set-equality
            // already proves it has no data effect
            (newMasks(c, p).isEmpty && c.dirs.toSet == p.dirs.toSet)
        case "mor-merge" =>
          newMasks(c, p).exists(mk => mk.kind == "keys" && mk.keyDir.isDefined) ||
            // MASKLESS mor-merge: the commit PROVABLY replaced nothing —
            // all-null keys match nothing on any base, and a zero-candidate
            // envelope prune records no mask — so its outcome is exactly an
            // append of its source dir, and it replays under the append
            // rule (post-rebase duplicate-key exposure is identical to any
            // replayed append's). Without this arm a branch upsert whose
            // keys missed every fork-time file could never rebase.
            (newMasks(c, p).isEmpty && (c.dirs.toSet -- p.dirs.toSet).nonEmpty)
        // COW DML replays from its write-time CDC capture ([[Cdc]]) — the
        // sidecar records the exact row delta, so the rewrite's fork-time
        // files never re-attach (see [[replayCowDelta]])
        case "delete" | "update" | "merge" => c.cdc.isDefined
        // compaction is data-identical BY CONSTRUCTION (readers, streams
        // and CDC all skip it) — replay is a no-op skip: the rebased chain
        // is simply uncompacted until the next OPTIMIZE. Without this arm
        // a branch stream running `compactEvery` (or a user OPTIMIZE on a
        // branch) could never rebase.
        case "compact" => true
        // overwrite's output is BY DEFINITION independent of the base it
        // replaced — replaying it over the new tip is exactly its
        // semantics (last write wins; main's post-fork rows are replaced,
        // the same outcome publishing the branch would have had)
        case "overwrite" => true
        // schema commits replay iff the delta is MONOTONE — only column
        // ADDs and lossless WIDENs (re-applied as DDL onto the new tip,
        // which also re-strips the tip's narrow-typed blooms). A DROP or
        // RENAME re-merged from the tip would silently undo itself, so
        // those refuse; so does a non-metadata-only shape. Pending
        // merge-on-read masks under a widen are NOT a refusal: the replay
        // arm self-heals by compacting the staged chain first (masks can
        // come from the new base OR from the branch's own replayed MOR
        // commits, whose reconciling compact replays as a skip — no
        // up-front check could see the latter).
        case "schema" => monotoneSchemaDelta(p, c)
        case _ => false // "restore": merge semantics ambiguous — refuse loudly
      }
      require(
        replayable,
        s"branch '$name' v${c.version} ('${c.action}') depends on the fork-time base and " +
          s"cannot replay onto main v$mLatest — conflicting version v${c.version}. " +
          "Copy-on-write DML replays only from its write-time CDC capture (this commit " +
          "recorded none: a pre-capture manifest, or spark.graft.cdc.onWrite=false at " +
          "write time) and a maskless merge-on-read commit recorded no bounds; stage " +
          "branches you intend to rebase with capture on or merge-on-read DML, or drop " +
          "and re-stage")
    }
    // stage: a private fork at main's tip, replayed commit by commit
    val staging = "__rebase-" + name
    if (f.exists(branchMetaPath(root, staging))) dropBranch(spark, root, staging)
    f.mkdirs(refDir(root, staging))
    val metaJson = JsonMethods.compact(
      JsonMethods.render(JObject("fork" -> JInt(mLatest), "ts" -> JLong(System.currentTimeMillis()))))
    commitStoreRef.get().putIfAbsent(f, branchMetaPath(root, staging), metaJson.getBytes("UTF-8"))
    forkCache.synchronized { forkCache.put((root, staging), mLatest) }
    val sRoot = root + RefSep + staging // branchRef charset would refuse the reserved prefix
    var swapStarted = false
    try {
      locals.zip(preds).foreach { case (c, p) =>
        val tipBase = openBase(spark, sRoot)
        val tip = tipBase.m
        val tipSchema = tipBase.schema
        val merged = (tipSchema, c.schemaJson.map(schemaFromJson)) match {
          // a monotone widen IS a type conflict to mergeSchemas by design;
          // the schema arm re-applies the delta as DDL instead of merging
          // (merged is unused there — gainDirs is empty for metadata-only).
          // An OVERWRITE may change types arbitrarily — legal, it replaced
          // the table — and its arm publishes ITS schema wholesale, so the
          // merge must not run there either (its delta dirs also read
          // correctly only under its own mapping in the constraint check)
          case (Some(_), Some(b)) if c.action == "schema" || c.action == "overwrite" => b
          // data commits upcast to the TIP's wider types before merging:
          // main (or an earlier replayed migration) may hold a column
          // LOSSLESSLY wider than the branch wrote it — the branch's
          // narrow-written files read correctly at the wide type (the
          // widen contract), and without the upcast mergeSchemas' strict
          // equality would abort a perfectly commutable replay
          case (Some(a), Some(b)) => mergeSchemas(a, upcastToTip(a, b))
          case (a, b) => a.orElse(b).getOrElse(sys.error("rebase needs schema-recording manifests"))
        }
        val pDirs = p.dirs.toSet
        val pStatPaths = p.files.map(_.path).toSet
        val deltaDirs = c.dirs.filterNot(pDirs)
        // When upcastToTip widened a replayed data commit's column to the
        // tip's type, the commit's recorded per-file BLOOMS for that column
        // hash the NARROW type (functions.hash(5:int) ≠ hash(5L)): carried
        // into the rebased manifest unstripped, a wide-typed equality probe
        // (readWhere, a later replay's prunePlan) could falsely prove
        // absence and prune a live file. Strip them — mirroring
        // alterSchema's WidenCol handling exactly, including the one
        // cross-axis widening (date→timestamp_ntz), whose min/max strip
        // too (date stats encode as ISO strings, timestamp probes as epoch
        // micros). Absent stats are always safe: unprunable ≠ wrong.
        val upcastStrips: Map[String, Boolean] =
          (tipSchema, c.schemaJson.map(schemaFromJson)) match {
            case (Some(a), Some(b)) if c.action != "schema" && c.action != "overwrite" =>
              b.fields.flatMap { cf =>
                a.fields.find(tf => physName(tf) == physName(cf)) match {
                  case Some(tf)
                      if tf.dataType != cf.dataType && losslessWiden(cf.dataType, tf.dataType) =>
                    Some(physName(cf) -> (
                      cf.dataType == org.apache.spark.sql.types.DateType &&
                        tf.dataType == org.apache.spark.sql.types.TimestampNTZType))
                  case _ => None
                }
              }.toMap
            case _ => Map.empty
          }
        val deltaStats = c.files
          .filterNot(fst => pStatPaths(fst.path) || pDirs(dataDirOf(fst.path)) || pDirs(fst.path))
          .map { fst =>
            upcastStrips.foldLeft(fst) { case (f0, (phys, crossAxis)) =>
              val noBloom = if (f0.bloom.contains(phys)) f0.copy(bloom = f0.bloom - phys) else f0
              if (!crossAxis) noBloom
              else noBloom.copy(min = noBloom.min - phys, max = noBloom.max - phys)
            }
          }
        // constraints the new base carries beyond what the branch proved
        // at commit time re-prove over exactly the commit's own new rows.
        // For a COW replay the commit's re-attached rows are only its
        // insEntries (the rewrite output never re-attaches; rewritten
        // content re-proves inside writeData) — checking the fork-time
        // rewrite dir would re-prove rows the replay doesn't publish.
        val gainDirs = c.cdc match {
          case Some(cc) if Set("delete", "update", "merge")(c.action) => cc.insEntries
          // a compact replays as a SKIP (its dir never attaches) and is
          // data-identical to rows other commits already prove — scanning
          // it would be wasted I/O at best
          case _ if c.action == "compact" => Seq.empty
          case _ => deltaDirs
        }
        reproveChecks(spark, root, gainDirs, merged, tip.constraints.toSet -- c.constraints.toSet)
        c.action match {
          // exactly-once epoch markers (batchId, appId) SURVIVE every replay
          case "append" =>
            publish(spark, sRoot, tipBase.commit(
              "append", tip.dirs, deltaDirs, deltaStats, c.addedRows, Nil, Some(merged.json),
              c.batchId, c.appId, None))
          case "mor-delete" =>
            (newMasks(c, p).find(_.kind == "pred"),
              newMasks(c, p).find(mk0 => mk0.kind == "keys" && mk0.keyDir.isDefined)) match {
              case (Some(mk), _) =>
                deleteWhereMor(spark, sRoot, decodeMaskBounds(merged, mk.predBounds))
                ()
              case (None, Some(mk)) =>
                // keys-kind (deleteByKeys / MERGE matched-DELETE): the
                // recorded key-tombstone sidecar IS the delete — re-prune
                // candidates against the NEW base and re-mask; the sidecar
                // dir re-references zero-copy (all refs share the data
                // root), and the hidden rows re-count against the new base
                // exactly like the mor-merge replay arm
                val keyDf = keySidecar(spark, root, merged, mk)
                val replayMask =
                  keysMask(tipBase, merged, mk.keyCols, keyEnvelope(keyDf, mk.keyCols), keyDf, mk.keyDir)
                // zero candidates on the new base AND no epoch marker to
                // carry → the replay is a pure no-op and publishes nothing.
                // With a marker to carry the maskless publish below keeps
                // the exactly-once identity alive; the classifier's no-op
                // arm (dirs set-equality) accepts that shape on the NEXT
                // rebase and the (None, None) replay arm re-carries it
                if (replayMask.nonEmpty || c.batchId.isDefined)
                  publish(spark, sRoot, tipBase.commit(
                    "mor-delete", tip.dirs, Nil, Nil, -replayMask.flatMap(_.maskedRows).sum,
                    replayMask.toSeq, Some(merged.json), c.batchId, c.appId, None))
              case (None, None) =>
                // the classifier's no-op arm: nothing to re-execute — but
                // an exactly-once epoch marker must SURVIVE onto the
                // rebased chain (dropping it would let the epoch re-land),
                // so a batchId-carrying no-op re-publishes as a marker
                if (c.batchId.isDefined)
                  publish(spark, sRoot, tipBase.commit(
                    "mor-delete", tip.dirs, Nil, Nil, 0L, Nil, Some(merged.json), c.batchId, c.appId, None))
            }
          case "mor-merge" =>
            val srcRel = deltaDirs match {
              case Seq(one) => one
              case other => sys.error(s"rebase: mor-merge v${c.version} added ${other.size} dirs, expected 1")
            }
            // candidates re-prune against the NEW base: the same envelope
            // logic the original merge ran, driven by the recorded
            // sidecar. The re-executed merge can replace a DIFFERENT
            // number of rows than it did at fork time (main's post-fork
            // keys match too) — account against the new base. No sidecar
            // is the classifier's pure-insert arm: the commit replaced
            // nothing at its base, so the replay IS the append of its
            // source dir (epoch markers survive exactly like the append arm)
            val replayMask =
              newMasks(c, p).find(mk0 => mk0.kind == "keys" && mk0.keyDir.isDefined).flatMap { mk =>
                val keyDf = keySidecar(spark, root, merged, mk)
                keysMask(tipBase, merged, mk.keyCols, keyEnvelope(keyDf, mk.keyCols), keyDf, mk.keyDir)
              }
            publish(spark, sRoot, tipBase.commit(
              "mor-merge", tip.dirs, Seq(srcRel), deltaStats,
              deltaStats.map(_.rows).sum - replayMask.flatMap(_.maskedRows).sum, replayMask.toSeq,
              Some(merged.json), c.batchId, c.appId, None))
          case "delete" | "update" | "merge" =>
            replayCowDelta(root, tipBase, merged, c, p, c.cdc.get)
          case "compact" =>
            () // data-identical: the replay skips it (see the classifier)
          case "schema" =>
            // re-APPLY the monotone delta (adds + lossless widens, per
            // the classifier) as ordinary DDL against the staged tip —
            // alterSchema re-validates and, crucially, strips the TIP's
            // narrow-typed blooms for widened columns (main's carried
            // file stats would otherwise false-prune wide-typed probes).
            // Changes the new tip already has (main added the same
            // column / already as wide) skip.
            val changes = schemaDeltaChanges(p, c, tipSchema)
            if (changes.nonEmpty) {
              // a WIDEN cannot apply over pending merge-on-read masks
              // (typed bounds / key sidecars) — and masks can sit on the
              // staged chain from the new base itself OR from the
              // branch's own replayed MOR commits (whose reconciling
              // compact replays as a SKIP). Self-heal: one compact of the
              // staged chain reconciles every mask, then the DDL applies
              // — the same maintenance step the user's own chain ran.
              val widenCols = changes.collect { case WidenCol(n0, _) => n0 }
              if (widenCols.nonEmpty && tip.masks.nonEmpty) {
                compact(spark, sRoot, widenCols.head, math.max(1, tip.files.size))
                ()
              }
              alterSchema(spark, sRoot, changes)
              ()
            }
          case "overwrite" =>
            // replace the staged tip with the commit's own content — its
            // recorded dirs/files/schema ARE the table after this commit
            // (it kept nothing, so no mask or dropped ledger carries;
            // constraints main gained since the fork were already
            // re-proven over deltaDirs above)
            publish(spark, sRoot, tipBase.commit(
              "overwrite", Nil, c.dirs, c.files, c.addedRows, c.masks,
              c.schemaJson.orElse(Some(merged.json)), c.batchId, c.appId, None))
          case other => sys.error(s"unreachable: $other passed the replayability gate")
        }
      }
      // swap: the rebased chain becomes THE branch (single-writer contract).
      // dropBranch(name) is the POINT OF NO RETURN — past it the catch
      // below must NOT sweep the staging chain (it is the only surviving
      // copy of the branch's history; a failed rename keeps it addressable
      // at the staging ref, exactly as the error message promises)
      val newLatest = latestVersion(spark, sRoot).getOrElse(mLatest)
      swapStarted = true
      dropBranch(spark, root, name)
      require(
        f.rename(refDir(root, staging), refDir(root, name)),
        s"rebase swap failed: staging log could not move to ref-$name " +
          s"(the rebased chain is intact at ref-$staging; retry the rename)")
      forkCache.synchronized {
        forkCache.remove((root, staging))
        forkCache.put((root, name), mLatest)
      }
      f.delete(new Path(root, s"_cdc/ref-$staging"), true)
      newLatest
    } catch {
      case e: Throwable =>
        // a failed REPLAY leaves the ORIGINAL branch untouched: sweep the
        // stage. A failed SWAP must keep it (see above).
        if (!swapStarted)
          try dropBranch(spark, root, staging)
          catch { case _: Throwable => () }
        throw e
    }
  }

  /** Replay ONE copy-on-write DML commit onto the staged rebase tip by
    * APPLYING ITS CAPTURED ROW DELTA ([[Cdc]]) — the piece that makes COW
    * branches rebaseable at all: the commit's rewritten files bake in
    * fork-time content and can never re-attach, but the write-time
    * sidecar records exactly the rows the commit deleted (pre-images) and
    * inserted (post-images), and that delta is base-independent data.
    *
    * Semantics — apply-the-delta with a LOUD conflict rule (the git
    * contract, row-level):
    *   - captured delete pre-images remove their rows from the new base
    *     by FULL-ROW multiset subtraction (`exceptAll` — null-safe, exact
    *     multiplicity, the same algebra the CDC feed itself folds with);
    *   - if any pre-image finds no identical row (main rewrote or removed
    *     it since the fork), the replay REFUSES naming the version — a
    *     silently-partial replay would be a wrong table, and convergent
    *     edits are conflicts here exactly as in git;
    *   - captured insert post-images append (sidecar rows re-land through
    *     one rewrite write; whole-dir inserts — a merge's source dir —
    *     re-attach zero-copy like an append replay);
    *   - fork-time WHOLE-FILE drops (uncaptured by design) drop wholesale
    *     again when the entry is still live, unmasked, and stat-covered
    *     at the tip (zero I/O preserved); otherwise their rows are read
    *     from the fork-time files (main's retained history still
    *     references them) and join the content-applied pre-images.
    *
    * Scale shape: candidate files come from the manifest-stats prune on
    * the delta's per-column envelope (columns with any null pre-image
    * are excluded — null-safe equality matches rows stats never see), so
    * the rewrite touches O(files overlapping the delta), never the
    * table. The replayed commit carries its own exact CDC record: the
    * original sidecar re-references when it IS the replay's delta, a new
    * one is written when fork-time whole-drops had to content-apply. */
  private def replayCowDelta(
      root: String,
      tipBase: Base,
      merged: org.apache.spark.sql.types.StructType,
      c: Commit,
      p: Commit,
      cc: Cdc): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    val Base(spark, sRoot, _, tip) = tipBase
    val f = fs(spark, root)
    val mapping = mappingOf(merged)
    val side: Option[DataFrame] = cc.chDir.flatMap(cdcSidecar(spark, root, _, merged))
    val colsOnly = merged.fields.map(fd => col("`" + fd.name + "`")).toSeq
    def typed(df: DataFrame, t: String) = df.filter(col(CdcTypeCol) === t).select(colsOnly: _*)

    // fork-time whole-file drops: still-live + unmasked (both eras) +
    // stat-covered entries drop wholesale again; the rest content-apply
    val covered = cc.covered.toSet
    val cEntriesSet = fileEntries(c).toSet
    val wholeDrops = fileEntries(p).filterNot(cEntriesSet).filterNot(covered)
    val tipEntrySet = tip.dirs.toSet
    val tipStatsByEntry: Map[String, Seq[FileStat]] =
      tip.files.groupBy(fst => if (tipEntrySet(fst.path)) fst.path else dataDirOf(fst.path))
    val noMasks = tip.masks.isEmpty && p.masks.isEmpty
    // zero-I/O drops come in two granularities: a FILE-granular tip entry
    // (post-DML manifests list carried files as entries) drops itself; a
    // DIR-granular entry (the append shape — tip.dirs holds the dir, per-
    // file stats ride tip.files) drops when EVERY stat-covered file of
    // the dir is in the fork-time drop set, since the whole immutable dir
    // is then dead. Without the dir case the common append-then-delete
    // branch shape would content-apply (read the dropped bytes) despite
    // the zero-I/O contract.
    val (fileDrops, rest) = wholeDrops.partition(e =>
      tipEntrySet(e) && noMasks && tipStatsByEntry.contains(e))
    val wholeSet = wholeDrops.toSet
    val dirDrops = tipEntrySet.toSeq.filter(dirEntry =>
      noMasks && !wholeSet(dirEntry) &&
        tipStatsByEntry
          .get(dirEntry)
          .exists(sts =>
            sts.nonEmpty && sts.forall(fst => wholeSet(fst.path)) && {
              // completeness guard: "every stat-covered file is dropped"
              // only proves the DIR dead if the stats cover the dir
              // FILE-COMPLETE — verify against the published listing (one
              // namenode call, zero data I/O); a partially stat-covered
              // dir falls through to content-apply instead of silently
              // dropping its uncovered live files
              val statNames =
                sts.map(s => s.path.substring(s.path.lastIndexOf('/') + 1)).toSet
              publishedFiles(f, new Path(dataRoot(root), dirEntry))
                .exists(ps => ps.nonEmpty && ps.forall(pp => statNames(pp.getName)))
            }))
    val dropNow = fileDrops ++ dirDrops
    val contentDrops = {
      val dirDropSet = dirDrops.toSet
      rest.filterNot(e => dirDropSet(dataDirOf(e)))
    }
    val dropSet = dropNow.toSet

    val dropRows: Option[DataFrame] =
      if (contentDrops.isEmpty) None
      else Some(readEntries(spark, root, p, merged, contentDrops))
    val d0: Option[DataFrame] =
      (side.map(typed(_, "delete")).toSeq ++ dropRows.toSeq).reduceOption(_ unionByName _).map(_.persist())
    val iSide: Option[DataFrame] = side.map(typed(_, "insert"))

    try {
      // ONE aggregation job over the persisted delete delta yields
      // everything the replay's accounting used to pay four separate
      // actions for (r22, guide §1.2 — fewer passes): the row count
      // (formerly d.isEmpty + d.count()) and the per-column envelope for
      // the candidate prune (columns with any null pre-image are excluded —
      // null-safe equality matches rows stats never see).
      val statCols = merged.fields.filter(fd => WriteStats.statable(fd.dataType)).map(_.name).toSeq
      val (dCount: Long, bounds: Seq[Bound]) = d0 match {
        case None => (0L, Seq.empty[Bound])
        case Some(dd) =>
          val aggs = count(lit(1)).as("__n") +: statCols.flatMap(k =>
            Seq(
              min(col("`" + k + "`")).as("__lo_" + k),
              max(col("`" + k + "`")).as("__hi_" + k),
              count(col("`" + k + "`")).as("__nn_" + k)))
          val r = dd.agg(aggs.head, aggs.tail: _*).collect()(0)
          val n = r.getAs[Long]("__n")
          val bs = statCols.flatMap { k =>
            if (n == 0 || r.getAs[Long]("__nn_" + k) != n) None
            else Some(Bound(k, Option(r.getAs[Any]("__lo_" + k)), Option(r.getAs[Any]("__hi_" + k))))
          }
          (n, bs)
      }
      // an all-insert capture (a merge that fired no matched action) has NO
      // delete leg — but its sidecar still exists, so the naive Some(empty)
      // would take the scan path with an UNPRUNABLE empty envelope and
      // rewrite the whole table; an empty delete delta must take the
      // verbatim-carry path instead (decided by the same aggregation)
      val d: Option[DataFrame] = d0.filter(_ => dCount > 0)
      // no delete delta → nothing scans; uncovered dirs carry VERBATIM
      val plan = d match {
        case Some(_) => prunePlanOf(tip, bounds)
        case None => PrunePlan(Seq.empty, tip.files.map(_.path), Seq.empty)
      }
      val carryUncovered = if (d.isEmpty) uncoveredOf(tip) else Seq.empty[String]
      val skippedSet = plan.skipped.toSet
      val untouched = tip.files.filter(fst =>
        skippedSet(fst.path) && !dropSet(fst.path) && !dropSet(dataDirOf(fst.path)))
      val candPaths =
        plan.keep.filterNot(e => dropSet(e) || dropSet(dataDirOf(e))) ++
          plan.uncoveredDirs.filterNot(dropSet)
      val src: Option[DataFrame] =
        if (candPaths.isEmpty) None
        else Some(readEntries(spark, sRoot, tip, merged, candPaths))
      // candidate row count: when every candidate is a clean stat-covered
      // file, the manifest already knows it — zero I/O (r22; the count()
      // job re-read every candidate file the rewrite was about to read
      // again). Masked or uncovered candidates still count by scanning.
      val tipRowsByPath = tip.files.map(fst => fst.path -> fst.rows).toMap
      val statCounted = tip.masks.isEmpty && plan.uncoveredDirs.isEmpty &&
        candPaths.forall(tipRowsByPath.contains)
      val srcCached = if (statCounted) src else src.map(_.persist())
      try {
        val candRows =
          if (statCounted) candPaths.map(tipRowsByPath).sum
          else srcCached.map(_.count()).getOrElse(0L)
        val kept = (srcCached, d) match {
          case (Some(s), Some(dd)) => Some(s.exceptAll(dd))
          case (s, None) => s
          case (None, Some(_)) => None
        }
        // the insert leg's row count rides the written total (below):
        // written = kept + iSide rows, so the conflict check needs no
        // kept.count() job of its own — the rewrite's own writeData pass
        // (whose write stats count rows anyway) supplies it.
        val iCount = iSide.map(_.count()).getOrElse(0L)
        // the replay's one write carries its delete leg and its insert leg
        // as change rows ([[writeRewrite]]); they publish only when
        // content-applied drops make its delta differ from the original
        // sidecar, with capture on
        val capturing = cdcOnWrite(spark) && contentDrops.nonEmpty
        val out = {
          import org.apache.spark.sql.functions.{array, inline}
          (kept.map(_.withColumn(CdcTypeCol, lit(null).cast("string"))).toSeq ++
            d.map(_.withColumn(CdcTypeCol, lit("delete"))).toSeq ++
            iSide.map(i => i.select(inline(array(fate(colsOnly, None), fate(colsOnly, Some("insert")))))).toSeq)
            .reduceOption(_ unionByName _)
        }
        val (newDirs, newStats, written, writtenRel, chDir) = out match {
          case None => (Seq.empty[String], Seq.empty[FileStat], 0L, None, None)
          case Some(o) =>
            val w = writeRewrite(spark, sRoot, o, tip.constraints, mapping, capturing)
            if (w.rows == 0) (Seq.empty[String], Seq.empty[FileStat], 0L, Some(w.rel), w.chDir)
            else (Seq(w.rel), w.stats, w.rows, Some(w.rel), w.chDir)
        }
        val keptCount = written - iCount
        val matched = candRows - keptCount
        if (matched != dCount) {
          // abort PRE-PUBLISH: the doomed rewrite dir and sidecar are
          // deleted here (the same orphan-sweep contract as writeData's
          // constraint abort)
          (writtenRel.toSeq ++ chDir).foreach(rel => f.delete(new Path(dataRoot(root), rel), true))
          require(
            false,
            s"rebase conflict replaying v${c.version} ('${c.action}'): ${dCount - matched} of " +
              s"$dCount captured pre-image rows no longer exist identically at the new base " +
              "(main rewrote or removed them since the fork) — resolve by dropping and " +
              "re-staging the branch against current main")
        }
        val insStats = c.files.filter(fst =>
          cc.insEntries.contains(dataDirOf(fst.path)) || cc.insEntries.contains(fst.path))
        val dropRowsCnt = dropNow.map(e => tipStatsByEntry(e).map(_.rows).sum).sum
        // the replayed commit's own exact CDC record (see Scaladoc)
        val cdcRec =
          if (!cdcOnWrite(spark)) None
          else if (contentDrops.isEmpty) Some(Cdc(candPaths, cc.chDir, cc.insEntries))
          else Some(Cdc(candPaths, chDir, cc.insEntries))
        // masks keep their entries for everything this commit carries
        // VERBATIM: untouched covered files AND carried uncovered DIRS
        publish(spark, sRoot, tipBase.commit(
          c.action, untouched.map(_.path) ++ carryUncovered, newDirs ++ cc.insEntries, newStats ++ insStats,
          written - candRows - dropRowsCnt + insStats.map(_.rows).sum, Nil, Some(merged.json),
          c.batchId, c.appId, cdcRec))
      } finally srcCached.foreach(_.unpersist())
    } finally d0.foreach(_.unpersist())
  }

  // ───────── logical→physical column mapping (metadata-only renames) ─────────
  // A renamed column keeps its PHYSICAL parquet name forever (recorded in
  // the field's metadata); only the manifest schema's logical name changes.
  // Default physical == logical, so unmapped tables take every fast path
  // unchanged. Writers rename logical→physical before the parquet write,
  // so ALL files of a table always share physical names; readers read the
  // physical schema and project back to logical. Stats, blooms, and
  // bounds are keyed by PHYSICAL name internally.

  private val PhysKey = "graft.physical"

  private[graft] def physName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  private[graft] def physicalSchemaOf(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    toPhysical(s)

  private def toPhysical(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(s.fields.map(f => f.copy(name = physName(f))))

  private def hasMapping(s: org.apache.spark.sql.types.StructType): Boolean =
    s.fields.exists(f => physName(f) != f.name)

  /** logical → physical for the names that differ. */
  private def mappingOf(s: org.apache.spark.sql.types.StructType): Map[String, String] =
    s.fields.collect { case f if physName(f) != f.name => f.name -> physName(f) }.toMap

  /** `df`, a scan of PHYSICAL columns, with the LOGICAL names of `schema`
    * projected on top (identity for an unmapped table). */
  private[sinks] def asLogical(df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!hasMapping(schema)) df
    else df.select(schema.fields.map(f => col("`" + physName(f) + "`").as(f.name)).toSeq: _*)
  }

  /** Containing data dir of a live entry — identity for dir entries,
    * parent for the file-path entries DML commits write. */
  private def dataDirOf(rel: String): String = {
    val parts = rel.split('/')
    if (parts.length <= 2) rel else parts.take(2).mkString("/")
  }

  /** The dir this handle's manifests PUBLISH to (branch: its private log). */
  private def manifestDir(root: String): Path = splitRef(root) match {
    case (r, None) => new Path(r, "_manifests")
    case (r, Some(b)) => refDir(r, b)
  }

  /** Where version `v` of this handle lives: on a branch, versions ≤ the
    * fork resolve to MAIN manifests (shared pre-fork history), versions
    * above it to the branch's own log — no copying at branch creation. */
  private def manifestPath(f: FileSystem, root: String, v: Int): Path = splitRef(root) match {
    case (r, None) => new Path(new Path(r, "_manifests"), f"v$v%08d.json")
    case (r, Some(b)) =>
      if (v > forkOf(f, r, b)) new Path(refDir(r, b), f"v$v%08d.json")
      else new Path(new Path(r, "_manifests"), f"v$v%08d.json")
  }

  private val ManifestRe = """v(\d{8})\.json""".r

  private def listedVersions(f: FileSystem, dir: Path): Seq[Int] =
    if (!f.exists(dir)) Seq.empty
    else
      f.listStatus(dir)
        .toSeq
        .flatMap(s => ManifestRe.findFirstMatchIn(s.getPath.getName).map(_.group(1).toInt))
        .sorted

  /** All committed versions, ascending (one listing; a branch sees the
    * shared main history up to its fork plus its own commits). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val f = fs(spark, root)
    splitRef(root) match {
      case (r, None) => listedVersions(f, new Path(r, "_manifests"))
      case (r, Some(b)) =>
        val fork = forkOf(f, r, b)
        listedVersions(f, new Path(r, "_manifests")).filter(_ <= fork) ++
          listedVersions(f, refDir(r, b)).filter(_ > fork)
    }
  }

  def latestVersion(spark: SparkSession, root: String): Option[Int] =
    versions(spark, root).lastOption

  /** A manifest becomes VISIBLE at its atomic create but its bytes land a
    * moment later — a reader racing the winner of a publish can open an
    * empty or truncated file. That is an IN-FLIGHT commit, not corruption:
    * retry briefly (the winner's write+close is milliseconds away) before
    * concluding the manifest is genuinely unreadable. Observed for real:
    * the concurrent-append stress spec hit the empty-read without this. */
  private[graft] def readManifest(spark: SparkSession, root: String, v: Int): Commit =
    untorn(v)(readManifestOnce(spark, root, v))

  /** `read` of manifest `v`, retried while its publish may be in flight. */
  private def untorn(v: Int)(read: => Commit): Commit = {
    var attempt = 0
    while (true) {
      try return read
      catch {
        case e: Exception if !e.isInstanceOf[java.io.FileNotFoundException] =>
          attempt += 1
          if (attempt >= 100)
            sys.error(s"manifest v$v unreadable after ${attempt} attempts (torn publish or corruption): $e")
          Thread.sleep(10)
      }
    }
    sys.error("unreachable")
  }

  private def readManifestOnce(spark: SparkSession, root: String, v: Int): Commit = {
    val f = fs(spark, root)
    val in = f.open(manifestPath(f, root, v))
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    // useBigDecimalForDouble: decimal stats must round-trip EXACTLY — a
    // double-rounded max that lands below the true max could wrongly skip a
    // file whose edge row matches the predicate
    val j = JsonMethods.parse(txt, useBigDecimalForDouble = true)
    implicit val fmts: Formats = DefaultFormats
    val files = (j \ "files") match {
      case JArray(fs) =>
        fs.map { f =>
          def statMap(field: String): Map[String, JValue] = (f \ field) match {
            case JObject(kvs) => kvs.toMap
            case _ => Map.empty
          }
          val nn = (f \ "nn") match {
            case JObject(kvs) =>
              kvs.collect {
                case (k, JInt(v)) => k -> v.toLong
                case (k, JLong(v)) => k -> v
              }.toMap
            case _ => Map.empty[String, Long]
          }
          val bl = (f \ "bloom") match {
            case JObject(kvs) => kvs.collect { case (k, JString(v)) => k -> v }.toMap
            case _ => Map.empty[String, String]
          }
          FileStat(
            (f \ "path").extract[String],
            (f \ "rows").extract[Long],
            statMap("min"),
            statMap("max"),
            nn,
            bl,
            (f \ "bytes").extractOpt[Long].getOrElse(-1L))
        }
      case _ => Seq.empty
    }
    commitFromJson(j, files)
  }

  /** Everything of a manifest EXCEPT the files array — the single parser
    * behind both [[readManifest]] and [[readManifestLite]], so the lite
    * path can never silently drop a field (masks and the dropped-column
    * ledger in particular: a lite read that lost them would resurrect
    * deleted rows or skip the revival type check). */
  private def commitFromJson(j: JValue, files: Seq[FileStat]): Commit = {
    implicit val fmts: Formats = DefaultFormats
    Commit(
      (j \ "version").extract[Int],
      (j \ "action").extract[String],
      (j \ "dirs").extract[Seq[String]],
      (j \ "addedRows").extract[Long],
      (j \ "batchId").extractOpt[Long],
      (j \ "schema").extractOpt[String],
      files,
      (j \ "ts").extractOpt[Long].getOrElse(0L),
      (j \ "constraints") match {
        case JObject(kvs) => kvs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      },
      (j \ "dropped") match {
        case JObject(kvs) => kvs.collect { case (k, JString(v)) => k -> v }.toMap
        case _ => Map.empty[String, String]
      },
      (j \ "masks") match {
        case JArray(ms) =>
          ms.map { mj =>
            val pbs = (mj \ "bounds") match {
              case JArray(bs) =>
                bs.map { bj =>
                  MaskBound(
                    (bj \ "c").extract[String],
                    (bj \ "lo") match { case JNothing | JNull => None; case v => Some(v) },
                    (bj \ "hi") match { case JNothing | JNull => None; case v => Some(v) })
                }
              case _ => Seq.empty
            }
            Mask(
              (mj \ "kind").extract[String],
              (mj \ "entries").extract[Seq[String]],
              pbs,
              (mj \ "keyCols").extractOpt[Seq[String]].getOrElse(Seq.empty),
              (mj \ "keyDir").extractOpt[String],
              (mj \ "id").extractOpt[String].getOrElse(""), // pre-id manifests: structural fallback
              (mj \ "rows").extractOpt[Long])
          }
        case _ => Seq.empty
      },
      (j \ "cdc") match {
        // a record in the short-lived two-sidecar format (keys del/ins,
        // never in any released manifest) reads as ABSENT — the file-set
        // diff is always a correct fallback; honoring `covered` without
        // its sidecar would silently emit an incomplete stream
        case cj: JObject if (cj \ "del") == JNothing && (cj \ "ins") == JNothing =>
          Some(Cdc(
            (cj \ "covered").extractOpt[Seq[String]].getOrElse(Seq.empty),
            (cj \ "ch").extractOpt[String],
            (cj \ "insEntries").extractOpt[Seq[String]].getOrElse(Seq.empty)))
        case _ => None
      },
      (j \ "appId").extractOpt[String])
  }

  /** The commit log, ascending by version. */
  def history(spark: SparkSession, root: String): Seq[Commit] =
    versions(spark, root).map(readManifest(spark, root, _))

  /** The commit log without the per-file stats ([[readManifestLite]]),
    * oldest first and read lazily: a search that stops at a match parses
    * only the manifests before it, and none of their `files` arrays. */
  private def historyLite(spark: SparkSession, root: String): Iterator[Commit] =
    versions(spark, root).iterator.map(readManifestLite(spark, root, _))

  /** The k Bloom probe positions of one value, read side — evaluates the
    * same murmur3(seed 42) / xxhash64(seed 42) Spark uses for `hash()` on
    * the column-typed value. None when the value can't be represented in
    * the column's type (never prune). */
  private[graft] def probeBloom(dt: org.apache.spark.sql.types.DataType, v: Any): Option[Seq[Int]] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, XxHash64}
    import org.apache.spark.sql.types._
    val typedOpt: Option[Any] = (dt, v) match {
      case (StringType, s: String) => Some(s)
      case (ByteType, n: Number) => Some(n.byteValue())
      case (ShortType, n: Number) => Some(n.shortValue())
      case (IntegerType, n: Number) => Some(n.intValue())
      case (LongType, n: Number) => Some(n.longValue())
      case (DateType, d: java.sql.Date) => Some(d)
      case (DateType, s: String) =>
        scala.util.Try(java.sql.Date.valueOf(s)).toOption
      case _ => None
    }
    typedOpt.map { typed =>
      val lit = Literal.create(typed, dt)
      val h1raw = new Murmur3Hash(Seq(lit)).eval(null).asInstanceOf[Int].toLong
      val h2raw = new XxHash64(Seq(lit)).eval(null).asInstanceOf[Long]
      (0 until WriteStats.BloomK).map(WriteStats.bloomPosition(h1raw, h2raw, _))
    }
  }

  final class ConstraintViolationException(val name: String, val violations: Long)
      extends RuntimeException(
        s"CHECK constraint '$name' violated by $violations row(s); nothing was committed")

  /** Write `df` to a fresh data dir and return (relative dir, row count,
    * per-file stats). The writer folds each file's stats as it writes the
    * rows ([[WriteStats]]): row count, min/max and non-null count of every
    * orderable column, a bloom per equality column, the byte length, and
    * each CHECK's violation count — no second pass over the written files.
    * A zero-row file (partition 0 of an empty write) records rows = 0, so
    * its dir reads as covered and the scan paths skip it unread.
    *
    * A CHECK violation aborts BEFORE publish and deletes the dir, so
    * constraint failures can never tear the table: rows either all satisfy
    * every CHECK or none land. Null CHECK results count as violations (a
    * CHECK must prove itself), matching the SQL-standard `CHECK` on an
    * unknown being Delta's strict reading for data-quality gates. */
  private def writeData(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      constraints: Map[String, String] = Map.empty,
      physicalOf: Map[String, String] = Map.empty): (String, Long, Seq[FileStat]) = {
    val (rel, stats, _) = writeDir(spark, root, df, constraints, physicalOf, WriteStats.Changes.Untagged)
    (rel, stats.map(_.rows).sum, stats)
  }

  /** What a copy-on-write rewrite wrote ([[writeRewrite]]): its data dir,
    * data rows and file stats, its change sidecar (when captured), and
    * the commit's net row delta. */
  private final case class Rewritten(
      rel: String,
      rows: Long,
      stats: Seq[FileStat],
      chDir: Option[String],
      net: Long)

  /** The ONE write of a copy-on-write DML rewrite: `tagged` is the
    * rewrite's output plus a trailing `_change_type` column — null on a
    * data row, 'delete' (a pre-image) or 'insert' (a post-image) on a
    * change row. The data rows land as [[writeData]] lands them, stats
    * and CHECKs folded over them alone ([[WriteStats.writeParquet]]).
    * With `capture` ([[Cdc]]) the change rows leave in the same Spark job
    * and publish as the commit's `_cdc/w-<uuid>` sidecar in PHYSICAL
    * column names (immutable across renames, so [[cdcSidecar]] reads them
    * under any later schema) through [[publishDerivedDir]]; without it
    * they are only counted.
    *
    * The net row delta needs no count of the rewrite set: a rewritten row
    * that stays is one data row, a deleted one one delete, an updated one
    * a delete and an insert, and an inserted one an insert — so the rows
    * the rewrite read are the data rows plus the deletes minus the
    * inserts, and the delta is inserts minus deletes. */
  private def writeRewrite(
      spark: SparkSession,
      root: String,
      tagged: DataFrame,
      constraints: Map[String, String],
      physicalOf: Map[String, String],
      capture: Boolean): Rewritten = {
    val (rel, stats, changes) = writeDir(
      spark, root, tagged, constraints, physicalOf,
      if (capture) WriteStats.Changes.Kept else WriteStats.Changes.Counted)
    val chDir = Option.when(capture) {
      val ch = s"_cdc/w-${java.util.UUID.randomUUID().toString}"
      publishDerivedDir(
        fs(spark, root), new Path(new Path(dataRoot(root), rel), WriteStats.ChangeSide), new Path(dataRoot(root), ch))
      ch
    }
    Rewritten(
      rel, stats.map(_.rows).sum, stats, chDir,
      changes.getOrElse("insert", 0L) - changes.getOrElse("delete", 0L))
  }

  /** The body of [[writeData]] and [[writeRewrite]]: (relative dir, file
    * stats, change rows per type). */
  private def writeDir(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      constraints: Map[String, String],
      physicalOf: Map[String, String],
      changes: WriteStats.Changes): (String, Seq[FileStat], Map[String, Long]) = {
    val rel = "data/" + java.util.UUID.randomUUID().toString
    val abs = new Path(dataRoot(root), rel).toString
    // renamed columns write under their immutable physical parquet names
    // so every file of the table stays uniform; constraints, authored in
    // LOGICAL names, bind to the same positions
    val physDf = physicalOf.foldLeft(df) { case (d, (logical, physical)) =>
      if (d.columns.contains(logical)) d.withColumnRenamed(logical, physical) else d
    }
    val dataSchema =
      if (changes == WriteStats.Changes.Untagged) physDf.schema
      else org.apache.spark.sql.types.StructType(physDf.schema.fields.init)
    val written =
      WriteStats.writeParquet(physDf, abs, WriteStats.Spec(spark, dataSchema, constraints, physicalOf), changes)
    constraints.keys.toSeq.sorted.zipWithIndex.foreach { case (name, i) =>
      val bad = written.files.map(_.violations(i)).sum
      if (bad > 0) {
        fs(spark, root).delete(new Path(abs), true) // abort pre-publish: no orphan lingers
        throw new ConstraintViolationException(name, bad)
      }
    }
    (rel, written.files.map(w => w.stat.copy(path = rel + "/" + w.stat.path)), written.changes)
  }

  /** The change rows of CDC sidecar `rel` ([[writeRewrite]]) under
    * `schema` plus `_change_type`: exactly the files its complete publish
    * names (loud on a torn one); None when the capture holds no file. */
  private def cdcSidecar(
      spark: SparkSession,
      root: String,
      rel: String,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val files = publishedFiles(fs(spark, root), new Path(dataRoot(root), rel)).getOrElse(
      sys.error(s"CDC sidecar $rel has no complete publish — torn commit or over-eager vacuum"))
    if (files.isEmpty) None
    else
      Some(relationOfManifest(
        spark, root, subManifest(EmptyVersion, files.map(p => rel + "/" + p.getName)),
        cdcTagged(schema, withVersion = false)))
  }

  /** One output row of a copy-on-write rewrite ([[writeRewrite]]):
    * `cols` tagged with change type `tpe` — None for a data row. */
  private def fate(cols: Seq[org.apache.spark.sql.Column], tpe: Option[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, struct}
    struct(cols :+ tpe.fold(lit(null).cast("string"))(lit).as(CdcTypeCol): _*)
  }

  /** `tgt` plus a boolean column `flag`: whether its key tuple appears in
    * `keys`. An existence join, so a key `keys` holds twice still yields
    * its target row once, and a null key never matches — with no
    * aggregate over `keys`, which an outer join against its distinct
    * tuples would add (one more shuffle stage and job). */
  private def flagMatched(tgt: DataFrame, keys: DataFrame, keyCols: Seq[String], flag: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.ExistenceJoin
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LogicalPlan}
    val (l, r) = (tgt.queryExecution.analyzed, keys.queryExecution.analyzed)
    def attr(p: LogicalPlan, k: String) = p.output.find(_.name == k).getOrElse(sys.error(s"no key column '$k'"))
    val cond = keyCols.map(k => EqualTo(attr(l, k), attr(r, k)): Expression).reduce(And(_, _))
    val exists = AttributeReference(flag, org.apache.spark.sql.types.BooleanType, nullable = false)()
    org.apache.spark.sql.GraftSqlBridge.ofRows(
      tgt.sparkSession, Join(l, r, ExistenceJoin(exists), Some(cond), JoinHint.NONE))
  }

  /** Atomic publish: create-if-absent the next manifest. Package-private so
    * the spec can drive the commit race directly. */
  private[graft] def publish(spark: SparkSession, root: String, c: Commit): Int = {
    val f = fs(spark, root)
    f.mkdirs(manifestDir(root))
    val p = manifestPath(f, root, c.version)
    val fileArr = JArray(c.files.map { fst =>
      JObject(
        "path" -> JString(fst.path),
        "rows" -> JLong(fst.rows),
        "min" -> JObject(fst.min.toList.sortBy(_._1)),
        "max" -> JObject(fst.max.toList.sortBy(_._1)),
        "nn" -> JObject(fst.nonNull.toList.sortBy(_._1).map { case (k, v) => k -> (JLong(v): JValue) }),
        "bloom" -> JObject(fst.bloom.toList.sortBy(_._1).map { case (k, v) => k -> (JString(v): JValue) }),
        "bytes" -> JLong(fst.bytes))
    }.toList)
    val fields = List(
      "version" -> JInt(c.version),
      "action" -> JString(c.action),
      "dirs" -> JArray(c.dirs.map(JString(_)).toList),
      "addedRows" -> JLong(c.addedRows),
      // publish wall-clock: AS OF timestamp resolution ([[versionAsOf]]).
      // Recorded at publish so it is monotone with version order on one
      // writer host; cross-host skew only shifts which version a wall
      // timestamp resolves to, never correctness of the read itself.
      "ts" -> JLong(if (c.ts > 0) c.ts else System.currentTimeMillis())) ++
      (if (c.constraints.nonEmpty)
         List("constraints" -> (JObject(c.constraints.toList.sortBy(_._1).map { case (k, v) =>
           k -> (JString(v): JValue)
         }): JValue))
       else Nil) ++
      (if (c.dropped.nonEmpty)
         List("dropped" -> (JObject(c.dropped.toList.sortBy(_._1).map { case (k, v) =>
           k -> (JString(v): JValue)
         }): JValue))
       else Nil) ++
      (if (c.masks.nonEmpty)
         List("masks" -> (JArray(c.masks.map { mk =>
           JObject(
             List(
               "kind" -> (JString(mk.kind): JValue),
               "entries" -> (JArray(mk.entries.map(JString(_)).toList): JValue)) ++
               (if (mk.predBounds.nonEmpty)
                  List("bounds" -> (JArray(mk.predBounds.map { b =>
                    JObject(
                      List("c" -> (JString(b.column): JValue)) ++
                        b.lower.map(v => "lo" -> v).toList ++
                        b.upper.map(v => "hi" -> v).toList: _*)
                  }.toList): JValue))
                else Nil) ++
               (if (mk.keyCols.nonEmpty)
                  List("keyCols" -> (JArray(mk.keyCols.map(JString(_)).toList): JValue))
                else Nil) ++
               mk.keyDir.map(d => "keyDir" -> (JString(d): JValue)).toList ++
               (if (mk.id.nonEmpty) List("id" -> (JString(mk.id): JValue)) else Nil) ++
               mk.maskedRows.map(r => "rows" -> (JLong(r): JValue)).toList: _*)
         }.toList): JValue))
       else Nil) ++
      c.batchId.map(b => "batchId" -> (JLong(b): JValue)).toList ++
      c.appId.map(a => "appId" -> (JString(a): JValue)).toList ++
      c.schemaJson.map(s => "schema" -> (JString(s): JValue)).toList ++
      c.cdc.map { cc =>
        "cdc" -> (JObject(
          List("covered" -> (JArray(cc.covered.map(JString(_)).toList): JValue)) ++
            cc.chDir.map(d => "ch" -> (JString(d): JValue)).toList ++
            (if (cc.insEntries.nonEmpty)
               List("insEntries" -> (JArray(cc.insEntries.map(JString(_)).toList): JValue))
             else Nil): _*): JValue)
      }.toList ++
      (if (c.files.nonEmpty) List("files" -> (fileArr: JValue)) else Nil)
    val json = JsonMethods.compact(JsonMethods.render(JObject(fields: _*)))
    val bytes = json.getBytes("UTF-8")
    // Atomicity is SCHEME-DEPENDENT and this is load-bearing — the whole
    // commit protocol reduces to one put-if-absent. The [[CommitStore]]
    // seam dispatches it: [[HadoopCommitStore]] (default) uses HDFS's
    // native create-if-absent or the local hard-link protocol; S3-class
    // deployments (no atomic create at all) plug a store that supplies
    // the mutual exclusion externally ([[SingleProcessCommitStore]] is
    // the single-driver shape). Readers keep the torn-read retry in
    // [[readManifest]] for stores that create-then-write.
    try commitStoreRef.get().putIfAbsent(f, p, bytes)
    catch {
      case e: ConcurrentCommitException =>
        throw new ConcurrentCommitException(
          s"version ${c.version} was committed concurrently (${e.getMessage}); retry from latest")
    }
    maybeAutoCheckpoint(spark, root, c)
    c.version
  }

  // the pluggable publish primitive — see [[CommitStore]]
  private val commitStoreRef =
    new java.util.concurrent.atomic.AtomicReference[CommitStore](HadoopCommitStore)

  // the installed store, for sibling operators' own put-if-absent needs
  // (e.g. [[SnapshotMv]]'s immutable spec sidecar)
  private[graft] def commitStore: CommitStore = commitStoreRef.get()

  /** Install a [[CommitStore]] (e.g. an external-coordination store for
    * object storage). Affects every table this JVM publishes to. */
  def setCommitStore(store: CommitStore): Unit = commitStoreRef.set(store)

  /** Restore the default [[HadoopCommitStore]]. */
  def resetCommitStore(): Unit = commitStoreRef.set(HadoopCommitStore)

  /** Automatic checkpoint maintenance — Delta writes one every 10 commits;
    * without it a long-lived table silently stays on the O(files)
    * driver-side JSON planning path forever. Every
    * `spark.graft.checkpoint.interval`-th version (default 10) whose
    * manifest carries at least `spark.graft.checkpoint.minFiles` file
    * entries (default 100000 — the measured JSON-vs-checkpoint planning
    * crossover is ~10⁵ files, SCALING.md; below it the distributed plan
    * costs more than it saves) gets a parquet checkpoint as part of the
    * commit, and [[readWhere]] auto-selects it. Failure is non-fatal by
    * design: the manifest IS already published (the commit succeeded);
    * a lost checkpoint write simply retries at the next interval. */
  private val AutoCheckpointInterval = "spark.graft.checkpoint.interval"
  private val AutoCheckpointMinFiles = "spark.graft.checkpoint.minFiles"

  private def maybeAutoCheckpoint(spark: SparkSession, root: String, c: Commit): Unit =
    // the WHOLE body is non-fatal — the manifest is already published, so
    // even a malformed conf value (interval="10s") must not surface as a
    // failed commit (a caller-level retry would then append twice)
    try {
      val interval = spark.conf.getOption(AutoCheckpointInterval).map(_.toInt).getOrElse(10)
      val minFiles = spark.conf.getOption(AutoCheckpointMinFiles).map(_.toInt).getOrElse(100000)
      if (interval > 0 && c.version % interval == 0 && c.files.size >= minFiles)
        writeCheckpoint(spark, root, c)
    } catch { case scala.util.control.NonFatal(_) => () } // next interval retries

  /** Table schema for a commit of `dfSchema` over the `prior` recorded
    * schema: carried commits (append, merge) evolve it via
    * [[mergeSchemas]]; replacing commits (create/overwrite) pass None and
    * take `dfSchema`. A prior manifest without a recorded schema
    * contributes nothing (the pre-schema files still read under the
    * footer schema [[schemaOf]] merges). */
  private def evolvedSchema(
      prior: Option[org.apache.spark.sql.types.StructType],
      dfSchema: org.apache.spark.sql.types.StructType): String = {
    // a write's DATA never implicitly declares a cluster spec: field
    // metadata riding in from the query (e.g. SELECT * over a clustered
    // source into an overwrite/create of another table) is stripped here
    // — the spec comes only from the prior manifest (carry-forward) or an
    // explicit declaration (CREATE/REPLACE ... PARTITIONED BY)
    val next = org.apache.spark.sql.types.StructType(dfSchema.fields.map { f =>
      if (!f.metadata.contains(ClusterPosKey)) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        b.remove(ClusterPosKey)
        b.remove(ClusterXformKey)
        f.copy(metadata = b.build())
      }
    })
    prior.fold(org.apache.spark.sql.types.StructType(next.map(_.copy(nullable = true))))(
      mergeSchemas(_, next)).json
  }

  private[graft] def schemaFromJson(s: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(s).asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Enforce the dropped-column REVIVAL contract at commit time: a column
    * whose physical name matches one recorded in `dropped` is re-adding a
    * name whose bytes live files still carry — allowed only at the SAME
    * type (the old bytes then reappear under the revived column, the
    * documented semantics), refused loudly otherwise (parquet would
    * coexist both types under one physical name until a reader dies with
    * a confusing conversion error much later). Returns the still-dropped
    * set — a same-type revival un-drops. */
  private def reviveDropped(
      dropped: Map[String, String],
      merged: org.apache.spark.sql.types.StructType): Map[String, String] = {
    merged.fields.foreach { f =>
      dropped.get(physName(f)).foreach { tj =>
        val prior = org.apache.spark.sql.types.DataType.fromJson(tj)
        require(
          f.dataType == prior,
          s"column '${f.name}' revives dropped physical column '${physName(f)}' as " +
            s"${f.dataType.sql}, but live files still carry ${prior.sql} bytes under that " +
            "name; revive with the original type or compact first")
      }
    }
    dropped -- merged.fields.map(physName)
  }

  /** Cluster-by spec, persisted as StructField METADATA on the table
    * schema (key = the column's 0-based position in the clustering key).
    * Riding the schema means ZERO manifest-format change and free
    * carry-forward: every commit already carries the merged schema, and
    * [[mergeSchemas]] keeps prior fields (metadata included) verbatim.
    * This is how `CREATE TABLE ... PARTITIONED BY (identity cols)` maps
    * onto the engine's clustering stance: instead of hive-style
    * directories (which at 100 TB mean small-file explosions on
    * high-cardinality keys and directory-listing planning), the declared
    * columns become the table's STANDING range-clustering key — every
    * append/overwrite range-partitions + locally sorts on them, so the
    * manifest min/max stats prune partition-key predicates file-level
    * exactly like partition pruning would, without freezing a layout.
    *
    * NON-IDENTITY transforms (`days(ts)`, `bucket(16, k)`, ...) ride the
    * same spec: the DECLARED transform is recorded verbatim (second
    * metadata key) so the catalog's `partitioning()` round-trips the
    * user's DDL, while writes still range-cluster on the SOURCE column —
    * sound because every predicate those transforms can prune, source-
    * column range clustering prunes at least as well: the temporal
    * transforms and truncate are order-preserving (a day/month/prefix
    * range IS a source-column range, at finer granularity here), and
    * bucket's only prunable predicate is key equality, which min/max
    * stats on a range-clustered key answer with ~1 file instead of
    * 1/N-th of the corpus. What is deliberately NOT reproduced is
    * bucket's fixed write fan-out (AQE sizes output files instead) and
    * hive-style directory layout (stats prune replaces it). */
  private[sinks] val ClusterPosKey = "graft.clusterPos"
  private[sinks] val ClusterXformKey = "graft.clusterXform"

  /** (source column, declared transform label) in key order; labels are
    * `identity` (absent key = legacy identity spec), `bucket(N)`,
    * `truncate(N)`, `years`, `months`, `days`, `hours`. */
  private[graft] def clusterSpecOf(
      schema: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
    schema.fields
      .filter(f => f.metadata.contains(ClusterPosKey))
      .sortBy(_.metadata.getLong(ClusterPosKey))
      .map(f =>
        f.name -> (if (f.metadata.contains(ClusterXformKey)) f.metadata.getString(ClusterXformKey)
                   else "identity"))
      .toSeq

  private[sinks] def clusterColsOf(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    clusterSpecOf(schema).map(_._1)

  private[sinks] def withClusterSpec(
      schema: org.apache.spark.sql.types.StructType,
      spec: Seq[(String, String)]): org.apache.spark.sql.types.StructType = {
    val byCol = spec.zipWithIndex.map { case ((c, xf), i) => c -> (i, xf) }.toMap
    org.apache.spark.sql.types.StructType(schema.fields.map { f =>
      byCol.get(f.name) match {
        case Some((i, xf)) =>
          val b = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong(ClusterPosKey, i.toLong)
          if (xf != "identity") b.putString(ClusterXformKey, xf)
          f.copy(metadata = b.build())
        case None => f
      }
    })
  }

  /** Range-cluster a batch on the table's persisted cluster columns (the
    * declared-at-CREATE `PARTITIONED BY` mapping). One extra shuffle per
    * write — exactly the cost hive-style partitioning pays — in exchange
    * for file-level manifest pruning on the clustering key. Columns the
    * batch doesn't carry are skipped (an append needn't carry every
    * column); no explicit partition count, so AQE right-sizes the output
    * files at any batch size. */
  private def clusterFor(df: DataFrame, schemaJson: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cols = clusterColsOf(schemaFromJson(schemaJson)).filter(df.columns.contains)
    if (cols.isEmpty) df
    else {
      val cs = cols.map(c => col("`" + c + "`"))
      df.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
    }
  }

  // ─────────────── the base of a write, and the one commit builder ───────────────

  /** The latest version of an existing table (loud when there is none). */
  private[graft] def latestOrFail(spark: SparkSession, root: String): Int =
    latestVersion(spark, root).getOrElse(sys.error(s"no snapshot table at $root"))

  /** The version before the first commit: no entries, no schema. */
  private val EmptyVersion = Commit(0, "none", Seq.empty, 0L)

  /** The version a write commits over, read ONCE: one `latestVersion`
    * listing and one manifest parse serve the executor's planning, its
    * reads and its publish. [[commit]] is the one place a new [[Commit]]
    * is built — the executor states which base entries it KEEPS and what
    * it ADDS, and everything else the new version holds derives from
    * that: the shape of Delta's log, where each commit reads one snapshot
    * and publishes remove/add actions against it. */
  private[sinks] final case class Base(spark: SparkSession, root: String, version: Int, m: Commit) {
    lazy val schema: Option[org.apache.spark.sql.types.StructType] = m.schemaJson.map(schemaFromJson)

    /** The schema the base's rows read under ([[schemaOf]]). */
    lazy val rowSchema: org.apache.spark.sql.types.StructType = schemaOf(spark, root, m)

    /** logical → physical column names of the base schema. */
    def mapping: Map[String, String] = schema.map(mappingOf).getOrElse(Map.empty)

    /** The live rows of base `entries`, through any pending masks. */
    def read(entries: Seq[String]): DataFrame = readEntries(spark, root, m, rowSchema, entries)

    /** Every live row of the base. */
    def readAll: DataFrame = read(fileEntries(m))

    /** Live rows of base `entries`, whose [[read]] frame is `rows` (a
      * caller about to scan them passes the frame it already built, so
      * its files are listed once): their recorded stats when every entry
      * is a clean (unmasked) stat-covered file, else `rows` counted. */
    def liveRows(entries: Seq[String], rows: => DataFrame): Long = {
      val recorded = m.files.map(f => f.path -> f.rows).toMap
      val masked = maskedEntrySet(m)
      if (entries.forall(e => recorded.contains(e) && !masked(e))) entries.map(recorded).sum
      else rows.count()
    }

    /** Live rows of wholly-dropped base files: a clean file's recorded rows
      * are its live rows; a masked file's exceed them, so only the masked
      * drops pay a count. */
    def droppedRows(dropped: Seq[FileStat]): Long = {
      val (hidden, clean) = dropped.map(_.path).partition(maskedEntrySet(m))
      liveRows(clean, read(clean)) + liveRows(hidden, read(hidden))
    }

    /** Version `version + 1`: the `kept` base entries (dir- or
      * file-granular, as the executor lists them) plus the `added` ones.
      * A base file stat or mask entry survives iff it, or its data dir, is
      * kept; a shrunk mask forgets its row count, an emptied one drops,
      * and `newMasks` append. Constraints carry. The dropped-column ledger
      * carries, revival-checked against `schemaJson`, while any base entry
      * is kept — with none kept no live file holds the dropped bytes, so
      * it clears. `ts` stamps at publish; `batchId`, `appId` and `cdc`
      * describe this commit alone and are never inherited. */
    def commit(
        action: String,
        kept: Seq[String],
        added: Seq[String],
        addedStats: Seq[FileStat],
        addedRows: Long,
        newMasks: Seq[Mask],
        schemaJson: Option[String],
        batchId: Option[Long],
        appId: Option[String],
        cdc: Option[Cdc]): Commit = {
      val keptSet = kept.toSet
      def survives(e: String): Boolean = keptSet(e) || keptSet(dataDirOf(e))
      Commit(
        version + 1,
        action,
        kept ++ added,
        addedRows,
        batchId,
        schemaJson,
        m.files.filter(f => survives(f.path)) ++ addedStats,
        constraints = m.constraints,
        dropped =
          if (kept.isEmpty) Map.empty
          else schemaJson.fold(m.dropped)(j => reviveDropped(m.dropped, schemaFromJson(j))),
        masks = m.masks.map(shrinkMask(_, survives)).filter(_.entries.nonEmpty) ++ newMasks,
        cdc = cdc,
        appId = appId)
    }
  }

  /** The base of a write to an existing table. */
  private[sinks] def openBase(spark: SparkSession, root: String): Base = {
    val v = latestOrFail(spark, root)
    Base(spark, root, v, readManifest(spark, root, v))
  }

  /** The base of a write that may create the table ([[EmptyVersion]]). */
  private def openBaseOrEmpty(spark: SparkSession, root: String): Base =
    latestVersion(spark, root).fold(Base(spark, root, 0, EmptyVersion))(v =>
      Base(spark, root, v, readManifest(spark, root, v)))

  /** Replace the table with `df` (create, overwrite, REPLACE TABLE): the
    * commit keeps no base entry. */
  private def commit(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      action: String,
      declaredSpec: Option[Seq[(String, String)]] = None,
      dropConstraints: Boolean = false): Int = {
    // ONE base-manifest read serves constraints and the spec carry
    val base0 = openBaseOrEmpty(spark, root)
    // constraints are TABLE properties: they survive even replacing
    // commits (overwrite/compact), unlike the carried dirs/files — except
    // REPLACE TABLE, which re-declares the table from scratch
    val base = if (dropConstraints) base0.copy(m = base0.m.copy(constraints = Map.empty)) else base0
    val schema0 = evolvedSchema(None, df.schema)
    // the cluster spec is a TABLE property like constraints: replacing
    // commits (overwrite) re-apply the prior spec by name onto the new
    // schema — INSERT OVERWRITE must not silently un-cluster a table —
    // unless the commit DECLARES one (CREATE/REPLACE ... PARTITIONED BY)
    val schema = declaredSpec match {
      case Some(spec) =>
        if (spec.isEmpty) schema0 else withClusterSpec(schemaFromJson(schema0), spec).json
      case None =>
        base.schema.fold(schema0) { prior =>
          val pspec = clusterSpecOf(prior)
          if (pspec.isEmpty) schema0 else withClusterSpec(schemaFromJson(schema0), pspec).json
        }
    }
    val (rel, n, stats) =
      writeData(spark, root, clusterFor(df, schema), base.m.constraints, mappingOf(schemaFromJson(schema)))
    publish(spark, root, base.commit(action, Nil, Seq(rel), stats, n, Nil, Some(schema), None, None, None))
  }

  /** Create the table with an initial snapshot (version 1). */
  def create(spark: SparkSession, root: String, df: DataFrame): Int = {
    require(latestVersion(spark, root).isEmpty, s"table at $root already exists")
    commit(spark, root, df, "create")
  }

  /** [[create]] with a DECLARED cluster spec (CREATE ... PARTITIONED BY):
    * the spec is threaded explicitly — data-borne field metadata never
    * declares one (see [[evolvedSchema]]) — and lands with the data in
    * ONE atomic commit (the staged-CTAS path). */
  private[sinks] def create(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      spec: Seq[(String, String)]): Int = {
    require(latestVersion(spark, root).isEmpty, s"table at $root already exists")
    commit(spark, root, df, "create", declaredSpec = Some(spec))
  }

  /** `REPLACE TABLE [AS SELECT]` — re-declare the table in ONE atomic
    * commit: the new schema and cluster spec are the STAGED declaration
    * (the prior spec does NOT carry forward, unlike overwrite), CHECK
    * constraints clear (a replace is a fresh declaration, Delta
    * semantics), the dropped-column revival ledger resets with the full
    * rewrite, and HISTORY survives — prior versions stay readable via
    * time travel at their recorded schemas, where a drop-and-recreate
    * would have destroyed them. */
  private[sinks] def replaceContents(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      spec: Seq[(String, String)]): Int =
    commit(spark, root, df, "replace", declaredSpec = Some(spec), dropConstraints = true)

  /** Re-prove `checks` (name → SQL) over already-written data `dirs`,
    * read in logical names through `schema`'s column mapping — for
    * constraints that a racing commit (or, in [[rebase]], the new base)
    * added after the data was validated, and for an adopted streaming
    * epoch. One aggregate job counts every CHECK's violations, over the
    * files read with the known schema (no footer inference). */
  private def reproveChecks(
      spark: SparkSession,
      root: String,
      dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      checks: Set[(String, String)]): Unit =
    if (checks.nonEmpty && dirs.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, count, expr, lit, when}
      val ordered = checks.toSeq.sortBy(_._1)
      val counts = ordered.map { case (_, check) => count(when(!coalesce(expr(check), lit(false)), 1)) }
      val bad = relationOfManifest(spark, root, subManifest(EmptyVersion, dirs), schema)
        .agg(counts.head, counts.tail: _*)
        .head()
      ordered.zipWithIndex.foreach { case ((name, _), i) =>
        if (bad.getLong(i) > 0) throw new ConstraintViolationException(name, bad.getLong(i))
      }
    }

  /** Append a batch. Appends COMMUTE, so a lost publish race retries
    * automatically against the new latest version (Delta's conflict rule:
    * append-vs-append is never a real conflict) — the data dir is written
    * once, only the manifest attempt repeats ([[publishAppend]]).
    * Replacing/rewriting actions (overwrite/compact/DML/merge)
    * deliberately do NOT blind-retry: their output was derived from the
    * base version they read, so a retry could silently drop a concurrent
    * writer's rows — they surface [[ConcurrentCommitException]] for the
    * caller to re-derive. */
  def append(spark: SparkSession, root: String, df: DataFrame): Int = {
    val base = openBaseOrEmpty(spark, root)
    // evolve FIRST: the merge guards (type changes, physical-name
    // collisions) must fire before any bytes are written
    val schema = evolvedSchema(base.schema, df.schema)
    val (rel, n, stats) =
      writeData(spark, root, clusterFor(df, schema), base.m.constraints, mappingOf(schemaFromJson(schema)))
    publishAppend(base, Some(rel), n, stats, df.schema, None, None)
  }

  /** THE exactly-once epoch identity, shared by every dedup site: a
    * commit matches when the batch number AND the writer identity match —
    * STRICT equality on `appId` (Delta's txn-appId semantics), so two
    * queries' identical epoch numbers never dedupe each other, an
    * appId-carrying stream never adopts a foreachBatch/batch writer's
    * None-appId commit, and vice versa. The one trade-off: a checkpointed
    * stream upgraded from a pre-appId build re-lands AT MOST its single
    * boundary epoch once (at-least-once on that epoch — the same behavior
    * Delta gives a writer whose txn metadata is absent); silent adoption
    * was rejected because it converts ANY colliding None-appId commit
    * into permanent data loss for the adopting stream. */
  private def epochCommitted(
      spark: SparkSession,
      root: String,
      batchId: Long,
      appId: Option[String]): Option[Int] =
    historyLite(spark, root)
      .find(c => c.batchId.contains(batchId) && c.appId == appId)
      .map(_.version)

  /** EXACTLY-ONCE streaming append — the `foreachBatch` sink contract.
    * The micro-batch id is recorded in the manifest, and the manifest
    * publish IS the transaction: a replayed epoch (restart, retry) finds
    * its batchId already committed and becomes a no-op, so the table holds
    * each epoch's rows exactly once however many times the batch reruns.
    * A publish race (e.g. two speculative drivers of the SAME epoch) makes
    * the loser re-check the log: if the winner committed our batchId we
    * are done; otherwise (a genuine interleaved writer) we retry at the
    * next version. The orphaned data dir of a lost race is reclaimed by
    * [[vacuum]] — rows only exist for readers once a manifest references
    * them, so duplicates are impossible by construction, not by cleanup. */
  def appendBatchExactlyOnce(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      batchId: Long,
      appId: Option[String] = None): Int = {
    epochCommitted(spark, root, batchId, appId).getOrElse {
      val base = openBaseOrEmpty(spark, root)
      // epoch appends honor the table's declared clustering exactly like
      // batch append (clusterFor) — without this, a long-running stream
      // into a PARTITIONED BY table silently degrades its file pruning
      val clustered = base.m.schemaJson.map(clusterFor(df, _)).getOrElse(df)
      val (rel, n, stats) = writeData(spark, root, clustered, base.m.constraints, base.mapping)
      publishAppend(base, Some(rel), n, stats, df.schema, Some(batchId), appId)
    }
  }

  /** EXACTLY-ONCE streaming append of EXECUTOR-STAGED parquet files — the
    * DSv2 catalog sink's fast path: the micro-batch's bytes were already
    * written once by the epoch's tasks ([[GraftStreamingWrite]]), each
    * task folding its file's stats as it wrote ([[WriteStats]]), so the
    * files RENAME into a fresh table data dir (one metadata op per file on
    * any rename-capable filesystem) and their stats come with them —
    * saving the second full write of every micro-batch the
    * land-as-DataFrame path paid. `staged` holds one stat per staged file,
    * its `path` the staged file's absolute path. Falls back to
    * [[appendBatchExactlyOnce]] whenever landing must transform rows:
    * a declared cluster spec (epoch data must sort into it), a
    * logical→physical column mapping (files must carry physical names),
    * or an empty epoch (the schema-seed write). A table with CHECKs
    * re-proves them over the adopted dir ([[reproveChecks]]); a violation
    * deletes it before publish. Crash safety is unchanged:
    * a crash after the rename orphans one unreferenced data dir (vacuum
    * reclaims it) and the restarted query re-stages its epoch from
    * scratch; a replayed epoch short-circuits on its (appId, batchId)
    * before any rename. */
  def appendStagedBatchExactlyOnce(
      spark: SparkSession,
      root: String,
      staged: Seq[FileStat],
      schema: org.apache.spark.sql.types.StructType,
      batchId: Long,
      appId: Option[String] = None): Int = {
    epochCommitted(spark, root, batchId, appId).getOrElse {
      val base0 = openBaseOrEmpty(spark, root)
      val mapping0 = base0.mapping
      val clusterCols0 = base0.schema.map(clusterColsOf).getOrElse(Seq.empty)
      // EMPTY epoch on an existing table with no schema delta (the trailing
      // batch every AvailableNow drain ships): the epoch needs only its
      // exactly-once (appId, batchId) marker — publishing it with the prior
      // dirs verbatim skips the rows=0 seed-dir write the DataFrame path
      // pays. Schema-evolving or table-creating empty epochs still fall
      // through (the seed write is what establishes them).
      if (staged.isEmpty &&
        base0.schema.exists(prior => prior == schemaFromJson(evolvedSchema(Some(prior), schema)))) {
        return publishAppend(base0, None, 0L, Seq.empty, schema, Some(batchId), appId)
      }
      if (staged.isEmpty || mapping0.nonEmpty || clusterCols0.nonEmpty) {
        val df =
          if (staged.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          else spark.read.schema(schema).parquet(staged.map(_.path): _*)
        appendBatchExactlyOnce(spark, root, df, batchId, appId)
      } else {
        val f = fs(spark, root)
        val rel = "data/" + java.util.UUID.randomUUID().toString
        val dir = new Path(dataRoot(root), rel)
        f.mkdirs(dir)
        val stats = staged.map { s =>
          val sp = new Path(s.path)
          require(f.rename(sp, new Path(dir, sp.getName)), s"failed to adopt staged file ${s.path} into $rel")
          s.copy(path = rel + "/" + sp.getName)
        }
        try reproveChecks(spark, root, Seq(rel), schema, base0.m.constraints.toSet)
        catch {
          case e: ConstraintViolationException =>
            f.delete(dir, true) // abort pre-publish: no orphan lingers
            throw e
        }
        publishAppend(base0, Some(rel), stats.map(_.rows).sum, stats, schema, Some(batchId), appId)
      }
    }
  }

  /** The publish loop of every commuting append — batch, epoch and
    * staged epoch: `rel` (None for a marker-only empty epoch) is written
    * and proved against the CHECKs of `base`, the version the write
    * opened, which the first attempt commits over. A lost publish race
    * re-opens the latest version and retries, at most 50 times (the dir
    * of an abandoned attempt vacuums away): the schema re-evolves over
    * the new base, and a CHECK a racing commit added or re-worded — as a
    * (name, sql) pair — is re-proved over the written dir before the
    * commit claims it, so enforcement can never be skipped by racing it.
    * A replayed epoch that lost to itself returns the winner's version. */
  private def publishAppend(
      base: Base,
      rel: Option[String],
      n: Long,
      stats: Seq[FileStat],
      dfSchema: org.apache.spark.sql.types.StructType,
      batchId: Option[Long],
      appId: Option[String]): Int = {
    val Base(spark, root, _, _) = base
    var at = base
    var enforced = base.m.constraints
    var attempts = 0
    while (true) {
      val schema = evolvedSchema(at.schema, dfSchema)
      val checks = at.m.constraints
      if (checks != enforced) {
        reproveChecks(spark, root, rel.toSeq, schemaFromJson(schema), checks.toSet -- enforced.toSet)
        enforced = checks
      }
      try
        return publish(spark, root, at.commit(
          "append", at.m.dirs, rel.toSeq, stats, n, Nil, Some(schema), batchId, appId, None))
      catch {
        case e: ConcurrentCommitException =>
          batchId.flatMap(epochCommitted(spark, root, _, appId)).foreach(v => return v)
          attempts += 1
          if (attempts >= 50) throw e
      }
      at = openBaseOrEmpty(spark, root)
    }
    -1 // unreachable
  }

  /** The stable streaming query id, when running on a stream-execution
    * thread (foreachBatch and V1 sinks run there) — recorded as the
    * commit's txn appId so concurrent queries never dedupe each other. */
  private[sinks] def streamingQueryId(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))

  /** `foreachBatch` adapter: `stream.writeStream.foreachBatch(SnapshotTable
    * .streamAppend(root)).start()`. */
  def streamAppend(root: String): (DataFrame, Long) => Unit =
    (batch, id) => {
      appendBatchExactlyOnce(
        batch.sparkSession, root, batch, id, streamingQueryId(batch.sparkSession))
      ()
    }

  /** Replace the table contents atomically. */
  def overwrite(spark: SparkSession, root: String, df: DataFrame): Int =
    commit(spark, root, df, "overwrite")

  /** Read a specific committed snapshot (time travel) with exactly the
    * schema recorded at that version ([[schemaOf]]): columns a later
    * commit added do not exist here, columns some older files lack read
    * as null. The frame is the manifest-backed relation ([[readEntries]]
    * of every live entry), so the pushed-down filters of any query over
    * it skip files through the manifest stats and Blooms at planning
    * time, pending merge-on-read masks applied on top. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame = {
    val m = readManifest(spark, root, v)
    readEntries(spark, root, m, schemaOf(spark, root, m), fileEntries(m))
  }

  /** The table schema of manifest `m`: the recorded one, or — on a
    * pre-schema manifest — its live files' footers merged, the one
    * schema inference left on the read path (paid once per opened
    * manifest; every scan then reads under the known schema). */
  private def schemaOf(spark: SparkSession, root: String, m: Commit): org.apache.spark.sql.types.StructType =
    m.schemaJson.map(schemaFromJson).getOrElse {
      val paths = m.dirs.map(d => new Path(dataRoot(root), d).toString)
      spark.read.option("mergeSchema", "true").parquet(paths: _*).schema
    }

  /** [[schemaOf]] the manifest of version `v`. */
  private[sinks] def schemaAt(spark: SparkSession, root: String, v: Int): org.apache.spark.sql.types.StructType =
    schemaOf(spark, root, readManifest(spark, root, v))

  /** ROLL BACK the table to the content of committed version `toVersion`
    * — as a NEW commit (Delta's RESTORE): the restore manifest re-lists
    * that version's dirs/files/schema/constraints/masks verbatim, so the
    * operation is METADATA-ONLY (zero data I/O at any table size — the
    * old files are immutable and still on disk until vacuum), history
    * stays intact (every version including the undone ones still
    * time-travels), and a restore is itself undoable by another restore.
    * Requires `toVersion`'s manifest to still exist (not vacuumed) —
    * refused loudly otherwise, and the restored version's data dirs
    * become live again for vacuum's retention accounting the moment the
    * restore commit is retained. `addedRows` records the net PHYSICAL
    * recorded-row delta (same whole-file accounting caveat as MOR
    * deletes; `countWhere` stays exact regardless).
    *
    * Feed semantics: the CDC feed ([[changesBetween]]) is EXACT across a
    * restore — its delta is the full snapshot diff. The APPEND stream
    * ([[SnapshotSource]]) re-emits the files a restore re-lists (the same
    * at-least-once semantics as any rewrite): an append stream cannot
    * express deletion, and skipping the re-list would LOSE rows for a
    * stream whose initial snapshot post-dates the restore target — for
    * exact deltas, consume `readChangeFeed`. */
  def restore(spark: SparkSession, root: String, toVersion: Int): Int = {
    val cur = openBase(spark, root)
    if (toVersion == cur.version) return cur.version // already there: no commit
    val target = readManifest(spark, root, toVersion) // loud if vacuumed
    def physRows(m: Commit) = m.files.map(_.rows).sum
    // the restore commits over the TARGET's content, keeping all of it
    val base = cur.copy(m = target)
    publish(spark, root, base.commit(
      "restore", target.dirs, Nil, Nil, physRows(target) - physRows(cur.m), Nil, target.schemaJson,
      None, None, None))
  }

  /** The version visible at wall-clock `tsMillis` — the latest commit
    * published at or before it (Delta's `timestampAsOf`). Resolution uses
    * the publish timestamps the manifests record; a timestamp before the
    * first commit fails loudly rather than guessing. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Int =
    history(spark, root)
      .filter(c => c.ts > 0 && c.ts <= tsMillis)
      .map(_.version)
      .maxOption
      .getOrElse(
        sys.error(s"no commit at or before $tsMillis (pre-ts manifests are unresolvable by time)"))

  /** Time-travel read by wall-clock timestamp — see [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    readVersion(spark, root, versionAsOf(spark, root, tsMillis))

  /** Read the latest snapshot. */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, latestOrFail(spark, root))

  /** An inclusive range predicate on one column for manifest-level data
    * skipping: `lower <= col <= upper`, either side open. Values: numbers
    * for numeric columns, String/java.sql.Date for dates, String for
    * strings, java.sql.Timestamp for timestamps, Boolean for booleans. */
  final case class Bound(column: String, lower: Option[Any] = None, upper: Option[Any] = None)

  /** Normalize a stat JValue or user bound to one comparable axis per
    * column type: BigDecimal for numerics/timestamps/bools, String for
    * strings/dates (ISO dates compare lexicographically). None = not
    * comparable → never prune. */
  private[sinks] def normJ(dt: org.apache.spark.sql.types.DataType, j: JValue): Option[Either[BigDecimal, String]] = {
    import org.apache.spark.sql.types._
    (dt, j) match {
      case (StringType | DateType, JString(s)) => Some(Right(s))
      case (_, JInt(v)) => Some(Left(BigDecimal(v)))
      case (_, JLong(v)) => Some(Left(BigDecimal(v)))
      case (_, JDouble(v)) => Some(Left(BigDecimal(v)))
      case (_, JDecimal(v)) => Some(Left(v))
      case _ => None
    }
  }

  private def normBound(dt: org.apache.spark.sql.types.DataType, v: Any): Option[Either[BigDecimal, String]] = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (StringType | DateType, s: String) => Some(Right(s))
      case (DateType, d: java.sql.Date) => Some(Right(d.toString))
      case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
        Some(Left(BigDecimal(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)))
      case (BooleanType, b: Boolean) => Some(Left(BigDecimal(if (b) 1 else 0)))
      case (_, n: Number) => Some(Left(BigDecimal(n.toString)))
      case _ => None
    }
  }

  private[sinks] def lt(a: Either[BigDecimal, String], b: Either[BigDecimal, String]): Boolean =
    (a, b) match {
      case (Left(x), Left(y)) => x < y
      case (Right(x), Right(y)) => x < y
      case _ => false // mixed axes: never claim an ordering → never prune
    }

  /** `bounds` as a residual row filter (conjunction of the range checks). */
  private def applyBounds(df: DataFrame, bounds: Seq[Bound]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    bounds.foldLeft(df) { (d, b) =>
      val c = col("`" + b.column + "`")
      val withLo = b.lower.fold(d)(lo => d.filter(c >= lit(lo)))
      b.upper.fold(withLo)(hi => withLo.filter(c <= lit(hi)))
    }
  }

  /** `bounds` as a single three-valued-logic-safe MATCH column: true iff
    * every range check holds, FALSE (not null) when a bound column is null —
    * so `!matchCol` KEEPS null rows, which a range predicate never matches.
    * This is the row-level mirror of the manifest stats (min/max ignore
    * nulls), keeping [[deleteWhere]]/[[updateWhere]] consistent with
    * [[countWhere]]/[[readWhere]]. */
  private def matchCol(bounds: Seq[Bound]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    bounds
      .map { b =>
        val c = col("`" + b.column + "`")
        val e = (b.lower.map(lo => c >= lit(lo)) ++ b.upper.map(hi => c <= lit(hi)))
          .reduceOption(_ && _)
          .getOrElse(lit(true))
        coalesce(e, lit(false))
      }
      .reduceOption(_ && _)
      .getOrElse(lit(true))
  }

  // ───────── merge-on-read masks: typed bound serde + read kernel ─────────

  private def jNum(j: JValue): Option[BigDecimal] = j match {
    case JInt(v) => Some(BigDecimal(v))
    case JLong(v) => Some(BigDecimal(v))
    case JDouble(v) => Some(BigDecimal(v))
    case JDecimal(v) => Some(v)
    case _ => None
  }

  /** Serialize `bounds` for a mask on the SAME typed axes as the manifest
    * stats (numbers/timestamps/bools → decimal; strings/dates → string).
    * Loud on anything unencodable — a mask that silently dropped a bound
    * would delete the wrong rows forever. */
  private def encodeMaskBounds(
      schema: org.apache.spark.sql.types.StructType,
      bounds: Seq[Bound]): Seq[MaskBound] =
    bounds.map { b =>
      val dt = schema.fields
        .find(_.name == b.column)
        .map(_.dataType)
        .getOrElse(sys.error(s"merge-on-read delete: no column '${b.column}' in table schema"))
      def enc(v: Any): JValue = normBound(dt, v) match {
        case Some(Left(bd)) => JDecimal(bd)
        case Some(Right(s)) => JString(s)
        case None => sys.error(s"merge-on-read delete: unencodable bound $v on '${b.column}' (${dt.sql})")
      }
      MaskBound(b.column, b.lower.map(enc), b.upper.map(enc))
    }

  /** Decode a recorded mask bound back to the external [[Bound]] the row
    * filter ([[matchCol]]) understands, typed through the table schema. */
  private def decodeMaskBounds(
      schema: org.apache.spark.sql.types.StructType,
      pbs: Seq[MaskBound]): Seq[Bound] = {
    import org.apache.spark.sql.types._
    pbs.map { mb =>
      val dt = schema.fields
        .find(_.name == mb.column)
        .map(_.dataType)
        .getOrElse(sys.error(s"mask references column '${mb.column}' missing from the schema"))
      def dec(j: JValue): Any = (dt, j) match {
        case (BooleanType, v) => jNum(v).exists(_ != 0)
        case (TimestampType | TimestampNTZType, v) =>
          val us = jNum(v).getOrElse(sys.error(s"bad timestamp mask bound: $v")).toLongExact
          val ts = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
          ts
        case (_, JString(s)) => s
        case (_, v) =>
          jNum(v).map(_.bigDecimal).getOrElse(sys.error(s"bad mask bound on '${mb.column}': $v"))
      }
      Bound(mb.column, mb.lower.map(dec), mb.upper.map(dec))
    }
  }

  /** Apply `masks` to `df` (full-logical-schema rows of masked entries).
    * Masks only REMOVE rows, so application order is irrelevant. The keys
    * anti-join's sidecar is source-sized — AQE broadcasts a small one. */
  private def applyMasks(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      masks: Seq[Mask],
      df: DataFrame): DataFrame =
    masks.foldLeft(df) { (d, mk) =>
      mk.kind match {
        case "pred" => d.filter(!matchCol(decodeMaskBounds(schema, mk.predBounds)))
        case "keys" => d.join(keySidecar(spark, root, schema, mk), mk.keyCols, "left_anti")
        case other => sys.error(s"unknown mask kind '$other'")
      }
    }

  /** The key-tombstone sidecar of keys mask `mk`: its key columns in
    * LOGICAL names at `schema`'s types, the types every sidecar is written
    * at ([[keysMask]], [[deleteMatchedMor]]), so the read infers nothing. */
  private def keySidecar(
      spark: SparkSession,
      root: String,
      schema: org.apache.spark.sql.types.StructType,
      mk: Mask): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val dir = mk.keyDir.getOrElse(sys.error("keys mask without keyDir"))
    val keys = StructType(mk.keyCols.map(k => StructField(k, schema(k).dataType)))
    relationOfManifest(spark, root, subManifest(EmptyVersion, Seq(dir)), keys)
  }

  /** Read live `entries` of manifest `m` under `schema` — the one
    * live-entry read behind every version read, relation, DML rewrite and
    * CDC step. Each scan is the manifest-backed relation over the
    * [[subManifest]] of its entries ([[relationOfManifest]]: stat-covered
    * files are never listed, no schema is inferred). With pending masks —
    * the merge-on-read read kernel — entries group by their mask set:
    * unmasked entries scan in ONE relation, each masked group pays exactly
    * its own masks, and query predicates push through the mask
    * filter/anti-join into the group's scan, so a masked file a predicate
    * provably annihilates is pruned at plan time too (sound: masks only
    * remove rows). `withFileName` adds a `__file` column captured AT THE
    * SCAN (before any mask join) for callers needing file attribution
    * (the merge probe). */
  private def readEntries(
      spark: SparkSession,
      root: String,
      m: Commit,
      schema: org.apache.spark.sql.types.StructType,
      entries: Seq[String],
      withFileName: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    def scan(es: Seq[String]): DataFrame = {
      val base = relationOfManifest(spark, root, subManifest(m, es), schema)
      if (withFileName) base.withColumn("__file", input_file_name()) else base
    }
    if (m.masks.isEmpty || entries.isEmpty) return scan(entries)
    // per-mask entry SETS: membership per (entry, mask) — linear scans
    // here would be O(entries² · masks) at 10⁵ masked files
    val maskSets = m.masks.map(_.entries.toSet)
    entries
      .groupBy(e => maskSets.zipWithIndex.collect { case (s, i) if s(e) => i })
      .toSeq
      .sortBy(_._1.mkString(",")) // deterministic union order, unmasked first
      .map { case (idxs, es) => applyMasks(spark, root, schema, idxs.map(m.masks), scan(es)) }
      .reduce(_ unionByName _)
  }

  /** `m` narrowed to the live `entries` and stripped of its masks: the
    * manifest a scan of part of a version builds its relation over. A
    * file entry keeps its stat, a dir entry the stats of its files, in
    * entry order; stat-less entries stay for the index to list. */
  private[sinks] def subManifest(m: Commit, entries: Seq[String]): Commit = {
    val es = entries.toSet
    val byEntry = m.files
      .filter(f => es(f.path) || es(dataDirOf(f.path)))
      .groupBy(f => if (es(f.path)) f.path else dataDirOf(f.path))
    m.copy(dirs = entries, files = entries.flatMap(e => byEntry.getOrElse(e, Nil)), masks = Seq.empty)
  }

  /** The masked-entry set of a manifest (files whose physical rows are a
    * SUPERSET of their live rows): stats stay valid for pruning — a
    * provably-dead superset is dead — but row counts and whole-file
    * containment proofs must not be trusted. */
  private def maskedEntrySet(m: Commit): Set[String] = m.masks.flatMap(_.entries).toSet

  /** The skipping decision for one version: which stat-covered files can
    * possibly match `bounds`, which are proven dead, and which live dirs
    * have no stats and must be read in full. Package-private so the spec
    * can assert skipping actually engages. */
  private[graft] final case class PrunePlan(keep: Seq[String], skipped: Seq[String], uncoveredDirs: Seq[String])

  /** `bounds` lowered onto the one prover ([[StatsProver]]) and compiled
    * once per plan against the physical twin of `schema`:
    *  - `skips` proves a file holds no row inside every bound
    *    (`lower <= c <= upper`, an `EqualTo` where the two sides meet, so
    *    the column's Bloom applies);
    *  - `wholly` proves every row of a file is inside every bound, as "no
    *    row fails": `c IS NULL OR c < lower OR c > upper` matches no row.
    * Stats are keyed by PHYSICAL name; bounds arrive in logical names. A
    * bound on a column the schema lacks, or with a value the column's
    * axis cannot order, proves nothing; a pre-schema manifest (`None`)
    * therefore prunes nothing. */
  private final case class BoundsProof(skips: StatsProver.Proof, fails: Option[StatsProver.Proof]) {
    def wholly(f: FileStat): Boolean = fails.forall(_.empty(f))
  }

  private def boundsProof(
      schema: Option[org.apache.spark.sql.types.StructType],
      bounds: Seq[Bound]): BoundsProof = {
    import org.apache.spark.sql.catalyst.expressions._
    val lowered = bounds.map { b =>
      schema.flatMap(_.fields.find(_.name == b.column)).map { f =>
        val c = AttributeReference(physName(f), f.dataType)()
        (c, b.lower.map(boundLiteral(f.dataType, _)), b.upper.map(boundLiteral(f.dataType, _)))
      }
    }
    val matches = lowered.flatten.flatMap {
      case (c, Some(Some(lo)), Some(Some(hi))) if StatsProver.sameValue(c.dataType, lo, hi) =>
        // the optimizer hands a scan a boolean equality as `c` or `NOT c`,
        // which no stat proves: planning proves no more than that scan
        if (c.dataType == org.apache.spark.sql.types.BooleanType) Nil else Seq(EqualTo(c, lo))
      case (c, lo, hi) => lo.flatten.map(GreaterThanOrEqual(c, _)).toSeq ++ hi.flatten.map(LessThanOrEqual(c, _))
    }
    val fails = lowered.map {
      case Some((c, lo, hi)) if lo.forall(_.isDefined) && hi.forall(_.isDefined) =>
        (IsNull(c) +: (lo.flatten.map(LessThan(c, _)).toSeq ++ hi.flatten.map(GreaterThan(c, _)))).reduce(Or)
      case _ => Literal.TrueLiteral
    }
    val phys = schema.fold(new org.apache.spark.sql.types.StructType())(toPhysical)
    BoundsProof(StatsProver.compile(phys, matches), fails.reduceOption(Or).map(StatsProver.compile(phys, _)))
  }

  /** One [[Bound]] value as a literal the prover orders on column type
    * `dt`'s stat axis, as [[normBound]] places it; None = not comparable. */
  private def boundLiteral(
      dt: org.apache.spark.sql.types.DataType,
      v: Any): Option[org.apache.spark.sql.catalyst.expressions.Literal] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (StringType | DateType, s: String) => Some(Literal(s))
      case (DateType, d: java.sql.Date) => Some(Literal(d))
      case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
        Some(Literal(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000, dt))
      case (BooleanType, b: Boolean) => Some(Literal(b))
      case (StringType | DateType, _) => None
      case (_, n: Number) =>
        scala.util.Try(Literal(n)).orElse(scala.util.Try(Literal(BigDecimal(n.toString)))).toOption
      case _ => None
    }
  }

  /** The live entries no stat-bearing file of `files` covers (pre-stats
    * dirs): a planner reads them in full. An entry is covered if it is a
    * stat-bearing file itself (DML commits list untouched files
    * individually) or a dir whose files all carry stats. */
  private def uncovered(dirs: Seq[String], files: Seq[String]): Seq[String] = {
    val covered = files.toSet ++ files.map(p => p.take(p.lastIndexOf('/')))
    dirs.filterNot(covered)
  }

  private[sinks] def uncoveredOf(m: Commit): Seq[String] = uncovered(m.dirs, m.files.map(_.path))

  private[graft] def prunePlan(spark: SparkSession, root: String, v: Int, bounds: Seq[Bound]): PrunePlan =
    prunePlanOf(readManifest(spark, root, v), bounds)

  private[graft] def prunePlanOf(m: Commit, bounds: Seq[Bound]): PrunePlan =
    planOf(m, boundsProof(m.schemaJson.map(schemaFromJson), bounds))

  private def planOf(m: Commit, proof: BoundsProof): PrunePlan = {
    val (skipped, keep) = m.files.partition(proof.skips.empty)
    PrunePlan(keep.map(_.path), skipped.map(_.path), uncoveredOf(m))
  }

  // ───────── parquet checkpoint manifests: the 10⁵–10⁶-file scale path ─────────
  //
  // The JSON manifest is ONE driver-parsed document — past ~10⁴ files its
  // parse time and driver heap become the planning bound. A CHECKPOINT
  // materializes a version's per-file statistics as parquet (one row per
  // file), so planning becomes a DataFrame job: the bounds' compiled
  // proof ([[boundsProof]] — the one prover every planner and scan asks,
  // so verdicts equal the driver path's) runs DISTRIBUTED over the
  // checkpoint frame and the driver receives only the verdict lists. The
  // JSON manifest stays the commit-protocol source of truth (atomic
  // publish needs one document); [[readManifestLite]] opens it
  // with a streaming parser that SKIPS the files array, so the
  // checkpointed planner never materializes per-file stats driver-side.

  /** Root-relative checkpoint dir for version `v` of this HANDLE — a
    * branch's checkpoints live under its own ref dir (branch and main can
    * both hold a version `v` with different content). */
  private def ckptRel(root: String, v: Int): String = splitRef(root) match {
    case (_, None) => f"_manifests/ckpt_v$v%08d"
    case (_, Some(b)) => f"_manifests/ref-$b/ckpt_v$v%08d"
  }

  // ─── object-store-safe derived-dir publish (checkpoints, _cdc ranges) ───
  // Derived parquet dirs (a checkpoint frame, a materialized CDC range) are
  // pure functions of immutable manifests, but they are MULTI-FILE: making
  // them visible atomically is the problem. The old protocol renamed a
  // private temp dir onto the target — atomic on HDFS/POSIX, NOT on
  // S3-class object stores (a dir "rename" there is a per-file copy in
  // arbitrary order, so a marker file can become visible before the data
  // files it vouches for). This protocol assumes only the one primitive
  // every store has — single-OBJECT writes are all-or-nothing — and makes
  // the marker SELF-VALIDATING instead of positional:
  //   1. write the parquet to a private temp dir (single writer, unshared);
  //   2. move each data file individually into the shared target (per-file
  //      visibility is atomic; distinct writers' part names never collide —
  //      Spark part files carry a per-job UUID);
  //   3. write `_SUCCESS` LAST, containing the JSON list of exactly the
  //      data files that form this publish.
  // Readers consume EXACTLY the files named by `_SUCCESS` — never a dir
  // listing — so a crashed writer's orphans are invisible, a racing
  // re-publish of the same (deterministic) content is harmless whichever
  // `_SUCCESS` lands last, and a named-but-missing file fails LOUDLY at
  // scan instead of silently dropping rows. Orphans are reclaimed by the
  // age-gated [[vacuum]] sweep. No directory-rename atomicity is assumed
  // anywhere in the table anymore (the single-file manifest publish goes
  // through [[CommitStore]]).

  private def publishDerivedDir(f: FileSystem, tmp: Path, target: Path): Unit = {
    val parts = f
      .listStatus(tmp)
      .map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .sortBy(_.getName)
      .toSeq
    f.mkdirs(target)
    parts.foreach { p =>
      val dst = new Path(target, p.getName)
      require(f.rename(p, dst), s"failed to move ${p.getName} into ${target.getName}")
    }
    val manifest = JsonMethods.compact(
      JsonMethods.render(JObject(List("files" -> JArray(parts.map(p => JString(p.getName)).toList)))))
    // The marker lands after every data file is in place, and lands
    // ATOMICALLY: written to a dot-prefixed temp (invisible to part
    // filters and the named set), then single-FILE renamed into place —
    // never an in-place truncate-then-write, which would expose a
    // zero-length/partial marker to a racing reader (misread as the
    // legacy format → listing fallback → duplicated rows). A single-file
    // rename is atomic on HDFS/POSIX; on object stores the temp-to-marker
    // copy makes the new marker appear all-or-nothing. Racing publishers:
    // whoever renames last wins with ITS complete set; the brief
    // marker-absent window between delete and rename reads as "no
    // complete publish yet" — a safe refusal/re-publish, never wrong data.
    val success = new Path(target, "_SUCCESS")
    val mtmp = new Path(target, "._success-" + java.util.UUID.randomUUID())
    val out = f.create(mtmp, false)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (f.exists(success)) f.delete(success, false)
    // a failed rename means another racer's COMPLETE marker got there
    // between our delete and rename — accept theirs, drop ours
    if (!f.rename(mtmp, success)) f.delete(mtmp, false)
    f.delete(tmp, true)
  }

  /** The file set a published derived dir consists of: None = no complete
    * publish (`_SUCCESS` absent — a torn/in-flight dir, ignore it);
    * Some(paths) = the exact files the last publish named — possibly
    * EMPTY (a new-protocol publish of a zero-row frame names zero files;
    * empty-list means "named set = {}", never a listing fallback). Only a
    * ZERO-LENGTH `_SUCCESS` is the legacy marker (Spark's own, from the
    * dir-rename-era protocol, whose publish WAS all-or-nothing) — that
    * one falls back to the dir listing, which is complete for those dirs.
    * A non-empty marker that is not this protocol's JSON is a corrupt
    * publish and fails LOUDLY — a listing fallback there would serve
    * exactly the unnamed junk the protocol exists to hide. */
  private def publishedFiles(f: FileSystem, dir: Path): Option[Seq[Path]] = {
    val success = new Path(dir, "_SUCCESS")
    if (!f.exists(success)) None
    else {
      val st = f.getFileStatus(success)
      if (st.getLen == 0)
        Some(
          f.listStatus(dir)
            .map(_.getPath)
            .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
            .sortBy(_.getName)
            .toSeq)
      else {
        val in = f.open(success)
        val txt =
          try {
            val buf = new Array[Byte](st.getLen.toInt)
            in.readFully(buf)
            new String(buf, java.nio.charset.StandardCharsets.UTF_8)
          } finally in.close()
        JsonMethods.parse(txt) \ "files" match {
          case JArray(vs) => Some(vs.collect { case JString(n) => new Path(dir, n) })
          case _ => sys.error(s"corrupt publish manifest at $success; re-publish the dir")
        }
      }
    }
  }

  /** Materialize version `v`'s file statistics as a parquet checkpoint —
    * run by maintenance (e.g. every N commits, beside [[vacuum]]).
    * Overwrite-idempotent; readers pick it up via [[latestCheckpoint]]. */
  def checkpoint(spark: SparkSession, root: String): Int = {
    val v = latestOrFail(spark, root)
    writeCheckpoint(spark, root, readManifest(spark, root, v))
    v
  }

  private[graft] def writeCheckpoint(spark: SparkSession, root: String, m: Commit): String = {
    import spark.implicits._
    def mapJson(kv: Map[String, JValue]): String =
      JsonMethods.compact(JsonMethods.render(JObject(kv.toList.sortBy(_._1))))
    val rows = m.files.map(f =>
      (
        f.path,
        f.rows,
        f.bytes,
        mapJson(f.min),
        mapJson(f.max),
        mapJson(f.nonNull.map { case (k, v) => k -> (JLong(v): JValue) }),
        mapJson(f.bloom.map { case (k, v) => k -> (JString(v): JValue) })))
    val rel = ckptRel(root, m.version)
    // Publish protocol (same as the _cdc feed — see [[publishDerivedDir]]):
    // write a PRIVATE temp dir, move the data files into the shared target
    // individually, then write the self-validating `_SUCCESS` manifest
    // LAST. Readers only ever consume the files a complete `_SUCCESS`
    // names, so a racing (re-)checkpoint of the same version can never
    // hand prunePlanCheckpointed a partial frame — and nothing assumes
    // atomic directory rename (object-store-safe). Content is a pure
    // function of the immutable manifest, so whichever racer's marker
    // lands last names an identical frame.
    val f = fs(spark, root)
    val target = new Path(dataRoot(root), rel)
    val tmp = new Path(manifestDir(root), ".tmp-ckpt-" + java.util.UUID.randomUUID())
    rows
      .toDF("path", "rows", "bytes", "min", "max", "nn", "bloom")
      .repartition(math.max(1, rows.size / 65536))
      .write
      .parquet(tmp.toString)
    publishDerivedDir(f, tmp, target)
    // tiny sidecar recording the file COUNT — read-side auto-select's
    // crossover input (one small read beats launching a Spark job to
    // discover the checkpoint wasn't worth a Spark job). Deterministic
    // content; written after _SUCCESS, so a torn write degrades to the
    // legacy prefer-checkpoint behavior, never to wrong data.
    val meta = new Path(target, "_meta.json")
    val mout = f.create(meta, true)
    try mout.write(s"""{"files":${rows.size}}""".getBytes("UTF-8"))
    finally mout.close()
    rel
  }

  /** File count a checkpoint recorded at write time (None: legacy/torn
    * meta — treated as "prefer the checkpoint", the pre-crossover
    * behavior). */
  private def checkpointFileCount(f: FileSystem, root: String, v: Int): Option[Long] = {
    val p = new Path(new Path(dataRoot(root), ckptRel(root, v)), "_meta.json")
    if (!f.exists(p)) None
    else
      scala.util
        .Try(JsonMethods.parse(new String(readSmall(f, p), "UTF-8")) \ "files")
        .toOption
        .collect { case JInt(n) => n.toLong; case JLong(n) => n }
  }

  /** The measured ~10⁵-file crossover (SCALING.md round-14 table): below
    * it the checkpoint's fixed Spark-job overhead loses to the driver
    * JSON parse, so auto-select stays on the JSON path even when a
    * current checkpoint exists. */
  private val CheckpointReadMinFiles = 100000L

  private[graft] def checkpointPreferred(spark: SparkSession, root: String, v: Int): Boolean =
    checkpointFileCount(fs(spark, root), root, v).forall(_ >= CheckpointReadMinFiles)

  /** Latest version with a COMPLETE materialized checkpoint (its parquet
    * dir carries `_SUCCESS` — written LAST by [[publishDerivedDir]], so
    * its presence proves every file it names landed; torn dirs from
    * crashed writers are invisible here). */
  def latestCheckpoint(spark: SparkSession, root: String): Option[Int] = {
    val f = fs(spark, root)
    val dir = manifestDir(root)
    val re = """ckpt_v(\d{8})$""".r
    if (!f.exists(dir)) None
    else
      f.listStatus(dir)
        .filter(s => re.findFirstMatchIn(s.getPath.getName).isDefined &&
          f.exists(new Path(s.getPath, "_SUCCESS")))
        .flatMap(s => re.findFirstMatchIn(s.getPath.getName).map(_.group(1).toInt))
        .maxOption
  }

  /** The manifest WITHOUT its files array, via a streaming token copy that
    * `skipChildren()`s over "files" — O(metadata) driver heap at any file
    * count. Everything else (dirs, schema, constraints, masks, dropped)
    * parses exactly as [[readManifest]] does. */
  private[graft] def readManifestLite(spark: SparkSession, root: String, v: Int): Commit =
    untorn(v)(readManifestLiteOnce(spark, root, v))

  private def readManifestLiteOnce(spark: SparkSession, root: String, v: Int): Commit = {
    val f = fs(spark, root)
    val in = f.open(manifestPath(f, root, v))
    val slim =
      try {
        val factory = new com.fasterxml.jackson.core.JsonFactory()
        val parser = factory.createParser(in: java.io.InputStream)
        val sw = new java.io.StringWriter()
        val gen = factory.createGenerator(sw)
        require(parser.nextToken() == com.fasterxml.jackson.core.JsonToken.START_OBJECT, "manifest must be a JSON object")
        gen.writeStartObject()
        while (parser.nextToken() != com.fasterxml.jackson.core.JsonToken.END_OBJECT) {
          val name = parser.currentName()
          parser.nextToken() // move onto the value
          if (name == "files") parser.skipChildren()
          else {
            gen.writeFieldName(name)
            gen.copyCurrentStructure(parser)
          }
        }
        gen.writeEndObject()
        gen.close()
        sw.toString
      } finally in.close()
    commitFromJson(JsonMethods.parse(slim, useBigDecimalForDouble = true), Seq.empty)
  }

  /** [[prunePlan]] computed DISTRIBUTED from the parquet checkpoint of
    * version `v`: the driver never parses per-file stats — the bounds'
    * compiled proof runs as a UDF over the checkpoint frame (shipped in
    * its closure) and only the path verdicts return. Results are
    * IDENTICAL to the JSON path by construction (same [[boundsProof]],
    * same serde). The dirs/schema metadata comes from
    * [[readManifestLite]]. Requires a checkpoint at exactly `v`
    * ([[checkpoint]] after committing, or plan at [[latestCheckpoint]]). */
  private[graft] def prunePlanCheckpointed(
      spark: SparkSession,
      root: String,
      v: Int,
      bounds: Seq[Bound]): PrunePlan = {
    import org.apache.spark.sql.functions.{col, udf}
    // completeness gate: only the files a complete publish NAMED may plan
    // a scan — a torn dir would silently drop live files from keep/skipped
    // while its parent still "covers" them, and the files would vanish
    // from the result; reading the named set (never a dir listing) also
    // makes a racing re-publish's orphan parts invisible, and a
    // named-but-missing file fails loudly at scan
    val ckptFiles = publishedFiles(fs(spark, root), new Path(dataRoot(root), ckptRel(root, v)))
      .getOrElse(
        sys.error(s"checkpoint at version $v is incomplete (no _SUCCESS); re-run checkpoint()"))
    val lite = readManifestLite(spark, root, v)
    val skips = boundsProof(lite.schemaJson.map(schemaFromJson), bounds).skips
    // a bounds proof reads min/max and Blooms only, so the frame's
    // non-null counts stay unparsed
    val deadFn = udf { (minJ: String, maxJ: String, bloomJ: String) =>
      def m(s: String): Map[String, JValue] =
        JsonMethods.parse(s, useBigDecimalForDouble = true) match {
          case JObject(kvs) => kvs.toMap
          case _ => Map.empty[String, JValue]
        }
      val blooms = m(bloomJ).collect { case (k, JString(b)) => k -> b }
      skips.empty(FileStat("", 0L, m(minJ), m(maxJ), bloom = blooms))
    }
    val verdicts =
      if (ckptFiles.isEmpty) Array.empty[org.apache.spark.sql.Row] // checkpoint of a 0-file manifest
      else
        spark.read
          .parquet(ckptFiles.map(_.toString): _*)
          .select(col("path"), deadFn(col("min"), col("max"), col("bloom")).as("dead"))
          .collect()
    val (skipped, keep) = verdicts.toSeq.map(r => (r.getString(0), r.getBoolean(1))).partition(_._2)
    PrunePlan(keep.map(_._1), skipped.map(_._1), uncovered(lite.dirs, verdicts.map(_.getString(0))))
  }

  /** [[readWhere]] planned THROUGH the parquet checkpoint — the read
    * path for 10⁵–10⁶-file tables: deadness evaluates distributed over
    * the checkpoint frame ([[prunePlanCheckpointed]]), the non-files
    * metadata comes from the streaming lite reader, and the driver never
    * parses per-file stats. Requires a checkpoint at the latest version.
    * Pending merge-on-read masks COMPOSE with checkpointed planning: the
    * lite manifest carries the mask records (bounds, key sidecars, entry
    * lists — O(masked files), not O(all files)), pruning applies to
    * masked entries BEFORE mask application (sound: masks only remove
    * rows, so a file dead under the stats is dead under any mask), and
    * the mask kernel reads only the surviving masked entries. Result ≡
    * [[readWhere]] on any table. */
  def readWhereCheckpointed(spark: SparkSession, root: String, bounds: Seq[Bound]): DataFrame = {
    val v = latestOrFail(spark, root)
    require(
      latestCheckpoint(spark, root).contains(v),
      s"no checkpoint at version $v; run SnapshotTable.checkpoint(spark, root) after committing")
    readWhereCheckpointedAt(spark, root, v, bounds)
  }

  /** The checkpointed read pinned at an ALREADY-RESOLVED version — the
    * internal form [[readWhere]]'s auto-select uses so a commit racing
    * the read can never invalidate the version/checkpoint pair it
    * observed (resolving latest twice would). */
  private def readWhereCheckpointedAt(
      spark: SparkSession,
      root: String,
      v: Int,
      bounds: Seq[Bound]): DataFrame = {
    val lite = readManifestLite(spark, root, v)
    val plan = prunePlanCheckpointed(spark, root, v, bounds)
    readWhereOf(spark, root, lite, plan, bounds)
  }

  /** Time-travel read with manifest-level data skipping: plans the scan
    * over only the files whose recorded [min,max] can intersect `bounds`
    * (plus any pre-stats dirs, read in full), then applies the bounds as a
    * residual row filter — so the result is EXACTLY
    * `readVersion(...).filter(bounds)`, just over fewer files. Skipping is
    * planning-time: at 100 TB the driver decides from one manifest read
    * which files exist for the scan at all — no listing, no footer probes,
    * no tasks for dead files. After [[compact]] range-clusters on the
    * predicate column, a narrow range touches ~1/nFiles of the data. */
  def readVersionWhere(spark: SparkSession, root: String, v: Int, bounds: Seq[Bound]): DataFrame = {
    val m = readManifest(spark, root, v)
    readWhereOf(spark, root, m, prunePlanOf(m, bounds), bounds)
  }

  /** [[readVersionWhere]] over an ALREADY-PARSED manifest + plan — the
    * internal form DML uses so one operation parses each (large) manifest
    * exactly once. */
  private def readWhereOf(
      spark: SparkSession,
      root: String,
      m: Commit,
      plan: PrunePlan,
      bounds: Seq[Bound]): DataFrame = {
    applyBounds(readEntries(spark, root, m, schemaOf(spark, root, m), plan.keep ++ plan.uncoveredDirs), bounds)
  }

  /** A Bloom holding exactly `positions`, encoded as the manifest records it. */
  private[graft] def encodeBloom(positions: Seq[Int]): String =
    WriteStats.bloomEncode(scala.collection.immutable.BitSet(positions: _*))

  /** The snapshot table as a CATALYST-INTEGRATED relation — the name the
    * catalog, the SQL surface and the indexes call [[readVersion]] by:
    * the pushed-down filters of ANY query over the returned frame —
    * `.filter`, a SQL view, a join predicate — skip files through the
    * manifest stats and Blooms at planning time, with no dedicated
    * `readWhere` call. */
  def relationVersion(spark: SparkSession, root: String, v: Int): DataFrame =
    readVersion(spark, root, v)

  /** The manifest as a `HadoopFsRelation` over [[SnapshotFileIndex]] —
    * the Catalyst-pluggable scan every relation surface builds on. Scans
    * PHYSICAL columns (what the files and the manifest stats actually
    * carry); callers with column mapping project logical names on top. */
  private[sinks] def hadoopFsRelation(
      spark: SparkSession,
      root: String,
      m: Commit,
      phys: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val idx = new SnapshotFileIndex(spark, dataRoot(root), m, phys)
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx,
      new org.apache.spark.sql.types.StructType(),
      phys,
      None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)
  }

  /** Every entry of `m` (masks ignored) as a LOGICAL frame: the relation
    * scans PHYSICAL columns, renamed columns surface through the logical
    * projection, and pushed filters rewrite through the aliases back to
    * physical attributes before they reach the FileIndex. */
  private def relationOfManifest(
      spark: SparkSession,
      root: String,
      m: Commit,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    asLogical(spark.baseRelationToDataFrame(hadoopFsRelation(spark, root, m, toPhysical(schema))), schema)

  /** The snapshot as a V1 [[org.apache.spark.sql.sources.BaseRelation]] —
    * what `spark.read.format("snapshot-table")` resolves to (the batch
    * twin of the streaming source; see [[SnapshotSourceProvider]]). The
    * common shape — no pending merge-on-read masks, no renamed columns —
    * IS the manifest-backed `HadoopFsRelation`, so the reader gets the
    * identical plan-time file pruning as [[relation]] (FileSourceStrategy
    * hands pushed filters to [[SnapshotFileIndex]]). A masked or
    * column-mapped snapshot falls back to [[SnapshotBatchRelation]],
    * whose `PrunedFilteredScan` delegation re-enters [[relationVersion]]
    * so pruning still engages per mask group underneath. */
  private[sinks] def batchRelation(
      spark: SparkSession,
      root: String,
      v: Int): org.apache.spark.sql.sources.BaseRelation = {
    val m = readManifest(spark, root, v)
    val schema = schemaOf(spark, root, m)
    if (m.masks.isEmpty && !hasMapping(schema)) hadoopFsRelation(spark, root, m, schema)
    else new SnapshotBatchRelation(spark, root, v, schema)
  }

  /** Latest-version Catalyst-integrated relation — see [[relationVersion]]. */
  def relation(spark: SparkSession, root: String): DataFrame =
    relationVersion(spark, root, latestOrFail(spark, root))

  /** Latest-snapshot read with data skipping — see [[readVersionWhere]].
    * When a COMPLETE checkpoint exists at exactly the latest version
    * (auto-written every [[AutoCheckpointInterval]] commits past
    * [[AutoCheckpointMinFiles]], or explicit [[checkpoint]]), planning
    * auto-selects the DISTRIBUTED checkpointed path — a long-lived table
    * never silently stays on the O(files) driver-side JSON parse —
    * but only ABOVE the measured ~10⁵-file crossover
    * ([[checkpointPreferred]]): below it the checkpoint's fixed job
    * overhead loses to the JSON parse, so a small explicitly-checkpointed
    * table keeps the fast path. Result is identical by construction
    * (same deadness kernel, same serde). */
  def readWhere(spark: SparkSession, root: String, bounds: Seq[Bound]): DataFrame = {
    val v = latestOrFail(spark, root)
    if (latestCheckpoint(spark, root).contains(v) && checkpointPreferred(spark, root, v))
      readWhereCheckpointedAt(spark, root, v, bounds)
    else readVersionWhere(spark, root, v, bounds)
  }

  /** The metadata/scan split behind [[countWhere]]: rows answerable from
    * manifest stats alone vs paths that still need a physical scan.
    * Package-private so the spec can assert the scan set is empty/small. */
  private[graft] final case class CountPlan(metaRows: Long, scanPaths: Seq[String])

  private[graft] def countPlan(spark: SparkSession, root: String, v: Int, bounds: Seq[Bound]): CountPlan =
    countPlanOf(readManifest(spark, root, v), bounds)

  private def countPlanOf(m: Commit, bounds: Seq[Bound]): CountPlan = {
    val proof = boundsProof(m.schemaJson.map(schemaFromJson), bounds)
    val keep = m.files.filterNot(proof.skips.empty)
    // a MASKED file's recorded row count exceeds its live rows: it can
    // never contribute a metadata-only count — route it to the scan side
    val masked = maskedEntrySet(m)
    val (whole, boundary) = keep.partition(f => !masked(f.path) && proof.wholly(f))
    CountPlan(whole.map(_.rows).sum, boundary.map(_.path) ++ uncoveredOf(m))
  }

  /** Count rows matching `bounds` with the manifest as the first-class
    * index: files whose stats PROVE every row matches (range contained,
    * no nulls in the bound columns) contribute their recorded row count
    * with no I/O at all; only boundary files — and pre-stats dirs — are
    * scanned, with the bounds as a residual filter. With no bounds over a
    * fully stats-covered table this is a pure metadata query: count(*) at
    * 100 TB from one manifest read, zero tasks. Exactness is structural:
    * every file lands in exactly one of {skipped: proven 0 matches,
    * whole: proven all-match, scan: counted physically}. */
  def countWhere(spark: SparkSession, root: String, bounds: Seq[Bound]): Long = {
    val m = readManifest(spark, root, latestOrFail(spark, root))
    val plan = countPlanOf(m, bounds)
    val scanned =
      if (plan.scanPaths.isEmpty) 0L
      else {
        applyBounds(readEntries(spark, root, m, schemaOf(spark, root, m), plan.scanPaths), bounds).count()
      }
    plan.metaRows + scanned
  }

  /** Rewrite the live snapshot into `nFiles` range-clustered files on
    * `keyCol` (the [[ParquetLayout]] small-files cure, made SAFE under
    * concurrent readers: the rewrite lands in a fresh data dir and becomes
    * visible only at manifest publish; readers of older versions keep
    * their files until vacuum). Data-identical by construction — publish
    * races with a concurrent append surface as [[ConcurrentCommitException]]
    * rather than lost rows. */
  def compact(spark: SparkSession, root: String, keyCol: String, nFiles: Int): Int = {
    import org.apache.spark.sql.functions.col
    val base = openBase(spark, root)
    // Range-clustering on keyCol is what makes the per-file stats
    // SELECTIVE: disjoint key ranges per file turn a key predicate into
    // near-perfect file skipping.
    val cur = base.readAll
    rewriteAll(base, cur.repartitionByRange(nFiles, col(keyCol)).sortWithinPartitions(keyCol))
  }

  /** Publish the full compaction `df` of `base`'s rows: it keeps no base
    * entry (masks and the dropped-column ledger clear) and, being
    * data-identical, CARRIES the current schema rather than re-deriving it
    * from the rewritten files, with a net row delta of 0. */
  private def rewriteAll(base: Base, df: DataFrame): Int = {
    val (rel, _, stats) = writeData(base.spark, base.root, df, physicalOf = base.mapping)
    publish(base.spark, base.root, base.commit(
      "compact", Nil, Seq(rel), stats, 0L, Nil, Some(schemaJsonOf(base)), None, None, None))
  }

  /** The base's recorded schema, or — on a pre-schema manifest — the
    * nullable schema of its rows as read. */
  private def schemaJsonOf(base: Base): String =
    base.m.schemaJson.getOrElse(
      org.apache.spark.sql.types.StructType(base.rowSchema.map(_.copy(nullable = true))).json)

  /** PARTIAL compaction — `OPTIMIZE ... WHERE`: re-cluster ONLY the files
    * whose stats intersect `bounds` (plus stat-less dirs, conservatively),
    * carrying every other file forward untouched. At 100 TB a whole-table
    * [[compact]] is not a runnable unit of work — real maintenance walks
    * the table one key range at a time (yesterday's ingest partition, one
    * tenant, one cluster edge), each range an independent atomic commit,
    * resumable and schedulable. Data-identical on live rows (commits as
    * action "compact": invisible to the stream and the CDC feed, like
    * full compaction), reads THROUGH pending masks and clears them on the
    * rewritten entries (partial mask reconciliation — untouched files
    * keep theirs). Built on the same stats-pruned rewrite core as
    * copy-on-write DML ([[dmlRewrite]]), so the I/O is ∝ the selected
    * range, never the table. */
  def compactWhere(
      spark: SparkSession,
      root: String,
      bounds: Seq[Bound],
      keyCol: String,
      nFiles: Int = 0): Int = {
    import org.apache.spark.sql.functions.col
    require(bounds.nonEmpty, "compactWhere needs bounds; use compact for the whole table")
    val k = col("`" + keyCol + "`")
    dmlRewrite(spark, root, bounds, "compact", dropWholly = false, skipIfNoWork = true) {
      (src, selected) =>
        // nFiles <= 0 → size the output from the SELECTED bytes at a
        // ~128MB target (a range covering hundreds of GB must not
        // collapse into one unsplittable file; a small range must not
        // fragment into core-count shards)
        val n =
          if (nFiles > 0) nFiles
          else {
            val bytes = selected.map(f => math.max(f.bytes, 0L)).sum
            math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
          }
        src.repartitionByRange(n, k).sortWithinPartitions(k)
    }
  }

  /** AUTO-COMPACTION of SMALL files — bin-packing, the maintenance half
    * of the small-files problem a streaming sink creates (an epoch every
    * 30 s is ~3k files/day of kilobyte parquet; at 1000 executors the
    * scan's task-launch overhead swamps the I/O). Selects the stat-ed
    * live files under `smallBytes` straight off the manifest (zero I/O
    * to decide), reads ONLY them, and rewrites them into
    * ~`targetBytes`-sized files via a round-robin `repartition` — the
    * shuffle moves only the SMALL files' bytes, and it is what keeps the
    * read parallel (a `coalesce` to the handful of output files would
    * serialize the scan of thousands of inputs into that many tasks —
    * measured 5× slower than this shape at 2k files). The pass costs one
    * parallel read + small shuffle + write of the small files
    * themselves, never the table. Files at or above the
    * threshold, and stat-less legacy dirs (size unknown), carry forward
    * untouched with their masks; rewritten entries reconcile theirs
    * (reads are mask-aware). Data-identical on live rows — commits as
    * action "compact", invisible to the append stream and the CDC feed.
    * No-ops without a version bump when fewer than `minFiles` small
    * files exist. SQL: bare `OPTIMIZE <t>` (Delta's default bin-packing;
    * clustering shapes are the ZORDER / WHERE...CLUSTER BY forms). */
  def compactSmall(
      spark: SparkSession,
      root: String,
      smallBytes: Long = 32L * 1024 * 1024,
      targetBytes: Long = 128L * 1024 * 1024,
      minFiles: Int = 2): Int = {
    require(smallBytes > 0 && targetBytes >= smallBytes,
      "need 0 < smallBytes <= targetBytes (a 'small' file must fit its target)")
    require(minFiles >= 2, "compacting fewer than 2 files cannot shrink the file count")
    val base = openBase(spark, root)
    val m = base.m
    val uncovered = uncoveredOf(m)
    // unsized entries (bytes < 0, pre-size manifests) are NOT small —
    // size unknown means carry, the same conservatism the planner applies
    val (small, big) = m.files.partition(f => f.bytes >= 0 && f.bytes < smallBytes)
    if (small.size < minFiles) return base.version
    val src = base.read(small.map(_.path))
    val nOut = math.max(1, math.ceil(small.map(_.bytes).sum / targetBytes.toDouble).toInt)
    val (rel, n, stats) = writeData(spark, root, src.repartition(nOut), m.constraints, base.mapping)
    // untouched files AND stat-less dirs keep their masks (neither was
    // rewritten); the rewritten small files' masks are satisfied. The net
    // delta is zero BY CONSTRUCTION (the write is the mask-aware read of
    // the packed files) — computing it would cost a second scan.
    publish(spark, root, base.commit(
      "compact", big.map(_.path) ++ uncovered, if (n > 0) Seq(rel) else Nil, stats, 0L, Nil,
      Some(schemaJsonOf(base)), None, None, None))
  }

  /** Multi-column clustering compaction — the OPTIMIZE ZORDER core. A
    * single-key [[compact]] makes per-file ranges tight on ONE column;
    * predicates on any other column touch every file. Z-ordering interleaves
    * the bits of each column's QUANTILE-bucket rank into one clustering key,
    * so every clustered column's values vary only locally along the curve
    * and per-file [min,max] stay narrow on ALL of them — a range predicate
    * on any one clustered column then skips most files via the manifest
    * stats [[readWhere]] already consumes.
    *
    * Quantile bucketing (not value scaling) is what makes this skew-proof:
    * each column's axis is its RANK, so a heavy-hitter value occupies many
    * buckets' worth of rows but the curve still splits the other columns
    * within it. Cuts come from one `approxQuantile` pass (driver holds
    * 2^bits-1 doubles per column — model-sized). The per-row z-value is a
    * compiled binary search + bit interleave over the broadcast cuts; a UDF
    * is the right tool here (a 255-branch `when` chain per column would
    * blow codegen), and it runs once per row on the WRITE path only.
    *
    * Supported clustering columns: numeric, date, timestamp (monotone cast
    * to a double axis), and STRING via an order-preserving fixed-width
    * prefix key: the first 6 UTF-8 bytes, zero-padded, read as a 48-bit
    * big-endian unsigned integer (exact in a double; UTF-8 byte order IS
    * code-point order, so the key is monotone in the string — hashing
    * would destroy the range locality z-ordering exists to create).
    * Strings sharing a ≥6-byte prefix tie on the axis and cluster
    * together — quantile bucketing still splits the OTHER columns within
    * the tie, and per-file [min,max] string stats stay narrow in prefix,
    * which is exactly what range and LIKE-prefix predicates prune on.
    * Nulls cluster at bucket 0 (stats omit them anyway; see
    * [[FileStat]]). */
  def compactZOrder(spark: SparkSession, root: String, cols: Seq[String], nFiles: Int): Int = {
    import org.apache.spark.sql.functions.{col, conv, datediff, encode, hex, lit, rpad, substring, to_date, udf, unix_micros}
    import org.apache.spark.sql.types._
    require(cols.nonEmpty && cols.size <= 8, s"z-order over 1..8 columns, got ${cols.size}")
    val base = openBase(spark, root)
    val cur = base.readAll
    val bits = math.min(8, 63 / cols.size)
    val nCuts = (1 << bits) - 1
    def axis(name: String): org.apache.spark.sql.Column = {
      val dt = cur.schema.fields
        .find(_.name == name)
        .getOrElse(sys.error(s"no column '$name' in table schema"))
        .dataType
      dt match {
        case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
            _: DecimalType =>
          col("`" + name + "`").cast("double")
        case DateType => datediff(col("`" + name + "`"), to_date(lit("1970-01-01"))).cast("double")
        case TimestampType => unix_micros(col("`" + name + "`")).cast("double")
        case StringType =>
          // first 6 UTF-8 bytes → zero-padded hex → 48-bit unsigned value:
          // rpad of the HEX string with '0' is zero-BYTE padding, so short
          // strings sort before their extensions ("a" < "aa" survives)
          conv(rpad(hex(substring(encode(col("`" + name + "`"), "UTF-8"), 1, 6)), 12, "0"), 16, 10)
            .cast("double")
        case other => sys.error(s"z-order needs a rangeable column; '$name' is ${other.sql}")
      }
    }
    val axisNames = cols.indices.map(i => s"__zx$i")
    val proj = cols.zip(axisNames).foldLeft(cur) { case (df, (c, a)) => df.withColumn(a, axis(c)) }
    val probs = (1 to nCuts).map(_.toDouble / (nCuts + 1)).toArray
    val cuts: Array[Array[Double]] =
      proj.stat.approxQuantile(axisNames.toArray, probs, 0.001)
    val zUdf = udf { (xs: Seq[java.lang.Double]) =>
      var z = 0L
      var c = 0
      while (c < xs.length) {
        val x = xs(c)
        val bucket =
          if (x == null) 0
          else {
            // first cut strictly greater than x = the bucket index
            val cc = cuts(c)
            var lo = 0; var hi = cc.length
            while (lo < hi) { val mid = (lo + hi) >>> 1; if (cc(mid) <= x) lo = mid + 1 else hi = mid }
            lo
          }
        var b = 0
        while (b < bits) { // MSB-first interleave: column c contributes bit (bits-1-b)
          if ((bucket & (1 << (bits - 1 - b))) != 0)
            z |= 1L << ((bits - 1 - b).toLong * xs.length + (xs.length - 1 - c))
          b += 1
        }
        c += 1
      }
      z
    }
    val clustered = proj
      .withColumn("__z", zUdf(org.apache.spark.sql.functions.array(axisNames.map(col): _*)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop(axisNames :+ "__z": _*)
    rewriteAll(base, clustered)
  }

  // ──────────────────── row-level DML (copy-on-write) ────────────────────

  /** Shared copy-on-write rewrite behind [[deleteWhere]]/[[updateWhere]]:
    * classify the live files against `bounds` via the manifest stats, carry
    * the provably-unmatched files forward as individual entries (zero I/O),
    * optionally DROP the provably-all-matching files with zero I/O
    * (`dropWholly`, the delete fast path), and rewrite only the rest
    * through `transform`. Publishes one atomic commit whose `addedRows` is
    * the commit's NET row delta (negative for deletes).
    *
    * A DML caller (`tagged`) makes `transform` return the tagged frame of
    * [[writeRewrite]] — its data rows and change rows from one scan — and
    * that ONE write yields the delta and, with write-time CDC on
    * ([[Cdc]]), the commit's change sidecar. A maintenance caller's
    * `transform` returns the data rows alone, and the delta counts the
    * rewrite set's live rows ([[Base.liveRows]]: their recorded stats, or
    * a count when a scanned file is masked). */
  private def dmlRewrite(
      spark: SparkSession,
      root: String,
      bounds: Seq[Bound],
      action: String,
      dropWholly: Boolean,
      skipIfNoWork: Boolean = false,
      // `transform` tags its change rows ([[writeRewrite]]) — false for
      // maintenance callers whose commits are data-identical
      tagged: Boolean = false)(
      transform: (DataFrame, Seq[FileStat]) => DataFrame): Int = {
    val base = openBase(spark, root)
    val m = base.m
    val schema = base.schema
    val proof = boundsProof(schema, bounds)
    val (untouched, candidates) = m.files.partition(proof.skips.empty)
    val uncovered = uncoveredOf(m)
    // a MASKED file may still be dropped wholly: its physical rows are a
    // superset of its live rows, so "stats prove every physical row
    // matches" proves every LIVE row matches too
    val (dropped, rewrite) =
      if (dropWholly) candidates.partition(proof.wholly)
      else (Seq.empty[FileStat], candidates)
    // maintenance callers (compactWhere): a selection touching nothing is
    // a no-op, not an empty version bump — decided HERE, on the same plan
    // the rewrite uses (no separate pre-check, no TOCTOU window)
    if (skipIfNoWork && rewrite.isEmpty && dropped.isEmpty && uncovered.isEmpty)
      return base.version
    val scanPaths = rewrite.map(_.path) ++ uncovered
    // write-time CDC ([[Cdc]]): with capture on, the commit records the
    // delta of exactly the files it scans; wholly-dropped files stay
    // UNCAPTURED by design (zero-I/O drop preserved — every live row is
    // a delete, the reader reads them directly)
    var cdcRec: Option[Cdc] =
      if (tagged && cdcOnWrite(spark)) Some(Cdc(scanPaths, None, Seq.empty))
      else None
    val (newDirs, newStats, delta) =
      if (scanPaths.isEmpty) (Seq.empty[String], Seq.empty[FileStat], 0L)
      else {
        // rewrites read THROUGH pending masks — a copy-on-write pass over
        // a merge-on-read table must not resurrect masked rows (the
        // rewritten files' masks are thereby satisfied and cleared below)
        val src = base.read(scanPaths)
        val (rel, n, stats, delta) =
          if (tagged) {
            val w = writeRewrite(spark, root, transform(src, rewrite), m.constraints, base.mapping, cdcRec.isDefined)
            cdcRec = cdcRec.map(_.copy(chDir = w.chDir))
            (w.rel, w.rows, w.stats, w.net)
          } else {
            val before = base.liveRows(scanPaths, src)
            val (rel, n, stats) = writeData(spark, root, transform(src, rewrite), m.constraints, base.mapping)
            (rel, n, stats, n - before)
          }
        // an all-rows-deleted rewrite leaves no dir (the empty orphan vacuums away)
        if (n == 0) (Seq.empty[String], Seq.empty[FileStat], delta)
        else (Seq(rel), stats, delta)
      }
    // masks survive only on the carried-forward files; rewritten/dropped
    // entries leave their masks (satisfied), emptied masks disappear and
    // their sidecars become vacuumable
    publish(spark, root, base.commit(
      action, untouched.map(_.path), newDirs, newStats, delta - base.droppedRows(dropped), Nil,
      Some(schemaJsonOf(base)), None, None, cdcRec))
  }

  /** Delete the rows matching `bounds` — Delta-style copy-on-write DML with
    * the manifest stats as the WRITE-side index: files whose [min,max]
    * provably exclude the predicate carry forward untouched (listed as
    * individual file entries — zero read, zero write); files whose stats
    * prove EVERY row matches (range contained, no nulls in the bound
    * columns) are dropped with no I/O at all; only boundary files are read
    * and rewritten without the matching rows. A date-range purge on a
    * range-clustered 100-TB table therefore rewrites ~one file per cluster
    * edge, not the table. Rows with null in a bound column never match a
    * range predicate and are always kept (see [[matchCol]] — consistent
    * with [[countWhere]]). Atomic: publishes via the same create-if-absent
    * manifest protocol; readers pinned at older versions keep the old
    * files until [[vacuum]]. Returns the new version. */
  def deleteWhere(spark: SparkSession, root: String, bounds: Seq[Bound]): Int = {
    require(bounds.nonEmpty, "deleteWhere with no bounds would drop the whole table; use overwrite")
    deleteRows(spark, root, bounds, matchCol(bounds), dropWholly = true)
  }

  /** Update rows matching `bounds`: each column in `set` becomes its new
    * expression on matching rows (cast back to the column's table type, so
    * an update can never silently change the schema) and stays itself
    * elsewhere. Same copy-on-write economics as [[deleteWhere]], except
    * wholly-matching files are rewritten too (every row changes). */
  def updateWhere(
      spark: SparkSession,
      root: String,
      bounds: Seq[Bound],
      set: Map[String, org.apache.spark.sql.Column]): Int = {
    require(bounds.nonEmpty, "updateWhere needs a predicate; for all rows use overwrite")
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    updateRows(spark, root, bounds, matchCol(bounds), set)
  }

  /** Generalized DELETE behind the SQL router ([[SnapshotSql]]): `cond`
    * is an ARBITRARY boolean condition; `pruneBounds` is its widened
    * range skeleton, used ONLY to prune candidate files (widening keeps a
    * superset of the matching files — safe) — the whole-file fast-drop
    * stays off, because only an exact bound translation may prove "every
    * row matches". Rows where `cond` is null never match (same
    * three-valued-logic contract as [[matchCol]]). */
  private[graft] def deleteExpr(
      spark: SparkSession,
      root: String,
      cond: org.apache.spark.sql.Column,
      pruneBounds: Seq[Bound]): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    deleteRows(spark, root, pruneBounds, coalesce(cond, lit(false)), dropWholly = false)
  }

  /** Generalized UPDATE twin of [[deleteExpr]] — arbitrary condition,
    * widened-bounds pruning, single-projection SET evaluation against the
    * OLD row (identical semantics to [[updateWhere]]). */
  private[graft] def updateExpr(
      spark: SparkSession,
      root: String,
      cond: org.apache.spark.sql.Column,
      pruneBounds: Seq[Bound],
      set: Map[String, org.apache.spark.sql.Column]): Int = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    updateRows(spark, root, pruneBounds, coalesce(cond, lit(false)), set)
  }

  /** The copy-on-write DELETE body of [[deleteWhere]] and [[deleteExpr]]:
    * `matches` is the null-free row predicate; `dropWholly` (exact bounds
    * only) lets stats-proven all-match files drop with no I/O. */
  private def deleteRows(
      spark: SparkSession,
      root: String,
      pruneBounds: Seq[Bound],
      matches: org.apache.spark.sql.Column,
      dropWholly: Boolean): Int = {
    import org.apache.spark.sql.functions.{lit, when}
    // a matching row is its delete, any other row a data row
    dmlRewrite(spark, root, pruneBounds, "delete", dropWholly, tagged = true)(
      (src, _) => src.withColumn(CdcTypeCol, when(matches, lit("delete"))))
  }

  /** The copy-on-write UPDATE body of [[updateWhere]] and [[updateExpr]]
    * (`matches` is the null-free row predicate). */
  private def updateRows(
      spark: SparkSession,
      root: String,
      pruneBounds: Seq[Bound],
      matches: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Int = {
    import org.apache.spark.sql.functions.{array, col, inline, when}
    // a matched row yields its post-image as a data row plus its
    // delete/insert pair, any other row itself — one generator over one
    // scan of the rewrite set
    dmlRewrite(spark, root, pruneBounds, "update", dropWholly = false, tagged = true) { (src, _) =>
      set.foreach { case (name, _) =>
        require(src.columns.contains(name), s"UPDATE SET column '$name' is not in the table schema")
      }
      val pre = src.schema.fields.map(f => col("`" + f.name + "`").as(f.name)).toSeq
      // ONE projection: every SET expression evaluates against the OLD row
      // (SQL UPDATE semantics) — sequential withColumn would feed later
      // SETs already-updated values, making a column swap silently wrong
      // and the outcome Map-iteration-order-dependent
      val post = src.schema.fields.map(f =>
        set.get(f.name).map(_.cast(f.dataType).as(f.name)).getOrElse(col("`" + f.name + "`").as(f.name))).toSeq
      src.select(inline(
        when(matches, array(fate(post, None), fate(pre, Some("delete")), fate(post, Some("insert"))))
          .otherwise(array(fate(pre, None)))))
    }
  }

  /** Exact touched-file discovery — the Delta MERGE find-touched-files
    * join of [[mergeInto]]: the files of
    * `candidates` that CONTAIN a key of `srcKeys`, found by a key-only
    * columnar scan (plus the file name) semi-joined to the source keys.
    * The scan reads THROUGH pending merge-on-read masks: a masked-out row
    * must not count as a match (its file may then carry forward and the
    * masked row stays hidden, instead of being resurrected by a rewrite). */
  private def touchedFiles(
      spark: SparkSession,
      root: String,
      m: Commit,
      schema: org.apache.spark.sql.types.StructType,
      candidates: Seq[String],
      keyCols: Seq[String],
      srcKeys: DataFrame): Set[String] =
    if (candidates.isEmpty) Set.empty
    else {
      import org.apache.spark.sql.functions.col
      readEntries(spark, root, m, schema, candidates, withFileName = true)
        .select(keyCols.map(k => col("`" + k + "`")) :+ col("__file"): _*)
        .join(srcKeys, keyCols, "left_semi")
        .select("__file")
        .distinct()
        .collect()
        .map(_.getString(0))
        .flatMap(uri => candidates.find(rel => uri.endsWith(rel)))
        .toSet
    }

  /** A keyed statement's source as [[writeSource]] landed it: the data
    * dir, its rows and per-file stats, the dir read back in logical names,
    * and the per-key envelope [min, max] that prunes candidate files. */
  private final case class KeyedSource(
      rel: String,
      rows: Long,
      stats: Seq[FileStat],
      df: DataFrame,
      bounds: Seq[Bound]) {

    /** Every key is null in every row (or there is no row): the source
      * matches nothing. */
    def keyless: Boolean = bounds.forall(b => b.lower.isEmpty && b.upper.isEmpty)
  }

  /** Write the source of a keyed statement ([[mergeInto]],
    * [[mergeUpsertMor]], [[deleteMatchedMor]]) ONCE, as a fresh data dir
    * under `schema`'s types and physical names with `constraints` proved,
    * and read it back: every later stage — envelope, touched-file probe,
    * joins, key sidecar — sees the written files, so a non-deterministic
    * source (ORDER BY rand() LIMIT n, a subquery over a changing table) is
    * evaluated once and every stage agrees on its keys. The envelope comes
    * from the write's own stats ([[statsEnvelope]]); only a key whose
    * stats lack a [min, max] costs the aggregate [[keyEnvelope]] over the
    * written dir. The dir is referenced by no manifest until a commit adds
    * it ([[vacuum]] reclaims it otherwise). */
  private def writeSource(
      base: Base,
      source: DataFrame,
      keyCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      constraints: Map[String, String]): KeyedSource = {
    val Base(spark, root, _, _) = base
    val mapping = mappingOf(schema)
    val (rel, n, stats) = writeData(spark, root, source, constraints, mapping)
    val written =
      org.apache.spark.sql.types.StructType(schema.fields.filter(f => source.columns.contains(f.name)))
    val df = relationOfManifest(spark, root, EmptyVersion.copy(dirs = Seq(rel), files = stats), written)
    val bounds =
      if (n == 0) keyCols.map(Bound(_, None, None))
      else statsEnvelope(written, mapping, stats, keyCols).getOrElse(keyEnvelope(df, keyCols))
    KeyedSource(rel, n, stats, df, bounds)
  }

  /** Upsert `source` by `keyCols` — [[mergeInto]] with the canonical
    * clause set ([[isUpsert]]): target rows whose key appears in `source`
    * are replaced wholesale by the source row; all other source rows
    * insert. `source` should be key-unique (duplicate-key source rows all
    * land, the caveat Delta raises as an error); null-keyed source rows
    * never match (equi-join semantics) and simply insert; columns
    * `source` omits read as null on replaced rows; new source columns
    * evolve the schema like append ([[mergeSchemas]]). Returns the new
    * version (or the current one for an empty source — a no-op). */
  def mergeUpsert(spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String]): Int =
    mergeInto(spark, root, source, keyCols, UpsertMatched, UpsertNotMatched)

  /** EXACTLY-ONCE streaming UPSERT — the `foreachBatch` CDC-apply
    * contract, [[appendBatchExactlyOnce]]'s MERGE sibling: the micro-batch
    * id rides the merge commit's manifest, so a replayed epoch (restart,
    * retry, speculative driver) finds its batchId already committed and
    * becomes a no-op — each epoch's upsert applies exactly once however
    * many times the batch reruns. A lost publish race RERUNS the whole
    * merge against the new latest version ([[upsertEpoch]]) — the rewrite
    * set must be re-derived, a stale one could resurrect rows a concurrent
    * commit replaced. Orphaned dirs of lost attempts are reclaimed by
    * [[vacuum]]. */
  def upsertBatchExactlyOnce(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      batchId: Long,
      appId: Option[String] = None): Int =
    upsertEpoch(
      mergeInto(spark, root, source, keyCols, UpsertMatched, UpsertNotMatched, batchId = Some(batchId), appId = appId))

  /** The retry loop of both keyed epoch upserts: `merge` checks its own
    * epoch first (a replayed epoch, or one whose earlier attempt won a
    * race it saw as lost, returns the committed version); a lost publish
    * race re-runs it against the new latest version, capped at 20
    * attempts (the orphaned dirs of lost attempts vacuum away). */
  private def upsertEpoch(merge: => Int): Int = {
    var attempts = 0
    while (true) {
      try return merge
      catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          if (attempts >= 20) throw e
      }
    }
    -1 // unreachable
  }

  /** `foreachBatch` adapter for streaming upsert: `stream.writeStream
    * .foreachBatch(SnapshotTable.streamUpsert(root, keys)).start()`. */
  def streamUpsert(root: String, keyCols: Seq[String]): (DataFrame, Long) => Unit =
    (batch, id) => {
      upsertBatchExactlyOnce(
        batch.sparkSession, root, batch, keyCols, id, streamingQueryId(batch.sparkSession))
      ()
    }

  // ───────────── general MERGE (conditional / multi-action) ─────────────

  /** One WHEN clause of [[mergeInto]]. Conditions and expression values
    * are SQL TEXT over the two row aliases (target columns as
    * `<targetAlias>.col`, source as `<sourceAlias>.col`) — the natural
    * bridge from parsed MERGE statements, and unambiguous for
    * programmatic callers. `set`/`values` = None is the star form. */
  sealed trait MergeClause { def condition: Option[String] }

  /** `WHEN MATCHED [AND condition] THEN UPDATE SET ...`. `set = None` is
    * `SET *`: every column the SOURCE carries assigns from the source
    * row; columns the source omits keep their target value (Delta's
    * star-expansion) — except in the canonical upsert ([[isUpsert]]),
    * whose unconditional `SET *` replaces the whole row, so omitted
    * columns read null. */
  final case class MatchedUpdate(condition: Option[String], set: Option[Map[String, String]])
      extends MergeClause

  /** `WHEN MATCHED [AND condition] THEN DELETE`. */
  final case class MatchedDelete(condition: Option[String]) extends MergeClause

  /** `WHEN NOT MATCHED [AND condition] THEN INSERT ...`. `values = None`
    * is `INSERT *` (source columns by name; table columns the source
    * omits insert null). Conditions may reference the source alias only —
    * there is no target row to see. */
  final case class NotMatchedInsert(condition: Option[String], values: Option[Map[String, String]])
      extends MergeClause

  /** The canonical upsert's clauses: `WHEN MATCHED THEN UPDATE SET *`
    * and `WHEN NOT MATCHED THEN INSERT *`. */
  private[sinks] val UpsertMatched: Seq[MergeClause] = Seq(MatchedUpdate(None, None))
  private[sinks] val UpsertNotMatched: Seq[NotMatchedInsert] = Seq(NotMatchedInsert(None, None))

  /** True iff a clause set is the canonical upsert — [[UpsertMatched]],
    * [[UpsertNotMatched]] and no BY SOURCE clause: every source row lands
    * as is and replaces the target row of its key. The one test of that
    * shape; the DML router ([[SnapshotDml]]) and [[mergeInto]] both ask
    * it. */
  private[sinks] def isUpsert(
      matched: Seq[MergeClause],
      notMatched: Seq[NotMatchedInsert],
      notMatchedBySource: Seq[MergeClause]): Boolean =
    matched == UpsertMatched && notMatched == UpsertNotMatched && notMatchedBySource.isEmpty

  /** MERGE — the full Delta-shaped statement: matched target rows walk the
    * `matched` clauses IN ORDER and the first clause whose condition
    * holds applies (update or delete; none → the row carries unchanged);
    * source rows matching NO target key walk `notMatched` the same way
    * (none → the row does not land); target rows matching NO source key
    * walk `notMatchedBySource` (conditional UPDATE with an explicit SET
    * list, or DELETE — conditions see the target row only; `SET *` is
    * meaningless without a source row and refused).
    *
    * The source is written once ([[writeSource]]). The rewrite set is
    * found in two stages, both bounded: (1) envelope prune — the
    * source's per-key [min, max], from its write's stats, rules out with
    * zero I/O every file whose key range can't intersect it; (2) exact
    * touched-file discovery — a key-column-ONLY scan of the surviving
    * candidates semi-joined to the source keys ([[touchedFiles]]) names
    * the files that actually CONTAIN a matched key, so a source whose new
    * keys widen the envelope still rewrites only the files with real
    * matches, and a merge against a key-clustered 100-TB table rewrites
    * only those; the not-matched anti-join reads key columns of the
    * candidate files only.
    *
    * The canonical upsert ([[isUpsert]], what [[mergeUpsert]] calls)
    * lands its source dir AS IS — the source write proves the CHECKs —
    * and rewrites each touched file as its unmatched rows; its change
    * capture is the source dir as the insert set plus the replaced rows'
    * pre-images, which leave in the rewrite's own write: one existence
    * join flags each target row matched or not ([[flagMatched]]). Every
    * other clause set writes one new dir of survivors and inserts, its
    * per-clause change rows riding the same write ([[writeRewrite]]).
    *
    * `notMatchedBySource` clauses are the expensive shape by
    * NATURE (any file may hold unmatched rows): their rewrite set is
    * every file that can possibly satisfy a clause condition —
    * `nmbsPruneBounds` carries each clause's widened range skeleton for
    * manifest-stat pruning (the SQL router derives it automatically), and
    * with no prunable skeleton the WHOLE table rewrites, the same honest
    * cost Delta pays. Clause conditions are evaluated ROW-LEVEL on the
    * joined (target × source) pair — null conditions never apply a clause
    * (SQL three-valued logic). `source` should be key-unique (a
    * duplicate-key source multiplies its matched target row — the same
    * caveat Delta raises as an error); null-keyed source rows match
    * nothing. New source columns evolve the schema like append. An EMPTY
    * source no-ops unless `notMatchedBySource` is present (then every
    * target row is by definition unmatched — `WHEN NOT MATCHED BY SOURCE
    * THEN DELETE` against an empty source clears the table, the SQL
    * semantics). `batchId` makes the merge an exactly-once epoch of
    * writer `appId`. Returns the new version (or the current one when
    * nothing changed). */
  def mergeInto(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      matched: Seq[MergeClause],
      notMatched: Seq[NotMatchedInsert],
      targetAlias: String = "t",
      sourceAlias: String = "s",
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      nmbsPruneBounds: Seq[Seq[Bound]] = Seq.empty,
      batchId: Option[Long] = None,
      appId: Option[String] = None): Int = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    // exactly-once epochs (the appendBatchExactlyOnce contract): a replayed
    // batch finds its id already committed and no-ops — the streaming
    // upsert and the incremental MV refresh ([[SnapshotMv]]) ride this to
    // make crash-replays safe. STRICT identity like every dedup site
    // ([[epochCommitted]]): another writer's epoch that happens to share
    // this number must not swallow the merge (an adopted skip would
    // silently lose the MV refresh while carrySync advances).
    batchId.foreach { b =>
      epochCommitted(spark, root, b, appId).foreach(v => return v)
    }
    require(
      matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "mergeInto needs at least one WHEN clause")
    matched.foreach {
      case _: MatchedUpdate | _: MatchedDelete => ()
      case other => sys.error(s"matched clauses must be MatchedUpdate or MatchedDelete, got $other")
    }
    notMatchedBySource.foreach {
      case MatchedUpdate(_, None) =>
        sys.error("WHEN NOT MATCHED BY SOURCE THEN UPDATE needs an explicit SET list (there is no source row to expand SET * from)")
      case _: MatchedUpdate | _: MatchedDelete => ()
      case other => sys.error(s"not-matched-by-source clauses must be MatchedUpdate or MatchedDelete, got $other")
    }
    // a BY SOURCE clause has NO source row: a condition or SET value
    // referencing the source alias would evaluate against all-NULLs —
    // the condition silently never applies, the SET writes NULL. Spark's
    // own MERGE raises an analysis error here; refuse the same way
    // (qualified references only — an unqualified name that happens to
    // exist on both sides fails loudly at analysis anyway).
    notMatchedBySource.foreach { cl =>
      val texts = cl.condition.toSeq ++ (cl match {
        case MatchedUpdate(_, Some(set)) => set.values.toSeq
        case _ => Seq.empty
      })
      texts.foreach { txt =>
        spark.sessionState.sqlParser.parseExpression(txt).foreach {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.length > 1 && a.nameParts.head.equalsIgnoreCase(sourceAlias) =>
            sys.error(
              s"NOT MATCHED BY SOURCE clause references the source alias '$sourceAlias' " +
                s"(${a.sql}) — there is no source row on these rows; reference target columns only")
          case _ => ()
        }
      }
    }
    val base = openBase(spark, root)
    val m = base.m
    val priorSchema = base.schema
    val evolved = evolvedSchema(priorSchema, source.schema)
    val evolvedStruct = schemaFromJson(evolved)
    val evolvedMapping = mappingOf(evolvedStruct)
    keyCols.foreach(k =>
      require(evolvedStruct.fieldNames.contains(k), s"no key column '$k' in the merged schema"))
    (matched ++ notMatchedBySource).foreach {
      case MatchedUpdate(_, Some(set)) =>
        set.keys.foreach(k =>
          require(evolvedStruct.fieldNames.contains(k), s"UPDATE SET column '$k' is not in the table schema"))
      case _ => ()
    }
    notMatched.foreach {
      case NotMatchedInsert(_, Some(vals)) =>
        vals.keys.foreach(k =>
          require(evolvedStruct.fieldNames.contains(k), s"INSERT column '$k' is not in the table schema"))
      case _ => ()
    }
    def q(n: String) = col("`" + n + "`")
    val srcColumns = source.columns.toSet
    val upsert = isUpsert(matched, notMatched, notMatchedBySource)
    // the canonical upsert lands its source dir as is, so that write
    // proves the CHECKs; any other clause set proves them on its output
    val src = writeSource(base, source, keyCols, evolvedStruct, if (upsert) m.constraints else Map.empty)
    // an empty source matches and inserts nothing — but with BY SOURCE
    // clauses every target row is unmatched, so the merge must still run
    if (src.rows == 0 && notMatchedBySource.isEmpty) return base.version
    // source aligned to the evolved width (missing columns null) — the
    // single source frame every stage (probe, join, insert) reuses
    val srcNorm = src.df.select(evolvedStruct.fields.map { f =>
      if (srcColumns(f.name)) q(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val srcKeys = srcNorm.select(keyCols.map(q): _*)
    // stage 1: zero-I/O envelope prune on the source's key ranges. All-null
    // source keys match nothing, but pre-stats dirs must still be CARRIED
    // (an invented empty uncovered set would silently drop them from the
    // manifest): the real prune runs with no bounds
    val plan = prunePlanOf(m, if (src.keyless) Seq.empty else src.bounds)
    val candidates = plan.keep ++ plan.uncoveredDirs
    // stage 2: exact touched-file discovery (matched clauses only)
    val touched =
      if (matched.isEmpty || src.rows == 0) Set.empty[String]
      else touchedFiles(spark, root, m, base.rowSchema, plan.keep, keyCols, srcKeys)
    if (upsert) {
      // touched files rewrite as their unmatched rows; stat-less dirs pay
      // an identity rewrite. Write-time CDC ([[Cdc]]): the source dir IS
      // the insert set (every source row lands), and the delete
      // pre-images (replaced target rows) ride the rewrite's own write —
      // each target row is flagged matched or not in one pass, a matched
      // one leaves as its delete, the rest as survivors
      val rewritePaths = touched.toSeq.sorted ++ plan.uncoveredDirs
      var cdcRec: Option[Cdc] =
        if (cdcOnWrite(spark)) Some(Cdc(rewritePaths, None, Seq(src.rel)))
        else None
      val (survDirs, survStats, replaced) =
        if (rewritePaths.isEmpty) (Seq.empty[String], Seq.empty[FileStat], 0L)
        else {
          val tgt = base.read(rewritePaths)
          // survivor columns keys first, as the source dir writes them
          val cols = (keyCols ++ tgt.columns.filterNot(keyCols.contains)).map(q)
          val flag = "__graft_matched"
          val tagged = flagMatched(tgt, srcKeys, keyCols, flag)
            .select(cols :+ when(col(flag), lit("delete")).as(CdcTypeCol): _*)
          val w = writeRewrite(spark, root, tagged, m.constraints, evolvedMapping, cdcRec.isDefined)
          cdcRec = cdcRec.map(_.copy(chDir = w.chDir))
          if (w.rows == 0) (Seq.empty[String], Seq.empty[FileStat], -w.net)
          else (Seq(w.rel), w.stats, -w.net)
        }
      // masks carry on untouched files only; rewritten entries leave theirs
      return publish(spark, root, base.commit(
        "merge", m.files.map(_.path).filterNot(touched), survDirs :+ src.rel, survStats ++ src.stats,
        src.rows - replaced, Nil, Some(evolved), batchId, appId, cdcRec))
    }
    // BY SOURCE rewrite set: every file that can possibly hold a row
    // satisfying some clause condition — pruned through each clause's
    // widened range skeleton when one exists, the whole table otherwise
    // (the clause's honest cost; unconditional delete-unmatched IS a
    // full-table rewrite minus the provably-matched files, which stats
    // cannot prove)
    val nmbsFiles: Set[String] =
      if (notMatchedBySource.isEmpty) Set.empty
      else if (nmbsPruneBounds.size == notMatchedBySource.size && nmbsPruneBounds.forall(_.nonEmpty))
        nmbsPruneBounds.flatMap(b => prunePlanOf(m, b).keep).toSet
      else m.files.map(_.path).toSet
    val rewriteSet = touched ++ nmbsFiles
    val rewritePaths =
      if (matched.isEmpty && notMatchedBySource.isEmpty) Seq.empty[String]
      else rewriteSet.toSeq.sorted ++ plan.uncoveredDirs
    // clause machinery: SQL-text conditions resolve against the aliased
    // pair; a null condition never applies (three-valued logic).
    // BARE column references AUTO-QUALIFY by clause context before
    // analysis (users write `price = price + 1` on day one): a name
    // carried by exactly one visible side takes that side's alias —
    // matched clauses see both sides (the source side = the USER's
    // source columns, not the null-padded join width), NOT MATCHED
    // inserts see the source only, BY SOURCE clauses the target only.
    // A name both sides carry is GENUINELY ambiguous and refuses loudly
    // (never guessed); unknown names pass through to the analyzer's own
    // error.
    val qResolver = spark.sessionState.conf.resolver
    // the target side for qualification is the PRIOR schema (what target
    // rows actually carry): a brand-new source column also appears in the
    // EVOLVED schema, but the padded t.<new> is always null — users can
    // only mean the source
    val qTargetNames = priorSchema.map(_.fieldNames.toSeq).getOrElse(evolvedStruct.fieldNames.toSeq)
    def qexpr(txt: String, tVis: Boolean, sVis: Boolean): Column = {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, UnresolvedNamedLambdaVariable}
      // LAMBDA-AWARE rewrite: inside `exists(tags, x -> x > 0)` the body's
      // `x` parses as a bare UnresolvedAttribute too (binding happens later
      // in analysis) — qualifying it would capture an outer COLUMN named x
      // and silently change the result. Track each lambda's parameter
      // names and leave shadowed references for ResolveLambdaVariables.
      def rewrite(e: org.apache.spark.sql.catalyst.expressions.Expression, bound: Set[String])
          : org.apache.spark.sql.catalyst.expressions.Expression = e match {
        case lf: LambdaFunction =>
          val params = lf.arguments.flatMap {
            case v: UnresolvedNamedLambdaVariable => v.nameParts.lastOption
            case other => Some(other.name)
          }.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
          lf.withNewChildren(
            rewrite(lf.function, bound ++ params) +: lf.arguments)
        // a lambda that went through an Expression.sql ROUND-TRIP (the SQL
        // router renders clause conditions back to text) arrives as a
        // plain function call `lambdafunction(body, p1, p2...)` with BARE
        // attribute params — analysis has no routine of that name, and the
        // body's param refs parse as plain attributes (the direct parser
        // wraps them as lambda variables itself). Rebuild the REAL
        // LambdaFunction: wrap param-named body refs as lambda variables
        // (what ResolveLambdaVariables expects to find), qualify the rest.
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
            if f.nameParts.map(_.toLowerCase(java.util.Locale.ROOT)) == Seq("lambdafunction") &&
              f.arguments.size >= 2 &&
              f.arguments.tail.forall {
                case a: UnresolvedAttribute => a.nameParts.length == 1
                case _ => false
              } =>
          val params = f.arguments.tail.collect {
            case a: UnresolvedAttribute => a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
          }.toSet
          LambdaFunction(
            rewrite(f.arguments.head, bound ++ params),
            f.arguments.tail.map {
              case a: UnresolvedAttribute => UnresolvedNamedLambdaVariable(a.nameParts)
              case other => sys.error(s"unreachable lambda param: $other")
            })
        case a: UnresolvedAttribute if a.nameParts.length == 1 =>
          // a name bound by an ENCLOSING lambda becomes a lambda variable
          // (the direct parser does the same wrapping itself; for the
          // round-trip rebuild above, this recursion performs it — and a
          // NESTED lambdafunction call's params are handled by its own
          // rebuild case, never wrapped prematurely here)
          if (bound(a.nameParts.head.toLowerCase(java.util.Locale.ROOT)))
            UnresolvedNamedLambdaVariable(a.nameParts)
          else qualifyBare(a)
        case other => other.mapChildren(rewrite(_, bound))
      }
      def qualifyBare(a: UnresolvedAttribute): org.apache.spark.sql.catalyst.expressions.Expression = {
          val n = a.nameParts.head
          val inT = tVis && qTargetNames.exists(qResolver(_, n))
          val inS = sVis && srcColumns.exists(qResolver(_, n))
          (inT, inS) match {
            case (true, true) =>
              sys.error(
                s"merge clause reference '$n' is ambiguous — both the target and the source " +
                  s"carry it; qualify as $targetAlias.`$n` or $sourceAlias.`$n` (in: $txt)")
            case (true, false) => UnresolvedAttribute(Seq(targetAlias, n))
            case (false, true) => UnresolvedAttribute(Seq(sourceAlias, n))
            // the name exists — on the side this clause can't see: refuse
            // loudly instead of letting it resolve against a null-padded
            // or absent row (a silently-null condition/value)
            case _ if tVis && !sVis && srcColumns.exists(qResolver(_, n)) =>
              sys.error(
                s"NOT MATCHED BY SOURCE clause references source column '$n' — " +
                  "there is no source row on these rows; reference target columns only")
            case _ if sVis && !tVis && qTargetNames.exists(qResolver(_, n)) =>
              sys.error(
                s"NOT MATCHED INSERT references '$n', which the source does not carry — " +
                  "there is no target row to read on an insert")
            case _ => a
          }
      }
      org.apache.spark.sql.GraftSqlBridge.column(
        rewrite(spark.sessionState.sqlParser.parseExpression(txt), Set.empty))
    }
    def condOf(c: Option[Column]): Column = coalesce(c.getOrElse(lit(true)), lit(false))
    def firstApplicable(conds: Seq[Option[Column]], gate: Column): Seq[Column] = {
      var earlier: Column = lit(false)
      conds.map { c =>
        val here = condOf(c)
        val applies = gate && !earlier && here
        earlier = earlier || here
        applies
      }
    }
    // pad a prior-schema frame to the evolved width
    def padTo(df: DataFrame): DataFrame = df.select(evolvedStruct.fields.map { f =>
      if (df.columns.contains(f.name)) q(f.name) else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val matchedTag = "__graft_matched"
    // the clause gates are mutually exclusive (first-match-wins), so the
    // joined frame yields the exact per-row outcome — a fired delete
    // leaves as its pre-image, a fired update as its post-image plus its
    // pre/post pair, an inserted row as itself plus its insert
    // (conditional struct-arrays, ONE scan) — and the one write carries
    // them ([[writeRewrite]])
    val survivorsOpt: Option[DataFrame] =
      if (rewritePaths.isEmpty) None
      else {
        val tAl = padTo(base.read(rewritePaths)).alias(targetAlias)
        val sAl = srcNorm.withColumn(matchedTag, lit(true)).alias(sourceAlias)
        val joinCond = keyCols
          .map(k => col(s"$targetAlias.`$k`") === col(s"$sourceAlias.`$k`"))
          .reduce(_ && _)
        val joined = tAl.join(sAl, joinCond, "left_outer")
        val isM = col(s"$sourceAlias.`$matchedTag`").isNotNull
        val applied =
          firstApplicable(matched.map(_.condition.map(qexpr(_, tVis = true, sVis = true))), isM)
        // BY SOURCE clauses walk on the complementary gate — a row is in
        // exactly one of the two clause groups, so the when-chains of
        // both can share one projection; their bare refs see the TARGET
        // only (no source row exists on those rows)
        val appliedN = firstApplicable(
          notMatchedBySource.map(_.condition.map(qexpr(_, tVis = true, sVis = false))),
          !isM)
        // clause, its applies-gate, and whether its texts see the source
        val clauseRows: Seq[(MergeClause, Column, Boolean)] =
          matched.zip(applied).map { case (c, ap) => (c, ap, true) } ++
            notMatchedBySource.zip(appliedN).map { case (c, ap) => (c, ap, false) }
        val deleted = clauseRows
          .collect { case (_: MatchedDelete, ap, _) => ap }
          .reduceOption(_ || _)
          .getOrElse(lit(false))
        val outCols = evolvedStruct.fields.map { f =>
          val tCol = col(s"$targetAlias.`${f.name}`")
          val updates = clauseRows
            .collect { case (u: MatchedUpdate, ap, sVis) =>
              val v = u.set match {
                case Some(setMap) =>
                  setMap.get(f.name).map(s => qexpr(s, tVis = true, sVis = sVis).cast(f.dataType)).getOrElse(tCol)
                case None => // SET *: source columns assign, others keep
                  if (srcColumns(f.name)) col(s"$sourceAlias.`${f.name}`") else tCol
              }
              (ap, v)
            }
          updates.foldRight(tCol) { case ((ap, v), rest) => when(ap, v).otherwise(rest) }.as(f.name)
        }
        import org.apache.spark.sql.functions.{array, inline}
        val anyUpdate = clauseRows
          .collect { case (_: MatchedUpdate, ap, _) => ap }
          .reduceOption(_ || _)
          .getOrElse(lit(false))
        val pre = evolvedStruct.fields.map(f => col(s"$targetAlias.`${f.name}`").as(f.name)).toSeq
        val out = outCols.toSeq
        Some(joined.select(inline(
          when(deleted, array(fate(pre, Some("delete"))))
            .when(anyUpdate, array(fate(out, None), fate(pre, Some("delete")), fate(out, Some("insert"))))
            .otherwise(array(fate(out, None))))))
      }
    val insertsOpt: Option[DataFrame] =
      // an empty source provably inserts nothing: skip the candidate
      // key-column scan entirely (a recurring empty batch must not pay a
      // full-table key scan per arrival)
      if (notMatched.isEmpty || src.rows == 0) None
      else {
        // a source row is matched iff its key appears in a candidate file
        // (provably: the envelope prune only skips files whose key range
        // can't intersect the source's) — key-only columnar anti-join
        val tgtKeys =
          if (candidates.isEmpty)
            srcKeys.limit(0)
          else
            base.read(candidates).select(keyCols.map(q): _*)
        val unmatched = srcNorm.alias(sourceAlias).join(tgtKeys, keyCols, "left_anti")
        // INSERT clauses see the SOURCE only — bare refs qualify there
        val applied = firstApplicable(
          notMatched.map(_.condition.map(qexpr(_, tVis = false, sVis = true))),
          lit(true))
        val anyApplies = applied.reduce(_ || _)
        val outCols = evolvedStruct.fields.map { f =>
          val nullV = lit(null).cast(f.dataType)
          val values = notMatched.zip(applied).map { case (ins, ap) =>
            val v = ins.values match {
              case Some(vm) =>
                vm.get(f.name).map(s => qexpr(s, tVis = false, sVis = true).cast(f.dataType)).getOrElse(nullV)
              case None => col(s"$sourceAlias.`${f.name}`") // INSERT *: srcNorm already padded
            }
            (ap, v)
          }
          values.foldRight(nullV: Column) { case ((ap, v), rest) => when(ap, v).otherwise(rest) }.as(f.name)
        }
        import org.apache.spark.sql.functions.{array, inline}
        Some(unmatched.filter(anyApplies)
          .select(inline(array(fate(outCols.toSeq, None), fate(outCols.toSeq, Some("insert"))))))
      }
    val pieces = survivorsOpt.toSeq ++ insertsOpt.toSeq
    if (pieces.isEmpty) return base.version // no rewrite, no insert clause output: no-op
    val outDf = pieces.reduce(_ unionByName _)
    // write-time CDC ([[Cdc]]): an insert-only merge's new dir is PURE
    // inserts (referenced, not copied); a rewriting merge's per-clause
    // delta — fired deletes as pre-images, fired updates as pre/post
    // pairs, plus the insert rows (the new dir mixes carried survivors
    // in, so it can never be referenced directly) — is the ONE sidecar
    // its write publishes
    val w = writeRewrite(spark, root, outDf, m.constraints, evolvedMapping, cdcOnWrite(spark) && rewritePaths.nonEmpty)
    val (rel, n) = (w.rel, w.rows)
    if (rewritePaths.isEmpty && n == 0) return base.version // nothing matched a clause: no-op
    val cdcRec: Option[Cdc] =
      if (!cdcOnWrite(spark)) None
      else if (rewritePaths.isEmpty) Some(Cdc(Seq.empty, None, Seq(rel)))
      else Some(Cdc(rewritePaths, w.chDir, Seq.empty))
    // no rewrite (insert-only merge): every entry — stat-less dirs too —
    // carries with its masks; a rewrite covers the uncovered dirs, whose
    // (satisfied) mask entries then drop
    val kept =
      if (rewritePaths.isEmpty) m.files.map(_.path) ++ plan.uncoveredDirs
      else m.files.map(_.path).filterNot(rewriteSet)
    publish(spark, root, base.commit(
      "merge", kept, if (n > 0) Seq(rel) else Nil, w.stats, w.net, Nil, Some(evolved),
      batchId, appId, cdcRec))
  }

  /** Merge-on-read MATCHED-DELETE — `WHEN MATCHED THEN DELETE` with zero
    * data I/O at any table size: the source's DISTINCT complete key
    * tuples are written once ([[writeSource]]) and that dir IS the
    * key-tombstone sidecar; every candidate file from the zero-I/O
    * envelope prune gains a `keys` [[Mask]]; no source rows are added and
    * no target file is read or rewritten. Same key semantics as
    * [[mergeUpsertMor]] (null keys match nothing); reads pay the
    * anti-join on masked files until [[compact]] reconciles. `addedRows`
    * records the NEGATED count of live rows the new mask hides — one
    * bounded key-only counting read of only the masked candidates at
    * write time ([[keysMask]]). */
  def deleteMatchedMor(spark: SparkSession, root: String, source: DataFrame, keyCols: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{col, when}
    require(keyCols.nonEmpty, "deleteMatchedMor needs at least one key column")
    val base = openBase(spark, root)
    val schema = morSchema(base)
    keyCols.foreach(k =>
      require(schema.fieldNames.contains(k), s"no key column '$k' in table schema"))
    // the sidecar holds LOGICAL key names (readers join it by them) at the
    // TABLE's key types, the schema [[keySidecar]] reads it with: no
    // physical mapping; a source key the cast does not round-trip equals
    // no table value, matches nothing and is dropped
    val raw = source.select(keyCols.map(k => col("`" + k + "`")): _*)
    val keys = raw.select(raw.schema.fields.toSeq.zip(keyCols).map { case (f, k) =>
      val c = col("`" + f.name + "`")
      val t = schema(k).dataType
      (if (f.dataType == t) c else when(c.try_cast(t).cast(f.dataType) === c, c.try_cast(t))).as(k)
    }: _*).na.drop("any").distinct()
    val logical = org.apache.spark.sql.types.StructType(
      keyCols.map(k => org.apache.spark.sql.types.StructField(k, schema(k).dataType)))
    val src = writeSource(base, keys, keyCols, logical, Map.empty)
    val mask = if (src.keyless) None else keysMask(base, schema, keyCols, src.bounds, src.df, Some(src.rel))
    if (mask.isEmpty) {
      // no usable key, or stats prove no file can hold one: nothing to commit
      fs(spark, root).delete(new Path(dataRoot(root), src.rel), true)
      return base.version
    }
    publish(spark, root, base.commit(
      "mor-delete", base.m.dirs, Nil, Nil, -mask.flatMap(_.maskedRows).sum, mask.toSeq, base.m.schemaJson,
      None, None, None))
  }

  /** The recorded schema merge-on-read DML needs (loud on a pre-schema
    * manifest: masks are typed through it). */
  private def morSchema(base: Base): org.apache.spark.sql.types.StructType =
    base.schema.getOrElse(sys.error("merge-on-read DML needs a schema-recording manifest"))

  /** The keys-mask step of every key-driven merge-on-read commit
    * ([[deleteMatchedMor]], [[mergeUpsertMor]], and [[rebase]]'s replay
    * of both): prune the base's files through the key envelope `bounds`; when
    * a candidate survives, land `keys` — DISTINCT complete key tuples in
    * logical names — as the key-tombstone sidecar (or reference
    * `keyDir`, an already-written sidecar whose frame `keys` then is: a
    * recorded one on replay, [[deleteMatchedMor]]'s source write), and
    * count the live candidate rows it hides with one key-only semi-join,
    * read through any earlier masks so overlapping masks never
    * double-count. The prune runs first, so a commit with no candidate
    * writes no sidecar.
    * A key column `schema` lacks is brand new: no row carries it, so the
    * mask provably hides nothing — exact without a read. */
  private def keysMask(
      base: Base,
      schema: org.apache.spark.sql.types.StructType,
      keyCols: Seq[String],
      bounds: Seq[Bound],
      keys: DataFrame,
      keyDir: Option[String]): Option[Mask] = {
    import org.apache.spark.sql.functions.col
    val Base(spark, root, _, m) = base
    val plan = prunePlanOf(m, bounds)
    val entries = plan.keep ++ plan.uncoveredDirs
    if (entries.isEmpty) None
    else {
      val rel = keyDir.getOrElse {
        val d = "data/" + java.util.UUID.randomUUID().toString
        keys.write.parquet(new Path(dataRoot(root), d).toString)
        d
      }
      val mask = Mask("keys", entries, keyCols = keyCols, keyDir = Some(rel))
      // a fresh sidecar reads back at the types it was written at
      val sidecar = if (keyDir.isDefined) keys else keySidecar(spark, root, keys.schema, mask)
      val hidden =
        if (!keyCols.forall(schema.fieldNames.contains)) 0L
        else
          readEntries(spark, root, m, schema, entries)
            .select(keyCols.map(k => col("`" + k + "`")): _*)
            .join(sidecar, keyCols, "left_semi")
            .count()
      Some(mask.copy(maskedRows = Some(hidden)))
    }
  }

  // ──────────────── merge-on-read DML (deletion masks) ────────────────

  /** The shared pred-mask bookkeeping of [[deleteWhereMor]] and
    * [[updateWhereMor]]: stats-proven all-match candidates DROP (their
    * live rows are entirely removed/rewritten), boundary candidates and
    * stat-less dirs gain the new pred mask (`maskEntries`, possibly
    * none), and every other entry — listed file by file — is kept. */
  private final case class MorPlan(droppedWhole: Seq[FileStat], kept: Seq[String], maskEntries: Seq[String])

  private def morMaskPlan(m: Commit, proof: BoundsProof, plan: PrunePlan): MorPlan = {
    val keepSet = plan.keep.toSet
    val candidates = m.files.filter(f => keepSet(f.path))
    // physical all-match proves live all-match even on already-masked
    // files (live rows ⊆ physical rows): still droppable with zero I/O
    val (droppedWhole, toMask) = candidates.partition(proof.wholly)
    val droppedSet = droppedWhole.map(_.path).toSet
    MorPlan(
      droppedWhole,
      m.files.map(_.path).filterNot(droppedSet) ++ plan.uncoveredDirs,
      toMask.map(_.path) ++ plan.uncoveredDirs)
  }

  /** Merge-on-read DELETE — the scattered/DV economics copy-on-write
    * can't offer: the commit is METADATA-ONLY (zero rows read, zero rows
    * written, at any table size). Files whose stats prove every row
    * matches are dropped outright (still zero I/O); files the predicate
    * provably misses stay untouched and unmasked; only the boundary files
    * gain a `pred` [[Mask]] — the recorded bounds applied as a read-time
    * filter by every read surface (readVersion/Where, countWhere, DML
    * rewrites, relation, CDC) until [[compact]] reconciles. Result
    * algebra is IDENTICAL to [[deleteWhere]] (same [[matchCol]] null
    * semantics); the trade is read amplification on the masked files
    * instead of write amplification now. EXACT ROW ACCOUNTING: the new
    * mask records the live rows it hides and `addedRows` is the exact
    * delta, at the cost of one counting read of only the boundary
    * candidates; countWhere stays exact because masked files never
    * metadata-count. */
  def deleteWhereMor(spark: SparkSession, root: String, bounds: Seq[Bound]): Int = {
    require(bounds.nonEmpty, "deleteWhereMor with no bounds would drop the whole table; use overwrite")
    val base = openBase(spark, root)
    val m = base.m
    val schema = morSchema(base)
    val encoded = encodeMaskBounds(schema, bounds) // loud BEFORE any state change
    val proof = boundsProof(Some(schema), bounds)
    val mp = morMaskPlan(m, proof, planOf(m, proof))
    // exact accounting: the new mask records the live rows it hides and
    // addedRows becomes the exact delta — one bounded counting read of
    // only the BOUNDARY candidates (whole-drops stay stat-only, and a
    // masked whole-drop counts its live rows like dmlRewrite does)
    val maskedCount =
      if (mp.maskEntries.isEmpty) 0L
      else base.read(mp.maskEntries).filter(matchCol(bounds)).count()
    val mask = mp.maskEntries.headOption.map(_ =>
      Mask("pred", mp.maskEntries, predBounds = encoded, maskedRows = Some(maskedCount)))
    publish(spark, root, base.commit(
      "mor-delete", mp.kept, Nil, Nil, -(base.droppedRows(mp.droppedWhole) + maskedCount),
      mask.toSeq, m.schemaJson, None, None, None))
  }

  /** Merge-on-read UPDATE — write cost ∝ MATCHED rows, zero file
    * rewrites: the matching rows are read once (mask-aware, stat-pruned —
    * [[readVersionWhere]] economics), their updated forms land as ONE new
    * data dir, and the original rows disappear behind a `pred` mask over
    * the candidate files — all in one atomic commit. Files whose stats
    * prove every row matches are dropped outright (their full contents
    * were just re-written in updated form); provably-unmatched files stay
    * untouched and unmasked. Same SET semantics as [[updateWhere]]
    * (single projection against the OLD row, cast back to the table
    * type, null bound columns never match). A narrow update on a 100-TB
    * table therefore writes ~the updated rows, not the touched files. */
  def updateWhereMor(
      spark: SparkSession,
      root: String,
      bounds: Seq[Bound],
      set: Map[String, org.apache.spark.sql.Column]): Int = {
    import org.apache.spark.sql.functions.col
    require(bounds.nonEmpty, "updateWhereMor needs a predicate; for all rows use overwrite")
    require(set.nonEmpty, "updateWhereMor needs at least one SET column")
    val base = openBase(spark, root)
    val m = base.m
    val schema = morSchema(base)
    val encoded = encodeMaskBounds(schema, bounds) // loud BEFORE any state change
    set.keys.foreach { name =>
      require(schema.fieldNames.contains(name), s"updateWhereMor SET column '$name' is not in the table schema")
    }
    // ONE manifest parse serves the read, the prune, and the mask plan
    val proof = boundsProof(Some(schema), bounds)
    val plan = planOf(m, proof)
    // the matched rows, read through pruning and any pending masks
    val matched = readWhereOf(spark, root, m, plan, bounds)
    val updated = matched.select(schema.fields.map { f =>
      set.get(f.name) match {
        case Some(e) => e.cast(f.dataType).as(f.name)
        case None => col("`" + f.name + "`")
      }
    }.toSeq: _*)
    val (rel, n, stats) = writeData(spark, root, updated, m.constraints, mappingOf(schema))
    if (n == 0) return base.version // nothing matched: no-op (the empty orphan dir vacuums away)
    val mp = morMaskPlan(m, proof, plan)
    // the writer already counted the matched rows (it wrote them): the new
    // mask hides exactly those minus the whole-dropped files' live rows —
    // free exactness (only a masked whole-drop needs a counting read)
    val hidden = n - base.droppedRows(mp.droppedWhole)
    val mask = mp.maskEntries.headOption.map(_ =>
      Mask("pred", mp.maskEntries, predBounds = encoded, maskedRows = Some(hidden)))
    // an update is row-neutral
    publish(spark, root, base.commit(
      "mor-update", mp.kept, Seq(rel), stats, 0L, mask.toSeq, m.schemaJson, None, None, None))
  }

  /** Merge-on-read MERGE — the SCATTERED-KEY upsert whose copy-on-write
    * twin degenerates to a full table rewrite (SCALING.md's measured
    * worst case: 32/32 files). Write cost is O(source), never O(table):
    * the source lands as an ordinary data dir, its DISTINCT key tuples
    * land as a key-tombstone sidecar, and every candidate file from the
    * zero-I/O envelope prune gains a `keys` [[Mask]] — matched target
    * rows are hidden by a read-time anti-join against the sidecar while
    * the source rows serve as their replacements. NO target file is read
    * or rewritten. Same user-visible semantics as [[mergeUpsert]]
    * (update-all/insert-all, null-keyed source rows insert and match
    * nothing, duplicate-key sources all land, schema evolution like
    * append); reads pay the anti-join on masked files until [[compact]]
    * reconciles. Returns the new version. */
  def mergeUpsertMor(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      batchId: Option[Long] = None,
      appId: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "mergeUpsertMor needs at least one key column")
    batchId.foreach(b => epochCommitted(spark, root, b, appId).foreach(v => return v)) // a replayed epoch
    val base = openBase(spark, root)
    val evolved = evolvedSchema(Some(morSchema(base)), source.schema)
    val src = writeSource(base, source, keyCols, schemaFromJson(evolved), base.m.constraints)
    if (src.rows == 0) return base.version // empty upsert: no-op; the orphan dir vacuums away
    // envelope prune: the only target-side work, and it is zero-I/O;
    // all-null keys match nothing — a pure insert. The matched-row count
    // is one key-only semi-join over the masked candidates (columnar key
    // read, no rewrite): addedRows = inserts − replaced
    val newMask =
      if (src.keyless) None
      else
        keysMask(
          base, morSchema(base), keyCols, src.bounds,
          src.df.select(keyCols.map(k => col("`" + k + "`")): _*).na.drop("any").distinct(), None)
    publish(spark, root, base.commit(
      "mor-merge", base.m.dirs, Seq(src.rel), src.stats, src.rows - newMask.flatMap(_.maskedRows).sum,
      newMask.toSeq, Some(evolved), batchId, appId, None))
  }

  /** EXACTLY-ONCE streaming MERGE-ON-READ upsert — [[upsertBatchExactlyOnce]]'s
    * O(change) sibling: the micro-batch id rides the mor-merge commit, so
    * a replayed epoch is a no-op; a lost publish race re-checks the log
    * (our commit won ⇒ done) and otherwise re-derives the mask's
    * candidate set against the new latest version (stale candidates could
    * let a concurrently-added file's matching rows survive unmasked).
    * CDC-apply at 100 TB with per-epoch cost ∝ the epoch's source. */
  def upsertBatchExactlyOnceMor(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      batchId: Long,
      appId: Option[String] = None): Int =
    upsertEpoch(mergeUpsertMor(spark, root, source, keyCols, Some(batchId), appId))

  // ─────────────────── change-data-capture between versions ───────────────────

  /** Live file-level entries of a manifest: stat-covered files
    * individually, stat-less entries (pre-stats dirs) as-is. */
  private[graft] def fileEntries(m: Commit): Seq[String] = {
    val coveredFiles = m.files.map(_.path).toSet
    val coveredDirs = m.files.map(f => f.path.take(f.path.lastIndexOf('/'))).toSet
    val uncovered = m.dirs.filterNot(e => coveredDirs.contains(e) || coveredFiles.contains(e))
    m.files.map(_.path) ++ uncovered
  }

  /** Row-level change-data-capture between two committed versions, with the
    * manifest as the changelog: for each commit in `(fromV, toV]` the
    * FILE-set diff bounds the work — an append's added dir IS its inserts
    * (no comparison at all); a DML commit's rewritten files are diffed
    * row-level via EXCEPT ALL (removed files minus added = deleted rows,
    * added minus removed = inserted rows; rows a rewrite carried unchanged
    * cancel, and untouched files carried as identical entries never even
    * read). CDC cost therefore scales with the data each commit actually
    * TOUCHED, never the table — the Delta CDF economics without change
    * files. Compaction commits are data-identical by construction and
    * contribute nothing. An update surfaces as its delete+insert pair.
    * Emits the table columns as of `toV`'s schema plus `_change_type`
    * ('insert'|'delete') and `_commit_version`. Requires the old files to
    * still exist: run with [[vacuum]] retention covering `fromV`. */
  def changesBetween(spark: SparkSession, root: String, fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromV <= toV, s"changesBetween needs fromV <= toV, got $fromV > $toV")
    require(fromV >= 0, s"changesBetween fromV must be >= 0 (0 = include the creation as inserts)")
    val schema = schemaAt(spark, root, toV)
    // every file read applies ITS manifest's masks: removed files read as
    // they stood at v-1 (prior masks applied — already-masked rows were
    // deleted earlier, they must not re-delete), added files as they
    // stand at v. The exceptAll algebra then stays exact over
    // merge-on-read history.
    def readPaths(mf: Commit, paths: Seq[String]): Option[DataFrame] =
      if (paths.isEmpty) None
      else Some(readEntries(spark, root, mf, schema, paths))
    def tag(df: DataFrame, tpe: String, v: Int): DataFrame =
      df.withColumn("_change_type", lit(tpe)).withColumn("_commit_version", lit(v))
    val steps = ((fromV + 1) to toV).flatMap { v =>
      val cur = readManifest(spark, root, v)
      if (cur.action == "compact") Seq.empty[DataFrame]
      else if (cur.action == "restore") {
        // a rollback's delta is the FULL snapshot diff. The per-file +
        // per-mask algebra below assumes masks only ever shrink within a
        // file lineage; a restore re-introduces dropped masks and drops
        // later ones arbitrarily, so the incremental form would both miss
        // revived rows (a dropped mask emits nothing) and re-emit
        // already-dead ones (a carried mask whose file was since
        // rewritten looks "new"). Cost ∝ the two snapshots — honest for a
        // table-wide rollback event.
        val prevM = readManifest(spark, root, v - 1)
        (readPaths(cur, fileEntries(cur)), readPaths(prevM, fileEntries(prevM))) match {
          case (Some(a), Some(r)) =>
            Seq(tag(a.exceptAll(r), "insert", v), tag(r.exceptAll(a), "delete", v))
          case (Some(a), None) => Seq(tag(a, "insert", v))
          case (None, Some(r)) => Seq(tag(r, "delete", v))
          case (None, None) => Seq.empty[DataFrame]
        }
      } else {
        // fromV = 0: version 1 diffs against the empty table — the
        // creation surfaces as inserts (Delta CDF's startingVersion=0)
        val prevM =
          if (v == 1) EmptyVersion
          else readManifest(spark, root, v - 1)
        val prevEntries = fileEntries(prevM)
        val curEntries = fileEntries(cur)
        val fileSteps = cur.cdc match {
          // write-time capture ([[Cdc]]): the commit recorded its own
          // delta — the sidecar read is O(changed rows), whole-file drops
          // (every live row a delete) read directly, and NO except-all
          // diff runs: a rewrite-heavy commit no longer costs ~2× its
          // rewritten bytes per uncached CDC range read. Guarded by the
          // DML action whitelist: a metadata-only commit can never carry
          // capture of its own, so an inherited record (a defect, not a
          // state) must fall through to the file diff, never re-emit.
          case Some(cc) if Set("delete", "update", "merge")(cur.action) =>
            val covered = cc.covered.toSet
            val wholeDrops = prevEntries.filterNot(curEntries.toSet).filterNot(covered)
            Seq(
              cc.chDir.flatMap(cdcSidecar(spark, root, _, schema)).map(_.withColumn("_commit_version", lit(v))),
              readPaths(prevM, wholeDrops).map(tag(_, "delete", v)),
              readPaths(cur, cc.insEntries).map(tag(_, "insert", v))).flatten
          // pre-capture manifests (or capture disabled at write time):
          // the original file-set diff
          case _ =>
            val added = readPaths(cur, curEntries.filterNot(prevEntries.toSet))
            val removed = readPaths(prevM, prevEntries.filterNot(curEntries.toSet))
            (added, removed) match {
              case (Some(a), None) => Seq(tag(a, "insert", v))
              case (None, Some(r)) => Seq(tag(r, "delete", v))
              case (Some(a), Some(r)) =>
                Seq(tag(a.exceptAll(r), "insert", v), tag(r.exceptAll(a), "delete", v))
              case (None, None) => Seq.empty[DataFrame]
            }
        }
        // a NEW mask this commit introduced (identity = the creation UUID,
        // which entry-list shrinking preserves — structural identity would
        // swallow a later delete with identical bounds; pre-id manifests
        // fall back to the structural tuple) deletes the rows it matches,
        // as those entries stood at v-1 — cost ∝ masked files
        def maskId(mk: Mask): Any =
          if (mk.id.nonEmpty) mk.id else (mk.kind, mk.predBounds, mk.keyCols, mk.keyDir)
        val prevIds = prevM.masks.map(maskId).toSet
        val maskSteps = cur.masks.filterNot(mk => prevIds(maskId(mk))).map { mk =>
          val base = readEntries(spark, root, prevM, schema, mk.entries)
          val matchedRows = mk.kind match {
            case "pred" => base.filter(matchCol(decodeMaskBounds(schema, mk.predBounds)))
            case "keys" => base.join(keySidecar(spark, root, schema, mk), mk.keyCols, "left_semi")
            case other => sys.error(s"unknown mask kind '$other'")
          }
          tag(matchedRows, "delete", v)
        }
        fileSteps ++ maskSteps
      }
    }
    steps.reduceOption(_ unionByName _).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdcTagged(schema, withVersion = true)))
  }

  /** Materialize the row-level changes of `(fromV, toV]` as parquet under
    * `<root>/_cdc/r<from>_<to>/` — the per-range CDC cache the STREAMED
    * feed already keeps, exposed for the batch path: change rows of a
    * committed range are DETERMINISTIC (immutable manifests over immutable
    * files), so a range diffed once never needs recomputing — a batch
    * consumer re-reading the same range (retries, multiple downstream
    * jobs, audit reruns) pays bytes, not the EXCEPT-ALL diff. Publish is
    * object-store-safe ([[publishDerivedDir]]: per-file moves, then a
    * self-validating `_SUCCESS` manifest written LAST — no directory
    * rename assumed), concurrent materializers race safely (change rows
    * of a committed range are deterministic, so whichever racer's marker
    * lands last names an equivalent feed; the loser's parts are invisible
    * orphans), and [[vacuum]] reclaims ranges whose end version leaves
    * retained history plus any orphans. Returns the root-relative dir. */
  def materializeChanges(spark: SparkSession, root: String, fromV: Int, toV: Int): String = {
    // branch feeds are namespaced: branch and main can both hold a range
    // (fromV, toV] whose change rows DIFFER (post-fork commits diverge)
    val rel = splitRef(root) match {
      case (_, None) => f"_cdc/r$fromV%08d_$toV%08d"
      case (_, Some(b)) => f"_cdc/ref-$b/r$fromV%08d_$toV%08d"
    }
    val dir = new Path(dataRoot(root), rel)
    val f = fs(spark, root)
    // a dir without _SUCCESS is a crashed/in-flight publish: DON'T delete
    // it (a live writer may be mid-move) — publish alongside; its orphan
    // parts stay invisible to the named-set readers
    if (!f.exists(new Path(dir, "_SUCCESS"))) {
      val tmp = new Path(dataRoot(root), s"_cdc/.tmp-${java.util.UUID.randomUUID()}")
      changesBetween(spark, root, fromV, toV).write.parquet(tmp.toString)
      publishDerivedDir(f, tmp, dir)
    }
    rel
  }

  /** The materialized feed of `(fromV, toV]` ([[materializeChanges]])
    * under the feed schema `schema`: the manifest-backed relation every
    * read builds ([[hadoopFsRelation]] over a stat-less [[subManifest]]),
    * over exactly the files the range's COMPLETE publish names (see
    * [[publishDerivedDir]]), scanning the LOGICAL columns
    * [[changesBetween]] wrote. Empty when the range's diff had no rows. */
  private[sinks] def changeFeedRelation(
      spark: SparkSession,
      root: String,
      fromV: Int,
      toV: Int,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val rel = materializeChanges(spark, root, fromV, toV)
    val files = publishedFiles(fs(spark, root), new Path(dataRoot(root), rel))
      .getOrElse(sys.error(s"$rel published without _SUCCESS")) // unreachable post-publish
    hadoopFsRelation(spark, root, subManifest(EmptyVersion, files.map(p => rel + "/" + p.getName)), schema)
  }

  /** `s` plus the CDC tag columns — the ONE construction of "table schema
    * + `_change_type` [+ `_commit_version`]" every feed surface shares
    * (sidecar reads append only the type column the files carry; declared
    * feed schemas carry both). */
  private def cdcTagged(
      s: org.apache.spark.sql.types.StructType,
      withVersion: Boolean): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      s.fields :+
        org.apache.spark.sql.types.StructField(CdcTypeCol, org.apache.spark.sql.types.StringType) :++
        (if (withVersion)
           Seq(org.apache.spark.sql.types.StructField(
             "_commit_version", org.apache.spark.sql.types.IntegerType))
         else Nil))

  /** The change-feed schema of this table as of version `v`: its recorded
    * columns plus `_change_type` / `_commit_version`. */
  private def cdcSchemaAt(spark: SparkSession, root: String, v: Int): org.apache.spark.sql.types.StructType =
    cdcTagged(schemaOf(spark, root, readManifestLite(spark, root, v)), withVersion = true)

  /** [[changesBetween]] through the materialized per-range cache: first
    * call for a range computes + publishes the diff ([[materializeChanges]]),
    * every later call for the SAME range — this process or any other —
    * reads the bytes. Result ≡ [[changesBetween]] by construction
    * (deterministic ranges). The schema comes from the lite manifest, so
    * a cache hit parses no per-file stats and runs no diff. */
  def changesBetweenCached(spark: SparkSession, root: String, fromV: Int, toV: Int): DataFrame =
    spark.baseRelationToDataFrame(changeFeedRelation(spark, root, fromV, toV, cdcSchemaAt(spark, root, toV)))

  /** Drop history: delete manifests older than the `keepLast` most recent,
    * then delete every data dir no RETAINED manifest references — reclaims
    * overwritten/compacted-away files and orphans from failed commits.
    *
    * READER CONTRACT (spec-proven): a reader pinned at version V is safe
    * against any vacuum that retains V — retained manifests' dirs are by
    * construction never in the delete set, so the pinned scan can never
    * lose a file mid-read. A vacuum that DROPS V breaks that reader
    * LOUDLY: its manifest is gone (readVersion throws) and its
    * no-longer-referenced dirs are deleted, so an already-constructed scan
    * fails on the missing files (Spark's default
    * `spark.sql.files.ignoreMissingFiles=false`) rather than silently
    * returning a partial table. Choose `keepLast` ≥ the oldest version any
    * live reader may hold.
    *
    * Production note: an in-flight commit's data dir is unreferenced until
    * its publish; run vacuum with an age threshold (or quiesced writers) on
    * a live table. Returns the deleted root-relative paths. */
  def vacuum(
      spark: SparkSession,
      root: String,
      keepLast: Int,
      minAgeMs: Long = 0L,
      dryRun: Boolean = false): Seq[String] = {
    require(keepLast >= 1, "must retain at least the latest version")
    require(
      splitRef(root)._2.isEmpty,
      "vacuum operates on the table root (it must account for every ref's liveness); " +
        "branch-only reclamation is dropBranch + vacuum")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    // refs PIN history: a tagged version stays readable forever, and a
    // branch needs its fork manifest (a branch with no local commits IS
    // its fork). Protected versions never age out of `keepLast`.
    // liveness walks EVERY ref — including rebase's internal staging
    // chains, which may be the only surviving copy of a branch's history
    val allBranches = allRefs(spark, root)
    val protectedV = (tags(spark, root).map(_._2) ++ allBranches.map(_._2)).toSet
    val recent = vs.takeRight(keepLast).toSet
    val keep = vs.filter(v => recent(v) || protectedV(v))
    val keptSet = keep.toSet
    val drop = vs.filterNot(keptSet)
    // DML commits reference individual FILES of a partially-rewritten dir;
    // liveness is tracked at dir granularity, so one referenced file keeps
    // its whole dir (conservative — superseded siblings go when a later
    // compact/overwrite drops the dir entirely)
    // key-tombstone sidecars of retained manifests' masks are live too —
    // a mask without its sidecar would resurrect deleted rows
    // EVERY branch's local manifests are live too (branches share the
    // physical data root; their entire local history is retained until
    // dropBranch — vacuum never truncates a branch's log)
    val branchCommits = allBranches.flatMap { case (b, fork) =>
      val bRoot = branchRef(root, b)
      listedVersions(f, refDir(root, b)).filter(_ > fork).map(readManifest(spark, bRoot, _))
    }
    val keptCommits = keep.map(readManifest(spark, root, _)) ++ branchCommits
    val live = keptCommits
      .flatMap(c => c.dirs ++ c.masks.flatMap(_.keyDir))
      .map(dataDirOf)
      .toSet
    // write-time CDC sidecars ([[Cdc]]) of retained manifests are live:
    // changesBetween over a retained range reads them INSTEAD of diffing
    val liveCdcSidecars: Set[String] = keptCommits
      .flatMap(c => c.cdc.toSeq.flatMap(_.chDir))
      .map(_.stripPrefix("_cdc/"))
      .toSet
    // dryRun = the full would-delete report with ZERO filesystem writes —
    // the operator's preview before pointing a destructive sweep at a
    // production table (every sweep below honors it)
    val deletedManifests = drop.map { v =>
      if (!dryRun) f.delete(manifestPath(f, root, v), false)
      f"_manifests/v$v%08d.json"
    }
    // stray publish temps (crash between temp write and link/rename) —
    // swept ONLY under an age-gated run (the same live-writer guard the
    // _cdc temp sweep carries): an auto-checkpoint's multi-second
    // .tmp-ckpt-* parquet write runs INSIDE every Nth commit, and an
    // un-gated vacuum racing that committer would delete the temp
    // mid-write; recursive, because checkpoint temps are dirs
    if (!dryRun && f.exists(manifestDir(root)) && minAgeMs > 0L)
      f.listStatus(manifestDir(root))
        .filter(s =>
          s.getPath.getName.startsWith(".tmp-") &&
            s.getModificationTime <= System.currentTimeMillis() - minAgeMs)
        .foreach(s => f.delete(s.getPath, true))
    // parquet checkpoint dirs are DERIVED data (a pure function of their
    // version's immutable manifest): reclaim any whose version fell out
    // of retained history — no reader can plan through them (readWhere
    // auto-select and readWhereCheckpointed pin the LATEST version) —
    // age-gated like data dirs. Without this every checkpoint() run
    // would leak a full per-file-stats copy forever. Membership in the
    // KEPT SET decides, not a min-version cutoff: a pinned old tag would
    // otherwise hold the cutoff at its version and disable reclamation
    // for every later dropped version forever (and a pinned version's
    // own checkpoint rightly survives with it).
    val ckptRe = """ckpt_v(\d{8})$""".r
    // never touch versions ABOVE this run's snapshot of the log: a
    // concurrent writer may have committed (and checkpointed / cached
    // CDC for) a version this vacuum never listed — kept-set membership
    // alone would read "not kept" and delete live derived data
    val maxListedV = vs.lastOption.getOrElse(Int.MinValue)
    val deletedCkpt =
      if (!f.exists(manifestDir(root))) Seq.empty[String]
      else
        f.listStatus(manifestDir(root))
          .toSeq
          .filter(s => minAgeMs <= 0L || s.getModificationTime <= System.currentTimeMillis() - minAgeMs)
          .filter(s =>
            ckptRe.findFirstMatchIn(s.getPath.getName)
              .exists(m => { val v = m.group(1).toInt; !keptSet(v) && v <= maxListedV }))
          .map { s =>
            if (!dryRun) f.delete(s.getPath, true)
            "_manifests/" + s.getPath.getName
          }
    // materialized change-feed ranges ([[SnapshotSource]] readChangeFeed)
    // are derived data: reclaim any whose END version fell out of retained
    // history (no checkpointed stream can still replay that batch — its
    // offsets reference dropped manifests), age-gated like data dirs
    val cdcDir = new Path(dataRoot(root), "_cdc")
    val cdcRe = """r(\d{8})_(\d{8})""".r
    val deletedCdc =
      if (!f.exists(cdcDir)) Seq.empty[String]
      else
        f.listStatus(cdcDir)
          .toSeq
          .filter(s => minAgeMs <= 0L || s.getModificationTime <= System.currentTimeMillis() - minAgeMs)
          .filter(s =>
            // kept-set membership of the END version, not a cutoff (see
            // the checkpoint sweep above for the pinned-tag rationale and
            // the maxListedV concurrent-writer guard)
            cdcRe.findFirstMatchIn(s.getPath.getName)
              .exists(m => { val v = m.group(2).toInt; !keptSet(v) && v <= maxListedV }) ||
              // a crashed writer's unpublished temp — but ONLY under an
              // age-gated run: a live CDC reader may be minutes into
              // materializing its range, and an un-gated vacuum
              // (minAgeMs=0) would delete the write out from under it
              (s.getPath.getName.startsWith(".tmp-") && minAgeMs > 0L) ||
              // a write-time capture sidecar no retained manifest
              // references (its commit aged out, or it lost the publish
              // race and the manifest never landed) — age-gated: a live
              // committer publishes the sidecar moments BEFORE its
              // manifest, and an un-gated sweep in that window would
              // orphan the about-to-land commit's capture
              (s.getPath.getName.startsWith("w-") &&
                !liveCdcSidecars(s.getPath.getName) && minAgeMs > 0L) ||
              // a DROPPED branch's namespaced feed cache (`_cdc/ref-<b>/`):
              // derived data nothing can read once the branch is gone.
              // Live branches' caches are left alone — their retention is
              // the branch's lifetime, ended by dropBranch.
              (s.getPath.getName.startsWith("ref-") &&
                !allBranches.exists { case (b, _) => s.getPath.getName == "ref-" + b }))
          .map { s =>
            if (!dryRun) f.delete(s.getPath, true)
            "_cdc/" + s.getPath.getName
          }
    // orphan parts inside RETAINED published dirs — a crashed or
    // lost-race publisher's files the `_SUCCESS` manifest doesn't name
    // (see [[publishDerivedDir]]): invisible to every reader, reclaimed
    // here. Age-gated only (a live publisher may be mid-move into the
    // dir), and only dirs with a COMPLETE non-legacy publish sweep (an
    // empty legacy marker means "the listing is the set" — nothing is an
    // orphan there).
    val deletedOrphans =
      if (minAgeMs <= 0L) Seq.empty[String]
      else {
        val survivingDirs =
          (if (f.exists(manifestDir(root)))
             f.listStatus(manifestDir(root))
               .map(_.getPath)
               .filter(p => ckptRe.findFirstMatchIn(p.getName).isDefined)
               .toSeq
           else Seq.empty) ++
            (if (f.exists(cdcDir))
               f.listStatus(cdcDir)
                 .map(_.getPath)
                 .filter(p => cdcRe.findFirstMatchIn(p.getName).isDefined)
                 .toSeq
             else Seq.empty)
        survivingDirs.flatMap { d =>
          val success = new Path(d, "_SUCCESS")
          if (!f.exists(success) || f.getFileStatus(success).getLen == 0) Seq.empty
          else {
            val named = publishedFiles(f, d).getOrElse(Seq.empty).map(_.getName).toSet
            f.listStatus(d)
              .toSeq
              .filter(s =>
                // the exclusion set must match publishDerivedDir's part
                // filter: '.'-prefixed entries are NEVER publishable parts
                // but ARE live metadata (ChecksumFileSystem .crc sidecars
                // of the named files, in-flight marker temps) — sweeping
                // them would strip checksums off live data
                !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".") &&
                  !named.contains(s.getPath.getName) &&
                  s.getModificationTime <= System.currentTimeMillis() - minAgeMs)
              .flatMap { s =>
                // recursive (a crashed pre-protocol writer's orphan can be
                // a DIR), and only REPORT what the delete confirmed (a dry
                // run reports the candidate set)
                if (dryRun || f.delete(s.getPath, true))
                  Some(s"${d.getParent.getName}/${d.getName}/${s.getPath.getName}")
                else None
              }
          }
        }
      }
    val dataDir = new Path(dataRoot(root), "data")
    // minAgeMs is the in-flight-commit guard the protocol note calls for
    // on a LIVE table: a writer's data dir is unreferenced until its
    // publish, so an age threshold longer than any commit's write phase
    // makes vacuum safe to run beside writers — young unreferenced dirs
    // are presumed in-flight and skipped until a later vacuum.
    val cutoff = System.currentTimeMillis() - minAgeMs
    val deletedData =
      if (!f.exists(dataDir)) Seq.empty[String]
      else
        f.listStatus(dataDir)
          .toSeq
          .filter(s => minAgeMs <= 0L || s.getModificationTime <= cutoff)
          .map(s => "data/" + s.getPath.getName)
          .filterNot(live)
          .map { rel =>
            if (!dryRun) f.delete(new Path(dataRoot(root), rel), true)
            rel
          }
    // abandoned streaming-sink staging ([[GraftStreamingWrite]] stages
    // each epoch under `_streamStaging/<queryId>/epoch=<id>` and clears
    // it on commit/abort; a crash in between leaves debris no manifest
    // ever references). Age-gated only, under the SAME operator contract
    // as in-flight data dirs (see the dataDir sweep): minAgeMs must
    // exceed the longest write phase — here, the longest micro-batch
    // (an AvailableNow backfill's first epoch can run minutes). Emptied
    // query dirs go too.
    val stagingDir = new Path(splitRef(root)._1, "_streamStaging")
    val deletedStaging =
      if (minAgeMs <= 0L || !f.exists(stagingDir)) Seq.empty[String]
      else {
        val cut = System.currentTimeMillis() - minAgeMs
        f.listStatus(stagingDir).toSeq.filter(_.isDirectory).flatMap { q =>
          // guarded per query dir: the LIVE query's own dropEpochDir
          // deletes these concurrently — a vanished dir is simply done,
          // never a reason to abort the whole vacuum mid-sweep
          try {
            val epochs = f.listStatus(q.getPath).toSeq
              .filter(_.getModificationTime <= cut)
              .map { e =>
                if (!dryRun) f.delete(e.getPath, true)
                s"_streamStaging/${q.getPath.getName}/${e.getPath.getName}"
              }
            // age the namespace by its PRE-SWEEP mtime (the listing's):
            // deleting child epochs just bumped it, and re-statting would
            // keep an emptied namespace alive one extra vacuum forever
            if (!dryRun && q.getModificationTime <= cut && f.listStatus(q.getPath).isEmpty) {
              f.delete(q.getPath, false)
              ()
            }
            epochs
          } catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
        }
      }
    deletedManifests ++ deletedCkpt ++ deletedCdc ++ deletedOrphans ++ deletedData ++ deletedStaging
  }

  /** METADATA-ONLY column rename — no data rewrite, at any file count:
    * the field keeps its immutable PHYSICAL parquet name (recorded in the
    * field metadata the schema JSON round-trips) and only the manifest's
    * LOGICAL name changes. Readers scan physical and project to logical;
    * writers map logical back to physical, so files written before and
    * after the rename stay uniform; stats/blooms/bounds key by physical
    * internally and every read/DML/Catalyst/streaming surface keeps
    * working under the new name. Time travel shows each version under the
    * name IT recorded. Constraints referencing the old name are refused
    * (re-add them under the new name). */
  def renameColumn(spark: SparkSession, root: String, oldName: String, newName: String): Int =
    alterSchema(spark, root, Seq(RenameCol(oldName, newName)))

  /** One column change of [[alterSchema]]. */
  sealed trait SchemaChange
  final case class AddCol(name: String, dataType: org.apache.spark.sql.types.DataType)
      extends SchemaChange
  final case class RenameCol(oldName: String, newName: String) extends SchemaChange
  final case class DropCol(name: String) extends SchemaChange
  final case class WidenCol(name: String, newType: org.apache.spark.sql.types.DataType)
      extends SchemaChange

  /** The LOSSLESS type widenings [[WidenCol]] accepts — every value of
    * `from` is exactly representable in `to`, and Spark 4's parquet
    * readers (vectorized and row-based, verified on this runtime) upcast
    * old files' narrow bytes at scan time, so the change is METADATA-ONLY
    * at any table size: int↑long etc. within the integral family,
    * float↑double, the sub-double integrals↑double (≤32-bit integers fit
    * a double's 53-bit mantissa exactly; long→double would round),
    * decimal PRECISION growth at the same scale, and date↑timestamp_ntz
    * (midnight, the SQL-standard cast — both readers upcast the INT32
    * date bytes, verified on this runtime). Anything else
    * (narrowing, long→double, scale changes, string↔numeric) refuses —
    * loud failure beats a table whose old files read back different
    * values. */
  private def losslessWiden(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) => b.scale == a.scale && b.precision > a.precision
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** Apply a SEQUENCE of column changes as ONE metadata-only commit —
    * the all-or-nothing DDL contract a multi-change `ALTER TABLE`
    * statement implies: each change validates and applies against the
    * schema as the PREVIOUS changes left it (so `ADD COLUMN x, RENAME y
    * TO z` behaves exactly like the two statements in order), any
    * refusal throws BEFORE the single publish, and a crash at any point
    * leaves either the old schema or the complete new one — never a
    * committed prefix. The single-change operators ([[addColumn]],
    * [[renameColumn]], [[dropColumn]]) delegate here. */
  def alterSchema(spark: SparkSession, root: String, changes: Seq[SchemaChange]): Int = {
    require(changes.nonEmpty, "alterSchema needs at least one change")
    val base = openBase(spark, root)
    val m = base.m
    val resolver = spark.sessionState.conf.resolver
    var schema = m.schemaJson
      .map(schemaFromJson)
      .getOrElse(sys.error("column DDL needs a schema-recording manifest"))
    var dropped = m.dropped
    var files = m.files
    def constraintFree(col: String, what: String): Unit =
      m.constraints.foreach { case (cname, sql) =>
        require(
          !sql.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(col)}\\b.*"),
          s"constraint '$cname' references column '$col'; drop the constraint first$what")
      }
    changes.foreach {
      case AddCol(name, dataType) =>
        // resolver-aware duplicate check (case-insensitive under the
        // default spark.sql.caseSensitive=false): a case-variant
        // duplicate would make every later reference to either name
        // AMBIGUOUS_REFERENCE — a permanently broken table
        require(
          !schema.fields.exists(f => resolver(f.name, name)),
          s"column '$name' already exists")
        schema = mergeSchemas(
          schema,
          org.apache.spark.sql.types.StructType(
            Seq(org.apache.spark.sql.types.StructField(name, dataType))))
        dropped = reviveDropped(dropped, schema)
      case RenameCol(oldName, newName) =>
        require(schema.fieldNames.contains(oldName), s"no column '$oldName' in table schema")
        require(oldName != newName, s"column '$newName' already exists") // identity rename: no-op commit refused
        // resolver-aware (case-insensitive by default): a case-variant
        // duplicate breaks every later reference with AMBIGUOUS_REFERENCE
        // (renaming a column to ITS OWN case variant stays legal)
        require(
          !schema.fields.exists(f => f.name != oldName && resolver(f.name, newName)),
          s"column '$newName' already exists")
        require(
          m.masks.isEmpty,
          "pending merge-on-read masks reference logical column names; compact to reconcile them first")
        require(
          !schema.fields.exists(f => f.name != oldName && physName(f) == newName),
          s"'$newName' is another column's frozen physical name; swap-chains are not supported")
        constraintFree(oldName, " and re-add under the new name")
        schema = org.apache.spark.sql.types.StructType(schema.fields.map { f =>
          if (f.name != oldName) f
          else
            f.copy(
              name = newName,
              metadata = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(PhysKey, physName(f)) // freeze the physical name
                .build())
        })
      case WidenCol(name, newType) =>
        require(schema.fieldNames.contains(name), s"no column '$name' in table schema")
        val field = schema.fields.find(_.name == name).get
        require(
          losslessWiden(field.dataType, newType),
          s"ALTER COLUMN '$name' TYPE ${newType.sql}: only lossless widenings are metadata-safe " +
            s"(integral up-casts, float→double, ≤32-bit integral→double, decimal precision-up " +
            s"at the same scale); ${field.dataType.sql} → ${newType.sql} is not one — " +
            "rewrite through INSERT OVERWRITE instead")
        require(
          m.masks.isEmpty,
          "pending merge-on-read masks carry typed bounds/key sidecars; compact to reconcile them first")
        // recorded BLOOM filters hash by value TYPE (functions.hash(5:int)
        // ≠ hash(5L)): a probe at the widened type against an old file's
        // narrow-typed bloom could FALSELY prove absence and prune a live
        // match — strip the column's blooms from every carried file
        // (absent bloom = unprunable = always safe; min/max stats compare
        // on a type-agnostic numeric axis and stay valid). The ONE
        // cross-axis widening is date→timestamp_ntz: date stats encode as
        // ISO strings, timestamp_ntz probes as epoch micros — its min/max
        // strip too (an OPTIMIZE/compact pass re-materializes all stats at
        // the new type). Non-null counts are type-free and stay.
        val phys = physName(field)
        val crossAxis = field.dataType == org.apache.spark.sql.types.DateType &&
          newType == org.apache.spark.sql.types.TimestampNTZType
        files = files.map { fst =>
          val noBloom = if (fst.bloom.contains(phys)) fst.copy(bloom = fst.bloom - phys) else fst
          if (!crossAxis) noBloom
          else noBloom.copy(min = noBloom.min - phys, max = noBloom.max - phys)
        }
        schema = org.apache.spark.sql.types.StructType(
          schema.fields.map(f => if (f.name != name) f else f.copy(dataType = newType)))
      case DropCol(name) =>
        require(schema.fieldNames.contains(name), s"no column '$name' in table schema")
        require(schema.fields.length > 1, "cannot drop the last column")
        require(
          m.masks.isEmpty,
          "pending merge-on-read masks reference logical column names; compact to reconcile them first")
        constraintFree(name, "")
        val field = schema.fields.find(_.name == name).get
        schema = org.apache.spark.sql.types.StructType(schema.fields.filterNot(_.name == name))
        dropped = dropped + (physName(field) -> field.dataType.json)
    }
    // the DDL rewrote the base's stats and ledger; every entry is kept
    publish(spark, root, base.copy(m = m.copy(files = files, dropped = dropped)).commit(
      "schema", m.dirs, Nil, Nil, 0L, Nil, Some(schema.json), None, None, None))
  }

  /** METADATA-ONLY column add — no data rewrite, at any file count: the
    * new manifest's recorded schema simply gains the (nullable) column;
    * every existing file lacks its bytes, so all current rows read it as
    * null — exactly the append-evolution semantics, available without
    * writing a row. The dropped-column REVIVAL contract is enforced like
    * every evolving commit ([[reviveDropped]]): re-adding a dropped name
    * requires its original type (the old bytes then reappear), and
    * physical-name collisions with renamed columns are refused. */
  def addColumn(
      spark: SparkSession,
      root: String,
      name: String,
      dataType: org.apache.spark.sql.types.DataType): Int =
    alterSchema(spark, root, Seq(AddCol(name, dataType)))

  /** METADATA-ONLY column drop — no data rewrite: the new manifest's
    * recorded schema simply omits the column, and since reads project
    * through the manifest schema (not the parquet footers), every file's
    * bytes for the dropped column become invisible immediately, at every
    * file count, for zero I/O. Time travel is unaffected: older versions
    * still read the column (their manifests still record it). Re-adding a
    * same-named column later requires the same type — ENFORCED: the drop
    * records (physical name, type) in the manifest's `dropped` ledger and
    * every evolving commit refuses a different-typed revival
    * ([[reviveDropped]]); a same-type revival un-drops and the old bytes
    * REAPPEAR under the revived column — documented
    * Delta-without-column-mapping semantics. The ledger clears at full
    * rewrites (overwrite/compact), when no live file carries the bytes
    * anymore. Constraints referencing the column must be dropped first
    * (loud check). */
  def dropColumn(spark: SparkSession, root: String, name: String): Int =
    alterSchema(spark, root, Seq(DropCol(name)))

  /** Add a CHECK constraint (SQL boolean expression over the table's
    * columns, e.g. `"price_c >= 0"`, `"k IS NOT NULL"`). EXISTING rows are
    * validated first — one scan, constraint-add is refused if any row
    * violates (the Delta ALTER TABLE ADD CONSTRAINT contract) — then every
    * future data-adding commit (create/append/overwrite, exactly-once
    * epochs, UPDATE rewrites, MERGE sources) enforces it in the writer's
    * per-file stats fold at zero extra passes; violations abort
    * pre-publish, so a bad batch can never tear the table. Constraints are
    * table properties: they survive overwrite and compaction. */
  def addCheck(spark: SparkSession, root: String, name: String, checkSql: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val base = openBase(spark, root)
    require(!base.m.constraints.contains(name), s"constraint '$name' already exists")
    val rows = base.readAll
    // every later write binds the CHECK into its stats fold: refuse one it cannot evaluate
    WriteStats.Spec(spark, rows.schema, Map(name -> checkSql), Map.empty)
    val bad = rows.filter(!coalesce(expr(checkSql), lit(false))).count()
    if (bad > 0) throw new ConstraintViolationException(name, bad)
    publishConstraints(base, base.m.constraints + (name -> checkSql))
  }

  /** Drop a CHECK constraint by name. */
  def dropCheck(spark: SparkSession, root: String, name: String): Int = {
    val base = openBase(spark, root)
    require(base.m.constraints.contains(name), s"no constraint '$name' on this table")
    publishConstraints(base, base.m.constraints - name)
  }

  /** A metadata-only commit of `base`'s table under a new constraint set. */
  private def publishConstraints(base: Base, constraints: Map[String, String]): Int =
    publish(base.spark, base.root, base.copy(m = base.m.copy(constraints = constraints)).commit(
      "constraint", base.m.dirs, Nil, Nil, 0L, Nil, base.m.schemaJson, None, None, None))

  /** The commit log as a model-sized DataFrame — the DESCRIBE HISTORY
    * surface: one row per version with action, publish time, net row
    * delta, file/byte footprint, and the streaming epoch id if any. */
  def historyDf(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    history(spark, root)
      .map { c =>
        val physical = c.files.map(_.rows).sum
        // exact LIVE rows whenever every pending mask carries its
        // recorded hidden-row count (each counted through the earlier
        // masks, so overlaps never double-subtract) AND every masked
        // entry is a stat-covered file — `physical` sums only the
        // stat-covered entries, so a mask over an uncovered (pre-stats)
        // dir hides rows that were never counted and the subtraction
        // would under-report (even go negative). null = unknown.
        val covered = c.files.map(_.path).toSet
        val live =
          if (c.masks.isEmpty) Some(physical)
          else if (c.masks.forall(mk => mk.maskedRows.isDefined && mk.entries.forall(covered)))
            Some(physical - c.masks.flatMap(_.maskedRows).sum)
          else None
        (
          c.version,
          c.action,
          if (c.ts > 0) Some(new java.sql.Timestamp(c.ts)) else None,
          c.addedRows,
          c.files.size,
          physical,
          live,
          c.files.map(f => math.max(f.bytes, 0L)).sum,
          c.batchId)
      }
      .toDF(
        "version",
        "action",
        "committed_at",
        "row_delta",
        "num_files",
        "total_rows",
        "live_rows",
        "total_bytes",
        "batch_id")
  }
}
