package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** INCREMENTAL MATERIALIZED VIEWS over a snapshot table — a group-by
  * aggregate (`count(*)` + `sum`s) materialized as its own snapshot table
  * and maintained from the base table's CHANGE-DATA-CAPTURE feed: a
  * [[refresh]] reads only the commits since the last sync, aggregates
  * their row-level delta (insert = +1/+x, delete = −1/−x — COW updates
  * and MOR masks both surface as delete+insert pairs, so every DML shape
  * maintains correctly), and MERGEs the per-group deltas into the view
  * through [[SnapshotTable.mergeInto]]'s general clause executor. Refresh
  * cost is O(changes since last sync) + O(touched groups), NEVER
  * O(base table) — at 100 TB a view over a trillion-row fact table
  * refreshes in seconds when a commit touched one partition's worth of
  * rows, which is the entire point of materializing.
  *
  * Consistency contract:
  *  - the view is exactly `base.groupBy(keys).agg(count(*), sum(cols))`
  *    at its synced base version (spec-proven hash-identical to a full
  *    recompute after arbitrary DML cycles, and oracle-proven via
  *    `q_mv_refresh`);
  *  - NULL grouping keys are EXCLUDED from the view (documented: merge
  *    key equality is not null-safe; the excluded group is recomputable
  *    by definition as `base.filter(k IS NULL)`);
  *  - `sum` columns maintain SQL null semantics exactly: a hidden
  *    per-sum non-null count (`__nn_<col>`) distinguishes "sums to
  *    null" (no non-null values) from "sums to 0" under deletes —
  *    [[read]] projects the declared columns only;
  *  - the aggregate vocabulary is count + sum (avg derives as
  *    sum/count) + OPT-IN `min`/`max` (surfaced as `<c>_min`/`<c>_max`):
  *    extremes are not incrementally maintainable under deletes (an
  *    evicted max needs the runner-up), so they maintain by HYBRID
  *    refresh — the touched groups, and only those, recompute from the
  *    base at the target version (cost ∝ base rows in changed groups,
  *    never the base; a min/max view also skips the zero-cancel group
  *    filter, since an update can move an extremum while every count
  *    and sum delta cancels);
  *  - the SYNCED BASE VERSION rides IN the view's own manifest (the
  *    refresh merge's `batchId`), so view state and sync point commit
  *    atomically: a crashed refresh replays as a no-op
  *    (exactly-once), never double-applies a delta;
  *  - refresh needs the base history back to the sync point — vacuum
  *    the base with `keepLast` covering the refresh cadence.
  */
object SnapshotMv {

  /** The view's definition, persisted immutably at create time. `mins`/
    * `maxs` columns surface as `<c>_min`/`<c>_max` and are maintained by
    * HYBRID refresh (recompute over touched groups only — see
    * [[refresh]]). */
  final case class MvSpec(
      baseRoot: String,
      keys: Seq[String],
      sums: Seq[String],
      countCol: String,
      mins: Seq[String] = Seq.empty,
      maxs: Seq[String] = Seq.empty) {
    def minMaxCols: Seq[String] = mins.map(_ + "_min") ++ maxs.map(_ + "_max")
  }

  private def specPath(mvRoot: String) = new Path(mvRoot, "_mv.json")
  private def nn(c: String) = "__nn_" + c
  private def bq(c: String) = "`" + c + "`"

  /** Materialize `SELECT keys, count(*) AS countCol, sum(c) AS c...
    * FROM base GROUP BY keys` (null-keyed groups excluded) as a snapshot
    * table at `mvRoot`, synced to the base's current version — or, with
    * `asOfVersion`, to that RETAINED older version: the view materializes
    * the historical aggregate and the next [[refresh]] catches it up
    * through the CDC feed, the backfill-then-follow shape (needs the base
    * history from `asOfVersion` forward, same retention contract as
    * refresh itself). The spec persists at `mvRoot/_mv.json`
    * (put-if-absent: racing creators lose loudly). Returns the view's
    * committed version. */
  def create(
      spark: SparkSession,
      baseRoot: String,
      mvRoot: String,
      keys: Seq[String],
      sums: Seq[String],
      countCol: String = "n_rows",
      asOfVersion: Option[Int] = None,
      mins: Seq[String] = Seq.empty,
      maxs: Seq[String] = Seq.empty): Int = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum, when}
    require(keys.nonEmpty, "a materialized view needs at least one grouping key")
    val spec = MvSpec(baseRoot, keys, sums, countCol, mins, maxs)
    val outNames = keys ++ sums ++ spec.minMaxCols :+ countCol
    val dup = outNames.diff(outNames.distinct)
    require(dup.isEmpty, s"duplicate column roles in the view definition: ${dup.mkString(", ")}")
    (outNames ++ mins ++ maxs).foreach(c =>
      require(!c.startsWith("__"), s"column '$c' collides with the view's internal (`__`) namespace"))
    val latest = SnapshotTable.latestOrFail(spark, baseRoot)
    asOfVersion.foreach(v =>
      require(
        v >= 1 && v <= latest,
        s"asOfVersion $v is outside the base's committed history (1..$latest)"))
    val baseV = asOfVersion.getOrElse(latest)
    val base = SnapshotTable.readVersion(spark, baseRoot, baseV)
    (keys ++ sums ++ mins ++ maxs).foreach(c =>
      require(base.columns.contains(c), s"no column '$c' in the base table"))
    val nonNullKeys = keys.map(k => col(bq(k)).isNotNull).reduce(_ && _)
    val aggs =
      (count(lit(1)).as(countCol) +:
        sums.flatMap(c =>
          Seq(
            sum(col(bq(c))).as(c),
            sum(when(col(bq(c)).isNotNull, 1L).otherwise(0L)).as(nn(c))))) ++
        mins.map(c => min(col(bq(c))).as(c + "_min")) ++
        maxs.map(c => max(col(bq(c))).as(c + "_max"))
    val frame = base
      .filter(nonNullKeys)
      .groupBy(keys.map(k => col(bq(k))): _*)
      .agg(aggs.head, aggs.tail: _*)
    val json = JsonMethods.compact(
      JsonMethods.render(
        JObject(
          "baseRoot" -> JString(spec.baseRoot),
          "keys" -> JArray(spec.keys.toList.map(JString)),
          "sums" -> JArray(spec.sums.toList.map(JString)),
          "countCol" -> JString(spec.countCol),
          "mins" -> JArray(spec.mins.toList.map(JString)),
          "maxs" -> JArray(spec.maxs.toList.map(JString)))))
    SnapshotTable.create(spark, mvRoot, frame)
    val f = specPath(mvRoot).getFileSystem(spark.sessionState.newHadoopConf())
    SnapshotTable.commitStore.putIfAbsent(f, specPath(mvRoot), json.getBytes("UTF-8"))
    // the sync point rides a metadata-only commit's batchId — the same
    // place every refresh records its own (atomic with the view state)
    carrySync(spark, mvRoot, baseV)
  }

  /** The persisted definition of the view at `mvRoot`. */
  def spec(spark: SparkSession, mvRoot: String): MvSpec = {
    val p = specPath(mvRoot)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(f.exists(p), s"no materialized view at $mvRoot (missing _mv.json)")
    val j = JsonMethods.parse(new String(SnapshotTable.readSmall(f, p), "UTF-8"))
    implicit val fmt: Formats = DefaultFormats
    MvSpec(
      (j \ "baseRoot").extract[String],
      (j \ "keys").extract[List[String]],
      (j \ "sums").extract[List[String]],
      (j \ "countCol").extract[String],
      (j \ "mins").extractOpt[List[String]].getOrElse(Nil),
      (j \ "maxs").extractOpt[List[String]].getOrElse(Nil))
  }

  /** The base version the view currently reflects. Walks the view's own
    * history NEWEST-first and refuses loudly on any unmanaged mutation
    * above the last sync commit: a RESTORE of the view rewinds its state
    * to some older aggregate while the newest recorded batchId still
    * claims the newer base version — refreshing from that point would
    * silently drop every base change in between, forever. Data-identical
    * maintenance ("compact") is transparent and skips. */
  def syncedVersion(spark: SparkSession, mvRoot: String): Int =
    SnapshotTable
      .history(spark, mvRoot)
      .reverse
      .iterator
      .filterNot(_.action == "compact") // data-identical: sync-transparent
      .map { c =>
        c.batchId.map(_.toInt).getOrElse(
          sys.error(
            s"the view at $mvRoot was mutated outside refresh (newest unmanaged commit: " +
              s"v${c.version} '${c.action}') — its state no longer matches any recorded " +
              "sync point; rebuild the view (SnapshotMv.create at a fresh root)"))
      }
      .nextOption()
      .getOrElse(sys.error(s"no sync point in the view's history at $mvRoot — not a managed view?"))

  /** The view as declared — keys, count, sums (internal non-null
    * helper columns projected away). */
  def read(spark: SparkSession, mvRoot: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val sp = spec(spark, mvRoot)
    SnapshotTable
      .read(spark, mvRoot)
      .select((sp.keys ++ Seq(sp.countCol) ++ sp.sums ++ sp.minMaxCols).map(c => col(bq(c))): _*)
  }

  /** Catch the view up to the base's current version by applying ONLY
    * the commits since the last sync: their CDC rows aggregate to
    * per-group deltas (`insert` = +1/+x, `delete` = −1/−x), which MERGE
    * into the view — vanished groups delete, changed groups update with
    * null-exact sum algebra, new groups insert. Cost ∝ changed rows +
    * touched groups. Exactly-once: the merge records the target base
    * version as its `batchId`, so a crashed refresh replays as a no-op;
    * an up-to-date view returns immediately. Returns the view's version. */
  def refresh(spark: SparkSession, mvRoot: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, max, min, sum, when}
    val sp = spec(spark, mvRoot)
    val synced = syncedVersion(spark, mvRoot)
    val baseV = SnapshotTable
      .latestVersion(spark, sp.baseRoot)
      .getOrElse(sys.error(s"base table vanished from ${sp.baseRoot}"))
    val mvLatest = SnapshotTable.latestVersion(spark, mvRoot).get
    require(
      baseV >= synced,
      s"base at v$baseV is BEHIND the view's sync point v$synced — was the base restored? " +
        "rebuild the view (a restore rewinds history non-monotonically)")
    if (baseV == synced) return mvLatest
    val hasMinMax = sp.minMaxCols.nonEmpty
    val ch = SnapshotTable.changesBetween(spark, sp.baseRoot, synced, baseV)
    val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val nonNullKeys = sp.keys.map(k => col(bq(k)).isNotNull).reduce(_ && _)
    val aggs =
      sum(sign).as(sp.countCol) +:
        sp.sums.flatMap(c =>
          Seq(
            sum(sign * col(bq(c))).as(c),
            sum(when(col(bq(c)).isNotNull, sign).otherwise(0L)).as(nn(c))))
    val rawDelta = ch
      .filter(nonNullKeys)
      .groupBy(sp.keys.map(k => col(bq(k))): _*)
      .agg(aggs.head, aggs.tail: _*)
    // groups whose inserts and deletes fully cancel need no merge work —
    // UNLESS the view maintains min/max: an update can move an extremum
    // while every count and sum delta cancels, so min/max views touch
    // every delta group (cost ∝ touched groups either way)
    val delta =
      if (hasMinMax) rawDelta
      else
        rawDelta.filter(
          (col(bq(sp.countCol)) =!= 0) ||
            sp.sums
              .map(c => (coalesce(col(bq(c)), lit(0)) =!= 0) || (col(bq(nn(c))) =!= 0))
              .foldLeft(lit(false))(_ || _))
    if (delta.isEmpty) return carrySync(spark, mvRoot, baseV)
    // HYBRID min/max maintenance: extremes are not incrementally
    // maintainable under deletes (an evicted max needs the runner-up),
    // so the TOUCHED groups — and only those — recompute from the base
    // at the target version (a semi-join against the delta's key set:
    // cost ∝ base rows in changed groups, never the base). The CURRENT
    // version is always readable — no extra vacuum exposure beyond the
    // CDC read refresh already requires.
    val srcDelta =
      if (!hasMinMax) delta
      else {
        val mmAggs =
          sp.mins.map(c => min(col(bq(c))).as(c + "_min")) ++
            sp.maxs.map(c => max(col(bq(c))).as(c + "_max"))
        val mm = SnapshotTable
          .readVersion(spark, sp.baseRoot, baseV)
          .filter(nonNullKeys)
          .join(delta.select(sp.keys.map(k => col(bq(k))): _*), sp.keys, "left_semi")
          .groupBy(sp.keys.map(k => col(bq(k))): _*)
          .agg(mmAggs.head, mmAggs.tail: _*)
        // a fully-died group has no mm row: null extremes ride along and
        // the count-0 DELETE clause removes the group before they matter
        delta.join(mm, sp.keys, "left_outer")
      }
    // the merge algebra: count adds; each sum adds null-exactly (the
    // non-null counter decides whether the result is NULL or a number);
    // min/max SET wholesale to the recomputed value
    val setMap =
      Map(sp.countCol -> s"t.${bq(sp.countCol)} + s.${bq(sp.countCol)}") ++
        sp.sums.flatMap { c =>
          Seq(
            c -> (s"CASE WHEN t.${bq(nn(c))} + s.${bq(nn(c))} = 0 THEN NULL " +
              s"ELSE coalesce(t.${bq(c)}, 0) + coalesce(s.${bq(c)}, 0) END"),
            nn(c) -> s"t.${bq(nn(c))} + s.${bq(nn(c))}")
        } ++
        sp.minMaxCols.map(c => c -> s"s.${bq(c)}")
    val insertMap =
      (sp.keys.map(k => k -> s"s.${bq(k)}") :+ (sp.countCol -> s"s.${bq(sp.countCol)}")).toMap ++
        sp.sums.flatMap(c => Seq(c -> s"s.${bq(c)}", nn(c) -> s"s.${bq(nn(c))}")) ++
        sp.minMaxCols.map(c => c -> s"s.${bq(c)}")
    SnapshotTable.mergeInto(
      spark,
      mvRoot,
      srcDelta,
      sp.keys,
      matched = Seq(
        SnapshotTable.MatchedDelete(Some(s"t.${bq(sp.countCol)} + s.${bq(sp.countCol)} = 0")),
        SnapshotTable.MatchedUpdate(None, Some(setMap))),
      // a group BORN AND DIED within one refresh window reaches the
      // unmatched side with a fully-cancelled delta (count 0 — and
      // therefore zero sums/nn too, since its deletes carry exactly its
      // inserts' values); inserting it would create a phantom zero-count
      // group the recompute doesn't have. Possible only on min/max views
      // (others filter cancelled groups pre-merge), but the gate is
      // correct for every view.
      notMatched = Seq(
        SnapshotTable.NotMatchedInsert(Some(s"s.${bq(sp.countCol)} <> 0"), Some(insertMap))),
      batchId = Some(baseV.toLong))
  }

  /** A metadata-only commit that advances the sync point (same dirs,
    * files, masks — only the recorded `batchId` moves). */
  private def carrySync(spark: SparkSession, mvRoot: String, syncedV: Int): Int = {
    var attempts = 0
    while (true) {
      val base = SnapshotTable.openBase(spark, mvRoot)
      if (base.m.batchId.contains(syncedV.toLong)) return base.version // replay no-op
      try
        return SnapshotTable.publish(spark, mvRoot, base.commit(
          "mv-sync", base.m.dirs, Nil, Nil, 0L, Nil, base.m.schemaJson, Some(syncedV.toLong), None, None))
      catch {
        case e: SnapshotTable.ConcurrentCommitException =>
          attempts += 1
          if (attempts >= 50) throw e
      }
    }
    -1 // unreachable
  }
}
