package graft.operators

import graft.QueryDsl.boundedBroadcast
import graft.catalog.Lake
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance over the lake's change feed.
  *
  * A summary table (GROUP BY keys + retractable aggregates: row count and
  * exact long sums) is kept current by folding ONLY the rows that changed
  * in `(fromVersion, toVersion]` — inserts add, deletes retract — instead
  * of rescanning the base table. UPDATEs surface through the feed as a
  * delete + an insert (reference `ducklake_table_changes` semantics,
  * docs/README.md:86-96), so they retract the old value and add the new
  * one with no special casing.
  *
  * 100 TB story: a refresh reads the delta files only (the CDC scan is
  * driven by `begin_snapshot` ranges in the catalog, never a full-table
  * scan), pre-aggregates them map-side to one row per touched group, and
  * MERGEs that — the shuffle carries `O(changed groups)` rows, and the
  * MERGE's copy-on-write rewrite touches only the MV files holding those
  * groups. A nightly refresh over a 100 TB fact table with a 0.1% daily
  * delta therefore costs ~100 GB of scan + a kilobyte-scale shuffle,
  * where `REFRESH MATERIALIZED VIEW` in a scan-based engine costs the
  * full 100 TB.
  *
  * Aggregates must be retractable and exact for incremental == recompute
  * to hold bit-for-bit: COUNT and SUM over integer/scaled-long inputs
  * (see [[graft.QueryDsl.sl2]]) qualify directly. MIN/MAX are supported
  * through [[Extrema]] with the delete-aware split real engines use:
  * groups touched only by inserts fold `least`/`greatest` forward (a
  * new value can only improve the extremum), while groups that saw a
  * delete — whose stored extremum may have been retracted — are
  * PARTIALLY recomputed from the base table restricted to exactly
  * those groups (a semi-join against the dirty-group list, version-
  * pinned so late refreshes stay consistent). Float sums remain out of
  * scope (not order-independent), like Flink's retract-stream rules.
  */
object IncrementalView {

  /** Internal key column used when the view groups by more than one
    * column (the lake's MERGE keys on a single column). */
  private val KeyCol = "mv_key"
  private val Sep = ""

  private def needsKey(groupCols: Seq[String]) = groupCols.length != 1
  private def keyExpr(groupCols: Seq[String]): Column =
    concat_ws(Sep, groupCols.map(c => col(c).cast("string")): _*)
  private def mergeKey(groupCols: Seq[String]): String =
    if (needsKey(groupCols)) KeyCol else groupCols.head

  /** MIN/MAX aggregates for the view (see class doc: insert-only folds,
    * delete-touched groups partially recomputed). */
  final case class Extrema(mins: Seq[(String, Column)] = Nil,
      maxs: Seq[(String, Column)] = Nil) {
    def isEmpty: Boolean = mins.isEmpty && maxs.isEmpty
    def names: Seq[String] = mins.map(_._1) ++ maxs.map(_._1)
  }

  /** Full aggregation of `df` in MV layout:
    * [mv_key,] groupCols, n_rows, sum columns, extrema columns. */
  private def aggregate(df: DataFrame, groupCols: Seq[String],
      sums: Seq[(String, Column)],
      extrema: Extrema = Extrema()): DataFrame = {
    val aggExprs =
      sums.map { case (n, e) => sum(e).cast("long").as(n) } ++
        extrema.mins.map { case (n, e) => min(e).as(n) } ++
        extrema.maxs.map { case (n, e) => max(e).as(n) }
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), aggExprs: _*)
    if (needsKey(groupCols)) {
      val cols = KeyCol +: (groupCols ++ ("n_rows" +: (sums.map(_._1) ++
        extrema.names)))
      agg.withColumn(KeyCol, keyExpr(groupCols)).select(cols.map(col): _*)
    } else agg
  }

  /** Create MV table `mvName` as the full aggregation of lake table
    * `base` (one-time build; thereafter use [[refresh]]).
    * @return the base-table snapshot version the view reflects. */
  def materialize(lake: Lake, base: String, mvName: String,
      groupCols: Seq[String], sums: Seq[(String, Column)],
      extrema: Extrema = Extrema()): Long = {
    val v = lake.currentSnapshotId()
    lake.createTableAs(mvName,
      aggregate(lake.table(base), groupCols, sums, extrema))
    v
  }

  /** Fold base-table changes in `(fromVersion, toVersion]` into the MV.
    * @return `toVersion` (the version the view now reflects). */
  def refresh(lake: Lake, base: String, mvName: String,
      groupCols: Seq[String], sums: Seq[(String, Column)],
      fromVersion: Long,
      toVersion: Option[Long] = None,
      extrema: Extrema = Extrema()): Long = {
    val to = toVersion.getOrElse(lake.currentSnapshotId())
    if (to == fromVersion) return to
    val changes = lake.tableChanges(base, fromVersion, to)
    if (changes.isEmpty) return to // nothing changed: zero commits
    if (extrema.isEmpty) applyDelta(lake, mvName, groupCols, sums, changes)
    else applyDeltaWithExtrema(lake, base, mvName, groupCols, sums,
      extrema, changes, to)
    to
  }

  /** Extrema-aware fold: phase A folds sums/counts AND least/greatest
    * for groups the delta only INSERTED into (gated by a per-group
    * delete count); phase B partially recomputes the groups that saw a
    * delete — their stored extremum may have been retracted — from the
    * base table AT `to` (version-pinned, so bounded-batch catch-up and
    * late refreshes stay consistent), restricted by a semi-join to
    * exactly the dirty groups. Groups fully deleted leave the view. */
  private def applyDeltaWithExtrema(lake: Lake, base: String,
      mvName: String, groupCols: Seq[String],
      sums: Seq[(String, Column)], extrema: Extrema,
      changes: DataFrame, to: Long): Unit = {
    // update pairs fold as their two halves: postimage adds, preimage
    // retracts (tableChanges classifies same-snapshot delete+insert of
    // one rowid as an update, reference change_type values)
    val isIns = col("change_type").isin("insert", "update_postimage")
    val sign = when(isIns, 1L).otherwise(-1L)
    val aggExprs =
      Seq(sum(sign).cast("long").as("d_n"),
        sum(when(isIns, 0L).otherwise(1L)).cast("long").as("d_del")) ++
        sums.map { case (n, e) => sum(sign * e).cast("long").as(s"d_$n") } ++
        extrema.mins.map { case (n, e) =>
          min(when(isIns, e)).as(s"d_$n") } ++
        extrema.maxs.map { case (n, e) =>
          max(when(isIns, e)).as(s"d_$n") }
    val delta0 = changes.groupBy(groupCols.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
    val delta =
      if (needsKey(groupCols)) delta0.withColumn(KeyCol, keyExpr(groupCols))
      else delta0
    val key = mergeKey(groupCols)

    // ---- phase A: insert-only groups fold forward -----------------------
    val updates: Map[String, Column] =
      Map("n_rows" -> (col("t.n_rows") + col("s.d_n"))) ++
        sums.map { case (n, _) => n -> (col(s"t.$n") + col(s"s.d_$n")) } ++
        extrema.mins.map { case (n, _) =>
          n -> least(col(s"t.$n"), col(s"s.d_$n")) } ++
        extrema.maxs.map { case (n, _) =>
          n -> greatest(col(s"t.$n"), col(s"s.d_$n")) }
    val inserts: Seq[(String, Column)] =
      (if (needsKey(groupCols)) Seq(KeyCol -> col(s"s.$KeyCol")) else Nil) ++
        groupCols.map(g => g -> col(s"s.$g")) ++
        Seq("n_rows" -> col("s.d_n")) ++
        (sums.map(_._1) ++ extrema.names).map(n => n -> col(s"s.d_$n"))
    lake.merge(mvName, delta, key,
      whenMatchedUpdate = Some(updates),
      whenNotMatchedInsert = true,
      matchedCondition = Some(col("s.d_del") === 0L),
      notMatchedCondition = Some(col("s.d_del") === 0L),
      notMatchedInsertValues = Some(inserts))

    // ---- phase B: delete-touched groups partially recomputed ------------
    val dirtyKeys = delta.filter(col("d_del") > 0L)
      .select(groupCols.map(col): _*).distinct()
    if (!dirtyKeys.isEmpty) {
      val recomputed = aggregate(
        dirtyGroupRows(lake, base, mvName, to, dirtyKeys, groupCols),
        groupCols, sums, extrema)
      val allAggs = "n_rows" +: (sums.map(_._1) ++ extrema.names)
      lake.merge(mvName, recomputed, key,
        whenMatchedUpdate = Some(
          allAggs.map(n => n -> col(s"s.$n")).toMap),
        whenNotMatchedInsert = true,
        notMatchedInsertValues = Some(
          (if (needsKey(groupCols)) Seq(KeyCol -> col(s"s.$KeyCol"))
           else Nil) ++
            groupCols.map(g => g -> col(s"s.$g")) ++
            allAggs.map(n => n -> col(s"s.$n"))))
      // dirty groups with NO surviving rows vanish from the view; the
      // list is bounded by groups fully deleted in this delta
      val keyOf =
        if (needsKey(groupCols)) keyExpr(groupCols) else col(key)
      val vanished = dirtyKeys
        .join(recomputed, groupCols, "left_anti")
        .select(keyOf.cast("string").as("k"))
        .collect().map(_.getString(0)).toSeq
      if (vanished.nonEmpty)
        lake.delete(mvName,
          col(key).cast("string").isin(vanished: _*))
    }
    // clean groups whose membership dropped to zero leave the view too
    lake.delete(mvName, col("n_rows") === 0L)
  }

  /** The base rows AT `to` of the groups in `dirtyKeys`. The dirty keys
    * are groups of the view, so the view's footprint bounds the
    * broadcast side. */
  private[graft] def dirtyGroupRows(lake: Lake, base: String, mvName: String,
      to: Long, dirtyKeys: DataFrame, groupCols: Seq[String]): DataFrame =
    lake.tableAtVersion(base, to).join(
      boundedBroadcast(dirtyKeys, lake.tableSizeBytes(mvName)),
      groupCols, "left_semi")

  /** Fold a batch of change rows (schema: base columns + `change_type`
    * insert/delete) into the MV — the primitive [[refresh]] and
    * streaming maintenance (a CDC `readStream` + `foreachBatch`) share.
    * One MERGE + one positional delete of emptied groups; the shuffle
    * carries O(touched groups) rows. */
  def applyDelta(lake: Lake, mvName: String, groupCols: Seq[String],
      sums: Seq[(String, Column)], changes: DataFrame): Unit = {
    val sign = when(
      col("change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    // one row per touched group — partial aggregation happens map-side,
    // so the shuffle ahead of the MERGE is O(changed groups)
    val delta0 = changes.groupBy(groupCols.map(col): _*)
      .agg(sum(sign).cast("long").as("d_n"),
        sums.map { case (n, e) =>
          sum(sign * e).cast("long").as(s"d_$n") }: _*)
    val delta =
      if (needsKey(groupCols)) delta0.withColumn(KeyCol, keyExpr(groupCols))
      else delta0
    val key = mergeKey(groupCols)
    val updates: Map[String, Column] =
      Map("n_rows" -> (col("t.n_rows") + col("s.d_n"))) ++
        sums.map { case (n, _) => n -> (col(s"t.$n") + col(s"s.d_$n")) }
    val inserts: Seq[(String, Column)] =
      (if (needsKey(groupCols)) Seq(KeyCol -> col(s"s.$KeyCol")) else Nil) ++
        groupCols.map(g => g -> col(s"s.$g")) ++
        Seq("n_rows" -> col("s.d_n")) ++
        sums.map { case (n, _) => n -> col(s"s.d_$n") }
    lake.merge(mvName, delta, key,
      whenMatchedUpdate = Some(updates),
      whenNotMatchedInsert = true,
      notMatchedInsertValues = Some(inserts))
    // groups whose membership dropped to zero leave the view (a pure
    // positional delete — no rewrite of surviving rows)
    lake.delete(mvName, col("n_rows") === 0L)
  }

  /** Catch the view up to the base table's current snapshot in bounded
    * batches — the continuous-maintenance loop ([[graft.streaming
    * .ChangeFeed]]'s offset contract: durable snapshot-id offsets,
    * `maxSnapshotsPerBatch` caps each replay so a view recovering from a
    * long pause folds bounded deltas instead of one giant batch).
    * @return the base version the view now reflects (callers persist it
    *         as their checkpoint offset). */
  def followFeed(lake: Lake, base: String, mvName: String,
      groupCols: Seq[String], sums: Seq[(String, Column)],
      fromVersion: Long,
      maxSnapshotsPerBatch: Option[Long] = None,
      extrema: Extrema = Extrema()): Long = {
    var v = fromVersion
    var latest = lake.currentSnapshotId()
    while (v < latest) {
      val to = maxSnapshotsPerBatch
        .map(m => math.min(latest, v + m)).getOrElse(latest)
      v = refresh(lake, base, mvName, groupCols, sums, v, Some(to),
        extrema)
      // the refresh's own MV commits advance the snapshot counter; the
      // next round over them finds an empty base delta and early-outs
      latest = lake.currentSnapshotId()
    }
    v
  }

  // ------------------------------------------------------ managed views

  private val DefKey = "mv_definition"
  private val VerKey = "mv_version"
  private val FieldSep = ""

  private def tableIdOf(lake: Lake, table: String): Long = {
    val (schema, name) = table.split('.') match {
      case Array(s, t) => (s, t)
      case Array(t) => ("main", t)
    }
    lake.meta.tableByName(name, lake.currentSnapshotId(), schema)
      .getOrElse(throw new IllegalArgumentException(s"no table $table"))
      .tableId
  }

  /** aggregate entry list ("name:expr" = sum; "name:min:expr" /
    * "name:max:expr" = extrema) → (sums, Extrema) */
  private def parseAggEntries(
      entries: Seq[(String, String)]): (Seq[(String, Column)], Extrema) = {
    val sums = scala.collection.mutable.Buffer.empty[(String, Column)]
    val mins = scala.collection.mutable.Buffer.empty[(String, Column)]
    val maxs = scala.collection.mutable.Buffer.empty[(String, Column)]
    entries.foreach { case (n, rest) =>
      if (rest.startsWith("min:")) mins += n -> expr(rest.substring(4))
      else if (rest.startsWith("max:")) maxs += n -> expr(rest.substring(4))
      else sums += n -> expr(rest)
    }
    (sums.toSeq, Extrema(mins.toSeq, maxs.toSeq))
  }

  /** [[materialize]] + store the view's definition (base, groups,
    * aggregate entries as SQL text — "name:expr" sums, "name:min:expr" /
    * "name:max:expr" extrema) and reflected version as table-scoped
    * catalog options — the managed-view catalog entry that lets
    * [[refreshManaged]] run from the view name alone. */
  def createManaged(lake: Lake, mvName: String, base: String,
      groupCols: Seq[String], sums: Seq[(String, String)]): Long = {
    val (sumAggs, extrema) = parseAggEntries(sums)
    val v = materialize(lake, base, mvName, groupCols, sumAggs, extrema)
    lake.setOption(DefKey,
      Seq(base, groupCols.mkString(","),
        sums.map { case (n, e) => s"$n:$e" }.mkString(";"))
        .mkString(FieldSep),
      table = Some(mvName))
    lake.setOption(VerKey, v.toString, table = Some(mvName))
    v
  }

  /** Catch a managed view up to the base's current snapshot using its
    * stored definition + version checkpoint. */
  def refreshManaged(lake: Lake, mvName: String): Long = {
    val tid = tableIdOf(lake, mvName)
    val defn = lake.meta.getOptionScoped(DefKey, "table", tid).getOrElse(
      throw new IllegalArgumentException(
        s"$mvName is not a managed view (no $DefKey option)"))
    val from = lake.meta.getOptionScoped(VerKey, "table", tid)
      .map(_.toLong).getOrElse(throw new IllegalStateException(
        s"$mvName has no $VerKey checkpoint"))
    val Array(base, groupsS, sumsS) = defn.split(FieldSep, -1)
    val groups = groupsS.split(",").toSeq
    val (sums, extrema) = parseAggEntries(
      sumsS.split(";").toSeq.filter(_.nonEmpty).map { s =>
        val i = s.indexOf(':')
        (s.substring(0, i), s.substring(i + 1))
      })
    val before = lake.currentSnapshotId()
    val v = followFeed(lake, base, mvName, groups, sums, from,
      extrema = extrema)
    // persist the checkpoint only when the view actually folded a delta —
    // a no-op refresh must not itself commit (the stale `from` only costs
    // a metadata-cheap empty-range rescan next time)
    if (lake.currentSnapshotId() != before)
      lake.setOption(VerKey, v.toString, table = Some(mvName))
    v
  }

  /** true while a refresh triggered by auto-refresh is running on this
    * thread — the refresh's own MV commits must not re-trigger */
  private val inAutoRefresh = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private[graft] def autoRefreshActive: Boolean = inAutoRefresh.get()

  /** Refresh every managed view defined over `base` (the mv_auto_refresh
    * hook's worker). Returns the number of views refreshed. */
  def refreshViewsOn(lake: Lake, base: String): Int = {
    if (inAutoRefresh.get()) return 0
    val baseName = base.stripPrefix("main.")
    val defs = lake.meta.tableScopedOptions(DefKey)
    if (defs.isEmpty) return 0
    val nameById = lake.listSchemas().flatMap { s =>
      lake.meta.listTables(lake.currentSnapshotId(), s).map(t =>
        t.tableId -> (if (s == "main") t.name else s"$s.${t.name}"))
    }.toMap
    inAutoRefresh.set(true)
    try defs.count { case (mvId, defn) =>
      val definedBase = defn.split(FieldSep, -1).head.stripPrefix("main.")
      definedBase == baseName && nameById.contains(mvId) && {
        refreshManaged(lake, nameById(mvId)); true
      }
    } finally inAutoRefresh.set(false)
  }

  /** The MV in reader layout (internal key column dropped). */
  def read(lake: Lake, mvName: String, groupCols: Seq[String]): DataFrame = {
    val df = lake.table(mvName)
    if (needsKey(groupCols)) df.drop(KeyCol) else df
  }
}
