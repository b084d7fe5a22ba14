package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-writer-wins MERGE semantics (SURVEY.md §7.3).
  *
  * The reference's contract: replaying the same snapshot (re-running a job)
  * must converge to the same table state — enforced there by a
  * skip-if-populated fence (reference `data-pipeline.workflows.yaml:269-294`)
  * and per-document ordered folds (`modules/transformation.py:404-423`).
  * Here the contract is algebraic: state is the max over the total ordering
  * key `(commit, lsn)` per `(repo, path)`, which makes merge idempotent,
  * associative and order-insensitive across batches — no watermark needed,
  * late events ordered before the stored winner simply lose.
  *
  * Implementation notes (scale):
  *  - `max_by(struct(...), struct(commit, lsn))` → map-side partial
  *    aggregation, ONE shuffle. With a var-length payload it plans as
  *    SortAggregate (codegen'd); a hash-based alternative (an `lww_max`
  *    TypedImperativeAggregate via ObjectHashAggregate, since removed)
  *    measured ~2.5x SLOWER because TypedImperativeAggregate updates are
  *    interpreted per row — see BASELINE.md. The merge path therefore avoids per-batch
  *    aggregation altogether (LakeMerge appends raw deltas; LWW resolves
  *    at compaction/read, sorting each row once, not once per batch).
  *  - schema drift: batches are united by name with missing columns allowed
  *    (additive evolution, reference `ignoreUnknownValues`/key-fallback at
  *    `modules/transformation.py:87-91,133-136`).
  */
object MergeEngine {

  /** Columns that make up the upsert key. */
  val keyCols: Seq[String] = Seq("repo", "path")

  /** Columns that make up the total LWW ordering. */
  val orderCols: Seq[String] = Seq("commit", "lsn")

  private def ordKey: Column = struct(col("commit"), col("lsn"))

  /** Dedup a batch of change events to the single LWW winner per key.
    * Output keeps the `op` column (a winning tombstone must still delete
    * against the existing state). */
  def dedupBatch(batch: DataFrame): DataFrame = {
    val payload = batch.columns.filterNot(keyCols.contains)
    batch
      .groupBy(keyCols.map(col): _*)
      .agg(
        max_by(struct(payload.map(col): _*), ordKey).as("_w")
      )
      .select(keyCols.map(col) ++ payload.map(c => col(s"_w.$c").as(c)): _*)
  }

  /** Apply a batch of change events onto the current state, RETAINING
    * tombstones.
    *
    * The state carries `op` ('U' live row / 'D' tombstone). Tombstones must
    * stay in the state: if a delete were physically dropped, an
    * out-of-order *older* upsert for the same key arriving in a later batch
    * would find no row to lose against and resurrect the key — breaking
    * replay-order insensitivity (the property that lets any checkpoint
    * restart reconverge). Consumers read through [[liveView]].
    *
    * union + ONE max_by aggregation resolves dedup-within-batch and
    * merge-against-state in a single shuffle; a state row survives only if
    * no event with a greater (commit, lsn) exists for its key.
    *
    * @param state current snapshot rows including `op`
    * @param batch raw change events (may contain intra-batch duplicates and
    *              columns `state` doesn't have yet — additive evolution)
    */
  def apply(state: DataFrame, batch: DataFrame): DataFrame =
    dedupBatch(state.unionByName(batch, allowMissingColumns = true))

  /** The consumer-facing view of a tombstone-retaining state. */
  def liveView(state: DataFrame): DataFrame =
    state.where(col("op") =!= "D").drop("op")

  /** Column-pruning-friendly resolved live view: LWW winner per key via
    * `row_number()=1` instead of `max_by(struct(ALL columns))`. The max_by
    * shape buries every payload column inside the aggregate's struct, so a
    * downstream `SELECT repo` still scans `content` (the dominant bytes);
    * the window shape references only key + ordering + op, payload columns
    * pass through and Catalyst prunes unreferenced ones all the way into
    * the parquet scan. Spark rewrites the rank-1 filter to WindowGroupLimit
    * (partial top-1 per key BEFORE the exchange), so the shuffle reduction
    * of the aggregate shape is kept. Used by the SQL surface
    * ([[graft.sql.GraftTableResolution]]), where the engine cannot know at
    * resolution time which columns the query will touch. Output column
    * order matches [[dedupBatch]]+[[liveView]]: keys first, then payload
    * minus `op`. */
  def prunableLiveView(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("commit").desc, col("lsn").desc)
    val payload = state.columns.filterNot(c => keyCols.contains(c) || c == "op")
    state.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col("op") =!= "D")
      .select((keyCols ++ payload).map(col): _*)
  }

  /** Column-pruning-friendly resolved STATE view — like
    * [[prunableLiveView]] but tombstone winners are KEPT and `op` is
    * exposed: the per-key LWW winner whatever its kind. The SQL
    * `graft.ns.t.cdc` relation reads through this (state-as-CDC-events:
    * what a full re-emission of the table's net content would send). */
  def prunableStateView(state: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("commit").desc, col("lsn").desc)
    val payload = state.columns.filterNot(keyCols.contains)
    state.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select((keyCols ++ payload).map(col): _*)
  }

  /** Plain-Scala fold oracle for tests: the same semantics computed
    * sequentially on the driver (SURVEY.md §5 point 3). */
  def foldOracle(events: Seq[ChangeEvent]): Map[(String, String), ChangeEvent] =
    events.foldLeft(Map.empty[(String, String), ChangeEvent]) { (m, e) =>
      val k = (e.repo, e.path)
      m.get(k) match {
        case Some(cur)
            if (cur.commit > e.commit) ||
              (cur.commit == e.commit && cur.lsn > e.lsn) =>
          m
        case _ => m.updated(k, e)
      }
    }.filter { case (_, e) => e.op != "D" }
}
