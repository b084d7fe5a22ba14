package graft.cdc

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.lake.LakeTable

/** Background compaction driver: takes [[LakeMerge.flushL0]] /
  * [[LakeMerge.compactTiered]] off the ingest critical path, so a hot-bucket
  * major no longer stalls the foreachBatch loop for its full duration (the
  * round-3 bench measured 5–7 s majors against ~1 s appends — at 10^10
  * events that inline stall is the latency/backpressure cliff).
  *
  * Model: ONE single-threaded executor per compactor. [[poke]] is
  * non-blocking and coalescing — if a pass is running, at most one
  * follow-up is queued, and that follow-up re-reads the latest snapshot
  * (compaction is idempotent housekeeping, so "run once more, later" loses
  * nothing). Safety against the concurrently-appending ingest writer is the
  * lake's optimistic commit protocol itself: [[LakeTable.rewriteCommit]]
  * replaces only the exact files a pass read, carrying forward anything a
  * concurrent commit added to the same buckets — committed data cannot be
  * lost, it just stays a delta on top of the rewrite until the next pass.
  *
  * A failed pass latches its error and rethrows on the next [[poke]] /
  * [[drain]] — compaction failure must surface on the ingest path, not
  * silently stop bounding read amplification.
  *
  * Two compactors racing on ONE table (e.g. two writer streams each with
  * their own): if both rewrite the same files, the loser's commit re-adds
  * its merged output as additional files (its replace-set is already gone).
  * That duplicates ROWS transiently, never loses them — LWW resolution is
  * idempotent (duplicate winners collapse to the same row), so reads stay
  * correct and the next pass folds the redundancy away. Verified at job
  * level by AsyncCompactionSpec's two-concurrent-streams test.
  */
final class Compactor(
    table: LakeTable,
    maxDeltaFiles: Int = 16,
    flushL0MinFiles: Int = 0, // 0 = never flush L0 (classic mode)
    flushL0MinBytes: Long = 0L, // additional bytes trigger (0 = count-only)
    backfillLineage: Option[LakeTable] = None // exact L0 distinct keys at flush
) extends AutoCloseable {

  private val exec = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graft-compactor")
    t.setDaemon(true)
    t
  }
  private val queued = new AtomicBoolean(false)
  @volatile private var failure: Throwable = null
  @volatile private var passesDone = 0L

  /** Number of completed background passes (observability/tests). */
  def passes: Long = passesDone

  /** Whether a pass has failed (latched; the error rethrows on the next
    * [[poke]]/[[drain]]). */
  def hasFailed: Boolean = failure != null

  /** Request a compaction pass; returns immediately. Coalesces: while a
    * pass runs, all pokes fold into a single queued follow-up. */
  def poke(): Unit = {
    rethrowIfFailed()
    if (queued.compareAndSet(false, true)) {
      exec.execute { () =>
        // release the coalescing slot BEFORE the pass: a poke arriving
        // mid-pass queues exactly one follow-up that sees the newest state
        queued.set(false)
        // the executor thread was forked from the STREAMING thread on the
        // first poke, so Spark's InheritableThreadLocal job-group leaks in:
        // without an own group, StreamingQuery.stop() cancels the
        // compactor's in-flight jobs and a healthy pass dies as "failed"
        table.spark.sparkContext.setJobGroup("graft-compactor",
          "background compaction", interruptOnCancel = false)
        try {
          Compactor.housekeep(table, maxDeltaFiles, flushL0MinFiles,
            flushL0MinBytes, backfillLineage)
          passesDone += 1
        } catch { case e: Throwable => failure = e }
      }
    }
  }

  /** Block until every queued pass has finished (shutdown/test barrier). */
  def drain(timeoutSec: Int = 600): Unit = {
    val fence = exec.submit(new Runnable { def run(): Unit = () })
    fence.get(timeoutSec, TimeUnit.SECONDS)
    rethrowIfFailed()
  }

  override def close(): Unit = {
    // drain rethrows a latched pass failure — the executor thread must be
    // released regardless, or a failed compactor leaks its thread forever
    // (and, removed from the stream registry, could never be shut down)
    try {
      drain()
      // the close contract is a DETERMINISTIC, COMPLETED state: flush the
      // L0 tail below the running trigger (with its lineage backfill) and
      // fold any remaining deltas — the stream has stopped, so this runs
      // single-writer on the caller thread
      if (flushL0MinFiles > 0)
        Compactor.housekeep(table, maxDeltaFiles, flushL0MinFiles = 1,
          flushL0MinBytes = 0L, backfillLineage)
    } finally {
      exec.shutdown()
      ()
    }
  }

  private def rethrowIfFailed(): Unit = {
    if (failure != null)
      throw new IllegalStateException("async compaction failed", failure)
  }
}

object Compactor {

  /** The one housekeeping pass, run inline by [[CdcStream.applyBatch]] or on
    * a [[Compactor]]'s thread: flush L0 once `flushL0MinFiles` files (or
    * `flushL0MinBytes` bytes) pile up — the L0 read-amplification bound;
    * 0 = never flush — then let size-tiered compaction fold the resulting
    * deltas. A bucket is major-compacted when its delta bytes reach its
    * base bytes (each rewrite at least doubles the base → O(log) rewrites
    * per key over the table's lifetime), or minor-merged at
    * `maxDeltaFiles` delta files as the read-amplification cap. */
  def housekeep(
      table: LakeTable,
      maxDeltaFiles: Int,
      flushL0MinFiles: Int,
      flushL0MinBytes: Long,
      backfillLineage: Option[LakeTable]
  ): Unit = {
    if (flushL0MinFiles > 0)
      LakeMerge.flushL0(table, minFiles = flushL0MinFiles,
        minBytes = flushL0MinBytes, backfillLineage = backfillLineage)
    LakeMerge.compactTiered(table, maxDeltaFiles = maxDeltaFiles)
    ()
  }
}
