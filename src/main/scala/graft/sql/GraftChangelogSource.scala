package graft.sql

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable

/** STATE-AS-STREAM: `spark.readStream.format("graft").load(path)` tails a
  * lake table's changelog as a Structured Streaming source — the read-side
  * twin of the engine's CDC ingest, letting any downstream consumer chain
  * off a table incrementally (a derived table, a mart, an external sink)
  * with exactly-once offsets managed by the consumer's own checkpoint.
  *
  * Semantics: offsets are table VERSIONS (monotone, checkpoint-
  * serializable); each micro-batch is exactly the CDC rows — tombstones
  * included — appended by the snapshot commits in `(start, end]`
  * ([[LakeTable.readChangesBetween]]: only `opKind == "append"` commits
  * contribute; compaction re-houses rows and is correctly invisible).
  * LWW-resolving the streamed rows therefore reproduces the table's state
  * delta for the range, which is the whole changelog contract. A ROLLBACK
  * inside an unconsumed range fails the stream loudly — rows un-happened,
  * no delta can express that; the consumer re-baselines from a full scan
  * (the library's documented contract, surfaced unchanged).
  *
  * The V1 source bridge (`getBatch` returns a DataFrame) is the right
  * shape here for the same reason the write side uses the V1 insert hook:
  * a micro-batch IS the library's own changelog frame (a pruned parquet
  * scan of the range's files), not a per-partition reader protocol to
  * reimplement.
  *
  * Options:
  *  - `startingVersion` — version to tail from (exclusive). Default: the
  *    table's current version when the stream starts ("latest", new
  *    changes only). `0` streams every retained commit first.
  *  - `maxVersionsPerTrigger` — admit at most this many APPEND commits per
  *    micro-batch. Without it, a catch-up read (`startingVersion=0` on a
  *    table with months of history) delivers the whole retained changelog
  *    as ONE batch — one giant shuffle-and-sink unit the consumer's
  *    checkpoint can't subdivide. Metadata/compaction commits carry no
  *    change rows and ride along free.
  *  - `maxRowsPerTrigger` — admit append commits until their cumulative
  *    added-row count would exceed this (at least one commit is always
  *    admitted, so an oversized single commit still makes progress —
  *    commits are the atomic offset unit and are never split). Row counts
  *    come from file metadata in the manifests: admission control costs
  *    zero Spark jobs. Both caps compose with `Trigger.AvailableNow`,
  *    which then drains the backlog as a SEQUENCE of bounded batches
  *    instead of one unbounded one.
  *
  * Schema evolution: the source schema is pinned at stream start (the
  * Structured Streaming contract — a restart picks up the evolved shape);
  * batches from newer-schema commits are reconciled to the pinned shape
  * (missing columns null-filled, added columns dropped, widenings cast
  * down is refused by the analyzer — restart to widen). */
final class GraftChangelogSource(
    spark: SparkSession,
    path: String,
    startingVersion: Option[Int],
    maxVersionsPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None
) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger.forall(_ > 0), "maxVersionsPerTrigger must be > 0")
  require(maxRowsPerTrigger.forall(_ > 0), "maxRowsPerTrigger must be > 0")

  private val table = LakeTable.load(spark, path)
  private val startVersion: Int = startingVersion.getOrElse(table.currentVersion)
  override val schema: StructType = table.schema

  private def versionOf(o: org.apache.spark.sql.connector.read.streaming.Offset): Int =
    o match {
      case l: LongOffset => l.offset.toInt
      // checkpoint-recovered offsets arrive serialized (json = the long)
      case other => other.json().trim.toInt
    }

  override def getOffset: Option[Offset] = {
    val v = table.currentVersion
    if (v <= startVersion) None else Some(LongOffset(v.toLong))
  }

  // ----- Trigger.AvailableNow: pin the target version at query start so
  // the run drains exactly the snapshots that existed then and stops —
  // without this Spark falls back to a single-batch heuristic that can
  // stop early on a previously-uncommitted batch
  @volatile private var availableNowBound: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowBound = Some(table.currentVersion)

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val from = Option(start).map(versionOf).getOrElse(startVersion)
    val target = availableNowBound.getOrElse(table.currentVersion)
    val v = if (target <= from) from else admit(from, target)
    if (v <= from) null else LongOffset(v.toLong)
  }

  /** Walk versions forward from `from` toward `target`, stopping when an
    * admission cap would be exceeded. Driver-side manifest reads only —
    * per-commit added-row counts come from the files' `rows` metadata
    * ([[LakeTable.addedFilesOf]], the same change classification
    * `getBatch`'s range read uses, diffed against a path set carried
    * incrementally so the walk is O(admitted versions × files)). A commit
    * containing a file with UNKNOWN row count (a failed footer read) is
    * treated as cap-busting, not free: it is admitted ALONE under a rows
    * cap — failing closed to the smallest batch, never open to an
    * unbounded one. Non-append commits (metadata, compaction, rollback)
    * carry no change rows and never count against a cap; a rollback is
    * still ADMITTED (never skipped past) so `getBatch` fails loudly per
    * the changelog contract. At least one append commit is always
    * admitted: commits are the atomic offset unit, so an oversized commit
    * is delivered whole rather than stalling the stream. */
  private def admit(from: Int, target: Int): Int = {
    if (maxVersionsPerTrigger.isEmpty && maxRowsPerTrigger.isEmpty) return target
    var v = from
    var appends = 0
    var rows = 0L
    // from=0 is the synthetic "before everything" offset — no snapshot
    var prevPaths =
      if (from <= 0) Set.empty[String]
      else table.filesOf(table.snapshotAt(from)).map(_.path).toSet
    var capped = false
    while (!capped && v < target) {
      val snap = table.snapshotAt(v + 1)
      if (snap.opKind == "append") {
        val added = table.addedFilesOf(snap, prevPaths)
        val addedRows =
          if (added.exists(_.rows < 0L)) Long.MaxValue / 2 // unknown: cap-busting
          else added.iterator.map(_.rows).sum
        val exceeds =
          maxVersionsPerTrigger.exists(m => appends + 1 > m) ||
            maxRowsPerTrigger.exists(m => rows + addedRows > m)
        if (exceeds && appends > 0) capped = true
        else { appends += 1; rows += addedRows }
      }
      if (!capped) { prevPaths = table.filesOf(snap).map(_.path).toSet; v += 1 }
    }
    v
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startVersion)
    val changes = table.readChangesBetween(from, versionOf(end))
    // align to the pinned stream schema (the range may span an evolution)
    val aligned = changes.select(schema.fields.map { f =>
      (if (changes.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)
    }.toSeq: _*)
    // MicroBatchExecution asserts isStreaming on V1 getBatch results
    org.apache.spark.sql.graftshim.SessionBridge.asStreamingFrame(aligned)
  }

  override def stop(): Unit = ()
}

object GraftChangelogSource {
  def fromParameters(
      spark: SparkSession, parameters: Map[String, String]): GraftChangelogSource = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "path required: spark.readStream.format(\"graft\").load(path)"))
    new GraftChangelogSource(spark, path,
      parameters.get("startingVersion").map(_.toInt),
      parameters.get("maxVersionsPerTrigger").map(_.toInt),
      parameters.get("maxRowsPerTrigger").map(_.toLong))
  }

  def schemaOf(ctx: SQLContext, parameters: Map[String, String]): StructType = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("path required"))
    LakeTable.load(ctx.sparkSession, path).schema
  }
}
