package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.lake.LakeTable

/** Structured-Streaming binlog tail → exactly-once lake MERGE (SURVEY.md
  * §7.2): a file source tails parquet binlog segments; every micro-batch is
  * validated (bad records → dead-letter table, the reference's
  * error-partition analog, `modules/non_summary_pipeline.py:93-111`), then
  * applied via [[LakeMerge.mergeBatch]] under an epoch fence keyed by the
  * streaming queryId, then a lineage/metrics row is committed to a sidecar
  * lake table (§7.7). Restart from checkpoint replays the last unacked
  * batch; the fence turns the replay into a no-op, so the table reconverges
  * byte-identically (the reference's rerun-safety contract,
  * `data-pipeline.workflows.yaml:269-294`).
  */
object CdcStream {

  /** Binlog envelope schema (FIXTURES.md §2) for the streaming file source,
    * which requires a declared schema. `lang` nullable — events before the
    * evolution epoch simply lack it. */
  val binlogSchema: StructType = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lsn", LongType),
    StructField("op", StringType),
    StructField("lang", StringType),
    StructField("content", StringType)
  ))

  val metricsSchema: StructType = StructType(Seq(
    StructField("metric_key", StringType), // sha256(queryId-epochId): idempotent upsert key
    StructField("query_id", StringType),
    StructField("epoch_id", LongType),
    StructField("snapshot_id", LongType),
    StructField("batch_rows", LongType),
    StructField("distinct_keys", LongType),
    StructField("deletes", LongType),
    StructField("bad_records", LongType),
    StructField("touched_buckets", LongType),
    StructField("min_lsn", LongType),
    StructField("max_lsn", LongType),
    StructField("partition_offsets", StringType), // JSON [{part,minLsn,maxLsn,rows}]
    StructField("wall_ms", LongType)
  ))

  /** Dead-letter row: the rejected record (as JSON) + why. For undecodable
    * JSON lines, `record_json` is the ORIGINAL raw line, verbatim. */
  val deadLetterSchema: StructType = StructType(Seq(
    StructField("query_id", StringType),
    StructField("epoch_id", LongType),
    StructField("reason", StringType),
    StructField("record_json", StringType)
  ))

  /** Corrupt-record capture column for text-based binlog formats. Stripped
    * before the merge (never becomes a table column). */
  val CorruptCol = "_corrupt_record"

  /** Validation predicate: a record the merge can apply. Anything else is
    * routed to the dead-letter table instead of failing the stream — the
    * reference tolerates bad rows with maxBadRecords/ignoreUnknownValues
    * (`modules/transformation.py:87-91`) and a logged error partition. */
  private def isValid: org.apache.spark.sql.Column =
    col("repo").isNotNull && col("path").isNotNull &&
      col("commit").isNotNull && col("lsn").isNotNull &&
      col("op").isin("I", "U", "D") &&
      (col("op") === "D" || col("content").isNotNull)

  private def invalidReason: org.apache.spark.sql.Column =
    when(col("repo").isNull || col("path").isNull, "null-key")
      .when(col("commit").isNull || col("lsn").isNull, "null-ordering")
      .when(!col("op").isin("I", "U", "D"), "bad-op")
      .otherwise("null-content")

  /** A reporting view maintained CONTINUOUSLY by the ingest stream: after
    * every applied micro-batch, [[Mart.catchUp]] incrementally refreshes
    * the mart from exactly the versions that batch committed — the
    * streaming analog of the reference's separate scheduled reporting job
    * (`modules/tech_report_pipeline.py`), with the same exactly-once
    * guarantees as the data path (version-fenced refresh epochs).
    *
    * @param aggregate the view body: resolved live state → one row per
    *                  group (any groupBy over `groupCols`) */
  final case class MartFeed(
      mart: graft.lake.LakeTable,
      groupCols: Seq[String],
      aggregate: DataFrame => DataFrame,
      queryId: String)

  /** Live background compactors, keyed by queryId — so callers (soak,
    * tests, operators) can drain/close after the stream stops. */
  private val compactors = scala.collection.concurrent.TrieMap[String, Compactor]()

  /** The background compactor attached to a running/finished stream, if
    * [[start]] was called with `asyncCompact = true`. */
  def compactorOf(queryId: String): Option[Compactor] = compactors.get(queryId)

  /** Wait for all queued background compaction passes of `queryId` to
    * finish and release the compactor thread. Call after the stream
    * terminates when deterministic on-disk state is needed (tests, soak
    * checksums); a long-lived service can instead leave the daemon running. */
  def drainCompaction(queryId: String): Unit =
    compactors.remove(queryId).foreach(_.close())

  /** Open (or create) the lineage sidecar table. */
  def metricsTable(spark: SparkSession, root: String): LakeTable =
    if (LakeTable.exists(root)) LakeTable.load(spark, root)
    else LakeTable.create(spark, root, metricsSchema, numBuckets = 1)

  /** Open (or create) the dead-letter table. */
  def deadLetterTable(spark: SparkSession, root: String): LakeTable =
    if (LakeTable.exists(root)) LakeTable.load(spark, root)
    else LakeTable.create(spark, root, deadLetterSchema, numBuckets = 1)

  /** Start the replay: tail `binlogDir`, merge every micro-batch into
    * `table`, record lineage into `metrics`, route invalid records into
    * `deadLetters` (when provided — otherwise they are counted and dropped).
    *
    * @param queryId      stable logical id — the fencing key across restarts
    * @param availableNow drain-and-stop (replay semantics) vs continuous tail
    * @param ignoreCorruptFiles tolerate undecodable segment files (the
    *        reference's is_valid_gzip pre-read probe, S3): the corrupt file
    *        is skipped with a warning instead of failing the stream
    */
  def start(
      spark: SparkSession,
      table: LakeTable,
      metrics: LakeTable,
      binlogDir: String,
      checkpointDir: String,
      queryId: String,
      maxFilesPerTrigger: Int = 8,
      saltPartitions: Int = 4,
      availableNow: Boolean = true,
      deadLetters: Option[LakeTable] = None,
      ignoreCorruptFiles: Boolean = false,
      format: String = "parquet",
      compactAtDeltas: Int = 16,
      expireEvery: Int = 0,
      expireRetain: Int = 10,
      l0Mode: Boolean = false,
      asyncCompact: Boolean = false,
      l0FlushBytes: Long = 0L,
      martFeeds: Seq[MartFeed] = Nil,
      fastLineage: Option[Boolean] = None,
      // grow the bucket layout when mean bucket volume crosses this target
      // (0 = off): checked per epoch from manifest metadata already in
      // memory, committed as one metadata swap (LakeMerge.maybeRebucket)
      autoRebucketBytes: Long = 0L
  ): StreamingQuery = {
    // async mode: flushL0/compactTiered run on a background thread instead
    // of inside foreachBatch — ingest never stalls behind a major. Safe
    // under the optimistic commit protocol (rewrite carry-forward); see
    // Compactor. Retrieve/drain via compactorOf/drainCompaction(queryId).
    val compactor =
      if (asyncCompact && compactAtDeltas > 0) {
        compactors.remove(queryId).foreach(_.close())
        val c = new Compactor(table, sizeRatio = 1.0,
          maxDeltaFiles = compactAtDeltas,
          flushL0MinFiles = if (l0Mode) compactAtDeltas else 0,
          flushL0MinBytes = l0FlushBytes,
          backfillLineage = if (l0Mode) Some(metrics) else None)
        compactors.put(queryId, c)
        Some(c)
      } else None
    val reader = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("ignoreCorruptFiles", ignoreCorruptFiles.toString)
    // binlog segment encodings: parquet (default) or JSON-lines (the common
    // wire format of real CDC feeds, e.g. Debezium envelopes). A JSON line
    // that fails to parse comes back all-null (PERMISSIVE) with the
    // ORIGINAL text captured in the corrupt-record column, so the
    // dead-letter row preserves the undecodable evidence — the reference
    // logs the raw content of undecodable records
    // (modules/transformation.py:28-36, import_all.py:451-458).
    val src = format match {
      case "parquet" => reader.schema(binlogSchema).parquet(binlogDir)
      case "json" => reader
        .schema(binlogSchema.add(StructField(CorruptCol, StringType)))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CorruptCol)
        .json(binlogDir)
      case other => throw new IllegalArgumentException(s"unsupported binlog format: $other")
    }

    val writer = src.writeStream
      .queryName(queryId)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(table, metrics, batch, queryId, batchId, saltPartitions,
          compactAtDeltas = compactAtDeltas, deadLetters = deadLetters,
          expireEvery = expireEvery, expireRetain = expireRetain,
          l0Mode = l0Mode, compactor = compactor, l0FlushBytes = l0FlushBytes,
          martFeeds = martFeeds, fastLineage = fastLineage)
        if (autoRebucketBytes > 0L &&
            LakeMerge.maybeRebucket(table, autoRebucketBytes))
          System.err.println(s"[cdc] $queryId: layout grown to " +
            s"${table.snapshot.numBuckets} buckets (epoch $batchId)")
        ()
      }

    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Replay from a MANIFEST file listing segment paths (one per line) —
    * the reference's second source shape (`modules/transformation.py:53-57`).
    * Batch-only (a manifest is a closed set): applies the listed segments
    * in `batchesOf`-file groups under sequential epochs continuing from the
    * current fence. */
  def replayManifest(
      spark: SparkSession,
      table: LakeTable,
      metrics: LakeTable,
      manifestPath: String,
      queryId: String,
      batchesOf: Int = 8,
      saltPartitions: Int = 4,
      deadLetters: Option[LakeTable] = None
  ): Seq[CommitStats] = {
    val paths = spark.read.textFile(manifestPath)
      .collect().map(_.trim).filter(_.nonEmpty).toSeq.sorted
    var epoch = math.max(table.fence(queryId), metrics.fence(queryId)) + 1
    paths.grouped(batchesOf).map { group =>
      val batch = spark.read.schema(binlogSchema).parquet(group: _*)
      val stats = applyBatch(table, metrics, batch, queryId, epoch,
        saltPartitions, deadLetters = deadLetters)
      epoch += 1
      stats
    }.toSeq
  }

  /** Commit-summary key carrying the epoch's lineage record INSIDE the data
    * commit — one metadata swap carries data, fence and lineage, so no
    * crash window can separate them and sidecar healing recovers the exact
    * row from table history alone. */
  val LineageSummaryKey = "lineage"

  /** One fenced micro-batch: validate/route → merge (data commit carries
    * the lineage record in its summary) → lineage sidecar row (driver-side
    * file IO, no Spark job).
    *
    * Two lineage collection modes:
    *  - full (default for classic merges): the batch is persisted once and
    *    an explicit per-partition aggregation computes exact per-INPUT-
    *    partition offset ranges (the reference's compute-once fan-out,
    *    `modules/transformation.py:100-114`);
    *  - fast (default in L0 mode — the throughput-first deployment): the
    *    global counts are collected by `Dataset.observe` DURING the merge's
    *    own write job (zero extra pass, zero persist — the full mode's
    *    cache materialization writes the whole batch through memory twice,
    *    the dominant per-epoch overhead on a bandwidth-bound box), and the
    *    offsets come from the staged files' parquet footer stats (in L0
    *    mode staged files are exactly the write tasks, so these are genuine
    *    per-task offset ranges). Override with `fastLineage`. */
  def applyBatch(
      table: LakeTable,
      metrics: LakeTable,
      batch: DataFrame,
      queryId: String,
      batchId: Long,
      saltPartitions: Int = 4,
      compactAtDeltas: Int = 16,
      deadLetters: Option[LakeTable] = None,
      expireEvery: Int = 0,
      expireRetain: Int = 10,
      l0Mode: Boolean = false,
      compactor: Option[Compactor] = None,
      l0FlushBytes: Long = 0L,
      martFeeds: Seq[MartFeed] = Nil,
      fastLineage: Option[Boolean] = None
  ): CommitStats = {
    if (table.fence(queryId) >= batchId) {
      // Redelivered epoch — exactly-once no-op for the DATA. A crash in the
      // window between the data commit and the sidecar row leaves the
      // lineage row missing; the data commit carries the FULL lineage
      // record in its summary, so healing is a summary read + driver-side
      // row write — healed rows are byte-identical to never-crashed ones.
      // When that record is out of reach — the fenced commit was expired
      // (commitForFence returns None), or it was written by a direct
      // LakeMerge.mergeBatch call that records no lineage summary — the
      // counts are recomputed from the redelivered batch, with the commit
      // (when retained) supplying the facts the batch can't: snapshot id,
      // distinct keys.
      val fencedCommit = table.commitForFence(queryId, batchId)
      val fencedLineage = fencedCommit
        .flatMap(_.summary.get(LineageSummaryKey)).map(parseLineageJson)
      if (metrics.fence(queryId) < batchId) {
        (fencedCommit, fencedLineage) match {
          case (Some(snap), Some(lin)) =>
            recordLineage(metrics, lin, queryId, batchId,
              snapshotId = snap.snapshotId,
              distinctKeys = summaryLong(snap, "distinct-keys"))
          case _ =>
            recordLineage(metrics, computeLineage(batch), queryId, batchId,
              snapshotId = fencedCommit.map(_.snapshotId).getOrElse(table.snapshot.snapshotId),
              distinctKeys = fencedCommit.map(summaryLong(_, "distinct-keys")).getOrElse(-1L))
        }
      }
      // dead letters are routed AFTER the data commit (their count only
      // exists once the merge job ran), so a crash in between loses them
      // until redelivery — heal here, but only when the epoch's folded
      // lineage says invalid records actually existed (no extra job on the
      // common clean-epoch redelivery). Unknown (expired fenced commit, or
      // one without a lineage summary) → route unconditionally; the
      // dead-letter fence makes it idempotent.
      if (fencedLineage.forall(_.badRecords > 0))
        routeDeadLetters(batch, deadLetters, queryId, batchId)
      // a crash AFTER the data commit may also have lost a mart refresh;
      // catch the feeds up from the redelivered epoch's vantage too
      martFeeds.foreach { f =>
        Mart.catchUp(f.mart, table, f.groupCols, f.aggregate, f.queryId)
      }
      return CommitStats(applied = false, batchId, table.snapshot.snapshotId, 0, 0, 0)
    }
    val t0 = System.nanoTime()
    def wallMs(): Long = (System.nanoTime() - t0) / 1000000L

    val fast = fastLineage.getOrElse(l0Mode)
    val (stats, lineage) =
      if (fast) {
        // lineage globals ride the merge job itself: CollectMetrics sits
        // between the scan and the validity filter, aggregated by Spark as
        // the rows stream past — no persist, no second pass
        val obs = org.apache.spark.sql.Observation()
        val observed = batch.observe(obs,
          count(when(isValid, 1)).as("rows"),
          count(when(!isValid, 1)).as("bad"),
          count(when(isValid && col("op") === "D", 1)).as("dels"),
          min(when(isValid, col("lsn"))).as("minLsn"),
          max(when(isValid, col("lsn"))).as("maxLsn"))
        val good = observed.where(isValid).drop(CorruptCol)
        var captured: LineageStats = null
        val st = LakeMerge.mergeBatch(table, good, Some((queryId, batchId)),
          saltPartitions, l0Mode = l0Mode,
          extraSummary = staged => {
            // the stage() write has completed here, so the observation is
            // resolved; staged footer stats supply the per-file offsets.
            // `captured` is the ONE canonical record: serialized into the
            // commit summary AND written to the sidecar, so a healed row is
            // byte-identical to a never-crashed one
            captured = lineageFromObservation(obs.get, staged)
              .copy(wallMs = wallMs())
            Map(LineageSummaryKey -> lineageJson(captured))
          })
        val lin = if (captured != null) captured else LineageStats(Nil, 0, 0, 0, -1, -1)
        // dead letters are routed AFTER the data commit in fast mode (the
        // bad count only exists once the merge job ran); fenced on the
        // dead-letter table itself, so a crash in between redelivers them
        if (lin.badRecords > 0) routeDeadLetters(batch, deadLetters, queryId, batchId)
        (st, lin)
      } else {
        batch.persist()
        try {
          // ONE pass over the persisted batch computes the whole lineage
          // record (per-partition offsets, counts, bad records); at 10^10
          // events the per-epoch constant of extra full passes matters
          val lin0 = computeLineage(batch)
          if (lin0.badRecords > 0) routeDeadLetters(batch, deadLetters, queryId, batchId)
          val good = batch.where(isValid).drop(CorruptCol)
          var captured: LineageStats = null
          val st = LakeMerge.mergeBatch(table, good, Some((queryId, batchId)),
            saltPartitions, l0Mode = l0Mode,
            extraSummary = staged => {
              captured = lin0.copy(
                touchedBuckets = staged.map(_.bucket).distinct.size.toLong,
                wallMs = wallMs())
              Map(LineageSummaryKey -> lineageJson(captured))
            })
          (st, if (captured != null) captured else lin0)
        } finally {
          batch.unpersist()
          ()
        }
      }

    // housekeeping: either inline (single-writer serial loop) or poked to
    // the background Compactor (ingest never stalls behind a major —
    // VERDICT r3 #2). Both paths run the same flushL0/compactTiered.
    compactor match {
      case Some(c) =>
        if (stats.applied) c.poke()
      case None =>
        // L0 mode defers the batch's bucket exchange; flush once enough
        // L0 files pile up (the L0 read-amplification bound), then let
        // tiered compaction manage the resulting deltas as in classic mode
        if (stats.applied && l0Mode && compactAtDeltas > 0)
          LakeMerge.flushL0(table, minFiles = compactAtDeltas,
            minBytes = l0FlushBytes, backfillLineage = Some(metrics))
        // bounded read amplification via SIZE-TIERED compaction: a bucket
        // is folded when its delta bytes reach its base bytes (each
        // rewrite at least doubles the base → O(log) rewrites per key
        // over the table's lifetime, vs O(batches/k) under a flat
        // every-k-deltas trigger), or at compactAtDeltas delta files as
        // the read-amplification cap
        if (stats.applied && compactAtDeltas > 0)
          LakeMerge.compactTiered(table, sizeRatio = 1.0, maxDeltaFiles = compactAtDeltas)
    }
    // retention: periodically expire history and physically reclaim files
    // replaced by compaction — without this, continuous ingest grows disk
    // without bound (every delta stays referenced by some old snapshot
    // forever). With a background compactor the sweep gets an age guard:
    // it must not reclaim the compactor's staged-but-uncommitted files
    // (the expireSnapshots concurrency contract); inline mode keeps the
    // exact single-writer sweep.
    // the async guard must exceed the compactor's longest stage→commit
    // window (a 100-TB-scale major can hold staged-uncommitted files for
    // minutes); 10 min bounds it with margin — the cost is only that
    // crash orphans linger that long before the sweep reclaims them
    if (stats.applied && expireEvery > 0 && batchId % expireEvery == 0)
      table.expireSnapshots(retainLast = expireRetain,
        minAgeMs = if (compactor.isDefined) 600000L else 0L)

    if (stats.applied)
      recordLineage(metrics, lineage, queryId, batchId,
        snapshotId = stats.snapshotId, distinctKeys = stats.distinctKeys)
    // continuously-maintained reporting views: each feed incrementally
    // catches up to the versions this batch just committed (a crash
    // between the data commit and this refresh self-heals — the next
    // batch's catch-up covers the missed range too)
    martFeeds.foreach { f =>
      Mart.catchUp(f.mart, table, f.groupCols, f.aggregate, f.queryId)
    }
    stats
  }

  /** Repair lineage rows whose `distinct_keys` is the -1 "unknown" marker
    * (L0 appends refuse the dedup pass) with EXACT per-epoch counts, at the
    * amortized point where the flush dedups anyway. One column-pruned
    * aggregation over the flushed L0 files — `repo`, `path` and the
    * L0-only `_epoch` stamp are read, never `content` — then ONE
    * consolidated sidecar rewrite (which also compacts the sidecar's
    * accumulated per-epoch files). Epochs are matched per row where the
    * stored count is -1; single-writer-per-table deployment assumed (as
    * everywhere in the engine). Safe under the async compactor: the
    * rewrite replaces exactly the files read, concurrent appends carry
    * forward (the optimistic-commit contract). */
  def backfillDistinctKeys(
      metrics: LakeTable,
      table: LakeTable,
      l0Files: Seq[graft.lake.DataFileMeta]
  ): Unit = {
    if (l0Files.isEmpty) return
    val spark = metrics.spark
    val withEpoch = table.snapshot.schema
      .add(StructField("_epoch", LongType))
    val counts = spark.read.schema(withEpoch).parquet(l0Files.map(_.path): _*)
      .where(col("_epoch").isNotNull) // add_files imports carry no stamp
      .select(col("_epoch"), col("repo"), col("path")).distinct()
      .groupBy(col("_epoch")).agg(count(lit(1)).as("dk"))
      .collect().map(r => r.getAs[Long]("_epoch") -> r.getAs[Long]("dk")).toMap
    if (counts.isEmpty) return
    val snap = metrics.snapshot
    val files = metrics.filesOf(snap)
    // read EXACTLY the captured file set (not the current snapshot): the
    // ingest thread may append lineage rows concurrently (async compactor
    // runs this), and a row read from a file outside the replace-set would
    // be duplicated by the consolidated rewrite
    val rows = metrics.readSubset(files).collect() // tiny: one row per epoch
    val epochIdx = metricsSchema.fieldIndex("epoch_id")
    val dkIdx = metricsSchema.fieldIndex("distinct_keys")
    var changed = false
    val patched = rows.map { r =>
      val vals = r.toSeq.toArray
      val e = vals(epochIdx).asInstanceOf[Long]
      if (vals(dkIdx) == -1L && counts.contains(e)) {
        vals(dkIdx) = counts(e)
        changed = true
      }
      vals.toSeq
    }
    if (!changed) return
    val dir = java.nio.file.Paths.get(metrics.root, "data",
      java.util.UUID.randomUUID().toString, "bucket=0")
    java.nio.file.Files.createDirectories(dir)
    val p = dir.resolve("part-00000.parquet")
    graft.util.TinyParquet.write(p.toString, metricsSchema,
      patched.sortBy(v => (v(1).asInstanceOf[String], v(epochIdx).asInstanceOf[Long])).toSeq)
    val meta = graft.lake.DataFileMeta(p.toString, 0,
      java.nio.file.Files.size(p), snap.schemaId, kind = "base")
    metrics.rewriteCommit(Set(0), files.map(_.path).toSet, Seq(meta),
      summary = Map("operation" -> "backfill-lineage",
        "epochs" -> counts.size.toString))
    ()
  }

  /** Route the batch's invalid records into the dead-letter table, fenced
    * on that table itself so redelivery cannot double-append. */
  private def routeDeadLetters(
      batch: DataFrame,
      deadLetters: Option[LakeTable],
      queryId: String,
      batchId: Long
  ): Unit = deadLetters.foreach { dl =>
    if (dl.fence(queryId) < batchId) {
      // undecodable source line → keep the ORIGINAL text as evidence;
      // structurally-valid-but-invalid record → its fields as JSON
      val hasCorrupt = batch.columns.contains(CorruptCol)
      val parsedCols = struct(batch.columns.filterNot(_ == CorruptCol).map(col).toSeq: _*)
      val (reason, recordJson) =
        if (!hasCorrupt) (invalidReason, to_json(parsedCols))
        else (
          when(col(CorruptCol).isNotNull, "corrupt-record").otherwise(invalidReason),
          coalesce(col(CorruptCol), to_json(parsedCols)))
      val rows = batch.where(!isValid)
        .select(
          lit(queryId).as("query_id"),
          lit(batchId).as("epoch_id"),
          reason.as("reason"),
          recordJson.as("record_json"))
        .withColumn("bucket", lit(0))
      val staged = dl.stage(rows, 0)
      dl.appendCommit(staged, fence = Some((queryId, batchId)),
        summary = Map("operation" -> "dead-letter"))
      ()
    }
  }

  /** Everything the lineage row needs from the batch itself — computed by
    * [[computeLineage]] in one job (full mode) or assembled from the merge
    * job's own observation + staged-file footer stats (fast mode). */
  private final case class LineageStats(
      offsets: Seq[(Int, Long, Long, Long)], // (part, minLsn, maxLsn, rows)
      rows: Long,
      badRecords: Long,
      deletes: Long,
      minLsn: Long,
      maxLsn: Long,
      touchedBuckets: Long = 0L,
      wallMs: Long = 0L)

  /** Fast-mode lineage: global counts from the merge job's observation,
    * offsets/touched buckets from the staged files' footer stats (in L0
    * mode one staged file == one write task, so these are per-task ranges;
    * in classic mode they are per (bucket, salt) output ranges). */
  private def lineageFromObservation(
      metrics: Map[String, Any],
      staged: Seq[graft.lake.DataFileMeta]
  ): LineageStats = {
    def asLong(k: String, dflt: Long): Long = metrics.get(k) match {
      case Some(n: Number) => n.longValue()
      case _ => dflt
    }
    val offsets = staged.zipWithIndex.collect {
      case (f, i) if f.rows != 0L => (i, f.minLsn, f.maxLsn, f.rows)
    }
    LineageStats(
      offsets = offsets,
      rows = asLong("rows", 0L),
      badRecords = asLong("bad", 0L),
      deletes = asLong("dels", 0L),
      minLsn = asLong("minLsn", -1L),
      maxLsn = asLong("maxLsn", -1L),
      touchedBuckets = staged.map(_.bucket).distinct.size.toLong)
  }

  private def offsetsJson(offsets: Seq[(Int, Long, Long, Long)]): String =
    offsets.map { case (part, mn, mx, rows) =>
      s"""{"part":$part,"minLsn":$mn,"maxLsn":$mx,"rows":$rows}"""
    }.mkString("[", ",", "]")

  /** The lineage record as folded into the data commit's summary. */
  private def lineageJson(l: LineageStats): String =
    s"""{"rows":${l.rows},"bad":${l.badRecords},"dels":${l.deletes},""" +
      s""""minLsn":${l.minLsn},"maxLsn":${l.maxLsn},"tb":${l.touchedBuckets},""" +
      s""""wallMs":${l.wallMs},"offsets":${offsetsJson(l.offsets)}}"""

  private def parseLineageJson(json: String): LineageStats = {
    val root = jsonMapper.readTree(json)
    val offs = Option(root.get("offsets")).toSeq.flatMap { arr =>
      (0 until arr.size()).map { i =>
        val o = arr.get(i)
        (o.get("part").asInt(), o.get("minLsn").asLong(),
          o.get("maxLsn").asLong(), o.get("rows").asLong())
      }
    }
    def l(k: String, dflt: Long): Long =
      Option(root.get(k)).map(_.asLong()).getOrElse(dflt)
    LineageStats(offs, l("rows", 0), l("bad", 0), l("dels", 0),
      l("minLsn", -1), l("maxLsn", -1), l("tb", 0), l("wallMs", 0))
  }

  private val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Highest lsn any committed epoch of `table` recorded — read from the
    * folded lineage record in commit summaries alone (ZERO Spark jobs):
    * walks versions down from the current snapshot to the latest
    * merge-append commit. Monotone for a file-source stream (segments are
    * consumed in mtime order). -1 when no lineage-carrying commit is
    * retained. Operational surface for producers/reapers that must know
    * how far the ingest has durably progressed. */
  def committedMaxLsn(table: LakeTable): Long = {
    val minV = table.minVersionAvailable
    var v = table.currentVersion
    while (v >= minV) {
      try {
        table.snapshotAt(v).summary.get(LineageSummaryKey) match {
          case Some(j) =>
            val l = parseLineageJson(j)
            if (l.maxLsn >= 0) return l.maxLsn
          case None => ()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
      v -= 1
    }
    -1L
  }

  private def summaryLong(snap: graft.lake.Snapshot, key: String): Long =
    snap.summary.get(key).flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(-1L)

  /** ONE per-partition aggregation over the (persisted) batch yields the
    * per-partition offset ranges AND every global count the lineage row
    * records — the globals are decomposable, so they fold on the driver
    * from the handful of per-partition rows instead of costing further
    * passes (round 2 ran three extra full-batch actions per epoch here). */
  private def computeLineage(batch: DataFrame): LineageStats = {
    val valid = isValid
    val perPart = batch
      .groupBy(spark_partition_id().as("part"))
      .agg(
        count(when(valid, 1)).as("rows"),
        count(when(!valid, 1)).as("bad"),
        min(when(valid, col("lsn"))).as("minLsn"),
        max(when(valid, col("lsn"))).as("maxLsn"),
        count(when(valid && col("op") === "D", 1)).as("dels"))
      .orderBy("part")
      .collect()
    val offsets = perPart.toSeq.filter(_.getAs[Long]("rows") > 0).map { r =>
      (r.getAs[Int]("part"), r.getAs[Long]("minLsn"), r.getAs[Long]("maxLsn"),
        r.getAs[Long]("rows"))
    }
    LineageStats(
      offsets = offsets,
      rows = perPart.map(_.getAs[Long]("rows")).sum,
      badRecords = perPart.map(_.getAs[Long]("bad")).sum,
      deletes = perPart.map(_.getAs[Long]("dels")).sum,
      minLsn = if (offsets.isEmpty) -1L else offsets.map(_._2).min,
      maxLsn = if (offsets.isEmpty) -1L else offsets.map(_._3).max)
  }

  /** Commit the lineage/metrics row for one epoch (§7.7): per-partition
    * offset ranges, row counts, bad-record count, snapshot id — keyed by
    * sha256(queryId-epochId) and fenced on the metrics table itself so the
    * sidecar is exactly-once too. `distinct_keys` comes for free from the
    * merge's staged-file row counts when the write deduped; -1 in L0/raw
    * modes (the hot path refuses a second full pass — backfilled exactly at
    * flush time). The single row is written DRIVER-SIDE ([[graft.util
    * .TinyParquet]]): funneling one row through a Spark job cost a full
    * job-schedule + task per epoch — pure per-epoch constant at 10^10-event
    * cadence. */
  private def recordLineage(
      metrics: LakeTable,
      lineage: LineageStats,
      queryId: String,
      batchId: Long,
      snapshotId: Long,
      distinctKeys: Long
  ): Unit = {
    if (metrics.fence(queryId) >= batchId) return
    val key = org.apache.commons.codec.digest.DigestUtils.sha256Hex(s"$queryId-$batchId")
    val vals: Seq[Any] = Seq(key, queryId, batchId, snapshotId, lineage.rows,
      distinctKeys, lineage.deletes, lineage.badRecords, lineage.touchedBuckets,
      lineage.minLsn, lineage.maxLsn, offsetsJson(lineage.offsets),
      lineage.wallMs)
    val dir = java.nio.file.Paths.get(metrics.root, "data",
      java.util.UUID.randomUUID().toString, "bucket=0")
    java.nio.file.Files.createDirectories(dir)
    val p = dir.resolve("part-00000.parquet")
    graft.util.TinyParquet.write(p.toString, metricsSchema, Seq(vals))
    val meta = graft.lake.DataFileMeta(p.toString, 0,
      java.nio.file.Files.size(p), metrics.snapshot.schemaId, kind = "base")
    metrics.appendCommit(Seq(meta), fence = Some((queryId, batchId)),
      summary = Map("operation" -> "append-metrics"))
    ()
  }
}
