package graft.cdc

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lake.LakeTable

class CdcStreamSpec extends SparkSpec {
  import spark.implicits._

  private val N = 8000L

  private def oracleState(langFrom: Long = Long.MaxValue): Map[(String, String), String] = {
    val events = EventGen.events(spark, N, nRepos = 80, pathsPerRepo = 10,
      langFromLsn = langFrom).orderBy("lsn").as[ChangeEvent].collect().toSeq
    MergeEngine.foldOracle(events).map { case (k, e) =>
      k -> org.apache.commons.codec.digest.DigestUtils.sha256Hex(e.content)
    }
  }

  private def tableState(t: LakeTable): Map[(String, String), String] =
    LakeMerge.readState(t).select($"repo", $"path", sha2($"content", 256))
      .as[(String, String, String)].collect()
      .map(x => (x._1, x._2) -> x._3).toMap

  test("streaming replay (AvailableNow) converges to the fold oracle, with mid-stream schema evolution") {
    val dir = tmpDir("cdcstream")
    val binlog = s"$dir/binlog"
    val langFrom = 5000L
    // schema evolution mid-stream: events before lsn 5000 have no lang value
    EventGen.writeBinlog(spark, binlog, N, segments = 8, nRepos = 80,
      pathsPerRepo = 10, langFromLsn = langFrom)

    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema,
      numBuckets = 8)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")

    val q = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "replay-test", maxFilesPerTrigger = 2)
    q.awaitTermination()

    assert(tableState(table) == oracleState(langFrom))

    // lineage sidecar: every applied epoch recorded, offsets json present
    val m = metrics.read().orderBy("epoch_id").collect()
    assert(m.length >= 2, "multiple micro-batches expected")
    assert(m.map(_.getAs[Long]("batch_rows")).sum == N)
    assert(m.forall(_.getAs[String]("partition_offsets").startsWith("[")))
    // fences recorded on both tables
    assert(table.fence("replay-test") == m.last.getAs[Long]("epoch_id"))

    // restart with same checkpoint and no new data: no-op, state unchanged
    val before = table.currentVersion
    val q2 = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "replay-test", maxFilesPerTrigger = 2)
    q2.awaitTermination()
    assert(table.currentVersion == before)
    assert(tableState(table) == oracleState(langFrom))
  }

  test("redelivered epoch is fenced to a no-op; state and version unchanged") {
    val dir = tmpDir("cdcfence")
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema,
      numBuckets = 4)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val batch = EventGen.events(spark, 1000L, nRepos = 20, pathsPerRepo = 5)

    val s1 = CdcStream.applyBatch(table, metrics, batch, "q", 0L)
    assert(s1.applied)
    val v = table.currentVersion
    val state1 = tableState(table)

    val s2 = CdcStream.applyBatch(table, metrics, batch, "q", 0L) // redelivery
    assert(!s2.applied)
    assert(table.currentVersion == v)
    assert(tableState(table) == state1)

    val s3 = CdcStream.applyBatch(table, metrics, batch, "q", 1L) // next epoch, same data → idempotent content
    assert(s3.applied)
    assert(tableState(table) == state1)
  }

  test("lineage healed after a data/metrics crash carries the EXACT distinct-key count") {
    val dir = tmpDir("cdcheal")
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema,
      numBuckets = 4)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val batch = EventGen.events(spark, 1000L, nRepos = 20, pathsPerRepo = 5)
    val expectedKeys = batch.select("repo", "path").distinct().count()

    // simulate a crash BETWEEN the data commit and the metrics commit:
    // the data merge lands (fence advances) but no lineage row is written
    val s0 = LakeMerge.mergeBatch(table, batch, Some(("q", 0L)))
    assert(s0.applied && s0.distinctKeys == expectedKeys)
    assert(metrics.fence("q") == -1L)

    // redelivery heals the sidecar — and must recover the original commit's
    // snapshot id and distinct-key count from the fenced commit's summary,
    // not write the -1 "unknown" marker
    val s1 = CdcStream.applyBatch(table, metrics, batch, "q", 0L)
    assert(!s1.applied, "data must stay fenced")
    val row = metrics.read().where($"query_id" === "q" && $"epoch_id" === 0L).collect()
    assert(row.length == 1, "healed lineage row missing")
    assert(row(0).getAs[Long]("distinct_keys") == expectedKeys)
    assert(row(0).getAs[Long]("snapshot_id") == s0.snapshotId,
      "healed row must carry the ORIGINAL data commit's snapshot id")
    assert(row(0).getAs[Long]("batch_rows") == 1000L)

    // the lookup walks through later commits that carry the fence forward
    val s2 = CdcStream.applyBatch(table, metrics, batch, "q", 1L)
    assert(s2.applied)
    assert(table.commitForFence("q", 0L).map(_.snapshotId).contains(s0.snapshotId))
    assert(table.commitForFence("q", 1L).map(_.snapshotId).contains(s2.snapshotId))
    assert(table.commitForFence("q", 5L).isEmpty, "never-committed epoch")
    assert(table.commitForFence("other", 0L).isEmpty, "unknown query id")
  }

  test("incremental ingest: segments landing after a drain are applied by the next run") {
    val dir = tmpDir("cdcincr")
    val binlog = s"$dir/binlog"
    val total = 6000L
    // phase 1: first half of the stream lands, drain it
    EventGen.writeBinlog(spark, binlog, total / 2, segments = 3, nRepos = 60, pathsPerRepo = 8)
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 4)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val q1 = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "incr", maxFilesPerTrigger = 2)
    q1.awaitTermination()
    val fence1 = table.fence("incr")
    val half = tableState(table)

    // phase 2: the binlog grows (same deterministic stream, later lsn range)
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val more = tmpDir("cdcincr-more")
    EventGen.writeBinlog(spark, more, total, segments = 6, nRepos = 60, pathsPerRepo = 8)
    // move only the later-half segment files into the tailed dir
    Files.list(Paths.get(more)).iterator().asScala.toList.sortBy(_.toString)
      .drop(3).foreach(p => Files.move(p, Paths.get(binlog, p.getFileName.toString)))

    val q2 = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "incr", maxFilesPerTrigger = 2)
    q2.awaitTermination()

    assert(table.fence("incr") > fence1, "new segments must advance the fence")
    val full = {
      val events = EventGen.events(spark, total, nRepos = 60, pathsPerRepo = 8)
        .orderBy("lsn").as[ChangeEvent].collect().toSeq
      MergeEngine.foldOracle(events).map { case (k, e) =>
        k -> org.apache.commons.codec.digest.DigestUtils.sha256Hex(e.content) }
    }
    assert(tableState(table) == full)
    assert(tableState(table) != half, "second drain must have applied new data")
  }

  test("retention: streaming with auto-expire reclaims disk and still converges to the oracle") {
    val dir = tmpDir("cdcexpire")
    val binlog = s"$dir/binlog"
    EventGen.writeBinlog(spark, binlog, N, segments = 8, nRepos = 80, pathsPerRepo = 10)

    def drained(root: String, expireEvery: Int): LakeTable = {
      val t = LakeTable.create(spark, s"$root/table", CdcStream.binlogSchema, numBuckets = 8)
      val m = CdcStream.metricsTable(spark, s"$root/metrics")
      val q = CdcStream.start(spark, t, m, binlog, s"$root/ckpt",
        queryId = "exp", maxFilesPerTrigger = 1, compactAtDeltas = 2,
        expireEvery = expireEvery, expireRetain = 2)
      q.awaitTermination()
      t
    }
    def dataBytes(t: LakeTable): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))
        .iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
    }

    val kept = drained(tmpDir("cdcexpire-keep"), expireEvery = 0)
    val expired = drained(tmpDir("cdcexpire-exp"), expireEvery = 2)
    // identical live state either way — retention is invisible to readers
    assert(tableState(expired) == oracleState())
    assert(tableState(expired) == tableState(kept))
    // but the expired table physically reclaimed its compacted-away history
    assert(dataBytes(expired) < dataBytes(kept),
      s"expire must shrink disk: ${dataBytes(expired)} vs ${dataBytes(kept)}")
    // retained history still time-travels; pre-retention versions are gone
    assert(expired.readVersion(expired.currentVersion).count() > 0)
    intercept[IllegalStateException](expired.readVersion(2))
  }

  test("MartFeed: the ingest stream continuously maintains a reporting view, surviving kill/restart") {
    val dir = tmpDir("cdcmartfeed")
    val binlog = s"$dir/binlog"
    EventGen.writeBinlog(spark, binlog, N, segments = 8, nRepos = 80,
      pathsPerRepo = 10, langFromLsn = 0L)
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 8)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val mart = Mart.martTable(spark, s"$dir/mart")
    val agg = (state: org.apache.spark.sql.DataFrame) =>
      state.groupBy($"lang").agg(count(lit(1)).as("n_files"))
    val feed = CdcStream.MartFeed(mart, Seq("lang"), agg, "bylang")

    // phase 1: continuous run under the RICHEST combination — L0 ingest +
    // background compaction + the feed — kill after a couple of epochs
    // (classic-mode feeds are covered by the oracled q_mart_streaming)
    val q1 = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "feed", maxFilesPerTrigger = 1, availableNow = false,
      l0Mode = true, asyncCompact = true, martFeeds = Seq(feed))
    var waited = 0
    while (table.fence("feed") < 1L && waited < 600) { Thread.sleep(100); waited += 1 }
    q1.stop()
    CdcStream.drainCompaction("feed")
    // phase 2: restart, drain the rest
    val q2 = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "feed", maxFilesPerTrigger = 3, l0Mode = true,
      asyncCompact = true, martFeeds = Seq(feed))
    q2.awaitTermination()
    CdcStream.drainCompaction("feed")

    // the view equals a from-scratch rebuild over the final state
    val rebuilt = Mart.martTable(spark, s"$dir/rebuild")
    Mart.publish(rebuilt, agg(LakeMerge.readState(table)), Seq("lang"), "bylang", 999L)
    def docs(m: LakeTable) = Mart.readDocs(m, "bylang")
      .select($"doc_key", $"doc_json").as[(String, String)].collect().toMap
    assert(docs(mart) == docs(rebuilt),
      "streaming-maintained view diverged from full rebuild after kill/restart")
    // and it was maintained INCREMENTALLY: multiple catch-up epochs, not
    // one big final publish (doc lsn = 2*sourceVersion at last refresh)
    val epochs = Mart.readDocs(mart, "bylang")
      .select($"publish_epoch").as[Long].collect().toSet
    assert(epochs.nonEmpty && epochs.forall(_ > 0L))
  }

  test("lineage rides the merge write: classic and L0 epochs record each segment's exact counts") {
    val dir = tmpDir("cdclin")
    val binlog = s"$dir/binlog"
    EventGen.writeBinlog(spark, binlog, 6000L, segments = 3, nRepos = 50, pathsPerRepo = 8)
    // segment mtimes follow the segment id, so with one file per trigger
    // epoch i drains exactly segment i
    val want = (0 until 3).map { i =>
      spark.read.parquet(f"$binlog/segment-$i%05d.parquet")
        .agg(count(lit(1)), count(when($"op" === "D", 1)), min($"lsn"), max($"lsn"))
        .as[(Long, Long, Long, Long)].head()
    }
    val offset = """\{"part":(\d+),"minLsn":(-?\d+),"maxLsn":(-?\d+),"rows":(\d+)\}""".r
    Seq(false, true).foreach { l0 =>
      val root = tmpDir(s"cdclin-$l0")
      val t = LakeTable.create(spark, s"$root/table", CdcStream.binlogSchema, numBuckets = 4)
      val m = CdcStream.metricsTable(spark, s"$root/metrics")
      val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
      CdcStream.start(spark, t, m, binlog, s"$root/ckpt", queryId = "lin",
        maxFilesPerTrigger = 1, l0Mode = l0).awaitTermination()
      assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(cachedBefore),
        s"an epoch left a persisted RDD behind (l0=$l0)")
      val rows = m.read().orderBy("epoch_id").collect().toSeq
      val got = rows.map(r => (r.getAs[Long]("batch_rows"), r.getAs[Long]("deletes"),
        r.getAs[Long]("min_lsn"), r.getAs[Long]("max_lsn")))
      assert(got == want, s"lineage diverged from the segments (l0=$l0):\n$got\nvs\n$want")
      rows.foreach { r =>
        // one entry per data file the epoch wrote: (index, min, max, rows)
        val files = offset.findAllMatchIn(r.getAs[String]("partition_offsets"))
          .map(x => (x.group(2).toLong, x.group(3).toLong, x.group(4).toLong)).toSeq
        assert(files.nonEmpty, s"no per-file offsets (l0=$l0)")
        assert(files.map(_._2).max == r.getAs[Long]("max_lsn"))
        if (l0) {
          // L0 files hold the raw batch: their ranges and rows are the epoch's
          assert(files.map(_._1).min == r.getAs[Long]("min_lsn"))
          assert(files.map(_._3).sum == r.getAs[Long]("batch_rows"))
        } else {
          // classic files hold the per-key LWW winners (the newest event of
          // each key always wins, an epoch's oldest may be superseded)
          assert(files.map(_._1).min >= r.getAs[Long]("min_lsn"))
          assert(files.map(_._3).sum == r.getAs[Long]("distinct_keys"))
        }
      }
    }
  }

  test("L0 mode: flush backfills EXACT per-epoch distinct keys into the sidecar") {
    val dir = tmpDir("cdcl0dk")
    val binlog = s"$dir/binlog"
    EventGen.writeBinlog(spark, binlog, 6000L, segments = 3, nRepos = 50, pathsPerRepo = 8)
    def drained(root: String, l0: Boolean): LakeTable = {
      val t = LakeTable.create(spark, s"$root/table", CdcStream.binlogSchema, numBuckets = 4)
      val m = CdcStream.metricsTable(spark, s"$root/metrics")
      CdcStream.start(spark, t, m, binlog, s"$root/ckpt", queryId = "dk",
        maxFilesPerTrigger = 1, l0Mode = l0, compactAtDeltas = 2,
        asyncCompact = l0).awaitTermination()
      CdcStream.drainCompaction("dk")
      m
    }
    def dks(m: LakeTable) = m.read()
      .select($"epoch_id", $"distinct_keys").as[(Long, Long)].collect().toMap
    val l0 = dks(drained(tmpDir("cdcl0dk-l0"), l0 = true))
    val classic = dks(drained(tmpDir("cdcl0dk-cl"), l0 = false))
    assert(l0.nonEmpty && l0 == classic,
      s"L0 lineage must carry the classic path's exact counts:\n$l0\nvs\n$classic")
    assert(l0.values.forall(_ >= 0L), "no -1 markers left after the flush backfill")
  }

  test("lineage heals byte-identically from the data commit's folded summary record") {
    val dir = tmpDir("cdcsummaryheal")
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 4)
    val metricsA = CdcStream.metricsTable(spark, s"$dir/metricsA")
    val batch = EventGen.events(spark, 1000L, nRepos = 20, pathsPerRepo = 5)
    val s0 = CdcStream.applyBatch(table, metricsA, batch, "q", 0L)
    assert(s0.applied)

    // simulate losing the sidecar write: a FRESH metrics table stands in
    // for the one the crash never reached; the redelivered epoch must heal
    // it from the data commit's summary alone — every column equal to the
    // never-crashed row's, including wall_ms and offsets (full fidelity,
    // not just distinct keys)
    val metricsB = CdcStream.metricsTable(spark, s"$dir/metricsB")
    val s1 = CdcStream.applyBatch(table, metricsB, batch, "q", 0L)
    assert(!s1.applied)
    def rows(m: LakeTable) = m.read().collect().map(_.toSeq).toSeq
    assert(rows(metricsB) == rows(metricsA),
      s"healed row differs from original:\n${rows(metricsB)}\nvs\n${rows(metricsA)}")
  }

  test("kill/restart mid-stream from checkpoint reconverges byte-identically") {
    val dir = tmpDir("cdcrestart")
    val binlog = s"$dir/binlog"
    EventGen.writeBinlog(spark, binlog, N, segments = 8, nRepos = 80, pathsPerRepo = 10)
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema,
      numBuckets = 8)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")

    // phase 1: process a couple of micro-batches, then kill the query
    val q1 = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "restart-test", maxFilesPerTrigger = 1, availableNow = false)
    var waited = 0
    while (table.fence("restart-test") < 1L && waited < 300) { Thread.sleep(100); waited += 1 }
    q1.stop() // hard stop mid-stream
    assert(table.fence("restart-test") >= 1L, "at least two epochs before the kill")

    // phase 2: restart from the same checkpoint, drain
    val q2 = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "restart-test", maxFilesPerTrigger = 3)
    q2.awaitTermination()

    assert(tableState(table) == oracleState())

    // lineage must be COMPLETE despite the kill: a crash between data
    // commit and metrics commit is healed from the redelivered batch
    val m = metrics.read().where($"query_id" === "restart-test")
      .orderBy("epoch_id").collect()
    val epochs = m.map(_.getAs[Long]("epoch_id")).toSeq
    assert(epochs == (0L to table.fence("restart-test")),
      s"lineage epochs not contiguous: $epochs")
    assert(m.map(_.getAs[Long]("batch_rows")).sum == N,
      "lineage row counts must account for every event exactly once")
    // classic (deduped) mode knows distinct keys for EVERY epoch — healed
    // rows recover the exact count from the fenced commit's summary
    assert(m.forall(_.getAs[Long]("distinct_keys") >= 0L),
      "no -1 'unknown' distinct_keys markers in classic mode, even healed")
  }
}
