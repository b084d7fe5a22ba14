package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

import graft.cdc.{CdcStream, EventGen, LakeMerge, MergeEngine}
import graft.lake.LakeTable

/** Order-of-magnitude streaming soak (VERDICT r4 #6): a LIVE 10^9-event
  * ingest on a bounded disk budget.
  *
  *  - ROLLING generation: a producer thread writes binlog chunks into the
  *    tailed directory while the continuous (availableNow = false) stream
  *    consumes them — real live arrivals, not a pre-staged replay.
  *  - BOUNDED DISK: a reaper deletes segments the stream has committed
  *    past (epochs × maxFilesPerTrigger, minus a safety margin), and the
  *    table runs auto-expiry — a watcher thread records the workdir's
  *    high-water mark to prove the budget held.
  *  - L0 + ASYNC compaction (the throughput deployment shape), ONE
  *    mid-stream kill/restart from checkpoint.
  *  - CORRECTNESS at a scale no full checksum can cover: after the drain,
  *    three sampled hash-buckets of the streamed table are checked for
  *    sha256-sum equality against an INDEPENDENT classic LWW resolution of
  *    the same buckets, recomputed straight from the deterministic
  *    generator (the binlog itself is long deleted — EventGen is a pure
  *    function of the index, so the reference replay needs no storage).
  *  - LINEAGE: every event accounted exactly once across all epochs; no
  *    -1 distinct-key markers (the L0 flush backfill at 10^9 scale).
  *
  * `sbt "runMain graft.SoakXL [events] [workdir]"` — defaults to 10^9
  * events under /dev/shm; prints one JSON summary line, exits non-zero on
  * divergence.
  */
object SoakXL {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000000L
    val ownDir = args.length <= 1
    val dir = if (!ownDir) args(1)
      else Files.createTempDirectory(
        Paths.get(sys.env.getOrElse("GRAFT_BENCH_TMP", "/dev/shm")),
        "graft-soakxl").toString
    val eventsPerSegment = 1000000L
    val segmentsPerChunk = 16
    val chunkEvents = eventsPerSegment * segmentsPerChunk
    val nChunks = ((n + chunkEvents - 1) / chunkEvents).toInt
    val totalSegments = (nChunks.toLong * segmentsPerChunk).toInt
    val perTrigger = 8
    val nRepos = 200000
    val pathsPerRepo = 100
    val buckets = 64
    val sampleBuckets = Seq(3, 17, 42)

    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("graft-soakxl")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.local.dir",
        s"${sys.env.getOrElse("GRAFT_BENCH_TMP", "/dev/shm")}/graft-spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def log(s: String): Unit = {
      println(f"[soakxl ${(System.nanoTime() - tStart) / 1e9}%8.1fs] $s")
      Console.flush()
    }
    lazy val tStart = System.nanoTime()

    val binlog = s"$dir/binlog"
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, buckets)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    Files.createDirectories(Paths.get(binlog))

    // ---- disk high-water watcher -------------------------------------
    val stop = new AtomicBoolean(false)
    val highWater = new AtomicLong(0L)
    def duBytes(p: String): Long =
      try graft.util.Fs.walk(Paths.get(p))
        .filter(f => Files.isRegularFile(f))
        .map(f => try Files.size(f) catch { case _: Throwable => 0L }).sum
      catch { case _: Throwable => 0L }
    val watcher = new Thread(() => {
      while (!stop.get()) {
        val b = duBytes(dir)
        highWater.getAndUpdate(cur => math.max(cur, b))
        Thread.sleep(5000)
      }
    }, "soakxl-du")
    watcher.setDaemon(true)

    // "how far has the ingest durably progressed" — from commit summaries
    // alone (zero jobs); the producer's backpressure, the reaper's safety
    // bound and the phase transitions all key off it
    def committedLsn: Long = CdcStream.committedMaxLsn(table)

    // ---- rolling producer --------------------------------------------
    @volatile var genDone = false
    @volatile var genWallSec = 0.0
    val producer = new Thread(() => {
      val g0 = System.nanoTime()
      // own job group: a StreamingQuery.stop() must not cancel generation
      spark.sparkContext.setJobGroup("soakxl-gen", "binlog generation",
        interruptOnCancel = false)
      (1 until nChunks).foreach { c => // chunk 0 pre-written synchronously
        // backpressure: stay at most 4 chunks ahead of durable consumption,
        // or the on-disk binlog window grows unbounded
        while (!stop.get() &&
          c.toLong * chunkEvents - math.max(0L, committedLsn) > 4L * chunkEvents)
          Thread.sleep(2000)
        if (!stop.get()) {
          val lo = c.toLong * chunkEvents
          val hi = math.min(n, lo + chunkEvents)
          EventGen.writeBinlogChunk(spark, binlog, lo, hi, segmentsPerChunk,
            segBase = c * segmentsPerChunk, nRepos = nRepos,
            pathsPerRepo = pathsPerRepo, skew = 2.0, langFromLsn = n / 2)
        }
      }
      genWallSec = (System.nanoTime() - g0) / 1e9
      genDone = true
    }, "soakxl-gen")

    // ---- segment reaper ----------------------------------------------
    // conservative per-segment upper lsn bound: chunk ranges are split into
    // near-equal contiguous slices; one full segment of slack on top
    val segSlice = (chunkEvents + segmentsPerChunk - 1) / segmentsPerChunk
    def segUpperBound(globalIdx: Int): Long = {
      val chunk = globalIdx / segmentsPerChunk
      val within = globalIdx % segmentsPerChunk
      chunk.toLong * chunkEvents + (within + 1).toLong * segSlice + segSlice
    }
    val reaped = new AtomicLong(0L)
    val reaper = new Thread(() => {
      while (!stop.get()) {
        val durable = committedLsn
        if (durable > 0) {
          graft.util.Fs.list(Paths.get(binlog)).foreach { p =>
            val name = p.getFileName.toString
            if (name.startsWith("segment-") && name.endsWith(".parquet")) {
              val idx = name.stripPrefix("segment-").stripSuffix(".parquet").toInt
              if (segUpperBound(idx) < durable) {
                if (Files.deleteIfExists(p)) { reaped.incrementAndGet(); () }
              }
            }
          }
        }
        Thread.sleep(3000)
      }
    }, "soakxl-reaper")
    reaper.setDaemon(true)

    log(s"events=$n chunks=$nChunks segments=$totalSegments workdir=$dir")
    watcher.start()
    // first chunk before the stream starts, so the source has files
    locally {
      val hi = math.min(n, chunkEvents)
      EventGen.writeBinlogChunk(spark, binlog, 0L, hi, segmentsPerChunk,
        segBase = 0, nRepos = nRepos, pathsPerRepo = pathsPerRepo,
        skew = 2.0, langFromLsn = n / 2)
    }
    val t0 = System.nanoTime()
    producer.start()
    reaper.start()

    def startStream() = CdcStream.start(spark, table, metrics, binlog,
      s"$dir/ckpt", queryId = "soakxl", maxFilesPerTrigger = perTrigger,
      availableNow = false, l0Mode = true, asyncCompact = true,
      compactAtDeltas = 8, l0FlushBytes = 512L * 1024 * 1024,
      expireEvery = 8, expireRetain = 4)

    // phase 1: run until ~40% of the stream is durably applied, then KILL
    var q = startStream()
    while (committedLsn < (n * 4) / 10) Thread.sleep(1000)
    log(s"killing stream at epoch ${table.fence("soakxl")} (lsn ~$committedLsn)")
    q.stop()
    CdcStream.drainCompaction("soakxl")
    log("restarting from checkpoint")
    // phase 2: restart, run until the producer finished and every
    // generated event is durably applied
    q = startStream()
    while (!genDone || committedLsn < n - 1) Thread.sleep(2000)
    q.stop()
    // final drain: catch any tail the continuous trigger hadn't fenced
    CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "soakxl", maxFilesPerTrigger = perTrigger,
      availableNow = true, l0Mode = true, asyncCompact = true,
      compactAtDeltas = 8, l0FlushBytes = 512L * 1024 * 1024)
      .awaitTermination()
    CdcStream.drainCompaction("soakxl")
    val streamWall = (System.nanoTime() - t0) / 1e9
    stop.set(true)

    // ---- accounting ---------------------------------------------------
    val lin = metrics.read().agg(
      sum(col("batch_rows")), count(lit(1)),
      sum(when(col("distinct_keys") < 0L, 1L).otherwise(0L))).collect()(0)
    val lineageRows = lin.getLong(0)
    val epochs = lin.getLong(1)
    val unknownDk = lin.getLong(2)
    log(s"lineage: $lineageRows rows across $epochs epochs; unknown-dk rows=$unknownDk")
    assert(lineageRows == n, s"lineage accounted $lineageRows of $n events")
    assert(unknownDk == 0L, s"$unknownDk lineage rows still carry distinct_keys=-1")

    // ---- 3-bucket equivalence vs independent classic resolution -------
    val results = sampleBuckets.map { b =>
      val streamed = Soak.checksumOf(MergeEngine.liveView(MergeEngine.dedupBatch(
        table.readBuckets(Set(b, LakeTable.L0Bucket)))))
      val oracle = Soak.checksumOf(MergeEngine.liveView(MergeEngine.dedupBatch(
        EventGen.events(spark, n, nRepos = nRepos, pathsPerRepo = pathsPerRepo,
          skew = 2.0, langFromLsn = n / 2, numPartitions = 256)
          .where(LakeTable.bucketExpr(col("repo"), buckets) === b))))
      log(s"bucket $b: streamed=$streamed oracle=$oracle")
      assert(streamed == oracle, s"DIVERGENCE in bucket $b: $streamed vs $oracle")
      streamed
    }

    val hwGiB = highWater.get() / (1024.0 * 1024 * 1024)
    val eps = n / streamWall
    println(f"""{"metric":"soakxl","events":$n,"stream_wall_sec":$streamWall%.1f,"eps_end_to_end":$eps%.0f,"gen_wall_sec":$genWallSec%.1f,"epochs":$epochs,"disk_high_water_gib":$hwGiB%.2f,"segments_reaped":${reaped.get()},"buckets_checked":${results.size},"rows_checked":${results.map(_._1).sum},"kill_restart":true,"result":"OK"}""")
    log("SOAKXL OK")
    if (ownDir) graft.util.Fs.rmTree(Paths.get(dir))
    spark.stop()
  }
}
