package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.{CdcStream, EventGen, LakeMerge}
import graft.lake.LakeTable

/** `ingest`: bulk catch-up, then the live tail with reads, on one table.
  *
  * Replay phase: an AvailableNow `CdcStream.start` drains a pre-generated,
  * power-law-skewed binlog in L0 mode with compaction deferred, then one
  * terminal `LakeMerge.compact` resolves it (ScaleRun's `stream` mode).
  * Shuffle, parquet write and compaction do most of the work; few epochs.
  * The first catch-up in the JVM goes to a throwaway table and pays compile
  * and JIT (`cold_cpu_s`); the next one is the warm catch-up (`warm_cpu_s`).
  *
  * Tail phase: a continuous `CdcStream` tails a directory on top of the
  * caught-up table, a closed loop with one client. Each round publishes one
  * small pre-generated segment by atomic rename, waits until the table's
  * fence shows its epoch and reads back a key the segment just wrote;
  * every other round then also reads one repo drawn from the power law or,
  * alternately, uniformly. L0 flush and compaction run inline every `CompactEvery`
  * epochs, so their stalls land on the same rounds in every run. Per-epoch
  * fixed cost, metadata pruning and small jobs dominate here. */
object Ingest {

  final case class Rep(table: LakeTable, wallS: Double, cpuS: Double, traced: Boolean)

  final case class Size(events: Long, segments: Int, perTrigger: Int, segEvents: Long,
      minRounds: Int, maxRounds: Int, nRepos: Int, paths: Int, buckets: Int)

  val Full = Size(events = 48000, segments = 24, perTrigger = 6, segEvents = 500,
    minRounds = 11, maxRounds = 16, nRepos = 5000, paths = 40, buckets = 16)
  val Toy = Size(events = 10000, segments = 8, perTrigger = 2, segEvents = 200,
    minRounds = 6, maxRounds = 6, nRepos = 500, paths = 20, buckets = 4)

  val Skew = 2.0
  val CompactEvery = 4
  val TailId = "tail"

  def run(spark: SparkSession, a: Args, tracer: Tracer, res: Result, sessionS: Double): Unit = {
    val sz = if (a.toy) Toy else Full
    val binlog = s"${a.work}/binlog"
    val staged = s"${a.work}/staged"
    val live = s"${a.work}/live"

    // set-up, three times over: the same seed writes the same inputs
    val setups = (0 until 3).map { _ =>
      Seq(binlog, staged).foreach(Main.rmTree)
      Main.timed(Main.phase("setup.generate") {
        EventGen.writeBinlog(spark, binlog, sz.events, sz.segments, seed = a.seed,
          nRepos = sz.nRepos, pathsPerRepo = sz.paths, skew = Skew, langFromLsn = sz.events / 2)
        EventGen.writeBinlogChunk(spark, staged, sz.events, sz.events + sz.maxRounds * sz.segEvents,
          sz.maxRounds, segBase = sz.segments, seed = a.seed, nRepos = sz.nRepos,
          pathsPerRepo = sz.paths, skew = Skew, langFromLsn = sz.events / 2)
      })._2
    }
    res.e2e("setup_s") = (sessionS + Main.median(setups), "s")
    // the engine reads `engineLog`; every oracle reads the binlog as generated
    val engineLog = if (a.fault == "drop-event") dropOneEvent(spark, binlog) else binlog

    // ---- replay phase: rep 0 is the cold catch-up, rep 1 the warm one; a
    // traced run traces rep 1 and adds an untraced rep 2
    val reps = (0 until (if (a.trace) 3 else 2)).map { rep =>
      val traced = a.trace && rep == 1
      tracer.enable(traced)
      val cpu0 = Main.cpuS()
      val (table, drainS, compactS) = Main.phase(s"replay.rep$rep")(catchUp(spark, tracer,
        engineLog, s"${a.work}/rep$rep", s"replay-$rep", sz.perTrigger, sz.buckets))
      val cpuS = Main.cpuS() - cpu0
      if (traced) {
        tracer.drain()
        res.layers("merge.drain_s") = (drainS, "s")
        res.layers("merge.compact_s") = (compactS, "s")
        val c = tracer.countersOf(n => n == "cdc.drain" || n == "merge.compact")
        res.layers("spark.shuffle_bytes_per_event") = (c.shuffleWrite.toDouble / sz.events, "bytes")
        res.layers("spark.cpu_s_per_mevent") = (c.cpuNs / 1e9 / (sz.events / 1e6), "s")
        res.layers("spark.spill_bytes") = (c.spill.toDouble, "bytes")
      }
      tracer.enable(false)
      Rep(table, drainS + compactS, cpuS, traced)
    }
    val warm = reps.last
    res.e2e("cold_cpu_s") = (reps.head.cpuS, "s")
    res.e2e("warm_cpu_s") = (warm.cpuS, "s")
    res.named("cold_s") = (reps.head.wallS, "s")
    res.named("warm_s") = (warm.wallS, "s")
    res.named("replay_eps") = (sz.events / warm.wallS, "events/s")

    val binlogDf = spark.read.schema(CdcStream.binlogSchema).parquet(binlog)
    val expected = Main.phase("check.oracle")(Checks.digest(Checks.lwwOracle(binlogDf)))
    reps.zipWithIndex.foreach { case (rep, r) =>
      Main.phase("check.replay")(verifyReplay(spark, res, rep.table, s"${a.work}/rep$r/metrics",
        s"replay-$r", expected, sz.events))
    }
    val table = reps.last.table
    val binlogBytes = Main.du(binlog)

    // ---- tail phase, on the caught-up table
    val segments = Main.parquetFiles(staged)
    val written = Main.phase("check.expected")(Checks.newestLiveKeyPerSegment(spark, staged))
    Files.createDirectories(Paths.get(live))
    val metrics = CdcStream.metricsTable(spark, s"${a.work}/rep${reps.size - 1}/metrics")
    val rnd = new scala.util.Random(a.seed)
    val lookups = new Lookups(tracer)
    val writeToRead = mutable.ArrayBuffer[(Double, Boolean)]()
    val fresh = mutable.ArrayBuffer[(Double, Boolean)]()
    val pollWait = mutable.ArrayBuffer[Double]()

    tracer.enable(a.trace)
    val q = tracer.span("cdc.start", "cdc") {
      tracer.streamParent = tracer.current
      CdcStream.start(spark, table, metrics, live, s"${a.work}/tailckpt", queryId = TailId,
        maxFilesPerTrigger = 1, availableNow = false, compactAtDeltas = CompactEvery,
        l0Mode = true)
    }
    val loop0 = System.nanoTime()
    val tailCpu0 = Main.cpuS()
    var roundCpuMs = 0.0
    var i = 0
    try {
      while (i < sz.minRounds ||
          (i < segments.size && Main.secondsSince(loop0) < a.seconds)) {
        // round 0 also waits for the stream's first trigger; it is not sampled
        val traced = a.trace && i % 2 == 1
        tracer.enable(traced)
        val seg = segments(i)
        val f0 = table.fence(TailId)
        val epochsBefore = tracer.allEpochs.size
        val t0 = System.nanoTime()
        tracer.span("round", "bench") {
          tracer.span("bench.publish", "bench")(
            Files.move(seg, Paths.get(live, seg.getFileName.toString)))
          tracer.span("lake.fence", "lake") {
            while (table.fence(TailId) <= f0) Thread.sleep(1)
          }
        }
        val freshS = Main.secondsSince(t0)
        val (repo, path, lsn, sha) = written(seg.getFileName.toString)
        val hit = lookups(table, repo).find(_.getAs[String]("path") == path)
        val readS = Main.secondsSince(t0)
        res.check(hit.exists(r => r.getAs[Long]("lsn") == lsn &&
            org.apache.commons.codec.digest.DigestUtils.sha256Hex(r.getAs[String]("content")) == sha),
          s"round $i: $repo/$path does not read back lsn $lsn")
        if (i % 2 == 0) lookups(table, Lake.repoName(rnd, sz.nRepos, Skew, hot = i % 4 == 0))
        if (i > 0) {
          fresh += ((freshS * 1000.0, traced))
          writeToRead += ((readS * 1000.0, traced))
        }
        if (traced) {
          tracer.drain()
          tracer.allEpochs.drop(epochsBefore).headOption
            .foreach(e => pollWait += (e.startNs - t0) / 1e6)
        }
        i += 1
      }
      roundCpuMs = (Main.cpuS() - tailCpu0) * 1000.0 / i
      tracer.enable(a.trace)
      q.processAllAvailable()
    } finally {
      q.stop()
    }
    System.err.println(f"[perfbench] tail: $i rounds, write-to-read ms " +
      writeToRead.map(x => f"${x._1}%.0f").mkString(" "))

    val published = spark.read.schema(CdcStream.binlogSchema).parquet(binlog, live)
    val want = Main.phase("check.oracle")(Checks.digest(Checks.lwwOracle(published)))
    val got = Main.phase("check.tail")(
      Checks.digest(LakeMerge.readState(table).select(Checks.StateCols.map(col): _*)))
    res.check(got == want, s"tail: state digest $got, oracle $want")

    val untraced = writeToRead.filterNot(_._2).map(_._1).toSeq
    val untracedFresh = fresh.filterNot(_._2).map(_._1).toSeq
    res.e2e("op_cpu_ms") = (roundCpuMs, "ms")
    res.named("write_to_read_p50_ms") = (Main.median(untraced), "ms")
    res.named("freshness_p50_ms") = (Main.percentile(untracedFresh, 50), "ms")
    res.named("freshness_p90_ms") = (Main.percentile(untracedFresh, 90), "ms")
    res.named("freshness_samples") = (untracedFresh.size.toDouble, "count")
    res.named("lookup_p50_ms") = (Main.percentile(lookups.wallMs.toSeq, 50), "ms")
    res.named("lookup_p95_ms") = (Main.percentile(lookups.wallMs.toSeq, 95), "ms")
    res.named("lookup_samples") = (lookups.wallMs.size.toDouble, "count")
    Lake.report(res, table, binlogBytes + Main.du(live))

    if (a.trace) {
      lookups.report(res)
      val ep = tracer.allEpochs.filter(_.startNs >= loop0)
      res.layers("cdc.epoch_ms") = (Main.median(ep.map(_.triggerMs.toDouble)), "ms")
      res.layers("cdc.epoch_p90_ms") = (Main.percentile(ep.map(_.triggerMs.toDouble), 90), "ms")
      res.layers("cdc.addbatch_share") =
        (ep.map(_.addBatchMs).sum.toDouble / math.max(1L, ep.map(_.triggerMs).sum), "ratio")
      res.layers("cdc.poll_wait_ms") = (Main.median(pollWait.toSeq), "ms")
      res.layers("trace.overhead_ms") = (Main.median(writeToRead.filter(_._2).map(_._1).toSeq) -
        Main.median(untraced), "ms")
    }
  }

  /** Drain `log` into a fresh table, then compact it. Returns the table
    * and the drain and compact seconds. */
  private def catchUp(spark: SparkSession, tracer: Tracer, log: String, root: String,
      qid: String, perTrigger: Int, buckets: Int): (LakeTable, Double, Double) = {
    val table = tracer.span("lake.create", "lake")(
      LakeTable.create(spark, s"$root/table", CdcStream.binlogSchema, buckets))
    val metrics = CdcStream.metricsTable(spark, s"$root/metrics")
    val (_, drainS) = Main.timed(tracer.span("cdc.drain", "cdc") {
      tracer.streamParent = tracer.current
      CdcStream.start(spark, table, metrics, log, s"$root/ckpt", queryId = qid,
        maxFilesPerTrigger = perTrigger, compactAtDeltas = 0, l0Mode = true)
        .awaitTermination()
    })
    val (_, compactS) = Main.timed(tracer.span("merge.compact", "merge")(LakeMerge.compact(table)))
    (table, drainS, compactS)
  }

  /** Final state equals the independent LWW oracle, and the lineage rows
    * account for every generated event. */
  private def verifyReplay(spark: SparkSession, res: Result, table: LakeTable,
      metricsRoot: String, qid: String, expected: (Long, String), events: Long): Unit = {
    val got = Checks.digest(LakeMerge.readState(table).select(Checks.StateCols.map(col): _*))
    res.check(got == expected, s"$qid: state digest $got, oracle $expected")
    val lineage = LakeTable.load(spark, metricsRoot).read()
      .where(col("query_id") === qid)
      .groupBy("epoch_id").agg(max("batch_rows").as("rows"))
      .agg(sum("rows")).collect()(0)
    val rows = if (lineage.isNullAt(0)) 0L else lineage.getLong(0)
    res.check(rows == events, s"$qid: lineage rows $rows, generated $events")
  }

  /** Self-test fault: a copy of the binlog whose first segment lacks its
    * first event. Returns the copy's directory. */
  private def dropOneEvent(spark: SparkSession, binlog: String): String = {
    val out = s"$binlog-dropped"
    Files.createDirectories(Paths.get(out))
    val segs = Main.parquetFiles(binlog)
    segs.tail.foreach(p => Files.createLink(Paths.get(out, p.getFileName.toString), p))
    val first = segs.head
    val df = spark.read.schema(CdcStream.binlogSchema).parquet(first.toString)
    val lo = df.agg(min("lsn")).collect()(0).getLong(0)
    df.where(col("lsn") =!= lo).coalesce(1).write.parquet(s"$out.tmp")
    val target = Paths.get(out, first.getFileName.toString)
    Files.move(Main.parquetFiles(s"$out.tmp").head, target)
    Files.setLastModifiedTime(target, Files.getLastModifiedTime(first))
    Main.rmTree(s"$out.tmp")
    out
  }
}
