package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cdc.{CdcStream, EventGen, LakeMerge}
import graft.lake.LakeTable

/** Child-process entry for the north-rule scaling bench: replays a
  * pre-generated binlog onto a fresh lake table under a `local-cluster`
  * master — REAL executor JVMs with private heaps/GC launched by an
  * in-process standalone master/worker pair, the honest single-machine
  * stand-in for "N executors vs 4N executors" (the ≥0.8 scaling-efficiency
  * target presumes executor processes, not threads sharing one heap).
  *
  * Run as a separate JVM (Bench spawns it via ProcessBuilder so taskset can
  * confine the WHOLE process tree — driver, worker threads, executor
  * children — to the small-cluster CPU set; children inherit the affinity
  * mask at fork).
  *
  * Requires env: SPARK_HOME=/opt/spark, SPARK_SCALA_VERSION=2.13 (the
  * executor launcher resolves its classpath through them).
  *
  * Modes (arg 0):
  *  - `merge`: the north-rule job — fenced LWW delta-merge batches + final
  *    compaction of `events` change events (the timed window excludes
  *    generation and executor launch; a small warmup replay forces executor
  *    start + codegen before timing).
  *  - `cpu`: pure-CPU ceiling job of the SAME harness — iterated sha256
  *    over synthesized rows, zero shuffle, zero I/O. Its N→4N efficiency is
  *    the hardware ceiling of this box (frequency scaling + shared LLC);
  *    engine efficiency is reported alongside raw and normalized by it.
  *
  * args: mode binlogDir events batches executors coresPerExec memMbPerExec buckets
  * Prints ONE line: {"wall":<sec>}
  */
object ScaleRun {

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val binlog = args(1)
    val n = args(2).toLong
    val batches = args(3).toInt
    val executors = args(4).toInt
    val coresPerExec = args(5).toInt
    val memMb = args(6).toInt
    val buckets = args(7).toInt
    val totalCores = executors * coresPerExec

    val tmp = sys.env.getOrElse("GRAFT_BENCH_TMP", "/dev/shm")
    val spark = SparkSession.builder()
      .master(s"local-cluster[$executors,$coresPerExec,$memMb]")
      .appName(s"graft-scale-$executors x$coresPerExec")
      .config("spark.executor.memory", s"${memMb - 384}m")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions", (totalCores * 2).toString)
      // small enough that a 2M-event micro-batch splits into ≥2 waves of
      // tasks at 4N (wave quantization caps append scaling otherwise);
      // binlog segments are single-rowgroup files, so splits are file-level
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the merge shuffle is memory/IO-bandwidth-bound; the codec trades
      // CPU for shuffled bytes
      .config("spark.io.compression.codec", "lz4")
      .config("spark.local.dir", s"$tmp/graft-spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.worker.cleanup.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val wall = mode match {
      case "merge" => mergeJob(spark, binlog, n, batches, buckets, l0 = false)
      case "mergel0" => mergeJob(spark, binlog, n, batches, buckets, l0 = true)
      case "stream" => streamJob(spark, binlog, n, batches, buckets)
      case "cpu" => cpuJob(spark, n, totalCores)
      case "shuffle" => shuffleJob(spark, n, totalCores)
      case other => throw new IllegalArgumentException(s"unknown mode: $other")
    }
    println(f"""{"wall":$wall%.3f}""")
    spark.stop()
  }

  /** North-rule merge-apply replay. Warmup replay (separate table, first
    * ~1.5% of events) forces executor launch + codegen warm; the timed
    * window is the fenced batch merges + final compaction only.
    *
    * `l0 = true` runs the shuffle-free ingest shape: every batch appends
    * with zero exchange (scan → write, embarrassingly parallel) and the
    * final full compaction re-buckets + resolves everything in ONE
    * exchange — total shuffled volume is HALF the classic mode's (classic
    * shuffles each batch once AND the final compaction re-shuffles the
    * union), and the per-batch path scales like the pure-CPU ceiling
    * instead of the memory-bandwidth-bound shuffle ceiling. */
  private def mergeJob(spark: SparkSession, binlog: String, n: Long,
      batches: Int, buckets: Int, l0: Boolean): Double = {
    // standalone experimentation convenience: generate the binlog on first
    // use (Bench pre-generates and shares one across all child runs)
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(binlog)))
      EventGen.writeBinlog(spark, binlog, n, segments = 256,
        nRepos = 20000, pathsPerRepo = 200, skew = 2.0, langFromLsn = n / 2)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_BENCH_TMP", "/dev/shm")),
      "graft-scale-table").toString
    def read(lo: Long, hi: Long) = spark.read
      .schema(CdcStream.binlogSchema).parquet(binlog)
      .where(col("lsn") >= lo && col("lsn") < hi)

    val warm = LakeTable.create(spark, s"$dir/warm", CdcStream.binlogSchema, buckets)
    // two warmup batches + a compact: executor launch, codegen, parquet
    // reader/writer JIT all reach steady state before the timed window
    // (single-batch warmup left batch0 ~70% slower than batch3)
    val warmPer = math.max(n / 32, 10000L)
    LakeMerge.mergeBatch(warm, read(0, warmPer), Some(("warm", 0L)), 2, l0Mode = l0)
    LakeMerge.mergeBatch(warm, read(warmPer, 2 * warmPer), Some(("warm", 1L)), 2, l0Mode = l0)
    LakeMerge.compact(warm)

    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, buckets)
    val per = n / batches
    val t0 = System.nanoTime()
    (0 until batches).foreach { b =>
      val tb = System.nanoTime()
      val hi = if (b == batches - 1) n else (b + 1) * per
      LakeMerge.mergeBatch(table, read(b * per, hi), Some(("bench", b.toLong)), 2, l0Mode = l0)
      System.err.println(f"""{"phase":"batch$b","sec":${(System.nanoTime() - tb) / 1e9}%.2f}""")
    }
    val tc = System.nanoTime()
    LakeMerge.compact(table)
    System.err.println(f"""{"phase":"compact","sec":${(System.nanoTime() - tc) / 1e9}%.2f}""")
    val secs = (System.nanoTime() - t0) / 1e9
    rmTree(dir)
    secs
  }

  /** The PRODUCTION ingest shape end-to-end: Structured-Streaming binlog
    * tail (AvailableNow drain) → fenced L0 merge commits → lineage sidecar,
    * measured under the same N vs 4N harness as the batch modes. Timed
    * window starts after a warmup replay (separate table/checkpoint, first
    * ~6% of events) has forced executor launch + codegen; it covers the
    * full drain INCLUDING one terminal full compaction (the work must be
    * complete, not deferred, for eps to be honest).
    *
    * No flush/compaction runs during the drain — exactly the terminal work
    * of the merge/mergel0 kernel jobs, so the stream-vs-kernel ratio
    * isolates the STREAMING machinery (microbatch planning, offset/commit
    * logs, lineage, fenced commits) instead of comparing compaction
    * schedules: at a handful of bench epochs an inline schedule flushes
    * every epoch and majors almost every epoch, shuffling the data ~2.7×
    * vs the kernel's single terminal compact — schedule cost, not stream
    * cost. */
  private def streamJob(spark: SparkSession, binlog: String, n: Long,
      batches: Int, buckets: Int): Double = {
    import graft.cdc.{CdcStream, LakeMerge}
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(binlog)))
      EventGen.writeBinlog(spark, binlog, n, segments = 256,
        nRepos = 20000, pathsPerRepo = 200, skew = 2.0, langFromLsn = n / 2)
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(sys.env.getOrElse("GRAFT_BENCH_TMP", "/dev/shm")),
      "graft-scale-stream").toString
    val nSegments = graft.util.Fs.list(java.nio.file.Paths.get(binlog))
      .count(_.getFileName.toString.endsWith(".parquet"))
    val perTrigger = math.max(1, nSegments / batches)

    // warmup: drain a 16th of the segments into a throwaway table
    val warmBinlog = s"$dir/warmbinlog"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warmBinlog))
    graft.util.Fs.list(java.nio.file.Paths.get(binlog)).sortBy(_.toString)
      .take(math.max(1, nSegments / 16)).foreach { p =>
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(warmBinlog, p.getFileName.toString), p)
      }
    val warm = LakeTable.create(spark, s"$dir/warm", CdcStream.binlogSchema, buckets)
    val warmMetrics = CdcStream.metricsTable(spark, s"$dir/warmMetrics")
    CdcStream.start(spark, warm, warmMetrics, warmBinlog, s"$dir/warmCkpt",
      queryId = "warm", maxFilesPerTrigger = perTrigger,
      compactAtDeltas = 0, l0Mode = true).awaitTermination()
    LakeMerge.compact(warm)

    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, buckets)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val t0 = System.nanoTime()
    CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "bench-stream", maxFilesPerTrigger = perTrigger,
      compactAtDeltas = 0, l0Mode = true).awaitTermination()
    LakeMerge.compact(table)
    val secs = (System.nanoTime() - t0) / 1e9
    rmTree(dir)
    secs
  }

  /** Pure-CPU ceiling: per-row iterated sha256 chains over ranged rows —
    * embarrassingly parallel, no shuffle, no disk, negligible memory
    * traffic. Measures what N→4N scaling THIS box permits for CPU-bound
    * Spark tasks (frequency + scheduler ceiling), same session/timing
    * harness as the merge job. */
  private def cpuJob(spark: SparkSession, n: Long, totalCores: Int): Double = {
    // ~7 core-seconds per million rows (48-deep sha256 chain — deeper
    // trips the analyzer's resolution-iteration cap): the timed window is
    // ~7s at N so task-scheduling overhead can't dominate. The warm run
    // is IDENTICAL to the timed run — executor launch, codegen compilation
    // and JIT all happen there, so the timed run measures pure task
    // execution at both sizes.
    val rows = math.max(n, 1000000L)
    def run(): Long = {
      var h = col("id").cast("string")
      (0 until 48).foreach(_ => h = sha2(h, 256))
      spark.range(0, rows, 1, totalCores * 4).select(h.as("h"))
        .agg(count(when(substring(col("h"), 1, 1) === "0", 1))).collect()(0).getLong(0)
    }
    run() // warm
    val t0 = System.nanoTime()
    run()
    (System.nanoTime() - t0) / 1e9
  }

  /** Infrastructure ceiling for SHUFFLE-BOUND work: an identity
    * repartition+count of merge-shaped rows (~260B payload, same total
    * volume as the merge replay), zero engine logic. If the merge's N→4N
    * efficiency matches this job's, the engine adds no scaling penalty
    * beyond Spark's own shuffle machinery on this box — the
    * "engine is not the bottleneck" evidence. (The pure-CPU job misses the
    * memory-bandwidth wall that shuffle-bound work hits when 4× the cores
    * share one socket; this job measures exactly that wall.) */
  private def shuffleJob(spark: SparkSession, n: Long, totalCores: Int): Double = {
    val rows = 2 * n // ~4 GB shuffled at the 8M-event default
    def run(): Long = {
      val h = sha2(col("id").cast("string"), 256)
      val df = spark.range(0, rows, 1, totalCores * 2)
        .select(col("id"), concat(h, h, h, h).as("content"))
      df.repartition(totalCores * 2, pmod(col("id"), lit(totalCores * 2L)))
        .agg(count(col("content"))).collect()(0).getLong(0)
    }
    run() // warm: executors, codegen, JIT
    val t0 = System.nanoTime()
    run()
    (System.nanoTime() - t0) / 1e9
  }

  private def rmTree(dir: String): Unit =
    graft.util.Fs.rmTree(java.nio.file.Paths.get(dir))
}
