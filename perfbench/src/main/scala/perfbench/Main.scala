package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Parsed command line of one benchmark run. */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    toy: Boolean,
    expected: String,
    record: Boolean,
    fault: String)

/** What one run measured. `e2e` holds the end-to-end metrics the run
  * reports in both modes, `named` the workload's headline figures under
  * their descriptive names, `layers` the per-layer figures of a traced run. */
final class Result {
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val named = mutable.LinkedHashMap[String, (Double, String)]()
  val layers = mutable.LinkedHashMap[String, (Double, String)]()
  val failures = mutable.ArrayBuffer[String]()
  val digests = mutable.LinkedHashMap[String, (Long, String)]()
  var attempted = 0L
  var failed = 0L

  /** Count one checked operation; a false `ok` fails the run. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
    ok
  }
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR [--toy] [--expected FILE] [--record]
  * [--fault none|drop-event]`. Prints one `PERFBENCH_RESULT {json}` line. */
object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val a = Args(
      workload = kv("--workload"),
      seed = kv("--seed").toLong,
      seconds = kv("--seconds").toInt,
      trace = kv.get("--trace").contains("1"),
      work = kv("--work"),
      toy = argv.contains("--toy"),
      expected = kv.getOrElse("--expected", ""),
      record = argv.contains("--record"),
      fault = kv.getOrElse("--fault", "none"))
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
    val res = new Result
    try {
      a.workload match {
        case "ingest" => Ingest.run(spark, a, tracer, res, sessionS)
        case "queries" => Queries.run(spark, a, tracer, res, sessionS)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      tracer.enable(false)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.check(ok = false, s"run aborted: $e")
    }
    res.named("rss_peak_mb") = (rssPeakMb(), "MB")
    if (a.trace) {
      tracer.selfTimeByLayer.toSeq.sortBy(_._1).foreach { case (l, s) =>
        res.layers(s"self.$l") = (s, "s")
      }
    }
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k.startsWith("spark.sql.adaptive.enabled") ||
        k == "spark.master" || k.startsWith("spark.sql.files.maxPartitionBytes")
    }
    spark.stop()
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "correct" -> Json.bool(res.failed == 0 && res.attempted > 0),
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "failures" -> Json.arr(res.failures.map(Json.str).toSeq),
      "e2e" -> metricsJson(res.e2e),
      "named" -> metricsJson(res.named),
      "layers" -> metricsJson(res.layers),
      "digests" -> Json.obj(res.digests.toSeq.map { case (k, (n, h)) =>
        k -> Json.arr(Seq(n.toString, Json.str(h)))
      }),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spans" -> tracer.spansJson,
      "spark_conf" -> Json.obj(conf.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })
    )))
  }

  private def metricsJson(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    Json.obj(m.toSeq.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

  /** local[nproc] with Bench's session settings; every scratch path lives
    * under the run's work directory. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ------------------------------------------------------------ helpers

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** Run `f` and log its wall time to stderr (phase breakdown for tuning). */
  def phase[A](label: String)(f: => A): A = {
    val (r, s) = timed(f)
    System.err.println(f"[perfbench] $label%-28s $s%8.2f s")
    r
  }

  /** CPU seconds this JVM has used so far, all threads (Spark's local
    * executors, GC and JIT included). */
  def cpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  /** Bytes of every regular file under `dir`. */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def parquetFiles(dir: String): Seq[Path] = {
    val st = Files.list(Paths.get(dir))
    try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    finally st.close()
  }

  def rmTree(dir: String): Unit = graft.util.Fs.rmTree(Paths.get(dir))

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
}

/** Minimal JSON writer: callers pass already-encoded values. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
