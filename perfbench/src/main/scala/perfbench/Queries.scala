package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** `queries`: the 16 `graft.Bench` headline leaves through
  * `SparkEntry.queries`, over tables the seed generates. One untimed
  * warm-up leaf (Bench's convention), one cold pass, then warm passes until
  * the run's seconds are spent. Each leaf's action is its order-free
  * digest, checked against the digest recorded from the seed tree for the
  * same input, and against the cold pass. */
object Queries {

  val Leaves = Seq(
    "q_lww_latest", "q_cdc_merge", "q1_agg", "q_join_dims", "q_topk_window",
    "q_dedup_exact", "q_minhash_pairs", "q_simhash", "q_ngram_jaccard",
    "q_ann_topk", "q_ann_lsh", "q_token_count", "q_fingerprint",
    "q_content_hash", "q_cdc_replay", "q_report_adoption")

  /** Recorded expectations exist for this many input variants; a seed
    * selects variant seed mod Variants. */
  val Variants = 4

  final case class LeafRun(wall: Double, build: Double, cpu: Double, digest: (Long, String))

  def run(spark: SparkSession, a: Args, tracer: Tracer, res: Result, sessionS: Double): Unit = {
    val sf = if (a.toy) 0.001 else 0.01
    val variant = java.lang.Math.floorMod(a.seed, Variants.toLong)
    val dir = s"${a.work}/tables"
    val setups = (0 until 3).map(_ =>
      Main.timed(Main.phase("setup.generate")(QueryTables.write(spark, dir, sf, variant)))._2)
    res.e2e("setup_s") = (sessionS + Main.median(setups), "s")
    res.check(QueryTables.schemaOk(spark, dir), "generated tables do not match Tables.schemas")

    // Bench sets this for timing runs: the CDC leaves skip their oracle export
    sys.props("graft.skipOracleExport") = "true"
    val expected = if (a.record) Map.empty[String, (Long, String)]
      else loadExpected(a.expected, if (a.toy) "toy" else "full", variant.toString)
    val qmap = graft.SparkEntry.queries

    def leaf(name: String, pass: Int): LeafRun = tracer.span(s"q.$name.p$pass", "queries") {
      val t0 = System.nanoTime()
      val cpu0 = Main.cpuS()
      val df = tracer.span("q.build", "queries")(qmap(name)(spark, dir))
      val build = Main.secondsSince(t0)
      val d = tracer.span("q.exec", "spark")(Checks.digest(df))
      LeafRun(Main.secondsSince(t0), build, Main.cpuS() - cpu0, d)
    }

    // untimed warm-up: absorbs first-job JIT, as Bench does
    Main.phase("warmup.leaf")(leaf(Leaves.head, -1))

    val passes = mutable.ArrayBuffer[(Map[String, LeafRun], Boolean)]()
    tracer.enable(a.trace)
    passes += ((Main.phase("pass 0")(Leaves.map(n => n -> leaf(n, 0)).toMap), a.trace))
    val loop0 = System.nanoTime()
    // traced run: untraced, traced, untraced, so drift between passes cancels
    val minWarm = if (a.trace) 3 else 1
    while (passes.size - 1 < minWarm ||
        (Main.secondsSince(loop0) < a.seconds && passes.size < 6)) {
      val p = passes.size
      val traced = a.trace && p == 2
      tracer.enable(traced)
      passes += ((Main.phase(s"pass $p")(Leaves.map(n => n -> leaf(n, p)).toMap), traced))
    }
    tracer.enable(false)

    val cold = passes.head._1
    Leaves.foreach { n =>
      res.digests(n) = cold(n).digest
      if (!a.record) res.check(expected.get(n).contains(cold(n).digest),
        s"$n: digest ${cold(n).digest}, recorded ${expected.get(n)}")
      passes.tail.foreach { case (p, _) =>
        res.check(p(n).digest == cold(n).digest, s"$n: warm digest ${p(n).digest} != cold ${cold(n).digest}")
      }
    }

    def total(p: Map[String, LeafRun]): Double = Leaves.map(p(_).wall).sum
    def totalCpu(p: Map[String, LeafRun]): Double = Leaves.map(p(_).cpu).sum
    val warm = passes.tail.filterNot(_._2).map(_._1).toSeq
    res.e2e("cold_cpu_s") = (totalCpu(cold), "s")
    res.e2e("warm_cpu_s") = (Main.median(warm.map(totalCpu)), "s")
    res.e2e("op_cpu_ms") = (Main.geomean(warm.flatMap(p => Leaves.map(p(_).cpu * 1000.0))), "ms")
    res.named("queries_cold_s") = (total(cold), "s")
    res.named("queries_warm_s") = (Main.median(warm.map(total)), "s")
    res.named("leaf_geomean_ms") = (Main.geomean(warm.flatMap(p => Leaves.map(p(_).wall * 1000.0))), "ms")

    if (a.trace) {
      tracer.drain()
      val tracedWarm = passes.zipWithIndex.tail.filter(_._1._2)
      Leaves.foreach { n =>
        res.layers(s"q.$n.cold_s") = (cold(n).wall, "s")
        res.layers(s"q.$n.warm_s") = (Main.median(warm.map(_(n).wall)), "s")
        res.layers(s"q.$n.build_s") = (Main.median(warm.map(_(n).build)), "s")
        val c = tracedWarm.map { case (_, i) => tracer.countersOf(_ == s"q.$n.p$i") }
        res.layers(s"q.$n.cpu_s") = (Main.median(c.map(_.cpuNs / 1e9).toSeq), "s")
        res.layers(s"q.$n.shuffle_bytes") = (Main.median(c.map(_.shuffleWrite.toDouble).toSeq), "bytes")
      }
      res.layers("trace.overhead_ms") = ((Main.median(tracedWarm.map(x => total(x._1._1)).toSeq) -
        Main.median(warm.map(total))) * 1000.0, "ms")
    }
  }

  /** `{"full": {"0": {"q_x": [rows, "sha256"]}}, "toy": {...}}` */
  private def loadExpected(path: String, scale: String, variant: String): Map[String, (Long, String)] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    val node = root.path(scale).path(variant)
    node.fieldNames().asScala.map { k =>
      val v = node.get(k)
      k -> ((v.get(0).asLong, v.get(1).asText))
    }.toMap
  }
}
