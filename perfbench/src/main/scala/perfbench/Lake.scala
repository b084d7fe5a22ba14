package perfbench

import scala.collection.mutable

import graft.cdc.LakeMerge
import graft.lake.LakeTable

/** Point lookups and table statistics shared by the `replay` and `tail`
  * workloads. Every call goes through the engine's public API. */
final class Lookups(tracer: Tracer) {
  val wallMs = mutable.ArrayBuffer[Double]()
  val planMs = mutable.ArrayBuffer[Double]()
  val execMs = mutable.ArrayBuffer[Double]()
  val files = mutable.ArrayBuffer[Double]()
  private var traced = 0

  /** `LakeMerge.readRepo(table, repo).collect()`: the user-visible read.
    * In a traced run the DataFrame construction (metadata pruning via
    * `readForKey`) and the collect are timed apart, and the pruned file
    * count comes from a separate `filesForKey` call. */
  def apply(table: LakeTable, repo: String): Array[org.apache.spark.sql.Row] = {
    val t0 = System.nanoTime()
    val rows = tracer.span("lookup", "bench") {
      val df = tracer.span("merge.readRepo", "merge")(LakeMerge.readRepo(table, repo))
      val t1 = System.nanoTime()
      val r = tracer.span("lookup.exec", "spark")(df.collect())
      if (tracer.on) {
        planMs += (t1 - t0) / 1e6
        execMs += (System.nanoTime() - t1) / 1e6
      }
      r
    }
    wallMs += (System.nanoTime() - t0) / 1e6
    if (tracer.on) {
      traced += 1
      files += tracer.span("lake.filesForKey", "lake")(
        table.filesForKey(table.snapshot, repo).size.toDouble)
    }
    rows
  }

  /** Per-layer lookup figures of the traced lookups. */
  def report(res: Result): Unit = if (traced > 0) {
    tracer.drain()
    res.layers("lake.plan_ms") = (Main.median(planMs.toSeq), "ms")
    res.layers("lookup.exec_ms") = (Main.median(execMs.toSeq), "ms")
    res.layers("lake.files_per_lookup") = (files.sum / files.size, "count")
    res.layers("spark.jobs_per_lookup") =
      (tracer.countersOf(_ == "lookup").jobs.toDouble / traced, "count")
  }
}

object Lake {
  /** Live-snapshot statistics plus on-disk space amplification against
    * the bytes of binlog the table was built from. */
  def report(res: Result, table: LakeTable, inputBytes: Long): Unit = {
    val snap = table.snapshot
    val files = table.filesOf(snap)
    val onDisk = Main.du(table.root)
    res.named("space_amp") = (onDisk.toDouble / inputBytes, "ratio")
    res.layers("lake.files") = (files.size.toDouble, "count")
    res.layers("lake.data_bytes") = (files.map(_.bytes).sum.toDouble, "bytes")
    res.layers("lake.manifests") = (snap.manifests.size.toDouble, "count")
    res.layers("lake.space_amp") = (onDisk.toDouble / inputBytes, "ratio")
  }

  /** Repo names drawn the way the generator draws them: `hot` follows the
    * power law (floor(n * u^skew)), otherwise uniform. */
  def repoName(rnd: scala.util.Random, nRepos: Int, skew: Double, hot: Boolean): String = {
    val idx =
      if (hot) math.min(nRepos - 1, math.floor(nRepos * math.pow(rnd.nextDouble(), skew)).toInt)
      else rnd.nextInt(nRepos)
    f"repo_$idx%05d"
  }
}
