package graft.cdc

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.lake.LakeTable

/** Error-routing, corrupt-input tolerance and manifest-source coverage
  * (reference S2/S3/O7 analogs). */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  test("invalid records route to the dead-letter table; good rows merge; counts in lineage") {
    val dir = tmpDir("dlq")
    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 4)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val dlq = CdcStream.deadLetterTable(spark, s"$dir/dlq")

    val good = EventGen.events(spark, 500L, nRepos = 20, pathsPerRepo = 5)
    val bad = Seq(
      (null: String, "p", "c1", 9001L, "U", null: String, "x"),   // null-key
      ("r1", "p", null: String, 9002L, "U", null: String, "x"),   // null-ordering
      ("r1", "p", "c1", 9003L, "Z", null: String, "x"),           // bad-op
      ("r1", "p", "c1", 9004L, "U", null: String, null: String)   // null-content
    ).toDF(CdcStream.binlogSchema.fieldNames.toSeq: _*)
    val batch = good.unionByName(bad)

    val st = CdcStream.applyBatch(table, metrics, batch, "dlq-test", 0L,
      deadLetters = Some(dlq))
    assert(st.applied)

    val dl = dlq.read().collect()
    assert(dl.length == 4)
    assert(dl.map(_.getAs[String]("reason")).sorted.toSeq ==
      Seq("bad-op", "null-content", "null-key", "null-ordering"))
    assert(dl.forall(_.getAs[String]("record_json").nonEmpty))

    val m = metrics.read().collect()(0)
    assert(m.getAs[Long]("bad_records") == 4L)
    assert(m.getAs[Long]("batch_rows") == 500L)

    // dead letters are fenced too: redelivery must not double-append
    CdcStream.applyBatch(table, metrics, batch, "dlq-test", 0L, deadLetters = Some(dlq))
    assert(dlq.read().count() == 4)

    // merged state contains no trace of the bad rows
    assert(LakeMerge.readState(table).where($"lsn" >= 9000L).count() == 0)
  }

  test("dead letters lost to a crash between data commit and routing heal on redelivery (classic and L0 writes)") {
    Seq(false, true).foreach { l0 =>
      val dir = tmpDir(s"dlqheal-$l0")
      val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 4)
      val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
      val good = EventGen.events(spark, 300L, nRepos = 10, pathsPerRepo = 5)
      val bad = Seq(("r1", "p", "c1", 9001L, "Z", null: String, "x"))
        .toDF(CdcStream.binlogSchema.fieldNames.toSeq: _*)
      val batch = good.unionByName(bad)
      // "crash" window: the data commit lands but the dead-letter routing
      // never runs (simulated by withholding the dead-letter table)
      val st = CdcStream.applyBatch(table, metrics, batch, "q", 0L,
        deadLetters = None, l0Mode = l0)
      assert(st.applied)
      // redelivery with the dead-letter table back: the folded lineage
      // record says bad > 0, so routing must be healed
      val dlq = CdcStream.deadLetterTable(spark, s"$dir/dlq")
      val st2 = CdcStream.applyBatch(table, metrics, batch, "q", 0L,
        deadLetters = Some(dlq), l0Mode = l0)
      assert(!st2.applied)
      assert(dlq.read().count() == 1, s"dead letter not healed (l0=$l0)")
      assert(dlq.fence("q") == 0L)
      // a further redelivery is a no-op (fence)
      CdcStream.applyBatch(table, metrics, batch, "q", 0L,
        deadLetters = Some(dlq), l0Mode = l0)
      assert(dlq.read().count() == 1)
    }
  }

  test("a corrupt segment file is skipped (ignoreCorruptFiles), stream completes") {
    val dir = tmpDir("corrupt")
    val binlog = s"$dir/binlog"
    EventGen.writeBinlog(spark, binlog, 2000L, segments = 4, nRepos = 20, pathsPerRepo = 5)
    // drop a garbage file among the segments (the reference's invalid-gzip case)
    Files.write(Paths.get(binlog, "segment-garbage.parquet"),
      "this is not a parquet file".getBytes)

    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 4)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val q = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "corrupt-test", maxFilesPerTrigger = 2, ignoreCorruptFiles = true)
    q.awaitTermination()

    // all real events applied, garbage skipped
    val oracle = MergeEngine.foldOracle(
      EventGen.events(spark, 2000L, nRepos = 20, pathsPerRepo = 5)
        .orderBy("lsn").as[ChangeEvent].collect().toSeq)
    assert(LakeMerge.readState(table).count() == oracle.size)
  }

  test("JSON-lines binlog format: replay converges; malformed lines dead-letter") {
    val dir = tmpDir("jsonlog")
    val binlog = s"$dir/binlog"
    Files.createDirectories(Paths.get(binlog))
    // write events as JSON lines + one garbage line
    val events = EventGen.events(spark, 1500L, nRepos = 20, pathsPerRepo = 5)
    events.coalesce(1).write.json(s"$dir/tmpjson")
    val part = Files.list(Paths.get(s"$dir/tmpjson")).iterator()
    var moved = 0
    part.forEachRemaining { p =>
      if (p.toString.endsWith(".json")) { Files.move(p, Paths.get(binlog, s"seg-$moved.json")); moved += 1 }
    }
    val badLine = "this is { not valid json"
    Files.write(Paths.get(binlog, "seg-bad.json"), (badLine + "\n").getBytes)

    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 4)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val dlq = CdcStream.deadLetterTable(spark, s"$dir/dlq")
    val q = CdcStream.start(spark, table, metrics, binlog, s"$dir/ckpt",
      queryId = "json-test", maxFilesPerTrigger = 4, format = "json",
      deadLetters = Some(dlq))
    q.awaitTermination()

    val oracle = MergeEngine.foldOracle(
      events.orderBy("lsn").as[ChangeEvent].collect().toSeq)
      .map { case (k, e) => k -> org.apache.commons.codec.digest.DigestUtils.sha256Hex(e.content) }
    val got = LakeMerge.readState(table)
      .select($"repo", $"path", sha2($"content", 256))
      .as[(String, String, String)].collect().map(x => (x._1, x._2) -> x._3).toMap
    assert(got == oracle)
    val dl = dlq.read().collect()
    assert(dl.length == 1, "the malformed JSON line must dead-letter")
    // forensic contract: the ORIGINAL undecodable line is preserved verbatim
    assert(dl(0).getAs[String]("record_json") == badLine)
    assert(dl(0).getAs[String]("reason") == "corrupt-record")
    assert(metrics.read().agg(sum($"bad_records")).collect()(0).getLong(0) == 1L)
    // and the corrupt-capture column never leaks into the table schema
    assert(!table.schema.fieldNames.contains(CdcStream.CorruptCol))
  }

  test("manifest-driven replay (S2): listed segments applied under sequential fenced epochs") {
    val dir = tmpDir("manifest")
    val binlog = s"$dir/binlog"
    EventGen.writeBinlog(spark, binlog, 3000L, segments = 6, nRepos = 30, pathsPerRepo = 5)
    val segs = Files.list(Paths.get(binlog)).iterator()
    val paths = new java.util.ArrayList[String]()
    segs.forEachRemaining(p => if (p.toString.endsWith(".parquet")) { paths.add(p.toString); () })
    Files.write(Paths.get(dir, "manifest.txt"),
      String.join("\n", paths).getBytes)

    val table = LakeTable.create(spark, s"$dir/table", CdcStream.binlogSchema, numBuckets = 4)
    val metrics = CdcStream.metricsTable(spark, s"$dir/metrics")
    val stats = CdcStream.replayManifest(spark, table, metrics,
      s"$dir/manifest.txt", queryId = "manifest-test", batchesOf = 2)
    assert(stats.count(_.applied) == 3) // 6 segments / 2 per batch

    val oracle = MergeEngine.foldOracle(
      EventGen.events(spark, 3000L, nRepos = 30, pathsPerRepo = 5)
        .orderBy("lsn").as[ChangeEvent].collect().toSeq)
      .map { case (k, e) => k -> org.apache.commons.codec.digest.DigestUtils.sha256Hex(e.content) }
    val got = LakeMerge.readState(table)
      .select($"repo", $"path", sha2($"content", 256))
      .as[(String, String, String)].collect().map(x => (x._1, x._2) -> x._3).toMap
    assert(got == oracle)

    // rerunning the same manifest is idempotent... but epochs continue; the
    // LWW algebra makes re-applied content a no-op on state
    CdcStream.replayManifest(spark, table, metrics, s"$dir/manifest.txt",
      queryId = "manifest-test", batchesOf = 2)
    val again = LakeMerge.readState(table)
      .select($"repo", $"path", sha2($"content", 256))
      .as[(String, String, String)].collect().map(x => (x._1, x._2) -> x._3).toMap
    assert(again == oracle)
  }
}
