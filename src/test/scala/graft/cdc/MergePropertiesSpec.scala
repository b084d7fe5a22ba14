package graft.cdc

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec

/** Property-based checks of the LWW merge algebra (SURVEY.md §5): for
  * ARBITRARY event sets and ARBITRARY batch partitionings, the distributed
  * merge must equal the sequential fold oracle, and replay must be
  * idempotent and order-insensitive. Small cases by design — each property
  * evaluation runs Spark jobs. */
class MergePropertiesSpec extends SparkSpec {

  private def checkProp(prop: Prop, n: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  import spark.implicits._

  private val genEvent: Gen[ChangeEvent] = for {
    repo <- Gen.oneOf("r1", "r2", "r3")
    path <- Gen.oneOf("a", "b", "c", "d")
    commit <- Gen.chooseNum(0, 5).map(n => f"c$n%03d")
    lsn <- Gen.chooseNum(0L, 1000000L)
    op <- Gen.frequency(6 -> "U", 2 -> "I", 2 -> "D")
    content <- Gen.alphaStr.map(s => if (op == "D") null else s.take(12))
  } yield ChangeEvent(repo, path, commit, lsn, op, null, content)

  /** Unique (commit, lsn) per key — the generator contract (FIXTURES.md §2). */
  private val genEvents: Gen[List[ChangeEvent]] =
    Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, genEvent))
      .map(_.groupBy(e => (e.repo, e.path, e.commit, e.lsn)).values.map(_.head).toList)

  private def distributedState(batches: Seq[Seq[ChangeEvent]]): Map[(String, String), String] = {
    var state = spark.emptyDataset[ChangeEvent].toDF()
    batches.filter(_.nonEmpty).foreach { b =>
      state = MergeEngine.apply(state, b.toDF())
    }
    MergeEngine.liveView(state)
      .select($"repo", $"path", coalesce(sha2($"content", 256), lit("∅")))
      .as[(String, String, String)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
  }

  private def oracle(events: Seq[ChangeEvent]): Map[(String, String), String] =
    MergeEngine.foldOracle(events.sortBy(e => (e.commit, e.lsn)).toList).map {
      case (k, e) =>
        k -> (if (e.content == null) "∅"
        else org.apache.commons.codec.digest.DigestUtils.sha256Hex(e.content))
    }

  test("property: any batch split of any event set converges to the fold oracle") {
    checkProp(Prop.forAll(genEvents, Gen.chooseNum(1, 4)) { (events, nBatches) =>
      val batches = events.grouped(math.max(1, events.size / nBatches)).toSeq
      distributedState(batches) == oracle(events)
    }, 15)
  }

  test("property: replay order across batches does not matter (permutation invariance)") {
    checkProp(Prop.forAll(genEvents) { events =>
      val batches = events.grouped(math.max(1, events.size / 3)).toSeq
      distributedState(batches) == distributedState(batches.reverse)
    }, 10)
  }

  test("property: re-applying any batch is idempotent") {
    checkProp(Prop.forAll(genEvents) { events =>
      val batches = events.grouped(math.max(1, events.size / 2)).toSeq
      distributedState(batches) == distributedState(batches ++ batches.lastOption.toSeq)
    }, 10)
  }

  test("property: the SQL read shapes equal the merge algebra (prunable window == aggregate)") {
    // the SQL surface resolves reads through the WINDOW-shaped views
    // (column pruning); the library resolves through the max_by AGGREGATE.
    // They must agree on arbitrary event sets, both with tombstones kept
    // (the .cdc relation) and filtered (the base relation).
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, String)] =
      df.select($"repo", $"path",
        coalesce($"op", lit("∅")), coalesce(sha2($"content", 256), lit("∅")))
        .as[(String, String, String, String)].collect().toSet
    checkProp(Prop.forAll(genEvents) { events =>
      val raw = events.toDF()
      val agg = MergeEngine.dedupBatch(raw)
      rows(MergeEngine.prunableStateView(raw)) == rows(agg) && {
        val liveWindow = MergeEngine.prunableLiveView(raw)
          .select($"repo", $"path", coalesce(sha2($"content", 256), lit("∅")))
          .as[(String, String, String)].collect().toSet
        val liveAgg = MergeEngine.liveView(agg)
          .select($"repo", $"path", coalesce(sha2($"content", 256), lit("∅")))
          .as[(String, String, String)].collect().toSet
        liveWindow == liveAgg
      }
    }, 10)
  }

  test("property: tombstone purge below the replay watermark never changes the live view") {
    // split any event set at an arbitrary watermark on the FULL ordering
    // key (commit, lsn): apply history → advance watermark → compact (which
    // purges tombstones ≤ watermark) → apply the future events. The final
    // live view must still equal the fold oracle of ALL events — i.e. the
    // purge is invisible to every replay that respects the watermark
    // contract (no event ordered ≤ watermark arrives after it is set).
    checkProp(Prop.forAll(genEvents, Gen.chooseNum(0, 5), Gen.chooseNum(0L, 1000000L)) {
      (events, wCommitN, wLsn) =>
        val wCommit = f"c$wCommitN%03d"
        val (history, future) = events.partition(e =>
          e.commit < wCommit || (e.commit == wCommit && e.lsn <= wLsn))
        val root = tmpDir("wm")
        val table = graft.lake.LakeTable.create(spark, root,
          CdcStream.binlogSchema, numBuckets = 2)
        if (history.nonEmpty)
          LakeMerge.mergeBatch(table, history.toDF(), Some(("wm", 0L)))
        LakeMerge.setWatermark(table, wCommit, wLsn)
        LakeMerge.compact(table) // purges tombstones ≤ watermark
        if (future.nonEmpty)
          LakeMerge.mergeBatch(table, future.toDF(), Some(("wm", 1L)))
        val got = MergeEngine.liveView(LakeMerge.resolvedState(table))
          .select($"repo", $"path", coalesce(sha2($"content", 256), lit("∅")))
          .as[(String, String, String)].collect()
          .map(t => (t._1, t._2) -> t._3).toMap
        got == oracle(events)
    }, 8)
  }

  test("property: watermarked purge under mixed L0/classic ingest and per-bucket majors stays invisible") {
    // the L0 variant of the purge property: history arrives through an
    // arbitrary mix of zero-exchange L0 appends and classic deltas (so
    // older rows can sit in bucket-spanning L0 files), the watermark
    // advances, per-bucket majors fire (the path that CANNOT see L0 files
    // and therefore must withhold the purge while any are unflushed), and
    // the future events then arrive. The live view must still equal the
    // fold oracle of ALL events — the round-3 resurrection regression,
    // generalized.
    // biased toward the dangerous corner: watermark near the top (most
    // events are purgeable history) and majors usually firing while L0
    // files are still unflushed — verified to catch the unguarded purge
    checkProp(Prop.forAll(genEvents, Gen.chooseNum(4, 6), Gen.chooseNum(0L, 1000000L),
      Gen.listOfN(4, Gen.oneOf(true, false)),
      Gen.frequency(5 -> false, 1 -> true)) {
      (events, wCommitN, wLsn, l0Flags, flushBeforeMajor) =>
        val wCommit = f"c$wCommitN%03d"
        val (history, future) = events.partition(e =>
          e.commit < wCommit || (e.commit == wCommit && e.lsn <= wLsn))
        val root = tmpDir("wml0")
        val table = graft.lake.LakeTable.create(spark, root,
          CdcStream.binlogSchema, numBuckets = 2)
        val batches = history.grouped(
          math.max(1, history.size / l0Flags.size)).toSeq.filter(_.nonEmpty)
        batches.zipWithIndex.foreach { case (b, i) =>
          LakeMerge.mergeBatch(table, b.toDF(), Some(("w", i.toLong)),
            l0Mode = l0Flags(i % l0Flags.size))
        }
        LakeMerge.setWatermark(table, wCommit, wLsn)
        if (flushBeforeMajor) { LakeMerge.flushL0(table); () }
        // per-bucket majors on every delta-holding bucket; L0 excluded
        LakeMerge.compactTiered(table, sizeRatio = 0.0, maxDeltaFiles = 1)
        if (future.nonEmpty)
          LakeMerge.mergeBatch(table, future.toDF(), Some(("w", 100L)))
        val got = MergeEngine.liveView(LakeMerge.resolvedState(table))
          .select($"repo", $"path", coalesce(sha2($"content", 256), lit("∅")))
          .as[(String, String, String)].collect()
          .map(t => (t._1, t._2) -> t._3).toMap
        got == oracle(events)
    }, 8)
  }

  test("property: old-producer batches (missing column) interleaved with new ones converge, any mode mix") {
    // schema evolution under ARBITRARY interleaving: a random subset of
    // batches comes from an "old producer" whose schema lacks `lang`
    // entirely (not null-valued — the column is absent), each batch lands
    // through a random ingest mode, and batches arrive in random order.
    // The resolved state must equal the fold oracle over the same events
    // with lang nulled where the old producer sent them.
    val genLang = Gen.oneOf("scala", "rust", "go")
    checkProp(Prop.forAll(genEvents, Gen.chooseNum(2, 4),
      Gen.listOfN(4, Gen.oneOf(true, false)), Gen.listOfN(4, Gen.chooseNum(0, 1)),
      genLang, Gen.chooseNum(0L, 1L)) {
      (events0, nBatches, oldProducer, modes, lang, shuffleSeed) =>
        val events = events0.map(e => e.copy(lang = if (e.op == "D") null else lang))
        val root = tmpDir("evo")
        val table = graft.lake.LakeTable.create(spark, root,
          CdcStream.binlogSchema, numBuckets = 2)
        val batches0 = events.grouped(math.max(1, events.size / nBatches)).toSeq.filter(_.nonEmpty)
        val batches = if (shuffleSeed == 1L) batches0.reverse else batches0
        val effective = batches.zipWithIndex.flatMap { case (b, i) =>
          val old = oldProducer(i % oldProducer.size)
          val df0 = b.toDF()
          val df = if (old) df0.drop("lang") else df0
          modes(i % modes.size) match {
            case 0 => LakeMerge.mergeBatch(table, df, Some(("e", i.toLong)), l0Mode = true)
            case _ => LakeMerge.mergeBatch(table, df, Some(("e", i.toLong)))
          }
          // the oracle sees what the old producer actually sent: no lang
          if (old) b.map(_.copy(lang = null)) else b
        }
        LakeMerge.flushL0(table)
        LakeMerge.compact(table)
        val got = MergeEngine.liveView(LakeMerge.resolvedState(table))
          .select($"repo", $"path",
            coalesce(sha2($"content", 256), lit("∅")),
            coalesce($"lang", lit("∅")))
          .as[(String, String, String, String)].collect()
          .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
        val want = MergeEngine.foldOracle(effective.toList).map { case (k, e) =>
          k -> ((if (e.content == null) "∅"
                 else org.apache.commons.codec.digest.DigestUtils.sha256Hex(e.content)),
                if (e.lang == null) "∅" else e.lang)
        }
        got == want
    }, 8)
  }

  test("property: random per-batch ingest modes (L0 / classic) all converge to the fold oracle") {
    // the mode is a physical-layout choice; the LWW algebra must make it
    // invisible — any interleaving of zero-exchange L0 appends and deduped
    // bucketed deltas, with or without a final flush/compact, resolves
    // identically
    val genMode = Gen.chooseNum(0, 1)
    checkProp(Prop.forAll(genEvents, Gen.chooseNum(1, 4),
      Gen.listOfN(4, genMode), Gen.oneOf(true, false)) {
      (events, nBatches, modes, doCompact) =>
        val root = tmpDir("modes")
        val table = graft.lake.LakeTable.create(spark, root,
          CdcStream.binlogSchema, numBuckets = 2)
        val batches = events.grouped(math.max(1, events.size / nBatches)).toSeq
        batches.filter(_.nonEmpty).zipWithIndex.foreach { case (b, i) =>
          modes(i % modes.size) match {
            case 0 => LakeMerge.mergeBatch(table, b.toDF(), Some(("m", i.toLong)), l0Mode = true)
            case _ => LakeMerge.mergeBatch(table, b.toDF(), Some(("m", i.toLong)))
          }
        }
        if (doCompact) { LakeMerge.flushL0(table); LakeMerge.compact(table); () }
        val got = MergeEngine.liveView(LakeMerge.resolvedState(table))
          .select($"repo", $"path", coalesce(sha2($"content", 256), lit("∅")))
          .as[(String, String, String)].collect()
          .map(t => (t._1, t._2) -> t._3).toMap
        got == oracle(events)
    }, 8)
  }
}
