package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private val baseSchema = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lsn", LongType),
    StructField("lang", StringType),
    StructField("content", StringType)
  ))

  test("create → stage → commit → read round-trip; staged files invisible until commit") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 8)
    assert(t.read().count() == 0)

    val df = Seq(("r1", "a", "c1", 1L, null: String, "x"), ("r2", "b", "c1", 2L, null: String, "y"))
      .toDF(baseSchema.fieldNames.toSeq: _*)
      .withColumn("bucket", graft.cdc.LakeMerge.bucketOf(col("repo"), 8))
    val staged = t.stage(df, 0)
    assert(staged.nonEmpty)
    assert(t.read().count() == 0, "staged files must be invisible pre-commit")

    t.appendCommit(staged)
    assert(t.read().count() == 2)
    assert(t.read().schema.fieldNames.toSeq == baseSchema.fieldNames.toSeq)
  }

  test("bucket pruning reads only requested buckets") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 4)
    val df = (0 until 100).map(i => (s"repo_$i", "p", "c1", i.toLong, null: String, s"v$i"))
      .toDF(baseSchema.fieldNames.toSeq: _*)
      .withColumn("bucket", graft.cdc.LakeMerge.bucketOf(col("repo"), 4))
    val staged = t.stage(df, 0)
    t.appendCommit(staged)
    val perBucket = (0 until 4).map(b => t.readBuckets(Set(b)).count())
    assert(perBucket.sum == 100)
    assert(t.readBuckets(Set(0, 1, 2, 3)).count() == 100)
    // pruned read must not reference files of other buckets
    assert(t.files.map(_.bucket).toSet.size > 1)
  }

  test("schema evolution: additive column + long widening, old files read as null/cast") {
    val root = tmpDir("lake")
    val narrow = StructType(Seq(
      StructField("repo", StringType), StructField("path", StringType),
      StructField("commit", StringType), StructField("lsn", IntegerType),
      StructField("content", StringType)))
    val t = LakeTable.create(spark, root, narrow, numBuckets = 2)
    val df1 = Seq(("r1", "a", "c1", 1, "x")).toDF(narrow.fieldNames.toSeq: _*)
      .withColumn("bucket", lit(0))
    t.appendCommit(t.stage(df1, 0))

    // evolve: lsn Int→Long (widening) + new nullable lang column
    val wide = StructType(Seq(
      StructField("repo", StringType), StructField("path", StringType),
      StructField("commit", StringType), StructField("lsn", LongType),
      StructField("lang", StringType), StructField("content", StringType)))
    val sid = t.evolveSchema(wide)
    assert(sid == 1)
    val df2 = Seq(("r2", "b", "c2", 2L, "scala", "y")).toDF(wide.fieldNames.toSeq: _*)
      .withColumn("bucket", lit(1))
    t.appendCommit(t.stage(df2, sid), schemaId = Some(sid))

    val out = t.read().orderBy("repo").collect()
    assert(t.schema("lsn").dataType == LongType)
    assert(out.length == 2)
    assert(out(0).getAs[String]("lang") == null) // old file → null
    assert(out(1).getAs[String]("lang") == "scala")
    assert(out(0).getAs[Long]("lsn") == 1L)      // widened read
  }

  test("schema evolution: float→double widening reads old files as double") {
    val root = tmpDir("lake")
    val narrow = StructType(Seq(
      StructField("repo", StringType), StructField("path", StringType),
      StructField("score", FloatType)))
    val t = LakeTable.create(spark, root, narrow, numBuckets = 2)
    val df1 = Seq(("r1", "a", 1.5f)).toDF(narrow.fieldNames.toSeq: _*)
      .withColumn("bucket", lit(0))
    t.appendCommit(t.stage(df1, 0))

    val wide = StructType(Seq(StructField("score", DoubleType)))
    val sid = t.evolveSchema(wide)
    assert(t.schema("score").dataType == DoubleType)
    val df2 = Seq(("r2", "b", 2.25d)).toDF("repo", "path", "score")
      .withColumn("bucket", lit(1))
    t.appendCommit(t.stage(df2, sid), schemaId = Some(sid))
    val out = t.read().orderBy("repo").collect()
    assert(out(0).getAs[Double]("score") == 1.5d)
    assert(out(1).getAs[Double]("score") == 2.25d)
  }

  test("evolveSchema is a no-op for an identical or narrower schema") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val v0 = t.currentVersion
    assert(t.evolveSchema(baseSchema) == 0)
    val narrower = StructType(baseSchema.fields.filterNot(_.name == "lang"))
    assert(t.evolveSchema(narrower) == 0)
    assert(t.currentVersion == v0, "no metadata commit for no-op evolution")
  }

  test("incompatible evolution (string vs long) is rejected") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val bad = StructType(Seq(StructField("lsn", StringType)))
    intercept[IllegalArgumentException](t.evolveSchema(bad))
  }

  test("rename column: metadata-only, old files readable under the new name; drop/re-add cannot resurrect") {
    val root = tmpDir("lake-rename")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 4)
    val df = Seq(("r1", "a", "c1", 1L, "scala", "x"), ("r2", "b", "c1", 2L, "go", "y"))
      .toDF(baseSchema.fieldNames.toSeq: _*)
      .withColumn("bucket", graft.cdc.LakeMerge.bucketOf(col("repo"), 4))
    t.appendCommit(t.stage(df, 0))
    val filesBefore = t.files.map(_.path).toSet

    // rename lang -> language: NO data rewritten, old files read under the
    // new name via field-id reconciliation
    t.renameColumn("lang", "language")
    assert(t.files.map(_.path).toSet == filesBefore, "rename must not rewrite data")
    assert(t.schema.fieldNames.toSeq ==
      Seq("repo", "path", "commit", "lsn", "language", "content"))
    val read = t.read().select("repo", "language").as[(String, String)].collect().toMap
    assert(read == Map("r1" -> "scala", "r2" -> "go"))

    // a writer still using the OLD name goes through the alias fallback
    val oldNameBatch = Seq(("r3", "c", "c2", 3L, "U", "rust", "z"))
      .toDF("repo", "path", "commit", "lsn", "op", "lang", "content")
    graft.cdc.LakeMerge.mergeBatch(t, oldNameBatch, aliases = Map("lang" -> "language"))
    assert(t.read().where(col("repo") === "r3")
      .select("language").as[String].collect().toSeq == Seq("rust"))
    // and no phantom "lang" column reappeared
    assert(!t.schema.fieldNames.contains("lang"))

    // drop the column, then re-add the same NAME: fresh field id, so the
    // old files' values must NOT resurrect under the re-added column
    t.dropColumn("language")
    assert(!t.schema.fieldNames.contains("language"))
    val readdId = t.evolveSchema(StructType(t.schema.fields :+
      StructField("language", StringType)))
    assert(readdId > 0)
    val after = t.read().select("repo", "language").as[(String, String)].collect()
    assert(after.forall(_._2 == null),
      s"dropped data resurrected through a re-added name: ${after.toSeq}")

    // engine columns are protected
    intercept[IllegalArgumentException](t.renameColumn("repo", "r"))
    intercept[IllegalArgumentException](t.dropColumn("lsn"))
  }

  test("epoch fencing: committed epochs are visible; version-hint loss is recoverable") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    assert(t.fence("q1") == -1L)
    t.commit(s => s.copy(fences = s.fences.updated("q1", 7L)))
    assert(t.fence("q1") == 7L)
    // simulate crash between swap and hint write: delete the hint
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(root, "metadata", "version-hint.text"))
    assert(t.fence("q1") == 7L, "listing fallback must recover the latest version")
  }

  test("optimistic commit retries under contention and loses no update") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val threads = (0 until 8).map { k =>
      new Thread(() => {
        t.commit(s => s.copy(fences = s.fences.updated(s"q$k", k.toLong)), maxRetries = 100)
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val snap = t.snapshot
    assert((0 until 8).forall(k => snap.fences.get(s"q$k").contains(k.toLong)))
    assert(snap.version == 9) // 1 create + 8 commits
  }

  test("time travel reads an older version exactly; rollback restores it as a new commit") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    def write(tag: String, b: Int): Unit = {
      val df = Seq((s"r$tag", "p", "c1", 1L, null: String, tag))
        .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(b))
      t.appendCommit(t.stage(df, 0))
    }
    write("v2", 0) // version 2
    write("v3", 1) // version 3
    val v2 = t.currentVersion - 1
    assert(t.readVersion(v2).count() == 1)
    assert(t.read().count() == 2)
    assert(t.readVersion(v2).select("content").collect()(0).getString(0) == "v2")

    val snap = t.rollback(v2)
    assert(snap.version == t.currentVersion) // rollback is a NEW commit
    assert(t.read().count() == 1, "state restored to v2 content")
    assert(t.snapshot.summary("operation") == "rollback")
    // the rolled-past version still readable (history append-only)
    assert(t.readVersion(v2 + 1).count() == 2)
  }

  test("stray tmp metadata (crash mid-commit) does not break loading or future commits") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    // simulate a crash after writing the temp metadata but before the swap
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "metadata", ".tmp-deadbeef.json"), "{garbage")
    assert(t.currentVersion == 1)
    t.commit(s => s.copy(fences = s.fences.updated("q", 1L)))
    assert(t.currentVersion == 2)
    assert(t.fence("q") == 1L)
  }

  test("a reader's snapshot stays consistent across a concurrent commit (files immutable)") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val df1 = Seq(("r1", "a", "c1", 1L, null: String, "one"))
      .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
    t.appendCommit(t.stage(df1, 0))

    val readerView = t.read() // plan pinned to the v2 file list
    // writer replaces everything (compaction-style swap)
    val df2 = Seq(("r2", "b", "c2", 2L, null: String, "two"))
      .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(1))
    val staged = t.stage(df2, 0)
    t.rewriteCommit(Set(0, 1), t.files.map(_.path).toSet, staged)

    assert(readerView.collect().map(_.getAs[String]("content")).toSeq == Seq("one"),
      "pinned reader must still see its snapshot")
    assert(t.read().collect().map(_.getAs[String]("content")).toSeq == Seq("two"))
  }

  test("snapshot metadata stays bounded as the table's file count grows (manifest layer)") {
    // the manifest layer's contract: the snapshot JSON references manifests
    // (size-tiered, O(log files) per group), never the inlined file list —
    // so per-commit snapshot writes don't grow with table size, which is
    // what keeps 10^5-file CDC tables committable
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 8)
    val metaDir = java.nio.file.Paths.get(root, "metadata")
    def snapJsonBytes(v: Int): Long =
      java.nio.file.Files.size(metaDir.resolve(s"v$v.metadata.json"))
    def oneCommit(): Unit = {
      val df = (0 until 16).map(i => (s"r$i", "p", "c1", i.toLong, null: String, "x"))
        .toDF(baseSchema.fieldNames.toSeq: _*)
        .withColumn("bucket", graft.cdc.LakeMerge.bucketOf(col("repo"), 8))
      t.appendCommit(t.stage(df, 0, kind = "delta"))
      ()
    }
    (0 until 40).foreach(_ => oneCommit())
    val mid = snapJsonBytes(t.currentVersion)
    val midFiles = t.files.size
    (0 until 40).foreach(_ => oneCommit())
    val snap = t.snapshot
    assert(t.files.size >= midFiles * 2 - 8, "file count kept growing")
    // manifest list bounded per group → snapshot JSON PLATEAUS while the
    // file count doubles (inlined file lists would double it)
    assert(snap.manifests.groupBy(_.group).values.forall(_.size <= 8),
      s"manifest list unbounded: ${snap.manifests.size} manifests")
    val late = snapJsonBytes(t.currentVersion)
    assert(late <= (mid * 1.5).toLong,
      s"snapshot JSON still growing with table size: mid=$mid late=$late " +
        s"(files=${t.files.size})")
    // nothing lost through manifest merging: every appended row still read
    assert(t.read().count() == 80L * 16)
  }

  test("expireSnapshots reclaims files of expired versions; retained history still time-travels") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    def write(tag: String): Unit = {
      val df = Seq((s"r$tag", "p", "c1", 1L, null: String, tag))
        .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
      t.appendCommit(t.stage(df, 0, kind = "delta"))
    }
    (1 to 6).foreach(i => write(s"v$i")) // versions 2..7
    // compaction-style rewrite: replaces everything in bucket 0
    val resolved = t.read().withColumn("bucket", lit(0))
    val readSet = t.files.map(_.path).toSet
    t.rewriteCommit(Set(0), readSet, t.stage(resolved, 0),
      summary = Map("operation" -> "compact"))
    write("v7") // one commit past the rewrite, so retainLast=2 keeps only
                // post-compaction snapshots (pre-compaction history expires)

    def diskBytes(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data")).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(java.nio.file.Files.size(_)).sum
    }
    val before = diskBytes()
    val cur = t.currentVersion
    val res = t.expireSnapshots(retainLast = 2)
    assert(res.expiredVersions > 0)
    assert(res.dataFilesDeleted > 0, "replaced delta files must be physically reclaimed")
    assert(diskBytes() < before, "disk must shrink after expiration")
    // retained versions still read; expired ones fail cleanly
    assert(t.readVersion(cur).count() == 7)
    assert(t.readVersion(cur - 1).count() == 6)
    intercept[IllegalStateException](t.readVersion(2))
    // current state intact after reclamation
    assert(t.read().count() == 7)
  }

  test("rewriteCommit carries forward files committed concurrently to rewritten buckets") {
    // the compact() race from the optimistic-retry model: a delta committed
    // to a compacted bucket between the compaction's read and its commit
    // must survive the rewrite (it was committed data)
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    def row(tag: String, lsn: Long) =
      Seq((s"r", "p", f"c$lsn%03d", lsn, null: String, tag))
        .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
    t.appendCommit(t.stage(row("old", 1L), 0, kind = "delta"))

    // compaction reads now...
    val readSet = t.files.map(_.path).toSet
    val resolvedThen = t.read().withColumn("bucket", lit(0))
    val staged = t.stage(resolvedThen, 0)
    // ...a concurrent writer lands a newer delta in the same bucket...
    t.appendCommit(t.stage(row("concurrent", 2L), 0, kind = "delta"))
    // ...and the compaction commits against the moved snapshot
    t.rewriteCommit(Set(0), readSet, staged,
      summary = Map("operation" -> "compact"))
    val contents = t.read().collect().map(_.getAs[String]("content")).toSet
    assert(contents == Set("old", "concurrent"),
      s"concurrently committed delta was lost: $contents")
  }

  test("per-file lsn stats from parquet footers drive metadata-level range pruning") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    def append(lsnFrom: Long): Unit = {
      val df = (lsnFrom until lsnFrom + 10).map(l =>
        (s"r$l", "p", f"c$l%04d", l, null: String, s"v$l"))
        .toDF(baseSchema.fieldNames.toSeq: _*)
        .coalesce(1) // one file per append → exact pruning arithmetic below
        .withColumn("bucket", lit((lsnFrom / 10 % 2).toInt))
      t.appendCommit(t.stage(df, 0, kind = "delta"))
      ()
    }
    append(0); append(100); append(200) // disjoint lsn ranges, one file each
    val files = t.files
    assert(files.forall(f => f.minLsn != Long.MinValue && f.maxLsn != Long.MaxValue),
      "footer stats must be lifted into metadata")
    // file-level pruning: only the file covering [100, 109] intersects
    val snap = t.snapshot
    val pruned = t.filesOf(snap).filter(f => f.maxLsn >= 100L && f.minLsn <= 109L)
    assert(pruned.size == 1, s"expected 1 pruned file, got ${pruned.size}")
    // the pruned read returns exactly that range's rows
    assert(t.readLsnRange(100L, 109L).count() == 10)
    assert(t.readLsnRange(95L, 105L).count() == 6)
    assert(t.readLsnRange(500L, 600L).count() == 0)
  }

  test("readChangesBetween returns exactly the rows appended in the version range") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    def append(tag: String, lsn: Long): Int = {
      val df = Seq((s"r$tag", "p", f"c$lsn%03d", lsn, null: String, tag))
        .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
      t.appendCommit(t.stage(df, 0, kind = "delta"),
        summary = Map("operation" -> "merge-append")).version
    }
    val v1 = append("a", 1L)
    val v2 = append("b", 2L)
    // a compaction between appends must NOT surface as changes
    val readSet = t.files.map(_.path).toSet
    val resolved = t.read().withColumn("bucket", lit(0))
    t.rewriteCommit(Set(0), readSet, t.stage(resolved, 0),
      summary = Map("operation" -> "compact"))
    val v4 = append("c", 3L)

    val changes = t.readChangesBetween(v1, v4)
      .select("content").collect().map(_.getString(0)).toSet
    assert(changes == Set("b", "c"),
      s"expected only post-v1 appended rows, got $changes")
    // full range includes the first append; empty range is empty
    assert(t.readChangesBetween(1, v4).count() == 3)
    assert(t.readChangesBetween(v4, v4).count() == 0)
    assert(t.readChangesBetween(v2, v4)
      .select("content").collect().map(_.getString(0)).toSet == Set("c"))
  }

  test("an explicit opKind stamp is authoritative over the summary") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val df = Seq(("r1", "p", "c001", 1L, null: String, "body"))
      .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
    t.appendCommit(t.stage(df, 0, kind = "delta"),
      summary = Map("operation" -> "merge-append"))
    // a metadata commit whose free-form summary looks append-ish: the
    // stamped kind decides, so the changelog sees no change
    val v2 = t.commit(s => s.copy(opKind = "metadata",
      summary = Map("operation" -> "merge-append"))).version
    assert(t.snapshotAt(v2).opKind == "metadata",
      "explicit opKind stamp must never be overridden by the summary")
    assert(t.readChangesBetween(v2 - 1, v2).count() == 0)
  }

  test("snapshots of any format version but 3 are refused on read") {
    import java.nio.file.{Files, Paths}
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val df = Seq(("r1", "p", "c001", 1L, null: String, "body"))
      .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
    val v = t.appendCommit(t.stage(df, 0)).version
    assert(t.snapshotAt(1).formatVersion == 3 && t.snapshotAt(v).formatVersion == 3,
      "create stamps format version 3 and every commit carries it")
    val metaFile = Paths.get(root, "metadata", s"v$v.metadata.json")
    val json = Files.readString(metaFile)
    val field = """"formatVersion"\s*:\s*3\s*,"""
    assert(field.r.findFirstIn(json).isDefined, "test setup must find the field")
    // an older version, and the field absent (deserializes as 0)
    Seq(2 -> json.replaceFirst(field, "\"formatVersion\" : 2,"),
        0 -> json.replaceFirst(field, "")).foreach { case (found, rewritten) =>
      Files.writeString(metaFile, rewritten)
      val e = intercept[IllegalStateException](LakeTable.load(spark, root).snapshot)
      assert(e.getMessage.contains(root) &&
        e.getMessage.contains(s"format version $found,") &&
        e.getMessage.contains("reads only format version 3"), e.getMessage)
    }
  }

  test("create stamps v1's time; TIMESTAMP AS OF before v2 is v1") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val ts1 = t.snapshotAt(1).timestampMs
    assert(ts1 > 0, "create must stamp v1")
    Thread.sleep(5) // v2 lands on a later millisecond
    val ts2 = t.commit(s => s.copy(opKind = "metadata",
      summary = Map("operation" -> "noop"))).timestampMs
    assert(ts2 > ts1)
    assert(t.versionAtTimestamp(ts1) == 1)
    assert(t.versionAtTimestamp(ts2 - 1) == 1, "between v1 and v2 resolves to v1")
    assert(t.versionAtTimestamp(ts2) == 2)
    intercept[IllegalStateException](t.versionAtTimestamp(ts1 - 1))
  }

  test("readChangesBetween fails loudly when the range spans a rollback") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    def append(tag: String, lsn: Long): Int = {
      val df = Seq((s"r$tag", "p", f"c$lsn%03d", lsn, null: String, tag))
        .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
      t.appendCommit(t.stage(df, 0, kind = "delta")).version
    }
    val v1 = append("a", 1L)
    append("b", 2L)
    t.rollback(v1)
    val v4 = append("c", 3L)
    val ex = intercept[IllegalStateException](t.readChangesBetween(v1, v4).count())
    assert(ex.getMessage.contains("rollback"))
    // a range that does not span the rollback still reads incrementally
    assert(t.readChangesBetween(v4 - 1, v4)
      .select("content").collect().map(_.getString(0)).toSet == Set("c"))
  }

  test("named tags resolve version specs and pin the retention floor") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    def write(v: String): Unit = {
      val df = Seq((s"r$v", "p", "c1", 1L, null: String, v))
        .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
      t.appendCommit(t.stage(df, 0, kind = "delta"))
    }
    (1 to 6).foreach(i => write(s"v$i")) // versions 2..7
    val early = t.currentVersion - 4
    assert(t.setTag("release", early) == early)
    assert(t.tags == Map("release" -> early))
    assert(t.resolveVersion("release") == early)
    assert(t.resolveVersion(early.toString) == early)
    intercept[NoSuchElementException](t.resolveVersion("nope"))
    intercept[IllegalArgumentException](t.setTag("123"))
    intercept[IllegalArgumentException](t.setTag(" padded "))
    intercept[IllegalArgumentException](t.setTag("neg", -7))
    intercept[Exception](t.setTag("future", t.currentVersion + 10))
    // retainLast=1 would drop all history below current; the tag moves the
    // retention floor to `early`, which must still time-travel afterwards
    t.expireSnapshots(retainLast = 1)
    assert(t.readVersion(early).count() == early - 1)
    assert(t.minVersionAvailable <= early)
    // dropping the tag makes the pinned history expirable again
    assert(t.deleteTag("release"))
    assert(!t.deleteTag("release"), "second delete reports absence")
    t.expireSnapshots(retainLast = 1)
    intercept[Exception](t.readVersion(early))
    // default-version tagging points at the current snapshot
    assert(t.setTag("head") == t.currentVersion)
  }

  test("expireSnapshots with minAgeMs spares young unreferenced files (concurrent-writer guard)") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val df = Seq(("r1", "a", "c1", 1L, null: String, "x"))
      .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
    t.appendCommit(t.stage(df, 0))
    // a "concurrent writer's" staged-but-uncommitted files: just written
    val inflight = t.stage(df, 0)
    // age-guarded sweep must NOT delete the in-flight files...
    t.expireSnapshots(retainLast = 1, minAgeMs = 60000L)
    assert(inflight.forall(f => java.nio.file.Files.exists(java.nio.file.Paths.get(f.path))),
      "minAgeMs sweep deleted a concurrent writer's staged files")
    // ...and the writer can still commit them afterwards
    t.appendCommit(inflight)
    assert(t.read().count() == 2)
    // the unguarded sweep (single-writer mode) reclaims true orphans
    t.stage(df, 0)
    val res = t.expireSnapshots(retainLast = t.currentVersion)
    assert(res.dataFilesDeleted >= 1)
    assert(t.read().count() == 2)
  }

  test("driver-side bucketOf matches the bucketExpr Column for all keys and bucket counts") {
    val keys = Seq("", "repo_00000", "repo_99999", "a/b/c.scala", "héllo-wörld",
      "é中文", "x" * 300) ++ (0 until 200).map(i => s"repo_$i")
    for (n <- Seq(1, 2, 4, 8, 16, 64, 1000)) {
      val viaSpark = keys.toDF("k")
        .select(col("k"), LakeTable.bucketExpr(col("k"), n).as("b"))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      keys.foreach { k =>
        assert(LakeTable.bucketOf(k, n) == viaSpark(k),
          s"bucketOf('$k', $n) diverged from bucketExpr")
      }
    }
  }

  test("readRepo point lookup runs zero Spark jobs before its action") {
    val root = tmpDir("lake")
    val cdcSchema = graft.cdc.CdcStream.binlogSchema
    val t = LakeTable.create(spark, root, cdcSchema, numBuckets = 8)
    val df = (0 until 50).map(i => (s"repo_$i", "p", "c1", i.toLong, "U", null: String, s"v$i"))
      .toDF(cdcSchema.fieldNames.toSeq: _*)
      .withColumn("bucket", graft.cdc.LakeMerge.bucketOf(col("repo"), 8))
    t.appendCommit(t.stage(df, 0))
    // building the lookup must not launch a job (an old path ran a one-row
    // Spark job just to evaluate the bucket expression) ...
    val (plan, planJobs) = jobsDuring(graft.cdc.LakeMerge.readRepo(t, "repo_7"))
    assert(planJobs == 0, "plan construction launched a Spark job")
    // ... and neither may its action: the lookup resolves on the driver
    val (rows, runJobs) = jobsDuring(plan.collect())
    assert(runJobs == 0, "the collect launched a Spark job")
    assert(rows.length == 1 && rows(0).getAs[String]("content") == "v7")
  }

  test("describe() reports per-bucket health from metadata only (zero Spark jobs)") {
    val root = tmpDir("lake")
    val cdcSchema = graft.cdc.CdcStream.binlogSchema
    val t = LakeTable.create(spark, root, cdcSchema, numBuckets = 4)
    val mk = (lo: Int, hi: Int) => (lo until hi)
      .map(i => (s"repo_$i", "p", "c1", i.toLong, "U", null: String, s"v$i"))
      .toDF(cdcSchema.fieldNames.toSeq: _*)
    graft.cdc.LakeMerge.mergeBatch(t, mk(0, 40), Some(("d", 0L)))
    graft.cdc.LakeMerge.mergeBatch(t, mk(40, 80), Some(("d", 1L)), l0Mode = true)
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val plan = t.describe() // built driver-side: must not launch jobs
    assert(sc.statusTracker.getJobIdsForGroup(null).length == before)
    val rows = plan.collect().map(r => r.getAs[Int]("bucket") -> r).toMap
    val fs = t.files
    assert(rows.keySet == fs.filter(_.bucket >= 0).map(_.bucket).toSet)
    rows.foreach { case (b, r) =>
      val bf = fs.filter(_.bucket == b)
      assert(r.getAs[Long]("delta_files") == bf.count(_.kind == "delta"))
      assert(r.getAs[Long]("l0_files") == fs.count(_.kind == "l0"))
      assert(r.getAs[Long]("delta_bytes") == bf.filter(_.kind == "delta").map(_.bytes).sum)
      assert(r.getAs[Long]("read_amp") ==
        bf.size + fs.count(_.kind == "l0"))
    }
    assert(fs.exists(_.kind == "l0"), "fixture must include L0 files")
  }

  test("gcOrphans removes unreferenced staging dirs, keeps referenced files") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val df = Seq(("r1", "a", "c1", 1L, null: String, "x"))
      .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
    val keep = t.stage(df, 0)
    t.appendCommit(keep)
    t.stage(df, 0) // orphan: staged but never committed
    assert(t.gcOrphans() == 1)
    assert(t.read().count() == 1)
  }

  test("gcOrphans reclaims never-referenced manifests (lost optimistic retries)") {
    val root = tmpDir("lake")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 2)
    val df = Seq(("r1", "a", "c1", 1L, null: String, "x"))
      .toDF(baseSchema.fieldNames.toSeq: _*).withColumn("bucket", lit(0))
    t.appendCommit(t.stage(df, 0))
    val live = t.snapshot.manifests.head.path
    // simulate a lost retry: a manifest file no snapshot references
    val orphan = java.nio.file.Paths.get(live).getParent
      .resolve(s"manifest-${java.util.UUID.randomUUID()}.json")
    java.nio.file.Files.copy(java.nio.file.Paths.get(live), orphan)
    // a generous age guard spares the young orphan (concurrent-writer safety)
    assert(t.gcOrphans(minAgeMs = 3600000L) == 0)
    assert(java.nio.file.Files.exists(orphan))
    assert(t.gcOrphans() == 1)
    assert(!java.nio.file.Files.exists(orphan))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(live)),
      "referenced manifests must survive")
    assert(t.read().count() == 1)
  }
}
