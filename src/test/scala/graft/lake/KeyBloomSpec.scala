package graft.lake

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class KeyBloomSpec extends SparkSpec {
  import spark.implicits._

  private val baseSchema = StructType(Seq(
    StructField("repo", StringType),
    StructField("path", StringType),
    StructField("commit", StringType),
    StructField("lsn", LongType),
    StructField("lang", StringType),
    StructField("content", StringType)
  ))

  // ------------------------------------------------------------- unit level

  test("no false negatives; serialization round-trips") {
    val keys = (0 until 5000).map(i => s"repo_$i%05d")
    val blob = KeyBloom.build(keys.toSet).get
    keys.foreach(k => assert(KeyBloom.mightContain(blob, k), s"false negative on $k"))
  }

  test("false-positive rate is small at the design load") {
    val present = (0 until 2000).map(i => s"in_$i").toSet
    val blob = KeyBloom.build(present).get
    val probes = (0 until 20000).map(i => s"out_$i")
    val fp = probes.count(KeyBloom.mightContain(blob, _))
    // 10 bits/key, k=7 → ~1% design fpp; allow generous slack
    assert(fp < probes.size * 0.05, s"fp rate ${fp.toDouble / probes.size}")
  }

  test("overflow and malformed blobs degrade safely") {
    assert(KeyBloom.build(Set.empty[String]).isEmpty)
    assert(KeyBloom.build((0 to KeyBloom.MaxEntries).map(_.toString).toSet).isEmpty)
    assert(KeyBloom.mightContain("not base64!!!", "x"), "malformed blob must never prune")
    assert(KeyBloom.mightContain("AAAA", "x"), "truncated blob must never prune")
  }

  // ------------------------------------------------------ table integration

  /** 50 paths per repo: the dictionary encoder only sticks when values
    * repeat (parquet falls back to PLAIN when a dictionary would not
    * compress — the realistic merge-output shape has many paths per repo). */
  private def writeBatch(t: LakeTable, repos: Seq[String], lsn0: Long, kind: String = "delta") = {
    val df = repos.zipWithIndex
      .flatMap { case (r, i) => (0 until 50).map(j =>
        (r, s"p${i}_$j", "c1", lsn0 + i * 50 + j, null: String, s"v$i")) }
      .toDF(baseSchema.fieldNames.toSeq: _*)
      .repartition(1) // one data file per batch → deterministic file counts
    val staged =
      if (kind == "l0") t.stage(df, 0, kind = "l0")
      else t.stage(df.withColumn("bucket",
        graft.cdc.LakeMerge.bucketOf(col("repo"), t.snapshot.numBuckets)), 0, kind = kind)
    t.appendCommit(staged)
    staged
  }

  test("staged files carry dictionary-lifted repo blooms; point lookup skips absent files") {
    val root = tmpDir("bloomlake")
    // ONE bucket so every file lands together: bucket pruning alone would
    // prune nothing, the bloom must do all the work
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 1)
    writeBatch(t, Seq("alpha", "beta"), 0L)
    writeBatch(t, Seq("gamma", "delta"), 100L)
    writeBatch(t, Seq("alpha", "epsilon"), 200L)

    val all = t.files
    assert(all.nonEmpty && all.forall(_.keyBloom != null),
      "every staged file must carry a bloom (few distinct repos → dictionary-encoded)")

    val forAlpha = t.filesForKey(t.snapshot, "alpha")
    val forGamma = t.filesForKey(t.snapshot, "gamma")
    val forNone = t.filesForKey(t.snapshot, "no_such_repo")
    assert(forAlpha.size == 2, s"alpha is in exactly 2 files, got ${forAlpha.size}")
    assert(forGamma.size == 1, s"gamma is in exactly 1 file, got ${forGamma.size}")
    assert(forNone.isEmpty, "a never-written repo must prune every file")

    // the pruned driver read (readRepo's, before its LWW fold) returns
    // exactly the unpruned result
    val (schema, pruned) = t.readKeysLocal(Seq("alpha"))
    val full = t.read().where($"repo" === "alpha")
    assert(schema == full.schema)
    assert(pruned.map(_.toSeq(schema).mkString("|")).sorted ==
      full.collect().toSeq.map(_.toSeq.mkString("|")).sorted)
  }

  test("L0 files get blooms too and prune in point lookups") {
    val root = tmpDir("blooml0")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 4)
    writeBatch(t, Seq("aaa", "bbb"), 0L, kind = "l0")
    writeBatch(t, Seq("ccc"), 100L, kind = "l0")
    val l0 = t.files.filter(_.kind == "l0")
    assert(l0.nonEmpty && l0.forall(_.keyBloom != null))
    val files = t.filesForKey(t.snapshot, "aaa")
    assert(files.forall(f => KeyBloom.mightContain(f.keyBloom, "aaa")))
    assert(!files.exists(_.path == l0.find(f =>
      !KeyBloom.mightContain(f.keyBloom, "aaa")).map(_.path).getOrElse("")))
  }

  test("readRepo through the merge path returns LWW state under bloom pruning") {
    val root = tmpDir("bloommerge")
    val t = LakeTable.create(spark, root, graft.cdc.CdcStream.binlogSchema, numBuckets = 2)
    def batch(rows: Seq[(String, String, String, Long, String, String, String)]) =
      rows.toDF("repo", "path", "commit", "lsn", "lang", "content", "op")
    // epoch 1: insert two repos; epoch 2: update one, delete the other
    graft.cdc.LakeMerge.mergeBatch(t, batch(Seq(
      ("r1", "f", "c1", 1L, "sc", "v1", "I"), ("r2", "g", "c1", 2L, "sc", "w1", "I"))))
    graft.cdc.LakeMerge.mergeBatch(t, batch(Seq(
      ("r1", "f", "c2", 3L, "sc", "v2", "U"), ("r2", "g", "c2", 4L, null, null, "D"))))
    val r1 = graft.cdc.LakeMerge.readRepo(t, "r1").collect()
    assert(r1.length == 1 && r1(0).getAs[String]("content") == "v2")
    assert(graft.cdc.LakeMerge.readRepo(t, "r2").isEmpty, "tombstoned repo must resolve to nothing")
    assert(graft.cdc.LakeMerge.readRepo(t, "r9").isEmpty)
  }

  test("legacy manifest entries without keyBloom load and are never pruned") {
    val root = tmpDir("bloomlegacy")
    val t = LakeTable.create(spark, root, baseSchema, numBuckets = 1)
    writeBatch(t, Seq("zzz"), 0L)
    // simulate a pre-bloom manifest: strip the field from the JSON on disk
    val manifest = java.nio.file.Paths.get(t.snapshot.manifests.head.path)
    val stripped = java.nio.file.Files.readString(manifest)
      .replaceAll(""","keyBloom":"[^"]*"""", "")
    java.nio.file.Files.writeString(manifest, stripped)
    val t2 = LakeTable.load(spark, root) // fresh instance → no manifest cache
    assert(t2.files.forall(_.keyBloom == null), "legacy entry must deserialize with null bloom")
    assert(t2.filesForKey(t2.snapshot, "not_there").size == t2.files.size,
      "bloom-less files must never be pruned")
  }
}
