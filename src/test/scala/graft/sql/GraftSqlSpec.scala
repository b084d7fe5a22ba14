package graft.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.cdc.{CdcStream, EventGen, LakeMerge, MergeEngine}
import graft.lake.LakeTable

/** The SQL/catalog read surface: `SELECT … FROM graft.ns.t`, VERSION AS OF
  * time travel, `spark.read.format("graft")`, and the plan-level contracts
  * (substituted plans ARE the library's plans — parquet pushdown and
  * metadata bucket pruning survive SQL). */
class GraftSqlSpec extends SparkSpec {

  private lazy val warehouse = tmpDir("graft-warehouse")

  // the table must exist BEFORE any SQL resolves it — created when the
  // derived session is first forced (tests only reach the catalog via `sql`)
  private lazy val tablePath = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/ns"))
    val path = s"$warehouse/ns/t"
    val t = LakeTable.create(spark, path, CdcStream.binlogSchema, numBuckets = 8)
    val events = EventGen.events(spark, 4000L, nRepos = 40, pathsPerRepo = 5,
      langFromLsn = 2000L)
    LakeMerge.mergeBatch(t, events.where(col("lsn") < 2000L), Some(("sqlspec", 0L)))
    LakeMerge.mergeBatch(t, events.where(col("lsn") >= 2000L), Some(("sqlspec", 1L)))
    path
  }

  // derived session with the graft extensions + catalog attached at runtime
  // (the library's escape hatch for sessions built without the configs)
  private lazy val sql = {
    tablePath
    GraftSql.attach(spark, root = Some(warehouse))
  }

  private def lib(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("SELECT over the catalog equals the library's resolved live state") {
    val viaSql = sql.sql(s"SELECT * FROM graft.ns.t")
    val viaLib = LakeMerge.readState(LakeTable.load(spark, tablePath))
    assert(viaSql.columns.toSeq == viaLib.columns.toSeq, "column order must match")
    assert(lib(viaSql) == lib(viaLib))
    assert(viaSql.count() > 0)
  }

  test("VERSION AS OF time-travels to the resolved state at that snapshot") {
    val t = LakeTable.load(spark, tablePath)
    // version after the FIRST merge commit: fence(sqlspec)==0
    val v0 = t.commitForFence("sqlspec", 0L).get.version
    val viaSql = sql.sql(s"SELECT * FROM graft.ns.t VERSION AS OF $v0")
    val viaLib = MergeEngine.liveView(MergeEngine.dedupBatch(t.readVersion(v0)))
    assert(lib(viaSql) == lib(viaLib))
    assert(lib(viaSql) != lib(sql.sql("SELECT * FROM graft.ns.t")),
      "older version must differ from the post-second-batch state")
  }

  test("spark.read.format(graft) and versionAsOf option") {
    val t = LakeTable.load(spark, tablePath)
    val full = sql.read.format("graft").load(tablePath)
    assert(lib(full) == lib(LakeMerge.readState(t)))
    val v0 = t.commitForFence("sqlspec", 0L).get.version
    val old = sql.read.format("graft").option("versionAsOf", v0).load(tablePath)
    assert(lib(old) == lib(MergeEngine.liveView(MergeEngine.dedupBatch(t.readVersion(v0)))))
  }

  test("SQL aggregation over a graft relation (the reference's SQL-as-source shape)") {
    val viaSql = sql.sql(
      "SELECT lang, count(*) AS n FROM graft.ns.t GROUP BY lang ORDER BY lang")
    val viaLib = LakeMerge.readState(LakeTable.load(spark, tablePath))
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).orderBy("lang")
    assert(lib(viaSql) == lib(viaLib))
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      // after execution AQE materializes stages as LEAF nodes — descend
      // into them or an executed plan reports zero scans
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => walk(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
      .map(_.relation.location.inputFiles.length).sum
  }

  /** Analyzes and plans `query`, then collects it, requiring zero Spark
    * jobs for each and an executed plan that is one `LocalTableScan`. */
  private def localLookup(query: String): Array[org.apache.spark.sql.Row] = {
    val (df, planJobs) = jobsDuring {
      val df = sql.sql(query)
      df.queryExecution.executedPlan
      df
    }
    assert(planJobs == 0, s"planning ran $planJobs Spark jobs: $query")
    assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      s"lookup must plan a LocalTableScan:\n${df.queryExecution.executedPlan}")
    val (rows, runJobs) = jobsDuring(df.collect())
    assert(runJobs == 0, s"the collect ran $runJobs Spark jobs: $query")
    rows
  }

  private def rowSet(rows: Array[org.apache.spark.sql.Row]): Set[Seq[Any]] =
    rows.map(_.toSeq).toSet

  test("point lookup via SQL: metadata bucket pruning + parquet pushdown survive") {
    // the lookup takes readRepo's driver read — per-era bucket + key-bloom
    // pruning, the key pushed into the parquet reader — and the residual
    // filter and projection fold into its local relation
    val t = LakeTable.load(spark, tablePath)
    val repo = LakeMerge.readState(t).select("repo").head().getString(0)
    assert(t.filesForKey(t.snapshot, repo).size < t.files.size,
      "bucket pruning must bite on the fixture")
    val rows = localLookup(s"SELECT * FROM graft.ns.t WHERE repo = '$repo'")
    val expected = LakeMerge.readRepo(t, repo)
    assert(rows.nonEmpty && rows.length == expected.count())
    assert(rowSet(rows) == lib(expected))
    // a projection and a second conjunct fold into the same local scan
    val narrow = localLookup(
      s"SELECT path, lsn FROM graft.ns.t WHERE repo = '$repo' AND lsn > 0")
    assert(rowSet(narrow) == lib(expected.where(col("lsn") > 0).select("path", "lsn")))
  }

  test("multi-key lookup via SQL: IN-list and OR-of-equalities prune to the per-key file sets") {
    // multi-era table: batch 1 under 4 buckets, rebucket(16), batch 2 —
    // the files the lookup reads are exactly the per-key metadata union
    val path = s"$warehouse/ns/multi"
    val t = LakeTable.create(spark, path, CdcStream.binlogSchema, numBuckets = 4)
    val events = EventGen.events(spark, 6000L, nRepos = 30, pathsPerRepo = 5,
      langFromLsn = 3000L)
    LakeMerge.mergeBatch(t, events.where(col("lsn") < 3000L), Some(("mk", 0L)))
    t.rebucket(16)
    LakeMerge.mergeBatch(t, events.where(col("lsn") >= 3000L), Some(("mk", 1L)))
    val t2 = LakeTable.load(spark, path)
    val keys = Seq("repo_00003", "repo_00017")
    val perKey = keys.flatMap(k => t2.filesForKey(t2.snapshot, k)).map(_.path)
    val union = t2.filesForKeys(t2.snapshot, keys).map(_.path)
    assert(union.sorted == perKey.distinct.sorted,
      s"the multi-key read must open exactly the per-key union: $union vs $perKey")
    assert(union.size < t2.files.size,
      s"pruning must bite on a multi-era table (${union.size} of ${t2.files.size})")

    val expected = lib(LakeMerge.readRepos(t2, keys))
    assert(expected.map(_.head).toSet == keys.toSet, "both keys must be live")
    val inList = localLookup(
      s"SELECT * FROM graft.ns.multi WHERE repo IN ('${keys(0)}', '${keys(1)}')")
    assert(rowSet(inList) == expected)
    val orShape = localLookup(
      s"SELECT * FROM graft.ns.multi WHERE repo = '${keys(0)}' OR repo = '${keys(1)}'")
    assert(rowSet(orShape) == expected)

    // a non-literal disjunct stays on the Spark file scan, and stays correct
    val mixed = sql.sql(
      s"SELECT * FROM graft.ns.multi WHERE repo = '${keys(0)}' OR length(repo) = 0")
    assert(lib(mixed) == lib(LakeMerge.readRepos(t2, Seq(keys(0)))))
    assert(scannedFiles(mixed) == t2.files.size,
      "a non-key predicate must resolve over the full Spark scan")
  }

  test("key-bloom file skipping: a point lookup scans only files carrying the key") {
    import spark.implicits._
    // ONE bucket: bucket pruning is useless by construction, so any file
    // skipped below is the manifest bloom's doing
    val path = s"$warehouse/ns/bl"
    val t = LakeTable.create(spark, path, CdcStream.binlogSchema, numBuckets = 1)
    def frame(repos: Seq[String], lsn0: Long) = repos.zipWithIndex.flatMap {
      case (r, i) => (0 until 40).map(j =>
        (r, s"p$j", "c1", lsn0 + i * 40 + j, "I", "sc", s"v$j"))
    }.toDF("repo", "path", "commit", "lsn", "op", "lang", "content")
    LakeMerge.mergeBatch(t, frame(Seq("alpha", "beta"), 0L), Some(("blspec", 0L)))
    LakeMerge.mergeBatch(t, frame(Seq("gamma", "delta"), 1000L), Some(("blspec", 1L)))
    LakeMerge.mergeBatch(t, frame(Seq("epsilon", "zeta"), 2000L), Some(("blspec", 2L)))
    val t2 = LakeTable.load(spark, path)
    assert(t2.files.forall(_.keyBloom != null),
      "merge output must carry dictionary-lifted blooms (repos repeat across paths)")
    val expected = t2.files.filter(f =>
      graft.lake.KeyBloom.mightContain(f.keyBloom, "gamma")).map(_.path)
    assert(expected.size < t2.files.size, "gamma must be absent from some files' blooms")
    val admitted = t2.filesForKey(t2.snapshot, "gamma").map(_.path)
    assert(admitted.sorted == expected.sorted,
      s"the lookup must read exactly the bloom-admitted files " +
        s"(${admitted.size} vs ${expected.size} of ${t2.files.size})")
    val lookup = localLookup("SELECT * FROM graft.ns.bl WHERE repo = 'gamma'")
    assert(lookup.length == 40)
    assert(rowSet(lookup) == lib(LakeMerge.readRepo(t2, "gamma")))
  }

  test("column pruning reaches the scan through SQL") {
    val narrow = sql.sql("SELECT repo FROM graft.ns.t")
    val planStr = narrow.queryExecution.executedPlan.toString
    // the content column (dominant bytes) must not be read for a key-only
    // projection — LWW resolution needs key+ordering+op, nothing more
    assert(!planStr.contains("ReadSchema: struct<repo:string,path:string,commit:string,lsn:bigint,op:string,lang:string,content:string>"),
      s"full-width scan for a 1-column projection:\n$planStr")
    assert(narrow.count() > 0)
  }

  test("ALTER TABLE RENAME/DROP/ADD COLUMN maps onto field-id schema evolution") {
    sql.sql("CREATE TABLE graft.ns.alt (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, payload STRING) TBLPROPERTIES ('buckets'='2')")
    val t = LakeTable.load(spark, s"$warehouse/ns/alt")
    val sp = spark
    import sp.implicits._
    val batch = Seq(("r1", "p", "c1", 1L, "U", "hello"))
      .toDF("repo", "path", "commit", "lsn", "op", "payload")
    LakeMerge.mergeBatch(t, batch, Some(("alt", 0L)))

    sql.sql("ALTER TABLE graft.ns.alt RENAME COLUMN payload TO body")
    // rename is metadata-only; the pre-rename file reads under the new name
    assert(sql.sql("SELECT body FROM graft.ns.alt").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSeq == Seq("hello"))
    sql.sql("ALTER TABLE graft.ns.alt ADD COLUMN extra STRING")
    assert(LakeTable.load(spark, s"$warehouse/ns/alt").schema.fieldNames.contains("extra"))
    sql.sql("ALTER TABLE graft.ns.alt DROP COLUMN body")
    assert(!LakeTable.load(spark, s"$warehouse/ns/alt").schema.fieldNames.contains("body"))
    sql.sql("DROP TABLE graft.ns.alt")
  }

  test("INSERT INTO routes through the LWW merge: upserts resolve, late rows lose") {
    sql.sql("CREATE TABLE graft.ns.w (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    // relation schema = (repo, path, commit, lsn, content): op is engine-internal
    sql.sql("INSERT INTO graft.ns.w VALUES ('r1','p1','c1',1,'v1'), ('r2','p2','c1',2,'x')")
    sql.sql("INSERT INTO graft.ns.w VALUES ('r1','p1','c2',5,'v2')")
    // out-of-order redelivery: older ordering must NOT displace the winner
    sql.sql("INSERT INTO graft.ns.w VALUES ('r1','p1','c0',0,'stale')")
    val rows = sql.sql("SELECT repo, content FROM graft.ns.w ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("r1", "v2"), ("r2", "x")))
    // the SQL path wrote through the real merge: the library view agrees
    val t = LakeTable.load(spark, s"$warehouse/ns/w")
    assert(lib(sql.sql("SELECT * FROM graft.ns.w")) == lib(LakeMerge.readState(t)))
    // self-referential INSERT … SELECT: the SOURCE relation must be
    // substituted with the read plan while the TARGET stays a relation —
    // the sharpest exercise of the write-target guard
    sql.sql("""INSERT INTO graft.ns.w
              |SELECT repo, path, 'c9', lsn + 100, concat(content, '!')
              |FROM graft.ns.w WHERE repo = 'r1'""".stripMargin)
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.w")) ==
      Set(Seq("r1", "v2!"), Seq("r2", "x")))
    sql.sql("DROP TABLE graft.ns.w")
  }

  test("INSERT OVERWRITE: one atomic replace commit, history retained, changelog fences") {
    sql.sql("CREATE TABLE graft.ns.ow (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.ow VALUES ('r1','p1','c1',1,'old1'), ('r2','p1','c1',2,'old2')")
    val t = LakeTable.load(spark, s"$warehouse/ns/ow")
    val vPre = t.currentVersion
    // the overwrite source carries an intra-batch duplicate: LWW dedup
    // applies within the replace commit itself
    sql.sql("INSERT OVERWRITE graft.ns.ow VALUES " +
      "('r3','p1','c1',1,'stale'), ('r3','p1','c2',5,'new1'), ('r4','p1','c1',3,'new2')")
    assert(lib(sql.sql("SELECT repo, path, content FROM graft.ns.ow")) ==
      Set(Seq("r3", "p1", "new1"), Seq("r4", "p1", "new2")),
      "the table's entire content must be the deduped overwrite source")
    // ONE commit, stamped replace
    val t2 = LakeTable.load(spark, s"$warehouse/ns/ow")
    assert(t2.currentVersion == vPre + 1, "overwrite must be one atomic commit")
    assert(t2.snapshot.opKind == "replace")
    // history retained: time travel still reads the pre-overwrite state
    assert(lib(sql.sql(s"SELECT repo, content FROM graft.ns.ow VERSION AS OF $vPre")) ==
      Set(Seq("r1", "old1"), Seq("r2", "old2")))
    // changelog reads crossing the replace fail loudly: rows un-happened,
    // no incremental delta can express it (the rollback contract)
    val ex = intercept[IllegalStateException] {
      t2.readChangesBetween(vPre - 1, t2.currentVersion).collect()
    }
    assert(ex.getMessage.contains("replace"))
    assert(ex.getMessage.contains("re-baseline"))
    // post-replace increments are clean again
    sql.sql("INSERT INTO graft.ns.ow VALUES ('r5','p1','c1',1,'after')")
    val t3 = LakeTable.load(spark, s"$warehouse/ns/ow")
    val inc = t3.readChangesBetween(vPre + 1, t3.currentVersion)
    assert(inc.where("repo = 'r5'").count() == 1)
    sql.sql("DROP TABLE graft.ns.ow")
  }

  test(".cdc relation: raw CDC ingestion (op included) and full-envelope state read") {
    sql.sql("CREATE TABLE graft.ns.c (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    // raw events through SQL: r1's tombstone WINS (later ordering), r3's
    // tombstone LOSES to a later upsert — the LWW fence must hold for both
    sql.sql("INSERT INTO graft.ns.c.cdc VALUES " +
      "('r1','p1','c1',1,'U','a'), ('r1','p1','c2',5,'D',NULL), " +
      "('r2','p1','c1',2,'U','b'), " +
      "('r3','p1','c2',7,'U','c3'), ('r3','p1','c1',3,'D',NULL)")
    // base-table read surface: live rows only, op hidden
    assert(lib(sql.sql("SELECT repo, path, content FROM graft.ns.c")) ==
      Set(Seq("r2", "p1", "b"), Seq("r3", "p1", "c3")))
    // .cdc read surface: winning tombstones KEPT, op exposed — the state
    // as a full re-emission of CDC events
    assert(lib(sql.sql("SELECT repo, op, content FROM graft.ns.c.cdc")) ==
      Set(Seq("r1", "D", null), Seq("r2", "U", "b"), Seq("r3", "U", "c3")))
    // out-of-order redelivery through .cdc: an OLDER upsert for the
    // deleted key must lose to the stored tombstone
    sql.sql("INSERT INTO graft.ns.c.cdc VALUES ('r1','p1','c1',2,'U','resurrect?')")
    assert(lib(sql.sql("SELECT repo FROM graft.ns.c")) ==
      Set(Seq("r2"), Seq("r3")), "stored tombstone must fence the stale upsert")
    // overwriting the raw-envelope relation is not a meaningful operation
    intercept[Exception] {
      sql.sql("INSERT OVERWRITE graft.ns.c.cdc VALUES ('x','y','c1',1,'U','v')")
    }
    sql.sql("DROP TABLE graft.ns.c")
  }

  test("DELETE FROM tombstones matched keys above their winners (CDC deletion)") {
    sql.sql("CREATE TABLE graft.ns.d (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.d VALUES " +
      "('r1','p1','c1',1,'a'), ('r1','p2','c1',2,'b'), ('r2','p1','c1',3,'c')")
    sql.sql("DELETE FROM graft.ns.d WHERE repo = 'r1'")
    assert(lib(sql.sql("SELECT repo, path, content FROM graft.ns.d")) ==
      Set(Seq("r2", "p1", "c")))
    // CDC semantics: a later HIGHER-ordered upsert resurrects the key —
    // the tombstone was an event, not physical erasure
    sql.sql("INSERT INTO graft.ns.d VALUES ('r1','p1','c2',10,'a2')")
    assert(lib(sql.sql("SELECT repo, path, content FROM graft.ns.d")) ==
      Set(Seq("r1", "p1", "a2"), Seq("r2", "p1", "c")))
    // the library view agrees (the DELETE went through the real merge)
    val t = LakeTable.load(spark, s"$warehouse/ns/d")
    assert(lib(sql.sql("SELECT * FROM graft.ns.d")) == lib(LakeMerge.readState(t)))
    // a non-filter-translatable predicate fails the statement cleanly
    intercept[Exception] {
      sql.sql("DELETE FROM graft.ns.d WHERE length(content) > 1")
    }
    sql.sql("DROP TABLE graft.ns.d")
  }

  test("MERGE INTO: canonical upsert and delete shapes route through the LWW merge") {
    sql.sql("CREATE TABLE graft.ns.m (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.m VALUES ('r1','p1','c1',1,'a'), ('r2','p1','c1',2,'b')")
    sql.sql("CREATE OR REPLACE TEMPORARY VIEW m_src AS SELECT * FROM VALUES " +
      "('r1','p1','c2',5,'a2'), ('r3','p1','c1',3,'new') " +
      "AS v(repo, path, `commit`, lsn, content)")
    // the canonical CDC upsert: ON <keys>, UPDATE SET * / INSERT *
    sql.sql("""MERGE INTO graft.ns.m t USING m_src s
              |ON t.repo = s.repo AND t.path = s.path
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.m")) ==
      Set(Seq("r1", "a2"), Seq("r2", "b"), Seq("r3", "new")))
    // MERGE is still the LWW merge: a stale-ordered redelivery must lose
    sql.sql("CREATE OR REPLACE TEMPORARY VIEW m_stale AS SELECT * FROM VALUES " +
      "('r1','p1','c0',0,'stale') AS v(repo, path, `commit`, lsn, content)")
    sql.sql("""MERGE INTO graft.ns.m t USING m_stale s
              |ON t.repo = s.repo AND t.path = s.path
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(lib(sql.sql("SELECT content FROM graft.ns.m WHERE repo = 'r1'")) ==
      Set(Seq("a2")))
    // WHEN MATCHED THEN DELETE alone → tombstone keys present in the source
    sql.sql("""MERGE INTO graft.ns.m t
              |USING (SELECT 'r2' AS repo, 'p1' AS path) s
              |ON t.repo = s.repo AND t.path = s.path
              |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(lib(sql.sql("SELECT repo FROM graft.ns.m")) ==
      Set(Seq("r1"), Seq("r3")))
    // the SQL path wrote through the real merge: the library view agrees
    val t = LakeTable.load(spark, s"$warehouse/ns/m")
    assert(lib(sql.sql("SELECT * FROM graft.ns.m")) == lib(LakeMerge.readState(t)))
    // a partial SET list routes through the general decomposition (see the
    // "general MERGE" test below): matched winners re-emitted with the SET
    // applied at (winner commit, lsn+1)
    sql.sql("""MERGE INTO graft.ns.m t USING m_src s
              |ON t.repo = s.repo AND t.path = s.path
              |WHEN MATCHED THEN UPDATE SET content = s.content""".stripMargin)
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.m WHERE repo = 'r1'"))
      .forall(_ != null))
    // non-key ON condition is NOT an LWW upsert
    intercept[Exception] {
      sql.sql("""MERGE INTO graft.ns.m t USING m_src s
                |ON t.repo = s.repo
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    sql.sql("DROP TABLE graft.ns.m")
  }

  test("UPDATE re-emits matched winners as higher-ordered upserts") {
    sql.sql("CREATE TABLE graft.ns.u (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.u VALUES " +
      "('r1','p1','c1',1,'a'), ('r1','p2','c1',2,'b'), ('r2','p1','c1',3,'c')")
    // expression SET over a predicate: winners get the new payload at
    // (commit, lsn+1) — ordering visible in the read-back
    sql.sql("UPDATE graft.ns.u SET content = concat(content, '!') WHERE repo = 'r1'")
    assert(lib(sql.sql("SELECT repo, path, lsn, content FROM graft.ns.u")) ==
      Set(Seq("r1", "p1", 2L, "a!"), Seq("r1", "p2", 3L, "b!"), Seq("r2", "p1", 3L, "c")))
    // a second UPDATE stacks (reads the NEW winners)
    sql.sql("UPDATE graft.ns.u SET content = upper(content) WHERE repo = 'r1' AND path = 'p1'")
    assert(lib(sql.sql("SELECT content FROM graft.ns.u WHERE repo = 'r1' AND path = 'p1'")) ==
      Set(Seq("A!")))
    // CDC semantics: the update is an event — a later higher-ordered real
    // event still wins over it
    sql.sql("INSERT INTO graft.ns.u VALUES ('r1','p1','c9',99,'fresh')")
    assert(lib(sql.sql("SELECT content FROM graft.ns.u WHERE repo = 'r1' AND path = 'p1'")) ==
      Set(Seq("fresh")))
    // no WHERE → all rows
    sql.sql("UPDATE graft.ns.u SET content = 'X'")
    assert(lib(sql.sql("SELECT DISTINCT content FROM graft.ns.u")) == Set(Seq("X")))
    // the library view agrees (UPDATE went through the real merge)
    val t = LakeTable.load(spark, s"$warehouse/ns/u")
    assert(lib(sql.sql("SELECT * FROM graft.ns.u")) == lib(LakeMerge.readState(t)))
    // key / ordering columns are not updatable — loud failure
    intercept[Exception] {
      sql.sql("UPDATE graft.ns.u SET repo = 'r9' WHERE path = 'p1'")
    }
    intercept[Exception] {
      sql.sql("UPDATE graft.ns.u SET lsn = 0 WHERE repo = 'r1'")
    }
    sql.sql("DROP TABLE graft.ns.u")
  }

  test("TIMESTAMP AS OF resolves to the latest snapshot at or before the time") {
    val t = LakeTable.load(spark, tablePath)
    val v0 = t.commitForFence("sqlspec", 0L).get.version
    val ts0 = t.snapshotAt(v0).timestampMs
    assert(ts0 > 0, "commit() must stamp the snapshot time")
    val zone = java.time.ZoneId.of(sql.conf.get("spark.sql.session.timeZone"))
    val lit = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .format(java.time.Instant.ofEpochMilli(ts0).atZone(zone))
    val viaTs = sql.sql(s"SELECT * FROM graft.ns.t TIMESTAMP AS OF '$lit'")
    assert(lib(viaTs) == lib(sql.sql(s"SELECT * FROM graft.ns.t VERSION AS OF $v0")))
    // the provider twin
    val viaOpt = sql.read.format("graft").option("timestampAsOf", ts0).load(tablePath)
    assert(lib(viaOpt) == lib(viaTs))
    // before the oldest retained snapshot → clean failure, not silent-empty
    intercept[Exception] {
      sql.sql("SELECT * FROM graft.ns.t TIMESTAMP AS OF '1999-01-01 00:00:00'").collect()
    }
  }

  test("table properties surface metadata-only health facts to SQL") {
    val props = sql.sql("SHOW TBLPROPERTIES graft.ns.t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val snap = LakeTable.load(spark, tablePath).snapshot
    assert(props("version") == snap.version.toString)
    assert(props("num-buckets") == snap.numBuckets.toString)
    assert(props("data-files") == snap.fileCount.toString)
  }

  test("readStream.format(graft): the changelog is a streaming source with resumable offsets") {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/ns3"))
    val p = s"$warehouse/ns3/cl"
    val t = LakeTable.create(spark, p, CdcStream.binlogSchema, numBuckets = 4)
    val ev = EventGen.events(spark, 2000L, nRepos = 20, pathsPerRepo = 5)
    LakeMerge.mergeBatch(t, ev.where(col("lsn") < 1000L), Some(("cl", 0L)))
    val ckpt = tmpDir("cl-ckpt")
    val seen = scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    def runOnce(): Unit = {
      seen.clear()
      val q = spark.readStream.format("graft").option("startingVersion", 0)
        .load(p)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          seen ++= df.collect(); ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(seen.nonEmpty, "first run must stream the retained history")
    assert(seen.forall(_.getAs[Long]("lsn") < 1000L))
    val firstRun = seen.toList
    // second epoch lands; a RESTARTED stream resumes from the checkpoint
    // and must see only the new commits' rows
    LakeMerge.mergeBatch(t, ev.where(col("lsn") >= 1000L), Some(("cl", 1L)))
    runOnce()
    assert(seen.nonEmpty && seen.forall(_.getAs[Long]("lsn") >= 1000L),
      "restart must stream only commits after the checkpointed offset")
    // the streamed changelog IS the table: LWW-resolving everything the
    // stream delivered reproduces the table's live state exactly
    val streamed = spark.createDataFrame(
      new java.util.ArrayList((firstRun ++ seen).asJava), CdcStream.binlogSchema)
    val resolved = MergeEngine.liveView(MergeEngine.dedupBatch(streamed))
    assert(lib(resolved) == lib(LakeMerge.readState(t)))
  }

  test("CREATE TABLE AS SELECT completes the hidden op envelope and runs the merge") {
    // the SELECT's schema is the READ surface — no op column; createTable
    // must complete the envelope, and the CTAS write runs the LWW upsert
    sql.sql("CREATE TABLE graft.ns.ctas AS SELECT * FROM graft.ns.t")
    assert(lib(sql.sql("SELECT * FROM graft.ns.ctas")) ==
      lib(sql.sql("SELECT * FROM graft.ns.t")))
    // the derived table is a full CDC table: a later insert upserts (LWW)
    val one = sql.sql("SELECT repo, path FROM graft.ns.ctas LIMIT 1").collect().head
    sql.sql(s"INSERT INTO graft.ns.ctas VALUES " +
      s"('${one.getString(0)}','${one.getString(1)}','zzz',${Long.MaxValue - 1},'xx','new')")
    val rows = sql.sql(s"SELECT content FROM graft.ns.ctas WHERE repo = " +
      s"'${one.getString(0)}' AND path = '${one.getString(1)}'").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "new",
      "insert into a CTAS table must upsert, not append a duplicate key")
    // SHOW CREATE TABLE renders through the V2 catalog
    val ddl = sql.sql("SHOW CREATE TABLE graft.ns.ctas").collect().head.getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("repo"))
    sql.sql("DROP TABLE graft.ns.ctas")
  }

  test("named tags: CALL graft.tag, VERSION AS OF 'name', refs inspection table") {
    val t = LakeTable.load(spark, tablePath)
    val v0 = t.commitForFence("sqlspec", 0L).get.version
    val tagged = sql.sql(s"CALL graft.tag('ns.t', 'first_batch', $v0)").collect()
    assert(tagged.head.getString(0) == "first_batch" && tagged.head.getInt(1) == v0)
    // the tag resolves identically to the literal version in SQL…
    assert(lib(sql.sql("SELECT * FROM graft.ns.t VERSION AS OF 'first_batch'")) ==
      lib(sql.sql(s"SELECT * FROM graft.ns.t VERSION AS OF $v0")))
    // …and through the option-based reader
    assert(lib(sql.read.format("graft")
        .option("versionAsOf", "first_batch").load(tablePath)) ==
      lib(sql.read.format("graft")
        .option("versionAsOf", v0.toString).load(tablePath)))
    // refs inspection table lists it (driver-side, zero jobs)
    val refs = sql.sql("SELECT name, version FROM graft.ns.t.refs")
    assert(refs.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(refs.collect().map(r => (r.getString(0), r.getInt(1))).toSet ==
      Set(("first_batch", v0)))
    // drop: resolution fails loudly afterwards; state restored for peers
    assert(sql.sql("CALL graft.drop_tag('ns.t', 'first_batch')").collect()
      .head.getBoolean(0))
    intercept[Exception] {
      sql.sql("SELECT * FROM graft.ns.t VERSION AS OF 'first_batch'").collect()
    }
  }

  test("changelog admission control: maxVersionsPerTrigger / maxRowsPerTrigger chunk catch-up") {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/ns4"))
    val p = s"$warehouse/ns4/rl"
    val t = LakeTable.create(spark, p, CdcStream.binlogSchema, numBuckets = 4)
    val ev = EventGen.events(spark, 1000L, nRepos = 20, pathsPerRepo = 5)
    (0 until 5).foreach { e =>
      LakeMerge.mergeBatch(
        t, ev.where(col("lsn") >= e * 200L && col("lsn") < (e + 1) * 200L),
        Some(("rl", e.toLong)))
    }
    def drain(opts: Map[String, String], path: String = p): Seq[Long] = {
      val sizes = scala.collection.mutable.ArrayBuffer[Long]()
      var reader = spark.readStream.format("graft").option("startingVersion", 0)
      opts.foreach { case (k, v) => reader = reader.option(k, v) }
      val q = reader.load(path)
        .writeStream
        .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) => {
          sizes += df.count(); ()
        })
        .option("checkpointLocation", tmpDir("rl-ckpt"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sizes.toSeq.filter(_ > 0)
    }
    // uncapped: the whole retained history arrives as ONE batch — the
    // behavior admission control exists to bound
    val uncapped = drain(Map.empty)
    assert(uncapped.size == 1, s"uncapped catch-up must be one batch: $uncapped")
    val total = uncapped.sum
    // version cap: 5 append commits at 2/trigger = 3 batches, same rows
    val byVersion = drain(Map("maxVersionsPerTrigger" -> "2"))
    assert(byVersion.sum == total, "chunking must not lose or duplicate rows")
    assert(byVersion.size == 3, s"ceil(5 appends / 2) = 3 batches, got $byVersion")
    // rows cap: admission accumulates per-commit added-row counts from
    // file metadata; each commit here lands ~100 winners, so a 150-row cap
    // admits exactly one commit per trigger = 5 batches
    val perCommit = total / 5
    val byRows = drain(Map("maxRowsPerTrigger" -> (perCommit + perCommit / 2).toString))
    assert(byRows.sum == total, "chunking must not lose or duplicate rows")
    assert(byRows.size == 5, s"one commit per trigger expected, got $byRows")
    // progress guarantee: a cap smaller than any single commit still
    // advances one whole commit per trigger (commits are never split)
    val tiny = drain(Map("maxRowsPerTrigger" -> "1"))
    assert(tiny.sum == total && tiny.size == 5, s"oversized commits delivered whole: $tiny")
    // UNKNOWN row counts must fail CLOSED: legacy (pre-stats) manifests
    // carry rows=-1, so every commit is cap-busting and gets its own
    // batch — counting unknown as zero would deliver ONE unbounded batch.
    // (Stage-time stats now collect row counts whenever the footer is read
    // at all, so the unknown case is simulated the way it survives in the
    // wild: manifest entries written before the stats upgrade.)
    val pu = s"$warehouse/ns4/rlu"
    val schU = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("repo",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("path",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("content",
        org.apache.spark.sql.types.StringType)))
    val tu = LakeTable.create(spark, pu, schU, numBuckets = 2)
    (1 to 3).foreach { i =>
      val df = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(s"r$i", "p", "x")), schU)
        .withColumn("bucket", lit(0))
      tu.appendCommit(tu.stage(df, 0))
    }
    tu.snapshot.manifests.foreach { m =>
      val p = java.nio.file.Paths.get(m.path)
      java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
        .replaceAll(""""rows"\s*:\s*\d+""", "\"rows\":-1"))
    }
    val tuFresh = LakeTable.load(spark, pu) // bypass the manifest cache
    assert(tuFresh.files.forall(_.rows < 0L), "legacy entries must read as unknown counts")
    val unknown = drain(Map("maxRowsPerTrigger" -> "1000000000"), pu)
    assert(unknown.size == 3 && unknown.sum == 3,
      s"unknown-count commits must each be their own batch: $unknown")
  }

  test("tombstone fabrication prunes payload columns out of the scan") {
    val t = LakeTable.load(spark, tablePath)
    val tomb = GraftDml.tombstoneFrame(t,
      GraftDml.liveWinners(t).where(col("repo") === "nonexistent"))
    val planStr = tomb.queryExecution.executedPlan.toString
    // a DELETE writes null payloads — reading `content` (the dominant
    // bytes) for it would be the readState max_by shape's bug. The null
    // literal `null AS content` in the Project is fine; the SCAN schema
    // must not include it.
    val readSchemas = planStr.linesIterator.flatMap(
      _.split("ReadSchema: ").drop(1)).toSeq
    assert(readSchemas.nonEmpty && readSchemas.forall(!_.contains("content")),
      s"tombstone scan must not read payload columns:\n$planStr")
    assert(tomb.columns.toSet == t.schema.fieldNames.toSet)
  }

  test("metadata tables: snapshots / files / fences, served driver-side from manifests") {
    val t = LakeTable.load(spark, tablePath)
    val snaps = sql.sql(
      "SELECT version, operation, data_files, summary FROM graft.ns.t.snapshots ORDER BY version")
    // zero Spark jobs: a LocalTableScan over driver-resident metadata rows
    assert(snaps.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"metadata table must plan as LocalTableScan:\n${snaps.queryExecution.executedPlan}")
    val snapRows = snaps.collect()
    assert(snapRows.length == t.currentVersion - t.minVersionAvailable + 1)
    assert(snapRows.last.getInt(0) == t.currentVersion)
    assert(snapRows.map(_.getString(1)).contains("append"))
    // the free-form commit summary rides along as a map column
    assert(snapRows.map(_.getMap[String, String](3)).exists(
      _.get("operation").contains("merge-append")))
    val files = sql.sql("SELECT file_path, bucket, kind, bytes FROM graft.ns.t.files").collect()
    assert(files.length == t.filesOf(t.snapshot).size)
    assert(files.forall(_.getLong(3) > 0L))
    val fences = sql.sql("SELECT query_id, last_epoch FROM graft.ns.t.fences")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(fences.get("sqlspec").contains(1L))
    // SQL aggregation over an inspection table (the ops-dashboard shape)
    val byKind = sql.sql(
      "SELECT kind, count(*) AS n, sum(bytes) AS b FROM graft.ns.t.files GROUP BY kind")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byKind.values.sum == files.length)
    // per-bucket health facts (LakeTable.describe through SQL) — also a
    // zero-job LocalTableScan, and read_amp is internally consistent
    val health = sql.sql("SELECT bucket, base_files, delta_files, l0_files, read_amp " +
      "FROM graft.ns.t.health")
    assert(health.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val hRows = health.collect()
    assert(hRows.nonEmpty)
    assert(hRows.forall(r => r.getLong(4) == r.getLong(1) + r.getLong(2) + r.getLong(3)))
    // an unknown suffix is still a missing table, not a metadata view
    intercept[Exception] { sql.sql("SELECT * FROM graft.ns.t.nope").collect() }
  }

  test("CALL graft.create_mart / refresh_mart: incremental materialized views in SQL") {
    sql.sql("CREATE TABLE graft.ns.mv (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, lang STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.mv.cdc VALUES " +
      "('r1','p1','c1',1,'U','scala','a'), ('r2','p1','c1',2,'U','scala','b'), " +
      "('r3','p1','c1',3,'U','rust','c')")
    val created = sql.sql("CALL graft.create_mart('ns.mv', 'ns.mvm', 'bylang', " +
      "'SELECT lang, count(*) AS n, max(lsn) AS mx FROM source GROUP BY lang', 'lang')")
      .collect()
    assert(created.length == 1 && created.head.getString(2).contains("lang"))
    def view = lib(sql.sql("SELECT lang, n, mx FROM graft.ns.mvm.view_bylang"))
    assert(view == Set(Seq("scala", 2L, 2L), Seq("rust", 1L, 3L)))
    // source moves: an update flips r3 to scala; refresh recomputes ONLY
    // the affected groups (changelog-driven) and the view follows
    sql.sql("INSERT INTO graft.ns.mv.cdc VALUES ('r3','p1','c2',9,'U','scala','c2')")
    assert(view == Set(Seq("scala", 2L, 2L), Seq("rust", 1L, 3L)),
      "view must be STALE until refreshed (materialized, not live)")
    val r1 = sql.sql("CALL graft.refresh_mart('ns.mvm', 'bylang')").collect()
    assert(r1.head.getBoolean(0), "refresh must apply")
    assert(view == Set(Seq("scala", 3L, 9L)), "vanished rust group must be swept")
    // no-op when current
    assert(!sql.sql("CALL graft.refresh_mart('ns.mvm', 'bylang')").collect().head.getBoolean(0))
    // equivalence with a direct aggregate over the source's live state
    assert(view == lib(sql.sql(
      "SELECT lang, count(*) AS n, max(lsn) AS mx FROM graft.ns.mv GROUP BY lang")))
    // INSERT OVERWRITE the source (a replace commit — rows un-happened):
    // the changelog can't drive the refresh, so catchUp must RE-BASELINE
    // and the view must equal the aggregate over the replaced content
    sql.sql("INSERT OVERWRITE graft.ns.mv " +
      "SELECT repo, path, `commit`, lsn, lang, content FROM graft.ns.mv.cdc WHERE lang = 'scala'")
    assert(sql.sql("CALL graft.refresh_mart('ns.mvm', 'bylang')").collect().head.getBoolean(0))
    assert(view == lib(sql.sql(
      "SELECT lang, count(*) AS n, max(lsn) AS mx FROM graft.ns.mv GROUP BY lang")),
      "refresh across a replace commit must re-baseline, not fail or drift")
    // loud failures: duplicate definition, unknown id, bad group col
    intercept[Exception](sql.sql("CALL graft.create_mart('ns.mv', 'ns.mvm', 'bylang', " +
      "'SELECT lang, count(*) AS n FROM source GROUP BY lang', 'lang')").collect())
    intercept[Exception](sql.sql("CALL graft.refresh_mart('ns.mvm', 'nope')").collect())
    intercept[Exception](sql.sql("CALL graft.create_mart('ns.mv', 'ns.mvm2', 'q', " +
      "'SELECT lang, count(*) AS n FROM source GROUP BY lang', 'not_a_col')").collect())
    sql.sql("DROP TABLE graft.ns.mvm")
    sql.sql("DROP TABLE graft.ns.mv")
  }

  test("CALL graft.wap_publish / wap_abort: audit gate visible through SQL") {
    sql.sql("CREATE TABLE graft.ns.wp (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.wp VALUES ('r1','p1','c1',1,'base')")
    val t = LakeTable.load(spark, s"$warehouse/ns/wp")
    import spark.implicits._
    val batch = Seq(("r1", "p1", "c2", 5L, "U", "updated"), ("r2", "p1", "c1", 1L, "U", "fresh"))
      .toDF("repo", "path", "commit", "lsn", "op", "content")
    LakeMerge.wapStage(t, batch, "q1")
    // invisible until published; the staged id shows in table properties
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.wp")) ==
      Set(Seq("r1", "base")))
    val props = sql.sql("SHOW TBLPROPERTIES graft.ns.wp").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("staged-waps") == "q1")
    // the audit view through SQL: the table AS IF q1 were published —
    // while the base relation still reads pre-publish
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.wp.wap_q1")) ==
      Set(Seq("r1", "updated"), Seq("r2", "fresh")))
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.wp")) ==
      Set(Seq("r1", "base")))
    // unknown id does not resolve
    intercept[Exception](sql.sql("SELECT * FROM graft.ns.wp.wap_nope").collect())
    // the audit view is read-only: INSERT INTO it fails cleanly
    intercept[Exception](
      sql.sql("INSERT INTO graft.ns.wp.wap_q1 VALUES ('x','y','c1',1,'U','v')"))
    val r = sql.sql("CALL graft.wap_publish('ns.wp', 'q1')").collect()
    assert(r.length == 1 && r.head.getInt(1) > 0)
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.wp")) ==
      Set(Seq("r1", "updated"), Seq("r2", "fresh")))
    // abort path: staged then discarded, state untouched
    LakeMerge.wapStage(t, batch.withColumn("content", lit("no!")), "q2")
    sql.sql("CALL graft.wap_abort('ns.wp', 'q2')").collect()
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.wp")) ==
      Set(Seq("r1", "updated"), Seq("r2", "fresh")))
    sql.sql("DROP TABLE graft.ns.wp")
  }

  test("CALL graft.add_files: zero-copy import through SQL") {
    sql.sql("CREATE TABLE graft.ns.af (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.af VALUES ('r1','p1','c1',1,'native')")
    // external raw events: an update for r1 and a fresh key, one parquet dir
    val ext = tmpDir("sql-addf")
    import spark.implicits._
    Seq(("r1", "p1", "c2", 5L, "U", "imported"), ("r2", "p1", "c1", 1L, "U", "new"))
      .toDF("repo", "path", "commit", "lsn", "op", "content")
      .coalesce(1).write.mode("overwrite").parquet(s"$ext/src")
    val r = sql.sql(s"CALL graft.add_files('ns.af', '$ext/src')").collect()
    assert(r.length == 1 && r.head.getInt(0) == 1 && r.head.getLong(1) > 0L)
    assert(lib(sql.sql("SELECT repo, content FROM graft.ns.af")) ==
      Set(Seq("r1", "imported"), Seq("r2", "new")))
    // the imported file is table-owned (hard link under the table root)
    val t = LakeTable.load(spark, s"$warehouse/ns/af")
    assert(t.files.exists(f => f.kind == "l0" && f.path.startsWith(s"$warehouse/ns/af")))
    sql.sql("DROP TABLE graft.ns.af")
  }

  test("CALL procedures: compact / expire_snapshots / flush_l0 / gc_orphans") {
    sql.sql("CREATE TABLE graft.ns.p (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='2')")
    sql.sql("INSERT INTO graft.ns.p VALUES ('r1','p1','c1',1,'a'), ('r2','p1','c1',2,'b')")
    sql.sql("INSERT INTO graft.ns.p VALUES ('r1','p1','c2',5,'a2'), ('r3','p1','c1',3,'c')")
    val pre = lib(sql.sql("SELECT * FROM graft.ns.p"))
    val t = LakeTable.load(spark, s"$warehouse/ns/p")
    assert(t.snapshot.deltaCount > 0, "two merges must leave deltas to compact")
    // compact with the default arg (DefaultValue path) — state unchanged
    val c = sql.sql("CALL graft.compact('ns.p')").collect()
    assert(c.length == 1 && c.head.getBoolean(0), "compaction must run")
    assert(LakeTable.load(spark, s"$warehouse/ns/p").snapshot.deltaCount == 0)
    assert(lib(sql.sql("SELECT * FROM graft.ns.p")) == pre,
      "compaction must not change the resolved state")
    // no L0 on the SQL-ingest path: flush_l0 reports a no-op, doesn't fail
    val f = sql.sql("CALL graft.flush_l0('ns.p')").collect()
    assert(!f.head.getBoolean(0))
    // age-guarded form first: every file is younger than an hour, so the
    // metadata expires but no file may be reclaimed (concurrent-writer guard)
    val eGuard = sql.sql("CALL graft.expire_snapshots('ns.p', 1, 3600000)").collect()
    assert(eGuard.head.getInt(2) == 0, "hour-old guard must spare all young files")
    val e = sql.sql("CALL graft.expire_snapshots('ns.p', 1)").collect()
    assert(e.head.getInt(0) > 0 || eGuard.head.getInt(0) > 0,
      "create+2 merges+compact must expire something")
    assert(lib(sql.sql("SELECT * FROM graft.ns.p")) == pre)
    val g = sql.sql("CALL graft.gc_orphans('ns.p')").collect()
    assert(g.head.getInt(0) == 0, "clean table has no orphans")
    // rollback to the pre-second-insert version: a NEW commit with the old
    // content (append-only history)
    sql.sql("INSERT INTO graft.ns.p VALUES ('r9','p9','c1',1,'z')")
    val tNow = LakeTable.load(spark, s"$warehouse/ns/p")
    val vBefore = tNow.currentVersion - 1
    val rb = sql.sql(s"CALL graft.rollback('ns.p', $vBefore)").collect()
    assert(rb.head.getInt(0) > vBefore, "rollback commits a NEW version")
    assert(lib(sql.sql("SELECT * FROM graft.ns.p")) == pre,
      "rollback must restore the pre-insert state")
    intercept[Exception] { sql.sql("CALL graft.no_such_proc('ns.p')").collect() }
    sql.sql("DROP TABLE graft.ns.p")
  }

  test("writeStream.format(graft): each micro-batch is one fenced exactly-once merge commit") {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$warehouse/ns4"))
    val p = s"$warehouse/ns4/sink"
    LakeTable.create(spark, p, CdcStream.binlogSchema, numBuckets = 4)
    val events = EventGen.events(spark, 3000L, nRepos = 30, pathsPerRepo = 5)
    val in = tmpDir("sink-in")
    val ckpt = tmpDir("sink-ckpt")
    def deliver(lo: Long, hi: Long): Unit =
      events.where(col("lsn") >= lo && col("lsn") < hi)
        .coalesce(1).write.mode("append").parquet(in)
    def run(): Unit = {
      val q = spark.readStream.schema(CdcStream.binlogSchema).parquet(in)
        .writeStream.format("graft")
        .option("path", p)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def oracle(upToLsn: Long) = lib(MergeEngine.liveView(MergeEngine.dedupBatch(
      events.where(col("lsn") < upToLsn))))
    deliver(0L, 1500L)
    run()
    val t1 = LakeTable.load(spark, p)
    assert(lib(LakeMerge.readState(t1)) == oracle(1500L))
    val fence1 = t1.fence(ckpt)
    assert(fence1 >= 0L, "the sink must fence under the checkpoint identity")
    // restart with nothing new: state unchanged
    run()
    assert(lib(LakeMerge.readState(LakeTable.load(spark, p))) == oracle(1500L))
    // new arrivals resume exactly-once from the checkpoint
    deliver(1500L, 3000L)
    run()
    val t2 = LakeTable.load(spark, p)
    assert(lib(LakeMerge.readState(t2)) == oracle(3001L))
    assert(t2.fence(ckpt) > fence1, "fence must advance with the new epoch")
    // the sink requires an existing table and a stable fence identity
    intercept[Exception] {
      spark.readStream.schema(CdcStream.binlogSchema).parquet(in)
        .writeStream.format("graft")
        .option("path", s"$warehouse/ns4/missing")
        .option("checkpointLocation", tmpDir("sink-ckpt2"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
  }

  test("path-traversal segments in SQL identifiers and procedure args are rejected") {
    // a '..' (or separator-bearing) segment must fail at name resolution,
    // never reach the filesystem — DROP NAMESPACE/TABLE with such a segment
    // would otherwise rmTree OUTSIDE the warehouse root
    intercept[Exception] { sql.sql("DROP NAMESPACE graft.`..` CASCADE") }
    intercept[Exception] { sql.sql("DROP TABLE graft.ns.`..`") }
    intercept[Exception] { sql.sql("DROP TABLE graft.ns.`a/b`") }
    intercept[Exception] { sql.sql("CREATE NAMESPACE graft.`../evil`") }
    intercept[Exception] { sql.sql("CALL graft.compact('..')") }
    intercept[Exception] { sql.sql("CALL graft.compact('ns..t')") } // empty segment
    intercept[Exception] { sql.sql("CALL graft.rollback('/abs/path.t', 1)") }
    // the warehouse (and its parent) survived every attempt
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warehouse)))
    assert(LakeTable.exists(tablePath))
  }

  test("changes inspection table: version-pruned changelog with loud failure modes") {
    import spark.implicits._
    val path = s"$warehouse/ns/ch"
    val t = LakeTable.create(spark, path, CdcStream.binlogSchema, numBuckets = 2)
    def b(r: String, lsn: Long, op: String) =
      Seq((r, "p", f"c$lsn%04d", lsn, op, "sc", if (op == "D") null else s"v$lsn"))
        .toDF("repo", "path", "commit", "lsn", "op", "lang", "content")
    LakeMerge.mergeBatch(t, b("r1", 1L, "U"), Some(("ch", 0L)))
    val v1 = t.currentVersion
    LakeMerge.mergeBatch(t, b("r2", 2L, "U").union(b("r1", 3L, "D")), Some(("ch", 1L)))
    val v2 = t.currentVersion
    LakeMerge.compact(t) // non-append commit: must contribute no change rows
    LakeMerge.mergeBatch(t, b("r3", 4L, "U"), Some(("ch", 2L)))

    // full changelog: every append's rows, tombstones included, op exposed
    val full = sql.sql("SELECT repo, lsn, op, _change_version FROM graft.ns.ch.changes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
    assert(full.toSeq == Seq(("r1", 1L, "U"), ("r1", 3L, "D"), ("r2", 2L, "U"), ("r3", 4L, "U")))

    // version bounds slice to exactly the middle epoch, and the scan opens
    // ONLY that commit's files (version pruning is metadata-level)
    val mid = sql.sql(
      s"""SELECT repo, lsn, op FROM graft.ns.ch.changes
         |WHERE _change_version > $v1 AND _change_version <= $v2""".stripMargin)
    assert(mid.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("r1", 3L), ("r2", 2L)))
    val t2 = LakeTable.load(spark, path)
    val midFiles = t2.filesOf(t2.snapshotAt(v2)).map(_.path).toSet --
      t2.filesOf(t2.snapshotAt(v1)).map(_.path).toSet
    assert(scannedFiles(mid) == midFiles.size,
      s"version-bounded changes must open only that commit's files: " +
        s"${scannedFiles(mid)} vs ${midFiles.size}")

    // an empty range is empty, not an error
    assert(sql.sql(
      s"SELECT * FROM graft.ns.ch.changes WHERE _change_version > 90").isEmpty)

    // rollback inside the requested range fails loudly (re-baseline contract)
    t.rollback(v1)
    intercept[Exception] {
      sql.sql("SELECT * FROM graft.ns.ch.changes").collect()
    }
    // ... but a range BELOW the rollback still reads (r1@1, r2@2, r1@3-D)
    assert(sql.sql(
      s"SELECT * FROM graft.ns.ch.changes WHERE _change_version <= $v2")
      .count() == 3)
  }

  test("general MERGE: conditional actions, partial SET, NOT MATCHED BY SOURCE") {
    import spark.implicits._
    val path = s"$warehouse/ns/gm"
    val t = LakeTable.create(spark, path, CdcStream.binlogSchema, numBuckets = 4)
    val base = Seq(
      ("r1", "p", "c1", 10L, "U", "scala", "one"),
      ("r2", "p", "c1", 11L, "U", "java", "two"),
      ("r3", "p", "c1", 12L, "U", "scala", "three"),
      ("r4", "p", "c1", 13L, "U", "go", "four"))
      .toDF("repo", "path", "commit", "lsn", "op", "lang", "content")
    LakeMerge.mergeBatch(t, base, Some(("gm", 0L)))
    // source covers r1 (scala → partial SET fires), r2 (java → guard false),
    // r5 (unmatched → insert); r3/r4 are NOT in the source (by-source rows)
    sql.sql("""CREATE OR REPLACE TEMP VIEW gm_src AS
              |SELECT * FROM VALUES
              |  ('r1', 'p', 'c2', CAST(20 AS BIGINT), 'snew', 'S1'),
              |  ('r2', 'p', 'c2', CAST(21 AS BIGINT), 'snew', 'S2'),
              |  ('r5', 'p', 'c2', CAST(22 AS BIGINT), 'snew', 'S5')
              |AS v(repo, path, `commit`, lsn, lang, content)""".stripMargin)
    sql.sql("""MERGE INTO graft.ns.gm t
              |USING gm_src s
              |ON t.repo = s.repo AND t.path = s.path
              |WHEN MATCHED AND t.lang = 'scala'
              |  THEN UPDATE SET content = concat(t.content, '+', s.content)
              |WHEN NOT MATCHED THEN INSERT *
              |WHEN NOT MATCHED BY SOURCE AND t.lang = 'go' THEN DELETE""".stripMargin)
    val got = sql.sql("SELECT repo, lsn, lang, content FROM graft.ns.gm ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(got.toSeq == Seq(
      ("r1", 11L, "scala", "one+S1"), // partial SET at winner lsn+1, source col referenced
      ("r2", 11L, "java", "two"),     // matched, guard false → untouched
      ("r3", 12L, "scala", "three"),  // by-source, guard false → untouched
      // r4 by-source-deleted (lang = go)
      ("r5", 22L, "snew", "S5")))     // inserted at its own ordering

    // two matched actions: first-match-wins ordering
    sql.sql("""MERGE INTO graft.ns.gm t
              |USING gm_src s
              |ON t.repo = s.repo AND t.path = s.path
              |WHEN MATCHED AND t.repo = 'r1' THEN DELETE
              |WHEN MATCHED THEN UPDATE SET lang = 'touched'""".stripMargin)
    val got2 = sql.sql("SELECT repo, lang FROM graft.ns.gm ORDER BY repo")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(got2.toSeq == Seq(("r2", "touched"), ("r3", "scala"), ("r5", "touched")))

    // non-lowerable shapes still fail loudly: SET on an ordering column
    intercept[Exception] {
      sql.sql("""MERGE INTO graft.ns.gm t USING gm_src s
                |ON t.repo = s.repo AND t.path = s.path
                |WHEN MATCHED THEN UPDATE SET lsn = 999""".stripMargin)
    }
    // ... and a non-key ON condition
    intercept[Exception] {
      sql.sql("""MERGE INTO graft.ns.gm t USING gm_src s
                |ON t.repo = s.repo
                |WHEN MATCHED THEN DELETE""".stripMargin)
    }
  }

  test("catalog DDL: SHOW TABLES, CREATE TABLE with CDC envelope, DROP TABLE") {
    val shown = sql.sql("SHOW TABLES IN graft.ns").collect().map(_.getString(1)).toSet
    assert(shown.contains("t"))
    sql.sql("CREATE TABLE graft.ns.t2 (repo STRING, path STRING, `commit` STRING, " +
      "lsn BIGINT, op STRING, content STRING) TBLPROPERTIES ('buckets'='4')")
    assert(LakeTable.exists(s"$warehouse/ns/t2"))
    assert(LakeTable.load(spark, s"$warehouse/ns/t2").snapshot.numBuckets == 4)
    sql.sql("DROP TABLE graft.ns.t2")
    assert(!LakeTable.exists(s"$warehouse/ns/t2"))
    // a table without the CDC envelope is rejected at CREATE
    intercept[Exception] {
      sql.sql("CREATE TABLE graft.ns.bad (x INT)")
    }
  }
}
