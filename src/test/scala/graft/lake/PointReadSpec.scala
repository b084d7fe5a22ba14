package graft.lake

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.cdc.{CdcStream, LakeMerge}
import graft.sql.GraftSql

/** The driver-side point read ([[LakeMerge.readRepo]] / `readRepos`, and
  * SQL `repo IN (…)` lookups, which take it) must return exactly what the
  * Spark-resolved full state returns for the same keys — rows, column
  * names, order and types — on tables whose history exercises every
  * reconciliation and pruning rule the read depends on: added, widened
  * (int→long), renamed, dropped and re-added columns; a bucket-layout
  * evolution; base, delta and L0 files side by side; an `add_files`
  * import; tombstones and null-`op` rows; absent keys. Each property case
  * builds one table from seeded random batches. */
class PointReadSpec extends SparkSpec {
  import spark.implicits._

  private val repos = (0 until 5).map(i => s"r$i")
  private val absent = Seq("absent_key", "")

  private final case class Ev(repo: String, path: String, commit: String,
      lsn: Long, op: String, content: String)

  /** `n` events over a small key space; lsns are drawn without replacement
    * from `lsns`, so no two events tie on (commit, lsn). */
  private def events(rnd: scala.util.Random, lsns: Iterator[Long], n: Int): Seq[Ev] =
    Seq.fill(n) {
      val op = rnd.nextInt(10) match {
        case 0 | 1 => "D"
        case 2 => null
        case 3 => "I"
        case _ => "U"
      }
      Ev(repos(rnd.nextInt(repos.size)), Seq("a", "b", "c")(rnd.nextInt(3)),
        s"c${rnd.nextInt(4)}", lsns.next(), op,
        if (op == "D") null else rnd.alphanumeric.take(6).mkString)
    }

  // catalog root of the SQL leg: every table is built as `graft.ns.t<n>`
  private lazy val warehouse = {
    val w = tmpDir("pointread-wh")
    java.nio.file.Files.createDirectories(Paths.get(s"$w/ns"))
    w
  }
  private lazy val sql = GraftSql.attach(spark, root = Some(warehouse))
  private val tables = new java.util.concurrent.atomic.AtomicInteger

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  /** One table through the whole history; returns it. */
  private def build(seed: Long): LakeTable = {
    val rnd = new scala.util.Random(seed)
    val lsns = rnd.shuffle((1L to 1000L).toVector).iterator
    def batch(n: Int) = events(rnd, lsns, n)
    val base = CdcStream.binlogSchema.add("score", IntegerType)
    val t = LakeTable.create(spark, s"$warehouse/ns/t${tables.getAndIncrement()}",
      base, numBuckets = 4)

    // era 0: score INT; compacted into base files
    LakeMerge.mergeBatch(t, batch(20).map(e => (e.repo, e.path, e.commit, e.lsn, e.op,
      "scala", e.content, e.lsn.toInt)).toDF(base.fieldNames.toSeq: _*))
    LakeMerge.compact(t)
    // widened score (int→long) and an added column, as delta files
    LakeMerge.mergeBatch(t, batch(15).map(e => (e.repo, e.path, e.commit, e.lsn, e.op,
      "java", e.content, e.lsn * 10L, s"tag-${e.lsn}"))
      .toDF("repo", "path", "commit", "lsn", "op", "lang", "content", "score", "tag"))
    // layout evolution and a rename, then L0 files under the new names
    t.rebucket(8)
    t.renameColumn("lang", "language")
    LakeMerge.mergeBatch(t, batch(15).map(e => (e.repo, e.path, e.commit, e.lsn, e.op,
      "go", e.content, e.lsn * 100L))
      .toDF("repo", "path", "commit", "lsn", "op", "language", "content", "score"),
      l0Mode = true)
    // drop `tag`, then import files that carry a NEW `tag` (fresh field id:
    // the dropped column's values must not come back) and no `score`
    t.dropColumn("tag")
    val ext = tmpDir("pointread-ext") + "/src"
    batch(15).map(e => (e.repo, e.path, e.commit, e.lsn, e.op, "rust", e.content,
      s"new-${e.lsn}"))
      .toDF("repo", "path", "commit", "lsn", "op", "language", "content", "tag")
      .coalesce(1).write.parquet(ext)
    t.addFiles(graft.util.Fs.walk(Paths.get(ext)).map(_.toString)
      .filter(_.endsWith(".parquet")))
    // a current-era delta on top
    LakeMerge.mergeBatch(t, batch(10).map(e => (e.repo, e.path, e.commit, e.lsn, e.op,
      "c", e.content, e.lsn * 1000L))
      .toDF("repo", "path", "commit", "lsn", "op", "language", "content", "score"))
    t
  }

  test("property: readRepo/readRepos equal readState filtered to the same keys") {
    val prop = Prop.forAll(Gen.choose(0L, Long.MaxValue)) { seed =>
      val t = build(seed)
      val kinds = t.files.map(_.kind).toSet
      assert(kinds == Set("base", "delta", "l0"), s"fixture kinds: $kinds")
      assert(t.files.map(f => LakeTable.layoutOf(f, t.snapshot)).toSet == Set(4, 8),
        "fixture must span both layouts")
      val state = LakeMerge.readState(t)
      val all = state.collect().toSeq
      val repoAt = state.schema.fieldIndex("repo")
      def expected(keys: Seq[String]): Seq[String] =
        all.filter(r => keys.contains(r.getString(repoAt)))
          .map(_.toSeq.map(String.valueOf).mkString("|")).sorted
      val rnd = new scala.util.Random(seed)
      val keySets = Seq(Seq.empty[String], repos, absent, repos ++ absent) ++
        Seq.fill(3)(rnd.shuffle(repos ++ absent).take(1 + rnd.nextInt(4)))
      (repos ++ absent).forall { k =>
        val got = LakeMerge.readRepo(t, k)
        got.schema == state.schema && rowsOf(got) == expected(Seq(k))
      } && keySets.forall { ks =>
        val got = LakeMerge.readRepos(t, ks)
        got.schema == state.schema && rowsOf(got) == expected(ks)
      } && keySets.filter(_.nonEmpty).forall { ks =>
        val name = Paths.get(t.root).getFileName
        val got = sql.sql(s"SELECT * FROM graft.ns.$name WHERE repo IN " +
          ks.map(k => s"'$k'").mkString("(", ", ", ")"))
        got.schema == state.schema && rowsOf(got) == expected(ks)
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(res.passed, s"property failed: ${res.status}")
  }

  test("point reads keep the readState shape on the schema the history ends with") {
    val t = build(7L)
    val got = LakeMerge.readRepos(t, repos)
    assert(got.schema.fieldNames.toSeq ==
      Seq("repo", "path", "commit", "lsn", "language", "content", "score", "tag"))
    assert(got.schema("score").dataType == LongType)
    // the dropped tag's values never come back; imported rows carry the new one
    val tags = got.collect().toSeq.map(_.getAs[String]("tag")).filter(_ != null)
    assert(tags.forall(_.startsWith("new-")), tags)
    val imported = got.collect().count(_.getAs[String]("language") == "rust")
    assert(imported == tags.size, "every live imported row carries its tag")
    assert(got.collect().forall((r: Row) => r.getAs[String]("repo") != null))
  }
}
