package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.util.RebaseDateTime.RebaseSpec
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types._

/** One data file tracked by a manifest. `bucket` = hash-bucket of `repo`
  * (the table's partition spec); parsed back from the written directory
  * layout `.../bucket=<b>/part-*.parquet`. `kind` is "base" (compacted),
  * "delta" (merge-on-read append, resolved by LWW dedup at read time), or
  * "l0" (shuffle-free append: the file was written straight from the input
  * tasks WITHOUT the bucket exchange, so its rows SPAN buckets —
  * `bucket` is the -1 sentinel; bucket-pruned reads must opt in with
  * [[LakeTable.L0Bucket]] and row-filter). `minLsn`/`maxLsn` are per-file
  * column stats lifted from the parquet footer at stage time (when the
  * schema has an `lsn` column) — the metadata layer's file-level pruning
  * statistics, so an lsn-range scan never opens files outside the range
  * (full range = stats unknown, never pruned). `rows` is the footer row
  * count (-1 if not collected). Rows within a bucketed file are clustered
  * by (repo, path): the write-aligned merge emits SortAggregate output
  * ordered on its grouping keys, which parquet page stats then exploit for
  * point lookups. */
final case class DataFileMeta(
    path: String,
    bucket: Int,
    bytes: Long,
    schemaId: Int,
    kind: String = "base",
    minLsn: Long = Long.MinValue,
    maxLsn: Long = Long.MaxValue,
    rows: Long = -1L,
    // [[KeyBloom]] over the file's distinct `repo` values, lifted from its
    // parquet dictionary pages at stage time; null (dictionary-overflow
    // files) = unknown → the file is never key-pruned
    keyBloom: String = null,
    // the bucket LAYOUT (total bucket count) `bucket` was computed under.
    // 0 = the snapshot's current layout (every file of a never-evolved
    // table); explicit after a [[LakeTable.rebucket]] layout evolution, so
    // point lookups can match a key against EACH era's hash layout.
    // Iceberg's partition-spec-id, reduced to the one spec shape used here.
    layoutBuckets: Int = 0
)

/** A pinned, versioned schema (Spark DDL string). `fieldIds` maps each
  * column name to its STABLE field id (the Iceberg identity that survives
  * renames): reads reconcile a file's columns to the current schema BY ID,
  * so a renamed column keeps reading old files and a dropped-then-re-added
  * name cannot resurrect old data. Every writer records an id for every
  * column. */
final case class SchemaInfo(id: Int, ddl: String, fieldIds: Map[String, Int])

/** Pointer to one immutable manifest file (a JSON list of [[DataFileMeta]])
  * plus the stats the planner prunes on without opening it. `group` is the
  * bucket-group the manifest covers (bucket % manifestGroups): compaction
  * of a bucket rewrites only its group's manifests, never the whole
  * metadata tree. */
final case class ManifestMeta(
    path: String,
    group: Int,
    fileCount: Int,
    bytes: Long,
    deltaCount: Int,
    buckets: Seq[Int]
)

/** An immutable table snapshot. The table state IS the latest committed
  * snapshot file; data files not referenced by it (through its manifests)
  * are invisible (staged or orphaned), which is what makes the commit
  * atomic — the same philosophy as the reference's FILE_LOADS batch loads,
  * where staged files become visible only when the load job commits
  * (reference `modules/transformation.py:84-97`, `README.md:361-376` on
  * orphaned temp tables after failures).
  *
  * The snapshot does NOT inline the file list: it references manifest
  * files, and an append commit writes only manifests for the ADDED files —
  * unchanged manifests are reused by reference across snapshots. Commit
  * metadata cost is therefore O(changed files), not O(table files); the
  * Iceberg manifest-list design, required for continuous CDC ingest where a
  * table accumulates 10^5+ files.
  *
  * `fences` maps a streaming queryId to the last committed epoch (batchId):
  * the engine's generalization of the reference's skip-if-populated rerun
  * fence (`data-pipeline.workflows.yaml:269-294`).
  *
  * `(watermarkCommit, watermarkLsn)`: replay low-watermark on the FULL LWW
  * ordering key — the caller's guarantee that no event ordered at or below
  * it will ever be (re)delivered. Compaction may purge tombstones at or
  * below it (they can no longer be needed to suppress an out-of-order
  * resurrection). Inactive while `watermarkCommit` is null. The watermark
  * must be on `(commit, lsn)`, not lsn alone: a tombstone with a high
  * commit but low lsn can still be the LWW winner against a future event
  * with a higher lsn.
  *
  * `formatVersion` is the lake metadata format the snapshot was written in;
  * [[LakeTable.snapshotAt]] reads only [[LakeTable.FormatVersion]] and
  * refuses every other value (the Iceberg `format-version` rule).
  *
  * `opKind` is the STRUCTURED operation class of the commit that produced
  * this snapshot — "create" | "append" | "rewrite" | "replace" |
  * "rollback" | "metadata" — stamped at the commit sites themselves so
  * changelog readers
  * ([[LakeTable.readChangesBetween]]) never have to pattern-match
  * caller-supplied free-form `summary` strings. `properties` are immutable
  * table-level key/values (format markers etc.), carried through every
  * commit.
  */
final case class Snapshot(
    formatVersion: Int,
    version: Int,
    snapshotId: Long,
    parentSnapshotId: Long,
    schemaId: Int,
    schemas: Seq[SchemaInfo],
    numBuckets: Int,
    manifestGroups: Int,
    manifests: Seq[ManifestMeta],
    fences: Map[String, Long],
    watermarkCommit: String,
    watermarkLsn: Long,
    summary: Map[String, String],
    opKind: String,
    properties: Map[String, String],
    // wall-clock commit time, stamped by create() and commit()
    timestampMs: Long,
    // every bucket layout the table has EVER written under, oldest first,
    // current ([[numBuckets]]) last; null (never-evolved tables) =
    // Seq(numBuckets). A point lookup probes the key's bucket under each
    // era's layout — see [[LakeTable.rebucket]].
    layouts: Seq[Int] = null
) {
  def layoutsList: Seq[Int] = if (layouts == null) Seq(numBuckets) else layouts
  def schema: StructType = StructType.fromDDL(schemas.find(_.id == schemaId).get.ddl)
  def schemaById(id: Int): StructType = StructType.fromDDL(schemas.find(_.id == id).get.ddl)
  def fileCount: Int = manifests.map(_.fileCount).sum
  def deltaCount: Int = manifests.map(_.deltaCount).sum
}

/** Result of [[LakeTable.expireSnapshots]]. */
final case class ExpireResult(
    expiredVersions: Int,
    manifestsDeleted: Int,
    dataFilesDeleted: Int,
    bytesReclaimed: Long
)

/** From-scratch Iceberg-style snapshot table ("IceLake", SURVEY.md §7.0):
  * parquet data files + versioned JSON snapshot metadata referencing
  * immutable manifest files, atomic commit by hard-link-based
  * check-and-swap, schema-id-versioned evolution with widening reads,
  * bucket partition pruning at both manifest and file granularity, epoch
  * fencing, snapshot expiration with physical reclamation.
  *
  * Layout:
  * {{{
  *   <root>/data/<commit-uuid>/bucket=<b>/part-*.parquet
  *   <root>/metadata/v<N>.metadata.json          (snapshot, no file list)
  *   <root>/metadata/manifest-<uuid>.json        (immutable file list)
  *   <root>/metadata/version-hint.text
  * }}}
  */
final class LakeTable private (val root: String, val spark: SparkSession) {
  import LakeTable._

  private val metaDir = Paths.get(root, "metadata")

  /** Manifests are immutable once written, so their parsed contents are
    * cached for the lifetime of this table handle. */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[DataFileMeta]]()

  /** A published `v<N>.metadata.json` never changes either (the hard-link
    * swap creates it whole), so each is parsed once per handle. Only the
    * newest [[SnapshotCacheSize]] versions are kept: `snapshot`, `fence`
    * and `schema` hit the current one on every call, while history walks
    * (binary searches, GC) would otherwise pin every version ever read. */
  private val snapshotCache =
    new java.util.concurrent.ConcurrentSkipListMap[Int, Snapshot]()

  // ---------------------------------------------------------------- reads

  def currentVersion: Int = {
    val hint = metaDir.resolve("version-hint.text")
    val hinted =
      if (Files.exists(hint))
        try Files.readString(hint).trim.toInt
        catch { case NonFatal(_) => 0 }
      else 0
    // Hint is best-effort (written after the atomic swap); reconcile with a
    // listing so a crash between swap and hint-write can't lose a commit.
    var v = math.max(hinted, 1)
    while (Files.exists(metaDir.resolve(s"v${v + 1}.metadata.json"))) v += 1
    v
  }

  def snapshot: Snapshot = snapshotAt(currentVersion)

  /** Latest still-retained version committed at or before `tsMs` (epoch
    * millis) — the `TIMESTAMP AS OF` resolution. Every snapshot carries
    * its commit time, stamped under the same single-host swap that orders
    * versions, so times are monotone in version and binary search is
    * sound. */
  def versionAtTimestamp(tsMs: Long): Int = {
    def tsOf(v: Int): Long = snapshotAt(v).timestampMs
    var lo = minVersionAvailable
    if (tsOf(lo) > tsMs)
      throw new IllegalStateException(
        s"no snapshot as of $tsMs: oldest retained (v$lo) is ${tsOf(lo)}")
    var hi = currentVersion
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (tsOf(mid) <= tsMs) lo = mid else hi = mid - 1
    }
    lo
  }

  /** The snapshot committed as `version` — the one place every metadata
    * read passes through, so the format check here covers them all. A
    * snapshot of any other [[LakeTable.FormatVersion]] (an absent field
    * reads as 0) is refused rather than guessed at. The existence check
    * runs on every call, so an expired version throws even when cached. */
  def snapshotAt(version: Int): Snapshot = {
    val p = metaDir.resolve(s"v$version.metadata.json")
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"snapshot v$version is not available (expired or never committed)")
    val cached = snapshotCache.get(version)
    if (cached != null) cached
    else {
      val parsed = parseSnapshot(version, p)
      snapshotCache.put(version, parsed)
      while (snapshotCache.size > SnapshotCacheSize) snapshotCache.pollFirstEntry()
      parsed
    }
  }

  private def parseSnapshot(version: Int, p: Path): Snapshot = {
    val raw = mapper.readValue(Files.readString(p), classOf[Snapshot])
    if (raw.formatVersion != FormatVersion)
      throw new IllegalStateException(
        s"lake table $root: snapshot v$version has format version " +
          s"${raw.formatVersion}, this engine reads only format version " +
          s"$FormatVersion — recreate the table")
    // Jackson erases Map[String, Long] values to Integer for small numbers;
    // normalize so downstream Long-typed access doesn't hit unbox CCEs.
    val fixedFences = raw.fences.asInstanceOf[Map[String, Any]].map {
      case (k, v) => k -> v.asInstanceOf[Number].longValue()
    }
    raw.copy(fences = fixedFences)
  }

  def schema: StructType = snapshot.schema

  /** Last committed epoch for a streaming query, or -1. */
  def fence(queryId: String): Long = snapshot.fences.getOrElse(queryId, -1L)

  /** The snapshot of the commit that advanced `queryId`'s fence to `epoch` —
    * the lowest still-unexpired version whose fence equals it (later
    * compaction/metadata commits carry the fence forward unchanged). None if
    * the epoch never committed or its history has been expired. Used by
    * lineage healing to recover per-epoch commit facts (summary fields,
    * snapshot id) after a crash between the data and metrics commits. */
  def commitForFence(queryId: String, epoch: Long): Option[Snapshot] = {
    // fences are monotone in version for a query, so binary-search the
    // lowest live version whose fence reaches `epoch` — O(log versions)
    // snapshot reads instead of a linear walk (healing a whole lost
    // sidecar by replay would otherwise go quadratic in table history).
    // Expired versions (unreadable) sit at the low end and count as
    // "below": their commits can't be returned anyway.
    def fenceAt(v: Int): Option[Long] =
      try Some(snapshotAt(v).fences.getOrElse(queryId, -1L))
      catch { case NonFatal(_) => None } // expired
    var lo = 1
    var hi = currentVersion
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      fenceAt(mid) match {
        case Some(f) if f >= epoch => hi = mid
        case _ => lo = mid + 1
      }
    }
    try {
      val s = snapshotAt(lo)
      if (s.fences.getOrElse(queryId, -1L) == epoch) Some(s) else None
    } catch { case NonFatal(_) => None }
  }

  /** All data files of the current snapshot (loads + caches manifests). */
  def files: Seq[DataFileMeta] = filesOf(snapshot)

  /** All data files referenced by a snapshot. */
  def filesOf(snap: Snapshot): Seq[DataFileMeta] =
    snap.manifests.flatMap(m => loadManifest(m.path))

  /** Data files of a snapshot restricted to `buckets` — manifests whose
    * bucket stats don't intersect are never opened (manifest-level
    * pruning), then file-level pruning inside the loaded ones.
    *
    * L0 files are selected only when [[LakeTable.L0Bucket]] (-1) is in
    * `buckets`: a resolved read of bucket b must pass `Set(b, L0Bucket)`
    * (an L0 file may hold rows of ANY bucket), while a rewrite that
    * replaces only bucketed files passes `Set(b)`. */
  def filesOf(snap: Snapshot, buckets: Set[Int]): Seq[DataFileMeta] =
    snap.manifests
      .filter(_.buckets.exists(buckets.contains))
      .flatMap(m => loadManifest(m.path))
      .filter(f => buckets.contains(f.bucket))

  private def loadManifest(path: String): Seq[DataFileMeta] =
    manifestCache.computeIfAbsent(path, p =>
      mapper.readValue(Files.readString(Paths.get(p)),
        classOf[Array[DataFileMeta]]).toSeq)

  /** Read the full current state, reconciling every file group's pinned
    * schema to the current schema (missing columns → null, widening casts
    * int→long / float→double — SURVEY.md §7.5). */
  def read(): DataFrame = {
    val snap = snapshot
    readFiles(snap, filesOf(snap))
  }

  /** Read only the given buckets (partition pruning via metadata — the scan
    * never touches files, or manifests, of unaffected buckets). When the
    * selection includes L0 files (bucket [[LakeTable.L0Bucket]] requested),
    * their bucket-spanning rows are filtered back down to `buckets` with
    * the table's partition expression — unless every bucket is requested,
    * in which case the per-row filter would be a no-op and is skipped. */
  def readBuckets(buckets: Set[Int]): DataFrame = {
    val snap = snapshot
    val files = filesOf(snap, buckets)
    val (l0, bucketed) = files.partition(_.kind == "l0")
    val wantsAll = (0 until snap.numBuckets).forall(buckets.contains)
    if (wantsAll || l0.isEmpty) readFiles(snap, files)
    else {
      // the row filter applies ONLY to L0-origin rows (they span buckets and
      // carry no bucket id): bucketed files were already selected by their
      // STAMPED bucket id, which on a layout-evolved table was computed
      // under the file's own era — re-filtering those rows with the
      // CURRENT layout's bucket expression would silently drop old-era rows
      val l0Filtered = readFiles(snap, l0)
        .where(LakeTable.bucketExpr(col("repo"), snap.numBuckets)
          .isin(buckets.filter(_ >= 0).toSeq.map(Integer.valueOf): _*))
      if (bucketed.isEmpty) l0Filtered
      else readFiles(snap, bucketed).unionByName(l0Filtered)
    }
  }

  /** Time travel: read the table as of an older committed version. Data
    * files are immutable and referenced by each snapshot, so any version
    * that has not been expired reads back exactly. */
  def readVersion(version: Int): DataFrame = {
    val snap = snapshotAt(version)
    readFiles(snap, filesOf(snap))
  }

  /** Roll back: commit a NEW snapshot restoring the manifests, schema and
    * fences of `toVersion` (history is append-only — the rollback itself is
    * an auditable commit, like Iceberg's rollback). */
  def rollback(toVersion: Int): Snapshot = {
    val target = snapshotAt(toVersion)
    commit { _ =>
      target.copy(
        opKind = "rollback",
        summary = Map(
          "operation" -> "rollback",
          "to-version" -> toVersion.toString))
    }
  }

  // ------------------------------------------------------- layout evolution

  /** Evolve the bucket layout: writes AFTER this commit bucket their rows
    * under `newNumBuckets`; existing files keep their bytes AND their era's
    * layout — NO data is rewritten (Iceberg-style partition evolution,
    * reduced to the one spec shape used here). Point lookups probe the
    * key's bucket under EVERY era ([[filesForKey]]); full reads are
    * unaffected (old bucket ids are a subset of the grown range); compaction
    * migrates rows to the current layout incrementally, because every
    * rewrite re-buckets what it touches — a full compact unifies the table.
    *
    * Growth only: shrinking would put old bucket ids outside the current
    * range and break the subset property full-table reads rely on.
    *
    * The commit stamps the outgoing layout on every file that carried it
    * implicitly — a one-time O(table files) METADATA rewrite (the one
    * departure from O(changed) commit cost, paid only at evolution time);
    * data files are untouched. Manifests written by a lost optimistic-retry
    * attempt are unreferenced and harmless (expired metadata GC territory). */
  def rebucket(newNumBuckets: Int): Snapshot = {
    require(newNumBuckets > snapshot.numBuckets,
      s"bucket layout can only grow: ${snapshot.numBuckets} -> $newNumBuckets")
    commit { s =>
      require(newNumBuckets > s.numBuckets,
        s"bucket layout can only grow: ${s.numBuckets} -> $newNumBuckets")
      val ms = s.manifests.map { m =>
        val loaded = loadManifest(m.path)
        val fs = loaded.map(f =>
          if (f.layoutBuckets > 0 || f.bucket == LakeTable.L0Bucket) f
          else f.copy(layoutBuckets = s.numBuckets))
        // reuse untouched manifests by reference (everything already
        // stamped — e.g. any rebucket after the first): the O(table-files)
        // metadata rewrite is paid only for implicitly-laid-out entries
        if (fs == loaded) m
        else {
          val p = metaDir.resolve(s"manifest-${UUID.randomUUID()}.json")
          Files.writeString(p, mapper.writeValueAsString(fs))
          manifestCache.put(p.toString, fs)
          m.copy(path = p.toString)
        }
      }
      s.copy(
        numBuckets = newNumBuckets,
        layouts = (s.layoutsList :+ newNumBuckets).distinct,
        manifests = ms,
        opKind = "metadata",
        summary = Map(
          "operation" -> "rebucket",
          "from-buckets" -> s.numBuckets.toString,
          "to-buckets" -> newNumBuckets.toString))
    }
  }

  /** Every file that can hold rows of key `key`, across ALL bucket-layout
    * eras: for each era the key's bucket id under that era's hash, plus any
    * unflushed L0 files, then [[KeyBloom]] skipping on top (a file without
    * a bloom always survives). Manifests whose bucket stats intersect no
    * candidate id are never opened. Callers must still row-filter on the
    * key (bloom false positives; bucket companions; bucket-spanning L0
    * rows). */
  def filesForKey(snap: Snapshot, key: String): Seq[DataFileMeta] = {
    val byLayout = snap.layoutsList.map(n => n -> LakeTable.bucketOf(key, n)).toMap
    val candidates = byLayout.values.toSet + LakeTable.L0Bucket
    snap.manifests
      .filter(_.buckets.exists(candidates.contains))
      .flatMap(m => loadManifest(m.path))
      .filter(f => f.bucket == LakeTable.L0Bucket || {
        // O(eras) key hashes total, not O(files): every well-formed stamp
        // is an era in layoutsList; an out-of-list stamp (foreign metadata)
        // falls back to a direct computation rather than mis-pruning
        val layout = LakeTable.layoutOf(f, snap)
        f.bucket == byLayout.getOrElse(layout, LakeTable.bucketOf(key, layout))
      })
      .filter(f => f.keyBloom == null || KeyBloom.mightContain(f.keyBloom, key))
  }

  /** The deduplicated union of [[filesForKey]] over `keys`: an n-key
    * lookup opens at most n× the files of a single lookup, never the
    * table, for O(keys × eras) driver-side hash/bloom probes. */
  def filesForKeys(snap: Snapshot, keys: Seq[String]): Seq[DataFileMeta] =
    keys.distinct.flatMap(k => filesForKey(snap, k)).distinctBy(_.path)

  /** Driver-side point read of the snapshot current at the call: the rows
    * whose `repo` is one of `keys`, from the files [[filesForKeys]] admits,
    * reconciled to that snapshot's schema by [[LakeTable.eraColumns]]
    * (widening casts run in the expression interpreter). Returns the
    * schema and the rows, unresolved (the caller folds LWW).
    *
    * Runs no Spark job: the candidate files are read with parquet-mr on the
    * driver, in parallel like [[stage]]'s footer reads, and the key set is
    * a parquet filter, so row groups and pages whose stats or dictionary
    * exclude every key are skipped and the rest are record-filtered. A few
    * hundred rows over a handful of files cost less to read here than one
    * Spark job costs to plan and schedule. */
  def readKeysLocal(keys: Seq[String]): (StructType, Seq[InternalRow]) = {
    val snap = snapshot
    val tz = Option(spark.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    val binKeys = keys.distinct.map(Binary.fromString)
    lazy val pred = FilterCompat.get( // no keys: no files, never built
      if (binKeys.sizeIs == 1) FilterApi.eq(FilterApi.binaryColumn("repo"), binKeys.head)
      else FilterApi.in(FilterApi.binaryColumn("repo"), binKeys.toSet.asJava))
    val reads = filesForKeys(snap, keys).groupBy(_.schemaId).toSeq.flatMap {
      case (sid, group) =>
        val era = snap.schemas.find(_.id == sid).get
        val eraSchema = StructType.fromDDL(era.ddl)
        val mapping = eraColumns(snap, era)
        // only the era columns the current schema still reads
        val requested = StructType(mapping.flatMap(_._2).map(eraSchema(_)))
        val project = mapping.map {
          case (f, Some(src)) =>
            val i = requested.fieldIndex(src)
            val ref = BoundReference(i, requested(i).dataType, nullable = true)
            if (ref.dataType == f.dataType) ref else Cast(ref, f.dataType, tz)
          case (f, None) => Literal(null, f.dataType)
        }
        val conf = parquetReadConf(requested)
        group.map(f => (f.path, conf, project))
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val rows = Await.result(
      Future.traverse(reads) { case (path, conf, project) =>
        Future {
          // row-based (not vectorized) reader; the engine's files come
          // from Spark >= 3 writers, so no calendar rebase applies
          val reader = ParquetReader
            .builder(new ParquetReadSupport(None, false,
              RebaseSpec(LegacyBehaviorPolicy.CORRECTED),
              RebaseSpec(LegacyBehaviorPolicy.CORRECTED)),
              new org.apache.hadoop.fs.Path(path))
            .withConf(conf).withFilter(pred).useRecordFilter().build()
          // copy: the reader reuses its row, and strings point into its pages
          try Iterator.continually(reader.read()).takeWhile(_ != null)
            .map(r => new GenericInternalRow(project.map(_.eval(r)).toArray).copy())
            .toVector
          finally reader.close()
        }
      }, 10.minutes)
    (snap.schema, rows.flatten)
  }

  /** A Hadoop conf for Spark's row-based parquet read support returning
    * `requested` — the settings its schema converter reads unconditionally,
    * taken from this session as Spark's own scan does. */
  private def parquetReadConf(requested: StructType): Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    Seq(SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => conf.set(e.key, spark.conf.get(e.key)))
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    conf
  }

  // ------------------------------------------------------------ named refs

  /** Named snapshot tags (Iceberg-style refs): `name -> version`. Stored in
    * an atomically-swapped `refs.json` sidecar — table-level MUTABLE state,
    * deliberately outside the append-only snapshot chain (re-pointing a tag
    * must not fabricate a data commit). */
  def tags: Map[String, Int] = {
    val p = metaDir.resolve("refs.json")
    if (!Files.exists(p)) Map.empty
    else mapper.readValue(Files.readString(p), classOf[java.util.Map[String, Integer]])
      .asScala.map { case (k, v) => k -> v.intValue }.toMap
  }

  /** Tag a retained snapshot as `name` (default: the current version).
    * Tagged history is pinned against [[expireSnapshots]]: a tag moves the
    * retention FLOOR — every snapshot at or after the oldest tag survives —
    * rather than carving holes in the contiguous version range the linear
    * metadata layout (and its binary searches) requires. Numeric names are
    * rejected: `VERSION AS OF` could not tell them from literal versions.
    * Cross-process races are last-tagger-wins (operator metadata, not
    * data). Returns the tagged version. */
  def setTag(name: String, version: Int = -1): Int = synchronized {
    require(name.nonEmpty && name.trim == name && !name.matches("-?\\d+"),
      // resolveVersion trims its spec, so a padded name could never
      // resolve — yet would still pin the retention floor forever
      s"tag name must be non-empty, non-numeric, without surrounding " +
        s"whitespace, got '$name'")
    require(version >= -1, s"version must be -1 (current) or a real version, got $version")
    val v = if (version == -1) currentVersion else version
    snapshotAt(v) // must exist and still be retained
    writeRefs(tags + (name -> v))
    v
  }

  /** Remove a tag; its history becomes expirable again. False if absent. */
  def deleteTag(name: String): Boolean = synchronized {
    val t = tags
    if (!t.contains(name)) false
    else { writeRefs(t - name); true }
  }

  /** Resolve a `VERSION AS OF` spec: an integer literal is a version, any
    * other string is a tag name (which must exist). */
  def resolveVersion(spec: String): Int = {
    val s = spec.trim
    if (s.matches("-?\\d+")) s.toInt
    else tags.getOrElse(s, throw new NoSuchElementException(
      s"no tag '$s' on $root (tags: ${tags.keys.toSeq.sorted.mkString(", ")})"))
  }

  private def writeRefs(refs: Map[String, Int]): Unit =
    atomicWriteMeta("refs.json", mapper.writeValueAsString(refs))

  private def readFiles(snap: Snapshot, files: Seq[DataFileMeta]): DataFrame = {
    val target = snap.schema
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], target)
    } else {
      files.groupBy(_.schemaId).map { case (sid, group) =>
        val era = snap.schemas.find(_.id == sid).get
        val df = spark.read.schema(StructType.fromDDL(era.ddl))
          .parquet(group.map(_.path): _*)
        df.select(eraColumns(snap, era).map {
          case (f, Some(src)) => col(src).cast(f.dataType).as(f.name)
          case (f, None) => lit(null).cast(f.dataType).as(f.name)
        }: _*)
      }.reduce(_ unionByName _)
    }
  }

  // --------------------------------------------------------------- writes

  /** Stage a DataFrame as new data files, INVISIBLE until a subsequent
    * commit references them through a manifest.
    *
    * For bucketed kinds ("base"/"delta") the frame must carry a `bucket`
    * column, which becomes the directory (not persisted into the files).
    * For kind "l0" the frame is written AS PARTITIONED — no bucket column,
    * no exchange of any sort: each input task streams straight into its own
    * file (the LSM L0 shape). The files get the [[LakeTable.L0Bucket]]
    * sentinel and are re-bucketed later by compaction. */
  /** @param layoutBuckets the bucket layout the frame's `bucket` column was
    *        computed under; -1 = the current snapshot's. Writers that hold a
    *        captured snapshot MUST pass its `numBuckets`: a concurrent
    *        [[rebucket]] between their bucket computation and this stage
    *        would otherwise mislabel the files' layout era. */
  def stage(df: DataFrame, schemaId: Int, kind: String = "base",
      layoutBuckets: Int = -1): Seq[DataFileMeta] = {
    val commitUuid = UUID.randomUUID().toString
    val dir = Paths.get(root, "data", commitUuid)
    if (kind == "l0") df.write.parquet(dir.toString)
    else df.write.partitionBy("bucket").parquet(dir.toString)
    val hasLsn = df.columns.contains("lsn")
    val hasRepo = df.schema.fields.exists(f =>
      f.name == "repo" && f.dataType == org.apache.spark.sql.types.StringType)
    val layout = if (layoutBuckets > 0) layoutBuckets else snapshot.numBuckets
    val listed0 = listParquet(dir, schemaId)
      .map(_.copy(kind = kind, layoutBuckets = layout))
    val listed =
      if (kind == "l0")
        listed0.map(_.copy(bucket = LakeTable.L0Bucket, layoutBuckets = 0))
      else listed0
    if (!hasLsn && !hasRepo) listed
    else {
      // footer reads are independent ~ms-scale IO — collect them in
      // parallel so stats never add measurable driver time to a commit
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      Await.result(
        Future.traverse(listed) { f =>
          Future {
            val (lo, hi, n, bloom, _) = footerStats(f.path, hasLsn, hasRepo)
            f.copy(minLsn = lo, maxLsn = hi, rows = n, keyBloom = bloom.orNull)
          }
        }, 10.minutes)
    }
  }

  /** Zero-copy in-place import — the 100 TB migration path (the shape of
    * Iceberg's `add_files`): register EXISTING parquet files as this
    * table's data without reading a single data page or running a single
    * Spark job. Per file: hard-link into the table's data dir (copy only
    * across filesystems) so the table owns the registered copy's lifecycle
    * (expire/GC reclaim it; the SOURCE path is never touched), lift stats
    * from the footer (rows, lsn min/max for range pruning, repo key bloom
    * for point-lookup skipping), then land ALL files in ONE atomic append
    * commit as L0 files: the rows are raw CDC events — merge-on-read
    * resolves them immediately (intra-file duplicates and tombstones
    * included), and `flushL0`/compaction migrates them into the bucket
    * layout lazily, exactly like streamed L0 ingest. O(files) parallel
    * footer reads + O(1) metadata; cost is independent of data volume.
    *
    * Every file must carry the full CDC envelope (merge keys, ordering
    * columns, `op`) — a missing envelope column would read as null and
    * silently drop rows at the tombstone filter, so it is rejected loudly.
    * All files in one call must share ONE parquet schema (checked against
    * each footer; call once per schema group otherwise). Payload columns
    * may differ from the table's: the table widens exactly like a merge
    * batch's schema would, and the files are pinned to a [[SchemaInfo]]
    * matching their exact schema so reads reconcile by field id. */
  def addFiles(paths: Seq[String],
      fence: Option[(String, Long)] = None): Snapshot = {
    require(paths.nonEmpty, "addFiles: no files given")
    // dedup by absolute path: the same source file passed twice (dir walk +
    // explicit arg) would be hard-linked and committed twice, doubling rows
    // in stats/changelog reads (r6 advice) — mirror filesForKeys' distinct
    val srcs = paths.map(p => Paths.get(p).toAbsolutePath.normalize).distinct
    srcs.foreach(p => require(Files.isRegularFile(p), s"addFiles: not a file: $p"))
    // schema from the first file's footer — driver-side IO, no data pages,
    // no Spark job (the listing/inference a spark.read would do)
    val fileSchema = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(srcs.head.toString),
        spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter()
        .convert(reader.getFooter.getFileMetaData.getSchema)
      finally reader.close()
    }
    val envelope = graft.cdc.MergeEngine.keyCols ++
      graft.cdc.MergeEngine.orderCols :+ "op"
    val missing = envelope.filterNot(fileSchema.fieldNames.contains)
    require(missing.isEmpty,
      s"addFiles: file(s) lack CDC envelope column(s) ${missing.mkString(", ")} " +
        s"(schema: ${fileSchema.toDDL}) — rows without key/ordering/op cannot " +
        "merge; ingest through LakeMerge.mergeBatch instead")
    // widen the table if the files carry new/wider columns, then pin the
    // files to a SchemaInfo matching their EXACT schema
    evolveSchema(fileSchema)
    val sid = snapshot.schemas.find(_.ddl == fileSchema.toDDL).map(_.id).getOrElse {
      commit { s =>
        if (s.schemas.exists(_.ddl == fileSchema.toDDL)) s // racing same-schema import
        else s.copy(
          schemas = s.schemas :+ SchemaInfo(s.schemas.map(_.id).max + 1,
            fileSchema.toDDL, LakeTable.assignFieldIds(s, fileSchema)),
          summary = Map("operation" -> "register-import-schema"),
          opKind = "metadata")
      }.schemas.find(_.ddl == fileSchema.toDDL).get.id
    }
    val dir = Paths.get(root, "data", s"add-${UUID.randomUUID()}")
    Files.createDirectories(dir)
    val hasLsn = fileSchema.fieldNames.contains("lsn")
    val hasRepo = fileSchema.fields.exists(f =>
      f.name == "repo" && f.dataType == org.apache.spark.sql.types.StringType)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val firstSchemaStr = new java.util.concurrent.atomic.AtomicReference[String]()
    val metas = Await.result(
      Future.traverse(srcs.zipWithIndex.toSeq) { case (src, i) =>
        Future {
          val linked = dir.resolve(f"import-$i%05d.parquet")
          try Files.createLink(linked, src)
          catch { case NonFatal(_) => Files.copy(src, linked); () }
          val (lo, hi, n, bloom, schemaStr) = footerStats(linked.toString, hasLsn, hasRepo)
          require(schemaStr.nonEmpty, s"addFiles: unreadable parquet footer: $src")
          firstSchemaStr.compareAndSet(null, schemaStr)
          require(schemaStr == firstSchemaStr.get,
            s"addFiles: $src has a different schema than ${srcs.head} — " +
              "import one schema group per call")
          DataFileMeta(linked.toString, LakeTable.L0Bucket, Files.size(linked),
            sid, kind = "l0", minLsn = lo, maxLsn = hi, rows = n,
            keyBloom = bloom.orNull, layoutBuckets = 0)
        }
      }, 10.minutes)
    appendCommit(metas, fence,
      summary = Map("operation" -> "add-files",
        "added-files" -> metas.size.toString,
        "added-bytes" -> metas.map(_.bytes).sum.toString))
  }

  /** Lift per-file statistics from the parquet footer — O(files added)
    * footer reads, never data pages: the lsn column's min/max plus the row
    * count (when `wantLsn`), the repo-key bloom from dictionary pages
    * (when `wantBloom`, see [[KeyBloom]]), and the file's parquet message
    * type string (schema-equality checks in [[addFiles]]). Unknown stats
    * degrade to the full range / no bloom (file never pruned), rows = -1
    * and an empty schema string. */
  private def footerStats(path: String, wantLsn: Boolean,
      wantBloom: Boolean): (Long, Long, Long, Option[String], String) =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        val rowCount = blocks.map(_.getRowCount).sum
        val schemaStr = reader.getFooter.getFileMetaData.getSchema.toString
        val bloom =
          if (!wantBloom) None
          else KeyBloom.liftDictionary(reader, "repo").flatMap(KeyBloom.build)
        val stats =
          if (!wantLsn) Seq.empty
          else blocks.flatMap(_.getColumns.asScala
            .find(_.getPath.toDotString == "lsn").map(_.getStatistics))
        if (stats.isEmpty || stats.exists(s => s == null || !s.hasNonNullValue))
          (Long.MinValue, Long.MaxValue, rowCount, bloom, schemaStr)
        else {
          val mins = stats.map(_.genericGetMin.asInstanceOf[Number].longValue())
          val maxs = stats.map(_.genericGetMax.asInstanceOf[Number].longValue())
          (mins.min, maxs.max, rowCount, bloom, schemaStr)
        }
      } finally reader.close()
    } catch { case NonFatal(_) => (Long.MinValue, Long.MaxValue, -1L, None, "") }

  private def listParquet(dir: Path, schemaId: Int): Seq[DataFileMeta] = {
    val out = Seq.newBuilder[DataFileMeta]
    graft.util.Fs.walk(dir).foreach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") && !name.startsWith(".") && !name.startsWith("_")) {
        val parent = p.getParent.getFileName.toString
        val bucket =
          if (parent.startsWith("bucket=")) parent.substring("bucket=".length).toInt else 0
        out += DataFileMeta(p.toString, bucket, Files.size(p), schemaId)
      }
    }
    out.result()
  }

  /** Write `files` as one manifest per bucket-group and return the metas.
    * Metadata bytes written = O(files), regardless of table size. */
  private def writeManifests(files: Seq[DataFileMeta], groups: Int): Seq[ManifestMeta] =
    files.groupBy(f => f.bucket % groups).toSeq.sortBy(_._1).map { case (g, fs) =>
      val p = metaDir.resolve(s"manifest-${UUID.randomUUID()}.json")
      Files.writeString(p, mapper.writeValueAsString(fs))
      manifestCache.put(p.toString, fs)
      ManifestMeta(p.toString, g, fs.size, fs.map(_.bytes).sum,
        fs.count(_.kind == "delta"), fs.map(_.bucket).distinct.sorted)
    }

  /** Optimistic, atomic commit: builds the next snapshot from the current
    * one and publishes it via hard-link creation (fails atomically if the
    * target version already exists → reload and retry). Prefer
    * [[appendCommit]] / [[rewriteCommit]]; use this directly only for
    * metadata-only changes (fences, schema, rollback). */
  def commit(build: Snapshot => Snapshot, maxRetries: Int = 10): Snapshot = {
    var attempt = 0
    while (true) {
      val cur = snapshot
      val built = build(cur)
      val next = built.copy(
        version = cur.version + 1,
        snapshotId = cur.snapshotId + 1,
        parentSnapshotId = cur.snapshotId,
        timestampMs = System.currentTimeMillis()
      )
      val tmp = metaDir.resolve(s".tmp-${UUID.randomUUID()}.json")
      Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(next))
      val target = metaDir.resolve(s"v${next.version}.metadata.json")
      try {
        Files.createLink(target, tmp) // atomic check-and-create
        Files.delete(tmp)
        writeHint(next.version)
        return next
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.delete(tmp)
          attempt += 1
          if (attempt > maxRetries)
            throw new IllegalStateException(s"commit contention: gave up after $maxRetries retries")
        // else loop: re-read current snapshot and rebuild
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append staged files: writes manifests for THEM ONLY (O(batch) metadata
    * bytes) and commits a snapshot referencing prior manifests unchanged.
    * Optionally advances an epoch fence and/or the table schemaId in the
    * same atomic commit. */
  def appendCommit(
      staged: Seq[DataFileMeta],
      fence: Option[(String, Long)] = None,
      schemaId: Option[Int] = None,
      summary: Map[String, String] = Map("operation" -> "append")
  ): Snapshot = {
    // manifest content doesn't depend on the current snapshot → write once,
    // reuse across optimistic-commit retries (no leaked manifests on retry)
    val groups = snapshot.manifestGroups
    val ms = writeManifests(staged, groups)
    commit { s =>
      s.copy(
        manifests = mergeSmallManifests(s.manifests ++ ms, s.manifestGroups),
        schemaId = math.max(s.schemaId, schemaId.getOrElse(s.schemaId)),
        fences = fence.fold(s.fences) { case (q, e) => s.fences.updated(q, e) },
        summary = summary,
        opKind = "append"
      )
    }
  }

  /** Size-tiered manifest-list maintenance: when a bucket-group accumulates
    * more than `maxPerGroup` manifests, merge its smallest ones into one.
    * Merged manifests tier geometrically, so a file's manifest entry is
    * rewritten O(log appends) times over the table's lifetime and the
    * manifest list (hence the snapshot JSON) stays O(log files) per group —
    * the Iceberg manifest-merge-on-append behavior. Data compaction
    * ([[rewriteCommit]]) consolidates harder, so under normal CDC operation
    * this is a backstop for append-only stretches. */
  private def mergeSmallManifests(
      all: Seq[ManifestMeta], groups: Int, maxPerGroup: Int = 8): Seq[ManifestMeta] =
    all.groupBy(_.group).toSeq.sortBy(_._1).flatMap { case (_, ms) =>
      if (ms.size <= maxPerGroup) ms
      else {
        val sorted = ms.sortBy(_.fileCount)
        val (small, big) = sorted.splitAt(ms.size - maxPerGroup / 2)
        val mergedFiles = small.flatMap(m => loadManifest(m.path))
        // all of one group → writeManifests emits exactly one manifest
        big ++ writeManifests(mergedFiles, groups)
      }
    }

  /** Replace exactly the files in `replacePaths` with `staged` (compaction
    * / rewrite at file granularity — a major compaction replaces every file
    * it resolved; a minor compaction replaces only the delta files it
    * merged).
    *
    * Concurrent-writer safety is inherent: a file committed to these
    * buckets AFTER the rewrite's read is not in `replacePaths`, so it is
    * kept — committed data can never be silently dropped under the
    * optimistic-retry model, it just stays a delta on top of the rewrite
    * (LWW resolution converges identically at the next read/compaction).
    *
    * `buckets` prunes which manifests are even opened; only manifests whose
    * bucket stats intersect are rewritten, the rest are reused by
    * reference. */
  /** @param opKind "rewrite" (default — state-preserving re-housing,
    *        invisible to changelog readers) or "replace" (INSERT OVERWRITE:
    *        the visible state CHANGES in a way no incremental delta can
    *        express, so changelog reads crossing it fail loudly and
    *        re-baseline — the rollback contract). */
  def rewriteCommit(
      buckets: Set[Int],
      replacePaths: Set[String],
      staged: Seq[DataFileMeta],
      summary: Map[String, String] = Map("operation" -> "rewrite"),
      opKind: String = "rewrite"
  ): Snapshot = {
    require(opKind == "rewrite" || opKind == "replace",
      s"rewriteCommit kind must be rewrite|replace, got $opKind")
    commit { s =>
      val (affected, untouched) = s.manifests.partition(_.buckets.exists(buckets.contains))
      val affectedFiles = affected.flatMap(m => loadManifest(m.path))
      val (replaced, kept) = affectedFiles.partition(f => replacePaths.contains(f.path))
      val ms = writeManifests(kept ++ staged, s.manifestGroups)
      s.copy(
        manifests = untouched ++ ms,
        summary = summary + ("replaced-files" -> replaced.size.toString),
        opKind = opKind
      )
    }
  }

  /** Replace the table's ENTIRE content with `staged` in one atomic commit.
    * Unlike [[rewriteCommit]] with a pre-listed replace set, the replaced
    * files are determined INSIDE the commit closure from the commit-time
    * snapshot, so rows committed concurrently between the caller's read and
    * this commit cannot survive an INSERT OVERWRITE (r6 advice: the
    * "entire content becomes the new rows" contract must hold under
    * concurrent writers — the optimistic retry re-runs this closure on the
    * advanced snapshot). */
  def replaceAllCommit(
      staged: Seq[DataFileMeta],
      summary: Map[String, String] = Map("operation" -> "replace-all")
  ): Snapshot =
    commit { s =>
      val replaced = s.manifests.map(_.fileCount).sum
      s.copy(
        manifests = writeManifests(staged, s.manifestGroups),
        summary = summary + ("replaced-files" -> replaced.toString),
        opKind = "replace"
      )
    }

  /** Read a specific set of this table's files (schema-reconciled like
    * [[read]]) — the minor-compaction input path. */
  def readSubset(files: Seq[DataFileMeta]): DataFrame =
    readFiles(snapshot, files)

  /** Metadata-pruned lsn-range scan: only files whose footer-lifted
    * [minLsn, maxLsn] stats intersect the range are opened (the S7
    * "clustering + file stats" contract — at 10^5 files a bounded range
    * touches a handful); the residual predicate is pushed into the scan. */
  def readLsnRange(lo: Long, hi: Long): DataFrame = {
    val snap = snapshot
    val pruned = filesOf(snap).filter(f => f.maxLsn >= lo && f.minLsn <= hi)
    readFiles(snap, pruned).where(col("lsn").between(lo, hi))
  }

  /** CDC-out / incremental scan: the change rows committed AFTER
    * `fromVersion` up to `toVersion` — an Iceberg-changelog-style read that
    * touches only the files those commits added, never the unchanged table.
    * Only `opKind == "append"` snapshots contribute (compaction rewrites and
    * minor merges re-house existing rows, they are not changes; the kind is
    * stamped structurally at the commit sites, never inferred from
    * free-form summaries), so a downstream consumer can chain off this
    * table incrementally: resolve-with-LWW over the returned rows = exactly
    * the net effect of the skipped-over commits. Both versions must still
    * be retained.
    *
    * A ROLLBACK inside the range genuinely changes visible state in a way
    * no incremental delta can express (rows un-happen), so it fails loudly:
    * the consumer must re-baseline from a full scan of `toVersion`. */
  def readChangesBetween(fromVersion: Int, toVersion: Int): DataFrame =
    readFiles(snapshotAt(toVersion),
      changedFilesByVersion(fromVersion, toVersion).flatMap(_._2))

  /** The change files of each version in (fromVersion, toVersion], with the
    * same append-only/rollback classification as [[readChangesBetween]]. */
  private def changedFilesByVersion(
      fromVersion: Int, toVersion: Int): Seq[(Int, Seq[DataFileMeta])] = {
    require(fromVersion <= toVersion, s"$fromVersion > $toVersion")
    (fromVersion + 1 to toVersion).map { v =>
      val snap = snapshotAt(v)
      if (snap.opKind == "rollback" || snap.opKind == "replace")
        throw new IllegalStateException(
          s"${snap.opKind} at v$v inside ($fromVersion, $toVersion]: incremental " +
            "reads cannot express rows that un-happened — re-baseline from a full scan")
      // the previous snapshot is only consulted for change-carrying commits
      // (v=1 is always "create" — snapshotAt(0) does not exist)
      if (snap.opKind != "append") v -> Seq.empty[DataFileMeta]
      else v -> addedFilesOf(snap, filesOf(snapshotAt(v - 1)).map(_.path).toSet)
    }
  }

  /** [[readChangesBetween]] plus a `_change_version` column stamping each
    * row with the version that committed it — the body of the SQL
    * `graft.ns.t.changes` inspection table. One scan per change-carrying
    * version (ranges are bounded by retention); rollback-in-range fails
    * loudly, non-append commits (compaction, metadata) contribute nothing.
    * The default starting version for consumers is [[changesFloor]]. */
  def readChangesWithVersion(fromVersion: Int, toVersion: Int): DataFrame = {
    val target = snapshotAt(toVersion)
    val frames = changedFilesByVersion(fromVersion, toVersion).collect {
      case (v, files) if files.nonEmpty =>
        readFiles(target, files).withColumn("_change_version", lit(v))
    }
    frames.reduceOption(_ unionByName _).getOrElse(
      readFiles(target, Nil).withColumn("_change_version", lit(0)))
  }

  /** The lowest `fromVersion` for which the full retained changelog is
    * readable: 0 on a fresh table (v1 is always the no-data "create"
    * commit), else the oldest retained version. */
  def changesFloor: Int =
    if (minVersionAvailable <= 1) 0 else minVersionAvailable

  /** The files ADDED by a snapshot relative to `beforePaths` — the change
    * unit [[readChangesBetween]] delivers and streaming admission control
    * counts. Only `opKind == "append"` commits carry changes (compaction
    * re-houses rows; metadata commits touch no data); both callers MUST
    * share this classification or capped batches would disagree with what
    * the batch read actually delivers. */
  def addedFilesOf(snap: Snapshot, beforePaths: Set[String]): Seq[DataFileMeta] =
    if (snap.opKind != "append") Nil
    else filesOf(snap).filterNot(f => beforePaths.contains(f.path))

  private def writeHint(v: Int): Unit =
    atomicWriteMeta("version-hint.text", v.toString)

  /** Write-temp-then-atomic-rename into metaDir: a crash leaves at worst an
    * orphaned dot-temp file (ignored by every reader), never a torn target. */
  private def atomicWriteMeta(fileName: String, content: String): Unit = {
    val tmp = metaDir.resolve(s".$fileName-${UUID.randomUUID()}")
    Files.writeString(tmp, content)
    Files.move(tmp, metaDir.resolve(fileName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  // ------------------------------------------- write-audit-publish sidecars
  // A WAP sidecar (`metadata/wap-<id>.json`) pins a set of STAGED files —
  // written, invisible to every reader, referenced by no snapshot — so the
  // audit window survives gcOrphans (which reclaims unreferenced staging
  // dirs) until the caller publishes or aborts. See LakeMerge.wapStage.

  private def wapPath(id: String): Path = {
    require(id.nonEmpty && id.matches("[A-Za-z0-9._-]+"),
      s"invalid wap id (letters/digits/._- only): $id")
    metaDir.resolve(s"wap-$id.json")
  }

  /** Persist a staged-file set under `id`. Refuses to overwrite a live
    * sidecar — ids are single-use until published/aborted. */
  def wapWrite(id: String, schemaId: Int, files: Seq[DataFileMeta]): Unit = {
    require(!Files.exists(wapPath(id)), s"wap '$id' already staged on $root")
    atomicWriteMeta(s"wap-$id.json",
      mapper.writeValueAsString(Map("schemaId" -> schemaId, "files" -> files)))
  }

  /** Load a staged sidecar: (schemaId at stage time, staged files). */
  def wapRead(id: String): (Int, Seq[DataFileMeta]) = {
    val p = wapPath(id)
    require(Files.exists(p),
      s"no staged wap '$id' on $root (staged: ${wapIds.mkString(", ")})")
    val node = mapper.readTree(Files.readString(p))
    val files = node.get("files").elements().asScala.map(f =>
      mapper.treeToValue(f, classOf[DataFileMeta])).toSeq
    (node.get("schemaId").asInt(), files)
  }

  def wapDelete(id: String): Unit = { Files.deleteIfExists(wapPath(id)); () }

  /** Ids of every live (staged, unpublished) WAP on this table. */
  def wapIds: Seq[String] =
    if (!Files.exists(metaDir)) Seq.empty
    else graft.util.Fs.list(metaDir).map(_.getFileName.toString)
      .filter(n => n.startsWith("wap-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("wap-").stripSuffix(".json")).sorted

  /** The staging-dir name (first path component under `data/`) holding a
    * data file, whatever its depth: bucketed files live at
    * `data/<uuid>/bucket=N/part.parquet`, L0 and imported files one level
    * shallower at `data/<uuid>/part.parquet` — a fixed
    * `getParent.getParent` misclassifies the shallow shapes (and once made
    * [[gcOrphans]] reclaim LIVE L0 dirs as orphans). None = the file is
    * not under this table's data dir. */
  private def stagingDirName(path: String): Option[String] = {
    val dataDir = Paths.get(root, "data")
    val p = Paths.get(path)
    if (p.startsWith(dataDir) && p.getNameCount > dataDir.getNameCount)
      Some(p.getName(dataDir.getNameCount).toString)
    else None
  }

  /** Staging dirs pinned by live WAP sidecars — spared by [[gcOrphans]]. */
  private def wapPinnedDirs: Set[String] =
    wapIds.flatMap(id => wapRead(id)._2.flatMap(f => stagingDirName(f.path))).toSet

  /** Exact file paths pinned by live WAP sidecars — spared by
    * [[expireSnapshots]]'s unreferenced-file sweep. */
  private def wapPinnedFiles: Set[String] =
    wapIds.flatMap(id => wapRead(id)._2.map(_.path)).toSet

  /** Evolve the table schema to accommodate `incoming`: additive columns are
    * appended as nullable; int→long / float→double widenings upgrade the
    * column type; anything else must match. Returns the (possibly new)
    * schemaId to stamp on files written with the merged schema. Registers
    * the new schema via an atomic commit if it changed. */
  def evolveSchema(incoming: StructType): Int = {
    val cur = snapshot
    val merged = LakeTable.mergeSchemas(cur.schema, incoming)
    if (merged.toDDL == cur.schema.toDDL) cur.schemaId
    else {
      val committed = commit { s =>
        val mergedNow = LakeTable.mergeSchemas(s.schema, incoming)
        if (mergedNow.toDDL == s.schema.toDDL) s
        else {
          val nid = s.schemas.map(_.id).max + 1
          s.copy(
            schemas = s.schemas :+ SchemaInfo(nid, mergedNow.toDDL,
              LakeTable.assignFieldIds(s, mergedNow)),
            schemaId = nid,
            summary = Map("operation" -> "evolve-schema"),
            opKind = "metadata"
          )
        }
      }
      committed.schemaId
    }
  }

  private def engineColumns: Set[String] =
    (graft.cdc.MergeEngine.keyCols ++ graft.cdc.MergeEngine.orderCols :+ "op").toSet

  /** Rename a payload column — METADATA ONLY (the Iceberg rename contract):
    * the column keeps its field id, so every existing file keeps being read
    * under the new name; no data is rewritten. Engine columns (merge key,
    * ordering, op) cannot be renamed — the merge semantics reference them
    * by name. Incoming batches still using the old name: pass
    * `aliases = Map(old -> new)` to `LakeMerge.mergeBatch` (the
    * renamed-field fallback). */
  def renameColumn(oldName: String, newName: String): Int = {
    require(!engineColumns.contains(oldName),
      s"cannot rename engine column $oldName (merge key/ordering/op)")
    val committed = commit { s =>
      val cur = s.schema
      require(cur.fieldNames.contains(oldName), s"no such column: $oldName")
      require(!cur.fieldNames.contains(newName), s"column exists: $newName")
      val renamed = StructType(cur.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val curIds = LakeTable.currentFieldIds(s)
      val nid = s.schemas.map(_.id).max + 1
      s.copy(
        schemas = s.schemas :+ SchemaInfo(nid, renamed.toDDL,
          curIds.map { case (n, i) => (if (n == oldName) newName else n) -> i }),
        schemaId = nid,
        summary = Map("operation" -> "rename-column",
          "from" -> oldName, "to" -> newName),
        opKind = "metadata")
    }
    committed.schemaId
  }

  /** Drop a payload column — metadata only; existing files keep the bytes
    * but no read returns them. Re-adding the same NAME later mints a fresh
    * field id, so the old data cannot resurrect (Iceberg drop contract). */
  def dropColumn(name: String): Int = {
    require(!engineColumns.contains(name),
      s"cannot drop engine column $name (merge key/ordering/op)")
    val committed = commit { s =>
      val cur = s.schema
      require(cur.fieldNames.contains(name), s"no such column: $name")
      val dropped = StructType(cur.fields.filterNot(_.name == name))
      val curIds = LakeTable.currentFieldIds(s)
      val nid = s.schemas.map(_.id).max + 1
      s.copy(
        schemas = s.schemas :+ SchemaInfo(nid, dropped.toDDL, curIds - name),
        schemaId = nid,
        summary = Map("operation" -> "drop-column", "column" -> name),
        opKind = "metadata")
    }
    committed.schemaId
  }

  // ------------------------------------------------- expiration & cleanup

  /** Oldest snapshot version whose metadata file still exists. */
  def minVersionAvailable: Int = {
    var v = 1
    val cur = currentVersion
    while (v < cur && !Files.exists(metaDir.resolve(s"v$v.metadata.json"))) v += 1
    v
  }

  /** Expire history older than the last `retainLast` snapshots and
    * physically reclaim everything only they referenced: expired
    * `v*.metadata.json` files, manifests unreferenced by any retained
    * snapshot, and data files unreferenced by any retained manifest.
    * Retained versions still time-travel; expired ones fail cleanly.
    *
    * This is the Iceberg `expireSnapshots` contract — without it,
    * merge-on-read compaction never frees storage (every replaced delta
    * stays referenced by some historical snapshot forever), which is
    * unbounded disk growth under continuous ingest.
    *
    * Concurrency contract: must not run concurrently with another
    * expire/GC. A concurrent DATA writer is safe only with a nonzero
    * `minAgeMs`: the sweep deletes any manifest/parquet unreferenced by a
    * retained snapshot, and a writer's staged-but-uncommitted files (and
    * manifests written just before its commit lands) are exactly that —
    * `minAgeMs` must exceed the writer's longest stage→commit window so
    * in-flight files are skipped by age (same race, same guard as
    * [[gcOrphans]]). The default 0 is for the engine's normal deployment:
    * the single foreachBatch loop that owns the table runs the sweep
    * between its own commits. */
  def expireSnapshots(retainLast: Int, minAgeMs: Long = 0L): ExpireResult = {
    val oldEnough = olderThan(minAgeMs)
    require(retainLast >= 1, "must retain at least the current snapshot")
    val cur = currentVersion
    // a named tag pins the retention floor: every snapshot at or after the
    // oldest tagged version survives (see setTag — floor, not holes)
    val tagFloor = tags.values.foldLeft(Int.MaxValue)(math.min)
    val minRetained =
      math.max(minVersionAvailable, math.min(cur - retainLast + 1, tagFloor))
    val retained = (minRetained to cur).map(snapshotAt)
    val keepManifests = retained.flatMap(_.manifests.map(_.path)).toSet
    // WAP-staged files are referenced by no manifest DELIBERATELY (staged,
    // unpublished) — the unreferenced-file sweep must spare them for as
    // long as their sidecar lives, age notwithstanding
    val keepFiles = keepManifests.flatMap(p => loadManifest(p).map(_.path)) ++
      wapPinnedFiles

    // 1. drop expired snapshot metadata (makes their versions unreadable
    //    BEFORE their files disappear — never a half-readable version)
    var expired = 0
    (minVersionAvailable until minRetained).foreach { v =>
      if (Files.deleteIfExists(metaDir.resolve(s"v$v.metadata.json"))) expired += 1
    }

    // 2. drop manifests referenced by no retained snapshot (includes
    //    leaked manifests from contended rewrite retries)
    val mDeleted = sweepUnreferencedManifests(keepManifests, oldEnough)

    // 3. drop data files referenced by no retained manifest, plus every
    //    sidecar (_SUCCESS, .crc) and directory in subtrees holding no
    //    surviving parquet — one walk, one bottom-up sweep
    val dataDir = Paths.get(root, "data")
    var fDeleted = 0
    var bytes = 0L
    if (Files.exists(dataDir)) {
      val all = graft.util.Fs.walk(dataDir)
      val keepDirs = scala.collection.mutable.Set[Path](dataDir)
      all.foreach { p =>
        if (!Files.isDirectory(p) &&
          (keepFiles.contains(p.toString) || !oldEnough(p))) {
          var d = p.getParent
          while (d != null && d != dataDir && keepDirs.add(d)) d = d.getParent
        }
      }
      all.reverse.foreach { p =>
        if (Files.isDirectory(p)) {
          if (p != dataDir && !keepDirs.contains(p))
            try Files.deleteIfExists(p)
            catch { case _: java.nio.file.DirectoryNotEmptyException => false }
          ()
        } else {
          val isParquet = p.getFileName.toString.endsWith(".parquet")
          val dead = ((isParquet && !keepFiles.contains(p.toString)) ||
            !keepDirs.contains(p.getParent)) && oldEnough(p) // sidecar in a dead subtree
          if (dead) {
            if (isParquet) bytes += (try Files.size(p) catch { case NonFatal(_) => 0L })
            if (Files.deleteIfExists(p) && isParquet) fDeleted += 1
          }
        }
      }
    }
    ExpireResult(expired, mDeleted, fDeleted, bytes)
  }

  /** Delete staged/orphaned data directories referenced by NO available
    * snapshot version — never-committed staging debris (the reference's
    * beam_bq_job_LOAD temp-table cleanup, `README.md:361-376`).
    *
    * `minAgeMs` guards against the single race this sweep has: a
    * concurrent writer's staged-but-not-yet-committed directory looks like
    * debris. With concurrent writers, pass an age comfortably above the
    * longest stage→commit window; the default 0 is for single-writer
    * maintenance (the engine's normal deployment: one streaming query owns
    * the table). */
  def gcOrphans(minAgeMs: Long = 0L): Int = {
    // [[stagingDirName]], not a fixed path depth: L0 and imported files sit
    // one level shallower than bucketed ones — the fixed-depth version of
    // this mapping reclaimed LIVE L0/import dirs as orphans. WAP-staged
    // dirs (referenced by no snapshot yet, by design) are pinned too.
    val referenced = (minVersionAvailable to currentVersion).flatMap { v =>
      filesOf(snapshotAt(v)).flatMap(f => stagingDirName(f.path))
    }.toSet ++ wapPinnedDirs
    val oldEnough = olderThan(minAgeMs)
    var n = 0
    val dataDir = Paths.get(root, "data")
    if (Files.exists(dataDir)) {
      graft.util.Fs.list(dataDir).foreach { d =>
        if (!referenced.contains(d.getFileName.toString) && oldEnough(d)) {
          graft.util.Fs.rmTree(d)
          n += 1
        }
      }
    }
    // manifest orphans: a lost optimistic-commit retry (rewrite/rebucket)
    // writes manifests no snapshot ever references. expireSnapshots sweeps
    // these too (its step 2) — but only when it runs; tables that never
    // expire history need this standalone sweep. Shared helper keeps the
    // two call sites' predicate/delete logic identical. The same age guard
    // protects a concurrent writer's just-written, not-yet-committed
    // manifests.
    val referencedManifests = (minVersionAvailable to currentVersion)
      .flatMap(v => snapshotAt(v).manifests.map(_.path)).toSet
    n += sweepUnreferencedManifests(referencedManifests, oldEnough)
    n
  }

  /** The age guard of [[expireSnapshots]] and [[gcOrphans]]: true when a
    * file was last modified at least `minAgeMs` before this call (always,
    * for `minAgeMs <= 0`). An unreadable mtime counts as young: the sweep
    * keeps the file. */
  private def olderThan(minAgeMs: Long): Path => Boolean = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    p => minAgeMs <= 0L ||
      (try Files.getLastModifiedTime(p).toMillis <= cutoff
      catch { case NonFatal(_) => false })
  }

  /** Delete every `manifest-*` file under the metadata dir that is not in
    * `keep` and passes the age guard; evicts the cache. Returns the count.
    * Shared by [[expireSnapshots]] (step 2) and [[gcOrphans]]. */
  private def sweepUnreferencedManifests(
      keep: Set[String], oldEnough: Path => Boolean): Int = {
    var deleted = 0
    graft.util.Fs.list(metaDir).foreach { p =>
      if (p.getFileName.toString.startsWith("manifest-") &&
          !keep.contains(p.toString) && oldEnough(p)) {
        if (Files.deleteIfExists(p)) { manifestCache.remove(p.toString); deleted += 1 }
      }
    }
    deleted
  }

  /** Per-bucket health stats of the current snapshot, from METADATA ONLY
    * (no Spark jobs, no file reads — operability surface for monitoring
    * read amplification and compaction debt at 10^5-file scale):
    * (bucket, base_files, delta_files, l0_files, base_bytes, delta_bytes,
    * read_amp) where read_amp = file sets a resolved read of the bucket
    * opens (base + deltas + table-wide L0 overlay). */
  def describe(): DataFrame = {
    val snap = snapshot
    val fs = filesOf(snap)
    val l0 = fs.count(_.kind == "l0")
    val rows = fs.filter(_.bucket != LakeTable.L0Bucket).groupBy(_.bucket)
      .toSeq.sortBy(_._1).map { case (b, bf) =>
        val base = bf.filter(_.kind == "base")
        val deltas = bf.filter(_.kind == "delta")
        (b, base.size.toLong, deltas.size.toLong, l0.toLong,
          base.map(_.bytes).sum, deltas.map(_.bytes).sum,
          (base.size + deltas.size + l0).toLong)
      }
    import spark.implicits._
    rows.toDF("bucket", "base_files", "delta_files", "l0_files",
      "base_bytes", "delta_bytes", "read_amp")
  }
}

object LakeTable {

  /** The one lake metadata format this engine writes and reads. */
  val FormatVersion: Int = 3

  /** Parsed snapshots one handle keeps (newest versions). */
  private val SnapshotCacheSize = 64

  /** Sentinel bucket id for L0 (unpartitioned, bucket-spanning) files. */
  val L0Bucket: Int = -1

  /** The bucket layout `f.bucket` was computed under: the file's explicit
    * era stamp, or the snapshot's current layout where implicit (every file
    * of a never-evolved table). */
  def layoutOf(f: DataFileMeta, snap: Snapshot): Int =
    if (f.layoutBuckets > 0) f.layoutBuckets else snap.numBuckets

  /** The table's partition function: hash-bucket of the key column. Owned
    * here (not by the merge layer) because reads must apply the SAME
    * expression to row-filter L0 files — one definition, no drift. */
  def bucketExpr(keyCol: org.apache.spark.sql.Column, numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keyCol), lit(numBuckets.toLong)).cast("int")

  /** Driver-side twin of [[bucketExpr]] for a single string key: the same
    * xxhash64 (same seed 42 as the `xxhash64` SQL function) evaluated
    * locally, so a point lookup costs ZERO Spark jobs beyond its pruned
    * scan (VERDICT r3 #5 — the old path launched a one-row job per lookup).
    * Parity with the Column expression is pinned by LakeTableSpec. */
  def bucketOf(key: String, numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(key),
      StringType, 42L)
    val n = numBuckets.toLong
    (((h % n) + n) % n).toInt
  }

  /** Field ids for an evolved schema: existing names keep the current
    * schema's id, added names mint fresh ids above every id ever used (ids
    * are never reused — the drop/re-add isolation depends on it). */
  private[lake] def assignFieldIds(s: Snapshot, merged: StructType): Map[String, Int] = {
    val curIds = currentFieldIds(s)
    var next = s.schemas.flatMap(_.fieldIds.values).foldLeft(0)(math.max)
    merged.fields.map { f =>
      f.name -> curIds.getOrElse(f.name, { next += 1; next })
    }.toMap
  }

  /** The current schema's field ids. */
  private[lake] def currentFieldIds(s: Snapshot): Map[String, Int] =
    s.schemas.find(_.id == s.schemaId).get.fieldIds

  /** How a file written in schema era `era` reads under `snap`'s current
    * schema: each current field, in order, with the era column it reads.
    * Reconciliation is by FIELD ID (renames keep reading old files; a
    * re-added name gets a fresh id and cannot resurrect old data); the
    * caller casts the column to the field's type (widening), and era
    * columns unknown to the current schema are not read (reference
    * `ignoreUnknownValues`). None = the field's id does not exist in that
    * era: read as null, NEVER fall back to a same-named column (a
    * dropped-then-re-added name would resurrect old data through it). */
  private[lake] def eraColumns(snap: Snapshot, era: SchemaInfo): Seq[(StructField, Option[String])] = {
    val targetIds = currentFieldIds(snap)
    val eraNames = StructType.fromDDL(era.ddl).fieldNames.toSet
    val byId = era.fieldIds.map(_.swap)
    snap.schema.fields.toSeq.map(f =>
      f -> byId.get(targetIds(f.name)).filter(eraNames.contains))
  }

  private[lake] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  /** Widening-only schema merge (SURVEY.md §7.5). */
  def mergeSchemas(cur: StructType, incoming: StructType): StructType = {
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (IntegerType, LongType) | (LongType, IntegerType) => LongType
      case (ShortType, IntegerType) | (IntegerType, ShortType) => IntegerType
      case (ShortType, LongType) | (LongType, ShortType) => LongType
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case (x, y) =>
        throw new IllegalArgumentException(s"incompatible schema evolution: $x vs $y")
    }
    val curByName = cur.fields.map(f => f.name -> f).toMap
    val widened = cur.fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case Some(in) => StructField(f.name, widen(f.dataType, in.dataType), nullable = true)
        case None => f
      }
    }
    val added = incoming.fields.filterNot(f => curByName.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    StructType(widened ++ added)
  }

  /** Create a new empty table (v1 snapshot, stamped with its creation time
    * like every commit). `properties` are immutable table-level markers
    * carried through every subsequent commit. */
  def create(spark: SparkSession, root: String, schema: StructType, numBuckets: Int,
      properties: Map[String, String] = Map.empty): LakeTable = {
    val metaDir = Paths.get(root, "metadata")
    Files.createDirectories(metaDir)
    val snap = Snapshot(
      formatVersion = FormatVersion,
      version = 1,
      snapshotId = 1L,
      parentSnapshotId = -1L,
      schemaId = 0,
      schemas = Seq(SchemaInfo(0, schema.toDDL,
        schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap)),
      numBuckets = numBuckets,
      manifestGroups = math.min(8, numBuckets),
      manifests = Nil,
      fences = Map.empty,
      watermarkCommit = null,
      watermarkLsn = Long.MinValue,
      summary = Map("operation" -> "create"),
      opKind = "create",
      properties = properties,
      timestampMs = System.currentTimeMillis()
    )
    val p = metaDir.resolve("v1.metadata.json")
    Files.writeString(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(snap))
    val t = new LakeTable(root, spark)
    t.writeHint(1)
    t
  }

  def load(spark: SparkSession, root: String): LakeTable = {
    require(exists(root), s"not a lake table: $root")
    new LakeTable(root, spark)
  }

  /** A table exists if its metadata dir holds a version hint or any
    * snapshot file (v1 may have been expired). */
  def exists(root: String): Boolean = {
    val md = Paths.get(root, "metadata")
    Files.exists(md.resolve("version-hint.text")) || {
      Files.isDirectory(md) &&
        graft.util.Fs.list(md).exists(
          _.getFileName.toString.matches("v\\d+\\.metadata\\.json"))
    }
  }
}
