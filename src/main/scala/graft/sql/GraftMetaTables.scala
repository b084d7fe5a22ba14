package graft.sql

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** Driver-resident rows surfaced as a V2 [[LocalScan]]: Spark plans this as
  * a LocalTableScanExec — no job, no files opened. The right shape for
  * table METADATA, which is already O(manifest) and driver-held; a
  * distributed scan would serialize the same rows through a cluster for
  * nothing. */
final case class GraftLocalScan(schema: StructType, data: Array[InternalRow])
    extends LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = data
}

/** Iceberg-style inspection tables, resolved by [[GraftCatalog]] when a
  * multipart name extends a lake table by one trailing segment:
  * {{{
  *   SELECT * FROM graft.ns.t.snapshots   -- commit history (metadata only)
  *   SELECT * FROM graft.ns.t.files       -- current data files + footer stats
  *   SELECT * FROM graft.ns.t.fences      -- streaming query fences
  * }}}
  * A real table named like a metadata suffix always wins (the catalog
  * checks `LakeTable.exists` first). Everything here reads snapshot
  * manifests only — no data file is ever opened, so `…files` over a
  * million-file table is one manifest-list walk. */
final case class GraftMetaTable(path: String, kind: String)
    extends Table with SupportsRead {

  override def name(): String = s"$path#$kind"

  override def schema: StructType = GraftMetaTable.schemas(kind)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        GraftLocalScan(schema, GraftMetaTable.rows(SparkSession.active, path, kind))
    }
}

/** `SELECT * FROM graft.ns.t.changes` — the table's CHANGELOG as a batch
  * relation (Iceberg's changes metadata table): every change row the
  * retained `append` commits added, stamped with a `_change_version`
  * column, tombstones included (`op` is exposed — a changelog without
  * deletes is not a changelog). Unlike the other inspection tables this
  * reads DATA files, so it is not a LocalScan: [[GraftTableResolution]]
  * substitutes the relation with `LakeTable.readChangesWithVersion` at
  * analysis, pushing `_change_version` bound conjuncts
  * (`WHERE _change_version BETWEEN 5 AND 9`) into the VERSION-pruned read —
  * only those commits' files are ever opened. A rollback inside the
  * requested range fails loudly (same contract as the streaming source);
  * an explicit bound below the retention floor fails on the expired
  * snapshot read rather than silently truncating. */
final case class GraftChangesTable(path: String)
    extends Table with SupportsRead {

  override def name(): String = s"$path#changes"

  override def schema: StructType = {
    val snap = graft.lake.LakeTable.load(SparkSession.active, path).snapshot
    StructType(snap.schema.fields :+
      StructField("_change_version", IntegerType, nullable = false))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Never executed — [[GraftTableResolution]] substitutes the relation at
    * analysis (same contract as [[GraftTable]]'s scan). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftChangesTable.this.schema
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          throw new IllegalStateException(
            "graft changes tables resolve through the GraftTableResolution " +
              "analyzer rule; add spark.sql.extensions=graft.GraftExtensions " +
              "to the session config (or call graft.sql.GraftSql.attach(spark))")
      }
    }
}

/** `graft.ns.t.cdc` — the table's FULL CDC envelope as a relation, `op`
  * included (the read surface of the main table hides it):
  *
  *  - `INSERT INTO graft.ns.t.cdc SELECT …` ingests RAW change events —
  *    tombstones ('D' rows) delete, everything else upserts, all at the
  *    rows' own (commit, lsn) ordering. This is true CDC ingestion through
  *    SQL (the main table's INSERT stamps op='U' and cannot delete).
  *  - `SELECT … FROM graft.ns.t.cdc` reads the resolved STATE as CDC
  *    events: the per-key LWW winner whatever its kind — live rows AND
  *    winning tombstones, op exposed (what a full re-emission of the
  *    table's net content would send downstream).
  *
  * Column order: merge keys first, then the remaining envelope in schema
  * order (matches [[graft.cdc.MergeEngine.prunableStateView]]). */
final case class GraftCdcTable(path: String)
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = s"$path#cdc"

  override def schema: StructType = {
    val snap = graft.lake.LakeTable.load(SparkSession.active, path).snapshot
    val keys = graft.cdc.MergeEngine.keyCols
    StructType(
      keys.map(k => snap.schema.fields.find(_.name == k).getOrElse(
        throw new IllegalStateException(s"not a CDC lake table (no $k): $path"))) ++
        snap.schema.fields.filterNot(f => keys.contains(f.name)))
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, overwrite: Boolean) => {
              require(!overwrite,
                "INSERT OVERWRITE the .cdc relation is not supported — " +
                  "overwrite the base table instead")
              GraftDml.upsertCdc(data.sparkSession, path, data)
            }
        }
    }

  /** Never executed — [[GraftTableResolution]] substitutes the relation. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftCdcTable.this.schema
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          throw new IllegalStateException(
            "graft cdc tables resolve through the GraftTableResolution " +
              "analyzer rule; add spark.sql.extensions=graft.GraftExtensions " +
              "to the session config (or call graft.sql.GraftSql.attach(spark))")
      }
    }
}

/** `graft.ns.t.wap_<id>` — read-only WAP audit view: the table AS IF the
  * staged set `<id>` were published (current files ∪ staged files through
  * the same prunable LWW resolution as the base relation). The SQL audit
  * gate before `CALL graft.wap_publish`; substituted at analysis by
  * [[GraftTableResolution]]. */
final case class GraftWapTable(path: String, wapId: String)
    extends Table with SupportsRead {

  override def name(): String = s"$path#wap_$wapId"

  override def schema: StructType = GraftTable(path, None).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Never executed — [[GraftTableResolution]] substitutes the relation. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftWapTable.this.schema
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          throw new IllegalStateException(
            "graft wap audit views resolve through the GraftTableResolution " +
              "analyzer rule; add spark.sql.extensions=graft.GraftExtensions " +
              "to the session config (or call graft.sql.GraftSql.attach(spark))")
      }
    }
}

/** `graft.ns.m.view_<qid>` — TYPED read-back of a materialized view: the
  * mart query's current documents decoded against the result schema
  * recorded at `CALL graft.create_mart` time. Substituted at analysis by
  * [[GraftTableResolution]] with readDocs → from_json → project. */
final case class GraftMartViewTable(path: String, queryId: String, ddl: String)
    extends Table with SupportsRead {

  override def name(): String = s"$path#view_$queryId"

  override def schema: StructType = StructType.fromDDL(ddl)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  /** Never executed — [[GraftTableResolution]] substitutes the relation. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = GraftMartViewTable.this.schema
        override def toBatch: org.apache.spark.sql.connector.read.Batch =
          throw new IllegalStateException(
            "graft mart views resolve through the GraftTableResolution " +
              "analyzer rule; add spark.sql.extensions=graft.GraftExtensions " +
              "to the session config (or call graft.sql.GraftSql.attach(spark))")
      }
    }
}

object GraftMetaTable {
  val kinds: Set[String] = Set("snapshots", "files", "fences", "refs", "health")

  val schemas: Map[String, StructType] = Map(
    "snapshots" -> StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_snapshot_id", LongType, nullable = false),
      StructField("committed_at_ms", LongType, nullable = false),
      StructField("operation", StringType),
      StructField("schema_id", IntegerType, nullable = false),
      StructField("data_files", IntegerType, nullable = false),
      StructField("delta_files", IntegerType, nullable = false),
      StructField("summary", MapType(StringType, StringType)))),
    "files" -> StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("bucket", IntegerType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType),
      StructField("min_lsn", LongType),
      StructField("max_lsn", LongType),
      StructField("schema_id", IntegerType, nullable = false),
      StructField("layout_buckets", IntegerType, nullable = false))),
    "fences" -> StructType(Seq(
      StructField("query_id", StringType, nullable = false),
      StructField("last_epoch", LongType, nullable = false))),
    "refs" -> StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("version", IntegerType, nullable = false),
      StructField("snapshot_id", LongType))),
    // per-bucket health facts (LakeTable.describe — read amplification is
    // the statistic an operator watches to schedule compaction)
    "health" -> StructType(Seq(
      StructField("bucket", IntegerType, nullable = false),
      StructField("base_files", LongType, nullable = false),
      StructField("delta_files", LongType, nullable = false),
      StructField("l0_files", LongType, nullable = false),
      StructField("base_bytes", LongType, nullable = false),
      StructField("delta_bytes", LongType, nullable = false),
      StructField("read_amp", LongType, nullable = false))))

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def mapData(m: Map[String, String]) = {
    val sorted = m.toSeq.sortBy(_._1)
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      sorted.map(kv => utf8(kv._1)).toArray, sorted.map(kv => utf8(kv._2)).toArray)
  }

  def rows(spark: SparkSession, path: String, kind: String): Array[InternalRow] = {
    val t = LakeTable.load(spark, path)
    kind match {
      case "snapshots" =>
        (t.minVersionAvailable to t.currentVersion).iterator.map { v =>
          val s = t.snapshotAt(v)
          new GenericInternalRow(Array[Any](
            s.version, s.snapshotId, s.parentSnapshotId, s.timestampMs,
            utf8(s.opKind), s.schemaId, s.fileCount, s.deltaCount,
            mapData(s.summary)))
        }.toArray
      case "files" =>
        val snap = t.snapshot
        t.filesOf(snap).iterator.map { f =>
          new GenericInternalRow(Array[Any](
            utf8(f.path), f.bucket, utf8(f.kind), f.bytes,
            if (f.rows >= 0L) f.rows else null,
            if (f.minLsn != Long.MinValue) f.minLsn else null,
            if (f.maxLsn != Long.MaxValue) f.maxLsn else null,
            f.schemaId, LakeTable.layoutOf(f, snap)))
        }.toArray
      case "fences" =>
        t.snapshot.fences.toSeq.sortBy(_._1).iterator.map { case (q, e) =>
          new GenericInternalRow(Array[Any](utf8(q), e))
        }.toArray
      case "refs" =>
        t.tags.toSeq.sortBy(_._1).iterator.map { case (name, v) =>
          // a tagged version is always retained (setTag requires it, and
          // the tag pins the expiry floor)
          new GenericInternalRow(Array[Any](utf8(name), v, t.snapshotAt(v).snapshotId))
        }.toArray
      case "health" =>
        val fs = t.filesOf(t.snapshot)
        val l0 = fs.count(_.kind == "l0").toLong
        fs.filter(_.bucket != LakeTable.L0Bucket).groupBy(_.bucket)
          .toSeq.sortBy(_._1).iterator.map { case (b, bf) =>
            val base = bf.filter(_.kind == "base")
            val deltas = bf.filter(_.kind == "delta")
            new GenericInternalRow(Array[Any](
              b, base.size.toLong, deltas.size.toLong, l0,
              base.map(_.bytes).sum, deltas.map(_.bytes).sum,
              base.size + deltas.size + l0))
          }.toArray
      case other =>
        throw new IllegalArgumentException(s"unknown metadata table: $other")
    }
  }
}
