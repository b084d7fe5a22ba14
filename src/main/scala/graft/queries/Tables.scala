package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Declared read schemas for the bench/oracle parquet tables.
  *
  * `spark.read.parquet(path)` infers the schema by opening parquet footers
  * at RELATION-RESOLUTION time — measured at 55–85 ms per call, paid
  * inside every timed query's construction,
  * ~20 reads across the 16 headline queries ≈ 1 s of driver-side overhead
  * per bench run. Production tables declare their schema (catalog/metastore)
  * instead of re-inferring it per query; these constants are that catalog
  * for the fixed test tables. An explicit-schema read resolves in ~10 ms
  * and plans the identical scan (same columns, same types, same all-nullable
  * fields parquet inference yields — TablesSchemaSpec asserts equality
  * against inference on the real files, so drift fails loudly).
  */
object Tables {

  private def st(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })

  val schemas: Map[String, StructType] = Map(
    "lineitem" -> st(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "orders" -> st(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "customer" -> st(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "nation" -> st(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "region" -> st("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "part" -> st(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "events" -> st(
      "event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> st(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> st(
      "vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType, containsNull = true),
      "label" -> IntegerType)
  )

  /** Declared schema for a `<table>.parquet` path, when it is one of the
    * known test tables. */
  def schemaFor(path: String): Option[StructType] = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    if (base.endsWith(".parquet"))
      schemas.get(base.stripSuffix(".parquet"))
    else None
  }

  /** Read `path` with the declared schema when its basename names a known
    * test table, inferring otherwise — the ONE reader both [[read]] and
    * `Par.spreadRead` use. The basename match is deliberate and narrow:
    * only the 9 fixed `<table>.parquet` names resolve to a declared
    * schema, and TablesSchemaSpec pins those against the real files at
    * every scale factor. Derived/lake files never share these basenames;
    * anything else infers as before. */
  def reader(s: SparkSession, path: String): DataFrame =
    schemaFor(path).fold(s.read)(s.read.schema(_)).parquet(path)

  /** Read `dir/name.parquet` with the declared schema (falls back to
    * inference for tables outside the fixed set). */
  def read(s: SparkSession, dir: String, name: String): DataFrame =
    reader(s, s"$dir/$name.parquet")
}
