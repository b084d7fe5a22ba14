package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Correctness gates that share no code with the engine under test. */
object Checks {

  /** Order-free digest of a DataFrame: row count plus a sha256 over the sum
    * of per-row sha256 values. Doubles are compared at 9 significant
    * digits, so a different summation order cannot flip the digest. */
  def digest(df: DataFrame): (Long, String) = {
    val cells = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = sha2(concat_ws("\u0001", cells: _*), 256)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)),
        sum(conv(substring(col("h"), 1, 15), 16, 10).cast("decimal(38,0)")),
        sum(conv(substring(col("h"), 16, 15), 16, 10).cast("decimal(38,0)")))
      .collect()(0)
    val n = r.getLong(0)
    val folded = s"$n:${Option(r.get(1)).getOrElse(0)}:${Option(r.get(2)).getOrElse(0)}"
    (n, org.apache.commons.codec.digest.DigestUtils.sha256Hex(folded))
  }

  private def canon(c: Column, t: DataType): Column = {
    val s = t match {
      case DoubleType | FloatType => format_string("%.8e", c.cast("double"))
      case _: ArrayType | _: StructType | _: MapType => to_json(c)
      case _ => c.cast("string")
    }
    coalesce(s, lit("\u0000"))
  }

  /** The LWW final state computed straight from the binlog with a window
    * rank — no MergeEngine, no lake table: winner per (repo, path) by
    * (commit, lsn), tombstones dropped. */
  def lwwOracle(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("repo"), col("path"))
      .orderBy(col("commit").desc, col("lsn").desc)
    events.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && col("op") =!= "D")
      .select(StateCols.map(col): _*)
  }

  val StateCols: Seq[String] = Seq("repo", "path", "commit", "lsn", "lang", "content")

  /** Per staged segment file: the key of its newest event whose newest
    * event in that segment is not a tombstone, with that event's lsn and
    * content sha256 — what a lookup right after publishing must return. */
  def newestLiveKeyPerSegment(spark: SparkSession,
      staged: String): Map[String, (String, String, Long, String)] = {
    val ev = spark.read.schema(graft.cdc.CdcStream.binlogSchema).parquet(staged)
      .withColumn("file", element_at(split(input_file_name(), "/"), -1))
    val w = Window.partitionBy(col("file"), col("repo"), col("path")).orderBy(col("lsn").desc)
    ev.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("op") =!= "D")
      .groupBy(col("file"))
      .agg(max_by(struct(col("repo"), col("path"), col("lsn"), sha2(col("content"), 256)),
        col("lsn")).as("w"))
      .select(col("file"), col("w.*"))
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2), r.getLong(3), r.getString(4))))
      .toMap
  }
}
