package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite, lazily). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `f` and counts the Spark jobs it started: job ids are
    * sequential, so the ids of two sentinel jobs bound every job started
    * between them (a listener would see jobs only asynchronously). */
  def jobsDuring[A](f: => A): (A, Int) = {
    def sentinel(): Int = {
      val job = spark.sparkContext.parallelize(Seq(1), 1).countAsync()
      job.get()
      job.jobIds.head
    }
    val s0 = sentinel()
    val a = f
    (a, sentinel() - s0 - 1)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
