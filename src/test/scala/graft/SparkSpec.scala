package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one per JVM, forked by sbt): the
  * same [[Session]] every main ships. */
object TestSpark {
  private[graft] val tempDirs = new java.util.concurrent.atomic.AtomicLong
  lazy val spark: SparkSession = {
    val s = Session()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
  /** A fresh directory under the scratch root the gates use, deleted with
    * it when the JVM exits. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createDirectory(graft.queries.Q.scratchRoot
      .resolve(s"$prefix-${TestSpark.tempDirs.incrementAndGet()}"))
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
  val sf0001 = "/root/testdata/sf0.001"
}
