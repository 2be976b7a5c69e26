package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one per JVM, forked by sbt): the
  * same [[Session]] every main ships. */
object TestSpark {
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
  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
  val sf0001 = "/root/testdata/sf0.001"
}
