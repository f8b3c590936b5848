package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM session for all suites (SURVEY §5: local[4],
  * shuffle.partitions=4, UTC, ANSI off — the oracle-parity config). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"
  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
}

object SparkSpec {
  lazy val session: SparkSession =
    Session.local(4, "spark.sql.ansi.enabled" -> "false")
}
