package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM session for all suites (SURVEY §5: local[4],
  * shuffle.partitions=4, UTC, ANSI off — the oracle-parity config). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"
  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** `body` run with the session confs `kv` set, the previous values
    * restored after. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, p) =>
      p.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body` run with every sized bucket count ([[Staging.sizedBuckets]])
    * at `n`: `n` shuffle partitions and a 1-byte advisory partition
    * size. */
  def withBuckets[T](n: Int)(body: => T): T =
    withConfs("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1")(body)
}

object SparkSpec {
  lazy val session: SparkSession =
    Session.local(4, "spark.sql.ansi.enabled" -> "false")
}
