package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column normalizations (SURVEY §2.5; reference `src/transformers.py:152-188`).
  *
  * All three are global-aggregate-parameterized scalar maps. Implementation:
  * one `agg(...)` over the frame producing a 1-row stats DataFrame, then a
  * broadcast cross-join back — deliberately NOT `Window.partitionBy()` (an
  * empty partition spec funnels the whole dataset through one task; the
  * agg+crossJoin shape keeps the scan parallel and broadcasts 1 row, which
  * survives a 1000-executor scale-up).
  */
object Normalize {
  private def withStats(df: DataFrame, stats: Seq[Column])(
      build: DataFrame => DataFrame): DataFrame =
    build(df.crossJoin(broadcast(df.agg(stats.head, stats.tail: _*))))

  private def dropStats(df: DataFrame, names: Seq[String]): DataFrame =
    df.drop(names: _*)

  /** N5 — min-max: (v - min) / (max - min); appends `<col>_norm`.
    * Constant column (max==min) -> NULL (pandas 0/0 -> NaN). */
  def minMax(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stats = cols.flatMap(c =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    withStats(df, stats) { j =>
      val out = cols.foldLeft(j)((d, c) => d.withColumn(s"${c}_norm",
        (col(c) - col(s"__min_$c")) / nullif(col(s"__max_$c") - col(s"__min_$c"), lit(0))))
      dropStats(out, cols.flatMap(c => Seq(s"__min_$c", s"__max_$c")))
    }
  }

  /** N6 — z-score: (v - mean) / stddev_samp. pandas std() is ddof=1 ->
    * stddev_samp, never stddev_pop (SURVEY §7.4.2). */
  def zScore(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stats = cols.flatMap(c =>
      Seq(avg(col(c)).as(s"__avg_$c"), stddev_samp(col(c)).as(s"__std_$c")))
    withStats(df, stats) { j =>
      val out = cols.foldLeft(j)((d, c) => d.withColumn(s"${c}_norm",
        (col(c) - col(s"__avg_$c")) / nullif(col(s"__std_$c"), lit(0))))
      dropStats(out, cols.flatMap(c => Seq(s"__avg_$c", s"__std_$c")))
    }
  }

  /** N7 — robust: (v - median) / IQR with exact linearly-interpolated
    * percentiles (pandas `quantile` semantics). `percentile_approx` would
    * silently break oracle parity (SURVEY §7.4.3), so the exact
    * `percentile` is the only path. It buffers every value of a column in
    * the partial aggregate; a column too large for that is out of scope. */
  def robust(df: DataFrame, cols: Seq[String]): DataFrame = {
    def pct(c: String, p: Double, alias: String): Column =
      percentile(col(c), lit(p)).as(alias)
    val stats = cols.flatMap(c => Seq(
      pct(c, 0.5, s"__med_$c"),
      pct(c, 0.75, s"__q3_$c"),
      pct(c, 0.25, s"__q1_$c")))
    withStats(df, stats) { j =>
      val out = cols.foldLeft(j)((d, c) => d.withColumn(s"${c}_norm",
        (col(c) - col(s"__med_$c")) / nullif(col(s"__q3_$c") - col(s"__q1_$c"), lit(0))))
      dropStats(out, cols.flatMap(c => Seq(s"__med_$c", s"__q3_$c", s"__q1_$c")))
    }
  }
}
