package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch mutation semantics over immutable storage — the MERGE/upsert
  * story for a parquet-staged lake without a table format. Complements
  * [[Sessionize.scdIntervals]] (SCD-2 history): this is SCD-1, latest
  * version wins, no history kept.
  */
object Mutations {
  /** Key-wise upsert (SCD-1 MERGE): every key present in `changes`
    * replaces its base row; keys only in `base` survive unchanged; keys
    * only in `changes` are inserts. Both inputs must be key-unique (the
    * caller dedups first — e.g. [[Dedup.latestSnapshot]] for a CDC feed).
    *
    * Scale shape: one left-anti join on the key (both sides shuffle on
    * the same key — at 100 TB the base side's shuffle can be avoided
    * entirely by bucketing the base on the key, [[Staging.stageBucketed]])
    * + a union. No window, no full-table rewrite logic here: writers pair
    * this with partition-overwrite so only partitions containing changed
    * keys rewrite. */
  def upsert(base: DataFrame, changes: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "need at least one key column")
    base.join(changes.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(changes)
  }

  /** Incremental aggregate-state maintenance: merge a materialized
    * ADDITIVE aggregate state (counts / integer sums keyed by `keys`)
    * with a freshly aggregated delta — the pattern that turns "recompute
    * the daily rollup over the whole corpus" into "aggregate today's
    * partition and fold it in". Correct exactly when every measure is
    * additive (sum/count — avg and distinct must be carried as
    * sum+count / sketches); the merged state is bit-identical to a full
    * recompute because integer partial sums re-associate freely.
    *
    * Scale shape: union + one keyed hash-aggregate — the state side is
    * key-cardinality (small), the delta side is one partition's worth;
    * neither re-reads history. At 100 TB pair it with partition-overwrite
    * of only the touched state keys. */
  def mergeAggState(state: DataFrame, delta: DataFrame, keys: Seq[String],
                    sums: Seq[String]): DataFrame = {
    require(keys.nonEmpty && sums.nonEmpty, "need key and sum columns")
    val exprs = sums.map(c => sum(col(c)).as(c))
    state.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(exprs.head, exprs.tail: _*)
  }

  /** Snapshot diff — the "what changed between table versions?" audit
    * behind every publish gate and incremental-refresh validation: one
    * key-keyed FULL OUTER join of two versions, rows classified
    * added / removed / changed / unchanged, plus a per-tracked-column
    * change count (null-safe comparison, so NULL→value and value→NULL
    * both count as changes). One report row:
    * (n_added, n_removed, n_changed, n_unchanged, changed_<col>...).
    *
    * Scale shape: the join is the one corpus-scale shuffle, keyed by
    * the natural key both versions already share; everything after is
    * a map-side-combinable count aggregation. At 100 TB run it
    * partition-by-partition over the version pair's shared layout. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   tracked: Seq[String]): DataFrame = {
    require(keys.nonEmpty && tracked.nonEmpty, "need key and tracked columns")
    val o = oldDf.select((keys ++ tracked).map(col): _*)
      .withColumnsRenamed(tracked.map(c => c -> s"__o_$c").toMap)
      .withColumn("__in_o", lit(1L))
    val n = newDf.select((keys ++ tracked).map(col): _*)
      .withColumnsRenamed(tracked.map(c => c -> s"__n_$c").toMap)
      .withColumn("__in_n", lit(1L))
    val j = o.join(n, keys, "full_outer")
    val anyChanged = tracked.map(c =>
      !(col(s"__o_$c") <=> col(s"__n_$c"))).reduce(_ || _)
    val both = col("__in_o").isNotNull && col("__in_n").isNotNull
    // coalesce each sum: over two EMPTY versions (e.g. one partition of
    // a partition-by-partition 100 TB run) sum() is SQL NULL, and a
    // publish gate reading `n_changed == 0` must see 0, not NULL
    val aggs = (Seq(
      "n_added" -> sum(when(col("__in_o").isNull, 1L).otherwise(0L)),
      "n_removed" -> sum(when(col("__in_n").isNull, 1L).otherwise(0L)),
      "n_changed" -> sum(when(both && anyChanged, 1L).otherwise(0L)),
      "n_unchanged" -> sum(when(both && !anyChanged, 1L).otherwise(0L))) ++
      tracked.map(c => s"changed_$c" -> sum(when(both &&
        !(col(s"__o_$c") <=> col(s"__n_$c")), 1L).otherwise(0L))))
      .map { case (name, c) => coalesce(c, lit(0L)).as(name) }
    j.agg(aggs.head, aggs.tail: _*)
  }
}
