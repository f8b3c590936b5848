package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{AvailableNow, DurableState}

/** Structured Streaming over the events table (extension beyond reference
  * parity — the reference has no streaming surface, SURVEY §2.13).
  *
  * The batch q23 hourly aggregation upgraded to a stream: file source ->
  * event-time tumbling window + watermark -> sink. Locally the stream is
  * driven to completion with Trigger.AvailableNow, which is also the
  * production backfill story; a live deployment only changes the trigger.
  */
/** Final running totals per user, one emission per (user, micro-batch). */
final case class UserTotals(user_id: Long, n_events: Long, sum_cents: Long,
                            max_us: Long)

/** Carried state for [[RunningTotalsProcessor]]. */
final case class RunTotState(n: Long, cents: Long, maxUs: Long)

/** `StatefulProcessor` for [[EventStreams.runRunningTotals]]: one typed
  * `ValueState[RunTotState]` per user, folded over each batch's rows;
  * emits the updated running totals once per batch the user appears in.
  * State is three longs per key — bounded at any stream length. */
class RunningTotalsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), UserTotals] {
  import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM,
    TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var tot: ValueState[RunTotState] = _

  override def init(outputMode: OM, timeMode: TM): Unit =
    tot = getHandle.getValueState[RunTotState]("tot",
      Encoders.product[RunTotState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Long)],
                               timerValues: TimerValues): Iterator[UserTotals] = {
    val prev = if (tot.exists()) tot.get() else RunTotState(0L, 0L, Long.MinValue)
    var n = prev.n; var c = prev.cents; var m = prev.maxUs
    rows.foreach { case (_, cents, us) =>
      n += 1; c += cents; if (us > m) m = us
    }
    tot.update(RunTotState(n, c, m))
    Iterator.single(UserTotals(key, n, c, m))
  }
}

object EventStreams {
  /** Runs `body` (which starts + drains a streaming query) with a reduced
    * `spark.sql.shuffle.partitions`, restoring the session value after.
    *
    * Streaming state cost scales with the number of state-store instances:
    * every micro-batch pays a load/commit per partition per stateful
    * operator, so 32 partitions × few-MB state is pure overhead on a
    * bounded local run (the fixture's whole state fits in a handful of
    * stores). A live large-scale deployment raises this via
    * SPARK_GRAFT_STREAM_PARTITIONS (state partitioning is fixed at first
    * start by the checkpoint, so it's a deploy-time choice there).
    * Shuffle partitions for BATCH queries are untouched — the conf is
    * session-scoped and restored in the finally. */
  private def withStreamPartitions[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "8"))
    try body finally spark.conf.set(key, prev)
  }

  /** Streaming source over the events table, `ts` normalized to
    * TIMESTAMP (UTC micros) by [[Tables.eventTs]] as the batch loader
    * does. File-stream sources require a directory: the source points at
    * `dir` and glob-filters it to the events table. It also needs a
    * declared schema: for the single events file that is the file's
    * footer, read on the driver ([[Tables.footerSchema]]), so building
    * the source starts no Spark job; a wider `glob` (multi-file test
    * directories) keeps Spark's inference over the matching files. */
  def readEventStream(spark: SparkSession, dir: String,
                      glob: String = "events.parquet",
                      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val schema = Some(glob).filter(_ == "events.parquet")
      .flatMap(g => Tables.footerSchema(spark, s"$dir/$g"))
      .getOrElse(spark.read.option("pathGlobFilter", glob).parquet(dir).schema)
    val src = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n =>
      src.option("maxFilesPerTrigger", n.toString))
    Tables.eventTs(src.parquet(dir))
  }

  /** Drains `df` (built under [[withStreamPartitions]]) into the memory
    * table `name`, dropped first, and returns the table. */
  private def drain(spark: SparkSession, name: String, mode: String)
                   (df: => DataFrame): DataFrame = {
    spark.catalog.dropTempView(name)
    withStreamPartitions(spark) {
      AvailableNow.run(df, mode, name = Some(name))
    }
    spark.table(name)
  }

  /** Event-time tumbling 1-hour window aggregation with a 1-hour watermark.
    * State is keyed by (window, event_type) — bounded by the watermark, so
    * it holds at any scale; the shuffle key matches the aggregation key. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** [[hourlyAgg]] drained in append mode, the live-deployment shape: a
    * window row is emitted exactly once, when the watermark passes its
    * end, and its state is evicted. State and sink growth are bounded by
    * the watermark at any scale. On a bounded AvailableNow run the final
    * watermark is max(ts) - 1 hour, so the emitted set is precisely the
    * batch hourly aggregation restricted to windows with end <= that
    * cutoff (emission at exact equality is pinned in the unit suite's
    * boundary test). */
  def runHourlyAppend(spark: SparkSession, dir: String,
                      name: String = "graft_stream_hourly_append"): DataFrame =
    drain(spark, name, "append")(hourlyAgg(readEventStream(spark, dir))).select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
      col("event_type"), col("n"), round(col("sum_value"), 4).as("sum_value"))
      .orderBy("hour_ts", "event_type")

  /** Streaming twin of [[Sessionize.sessions]]: session_window aggregation
    * under a watermark, append mode (session windows don't support complete
    * — state must be evictable). On a bounded stream only sessions whose
    * end is at or before the final watermark are emitted; the unit suite
    * pins the emitted set equal to the batch sessions under that cutoff. */
  def runSessions(spark: SparkSession, dir: String,
                  gap: String = "30 minutes", watermark: String = "1 hour",
                  name: String = "graft_stream_sessions"): DataFrame =
    drain(spark, name, "append") {
      readEventStream(spark, dir)
        .withWatermark("ts", watermark)
        .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
    }

  /** One event type of the stream as (`id`, `ts`) under a 2-hour
    * watermark: a side of the conversion joins. */
  private def joinSide(spark: SparkSession, dir: String, eventType: String,
                       id: String, ts: String): DataFrame =
    readEventStream(spark, dir).filter(col("event_type") === eventType)
      .select(col("event_id").as(id), col("ts").as(ts))
      .withWatermark(ts, "2 hours")

  /** Stream-stream interval join: clicks within the hour after each signup
    * (the streaming twin of the batch range join, q52). Stream-stream
    * joins REQUIRE an equality predicate, which the same time-bucketing
    * that makes the batch range join linear provides for free: signups
    * explode to their window's covered hour buckets, clicks carry their
    * single bucket, and the join is bucket-equality plus the exact range
    * condition. Both sides carry watermarks so join state is evictable —
    * bounded by watermark + interval, not stream length. On the bounded
    * fixture the inner join emits exactly the batch pair set (watermarks
    * gate state eviction, not inner-join emission); pinned in the suite.
    * The pairs drain into the memory table like every other runner here,
    * so the driver holds every output row: the join's output grows with
    * signup×click density per hour bucket, and a corpus whose pair set
    * does not fit `spark.driver.maxResultSize` is out of scope. */
  def runConversionJoin(spark: SparkSession, dir: String,
                        name: String = "graft_stream_conv"): DataFrame = {
    val bkt = 3600000000L
    val signups = joinSide(spark, dir, "signup", "signup_id", "s_ts")
      .withColumn("bucket", explode(sequence(
        floor(unix_micros(col("s_ts")) / bkt).cast("long"),
        floor((unix_micros(col("s_ts")) + bkt - 1) / bkt).cast("long"))))
    val clicks = joinSide(spark, dir, "click", "click_id", "c_ts")
      .withColumn("bucket", floor(unix_micros(col("c_ts")) / bkt).cast("long"))
    val joined = signups.join(clicks, Seq("bucket"))
      .where(expr("c_ts >= s_ts AND c_ts < s_ts + INTERVAL 1 HOUR"))
      .select("signup_id", "click_id")
    drain(spark, name, "append")(joined)
  }

  /** Stream-stream LEFT OUTER interval join — [[runConversionJoin]]'s
    * missing half: every signup emits, matched or not, and the UNMATCHED
    * row can only leave the join state once the event-time watermark
    * proves no qualifying click can still arrive. That state-eviction
    * emission is the semantics this operator exists to exercise (inner
    * joins never hold a row back).
    *
    * Bucket shape: the OUTER (signup) side must appear exactly once —
    * [[runConversionJoin]]'s signup-side bucket explode would emit one
    * null row per bucket for a half-matched signup — so here the CLICK
    * side explodes into the (exactly two) 1-hour buckets whose signups
    * it could convert, signups keep their single home bucket, and the
    * time-range predicate rides INSIDE the join condition (a post-join
    * filter on an outer join would silently drop the null rows). A
    * (signup, click) pair meets in exactly one bucket — the signup's —
    * so no dedup is needed.
    *
    * Boundary, pinned empirically against the batch oracle: with both
    * watermarks at 2 h, a never-matched signup's null row is emitted on
    * the bounded run iff s_ts + 1 h (its last possible match time) is
    * ≤ the final global watermark min(max s_ts, max c_ts) − 2 h; later
    * signups stay in state and do NOT emit (the q71 closed-before-
    * watermark convention). NULL click_id surfaces as −1 so both
    * engines order identically. Drains like [[runConversionJoin]]. */
  def runConversionJoinOuter(spark: SparkSession, dir: String,
                             name: String = "graft_stream_conv_outer")
      : DataFrame = {
    val bkt = 3600000000L
    val signups = joinSide(spark, dir, "signup", "signup_id", "s_ts")
      .withColumn("s_bucket",
        floor(unix_micros(col("s_ts")) / bkt).cast("long"))
    val clicks = joinSide(spark, dir, "click", "click_id", "c_ts")
      .withColumn("c_bucket", explode(sequence(
        floor((unix_micros(col("c_ts")) - (bkt - 1)) / bkt).cast("long"),
        floor(unix_micros(col("c_ts")) / bkt).cast("long"))))
    val joined = signups.join(clicks,
        expr("s_bucket = c_bucket AND c_ts >= s_ts AND " +
          "c_ts < s_ts + INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("signup_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"))
    drain(spark, name, "append")(joined)
  }

  /** Streaming exact dedup: watermark-bounded state keyed by the dedup
    * column — the streaming face of [[Dedup.exact]]'s first stage. */
  def runDedup(spark: SparkSession, dir: String, keyCols: Seq[String],
               watermark: String = "1 hour",
               name: String = "graft_stream_dedup"): DataFrame =
    drain(spark, name, "append") {
      readEventStream(spark, dir)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    }

  /** Streaming sketch aggregation: KMV distinct-user estimates per
    * (1h window, event_type) via [[Sketches.KmvAgg]] — a custom mergeable
    * Aggregator inside a streaming groupBy, the bounded-state answer to
    * "distinct users per window" on an unbounded stream (exact distinct
    * state grows with cardinality; the sketch state is ≤ k longs per
    * group). Complete mode over the bounded fixture — the backfill shape;
    * a live deployment adds a watermark and append emission. The sketch
    * is deterministic (md5 bottom-k), so a batch DuckDB oracle recomputes
    * the identical estimate (q113). */
  def runKmvDistinct(spark: SparkSession, dir: String, k: Int = 32,
                     name: String = "graft_stream_kmv"): DataFrame = {
    import org.apache.spark.sql.Encoders
    drain(spark, name, "complete") {
      readEventStream(spark, dir)
        .select(window(col("ts"), "1 hour").as("w"), col("event_type"),
          Dedup.hash60(col("user_id").cast("string")).as("__h"))
        .groupBy("w", "event_type")
        .agg(udaf(new Sketches.KmvAgg(k), Encoders.scalaLong)(col("__h")).as("r"))
    }.select(
      date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
      col("event_type"), col("r.est_distinct").as("est_distinct"),
      col("r.n_seen").as("n_seen"), col("r.exact").as("exact"))
      .orderBy("hour_ts", "event_type")
  }

  /** Streaming heavy hitters: the [[graft.MisraGries]] mergeable sketch as
    * the streaming-state aggregator — per 1-hour window, a ≤k-counter
    * top-item summary folded across micro-batches (bounded state per
    * window at ANY key cardinality; the streaming twin of the q66 batch
    * two-pass). The fixture keys (event_type, 5 distinct) stay under
    * k = 16, where Misra-Gries degenerates to EXACT counts — which is
    * what makes the result oracle-comparable (the q66 convention).
    * Output: one row per (window, item) with its count, exploded from the
    * sketch map. */
  def runTopkCounts(spark: SparkSession, dir: String, k: Int = 16,
                    name: String = "graft_stream_topk"): DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import org.apache.spark.sql.{Encoder, Encoders}
    // same sketch, expression-encoded output so the sink column is a real
    // map<string,long> (kryo binary would not explode)
    val mg = new graft.MisraGries(k) {
      override def outputEncoder: Encoder[Map[String, Long]] =
        ExpressionEncoder()
    }
    drain(spark, name, "complete") {
      readEventStream(spark, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(udaf(mg, Encoders.STRING)(col("event_type")).as("mg"))
    }.select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
        explode(col("mg")).as(Seq("event_type", "cnt")))
      .orderBy("hour_ts", "event_type")
  }

  /** Streaming CDC apply via `foreachBatch` — the SINK half of the
    * mutation story: each micro-batch is merged into a parquet-backed
    * state table as (ts, event_id)-wins per key — the batch rows are
    * UNIONED with the current state and reduced by
    * [[Dedup.latestSnapshot]], so an out-of-order event arriving in a
    * later micro-batch cannot overwrite newer state (version-wins, not
    * batch-order-wins). The state lives in [[DurableState]] — the
    * crash-safe three-step rename swap this operator originated (r12
    * extracted it so the ingest loops share the device): every crash
    * point is recoverable. Unlike the ingest loops, the merge is NOT
    * gated on the commit marker: this query runs with a TEMP streaming
    * checkpoint, so batch ids restart at 0 on every invocation and a
    * marker gate would silently skip a resumed run's batches (pinned in
    * the unit suite). Replay safety needs no gate here — the
    * latest-wins merge is idempotent by algebra, re-merging the same
    * events is a no-op.
    * An existing `statePath` is the bootstrap state (resume semantics —
    * the caller owns the state lifecycle); absent, the first batch
    * creates it. Returns the final state table. Unit-pinned: streamed
    * state over a pre-seeded table equals the batch latest-wins merge of
    * the fixture onto that seed, and a stale seed row newer than every
    * streamed event survives. */
  def runCdcApply(spark: SparkSession, dir: String, statePath: String,
                  name: String = "graft_stream_cdc"): DataFrame = {
    DurableState.recover(statePath)
    withStreamPartitions(spark) {
      AvailableNow.run(readEventStream(spark, dir)
          .select(col("user_id").as("k"), col("event_id"), col("ts"), col("value")),
        name = Some(name), batch = Some { (batch: DataFrame, batchId: Long) =>
          DurableState.recover(statePath)
          val merged0 =
            if (new java.io.File(statePath).isDirectory)
              spark.read.parquet(statePath).unionByName(batch)
            else batch
          DurableState.commit(
            Dedup.latestSnapshot(merged0, Seq("k"), "ts", "event_id"),
            statePath, batchId)
          ()
        })
    }
    spark.read.parquet(statePath)
  }

  /** Per-user running totals via Spark 4's `transformWithState` — the
    * arbitrary-state successor to mapGroupsWithState ([[Sessionize
    * .statefulSessions]] keeps the legacy API for comparison): typed
    * `ValueState` per key in the RocksDB state store, one emission per
    * (user, micro-batch) carrying the running (n_events, sum_cents,
    * max_us). Cents are integer-quantized so the running sum is exact in
    * any arrival order (FIXTURES.md money convention).
    *
    * On a bounded run the LATEST emission per user (n_events strictly
    * increases, so max n_events = final) equals the batch per-user
    * aggregate — the oracle shape. Cross-batch accumulation is pinned in
    * the unit suite by splitting a crafted fixture into two files with
    * maxFilesPerTrigger=1. `glob` widens the file filter for such
    * multi-file test directories. */
  def runRunningTotals(spark: SparkSession, dir: String,
                       name: String = "graft_stream_tws",
                       maxFilesPerTrigger: Option[Int] = None,
                       glob: String = "events.parquet"): DataFrame = {
    import spark.implicits._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    // transformWithState requires the RocksDB provider; session-scoped,
    // restored after the bounded run
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val totals = try drain(spark, name, "append") {
      readEventStream(spark, dir, glob, maxFilesPerTrigger)
        .select(col("user_id"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new RunningTotalsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF()
    } finally prev match {
      case Some(v) => spark.conf.set(provKey, v)
      case None => spark.conf.unset(provKey)
    }
    Dedup.latestSnapshot(totals, Seq("user_id"), "n_events",
        "sum_cents")
      .select(col("user_id"), col("n_events"), col("sum_cents"), col("max_us"))
      .orderBy("user_id")
  }

  /** Stream-static enrichment join: the event stream joined per
    * micro-batch against a BATCH dimension table (the standard streaming
    * enrichment — no state, no watermark; the static side is re-resolved
    * each micro-batch). The dimension carries NO broadcast hint — the
    * catalog-dim policy: `customer` scales with SF, so the planner picks
    * broadcast from the parquet size stats at fixture scale (it is far
    * under autoBroadcastJoinThreshold) and a billion-row dimension
    * degrades to a shuffle join instead of OOMing every micro-batch.
    * Emits one enriched row per event in append mode, so a bounded run's
    * emitted set is exactly the batch join — the oracle is plain join SQL.
    * Inner join: fixture user ids all resolve; production would left-join
    * a late-arriving dimension. */
  def runStaticEnrich(spark: SparkSession, dir: String,
                      name: String = "graft_stream_enrich"): DataFrame =
    drain(spark, name, "append") {
      readEventStream(spark, dir)
        .join(Tables.t(spark, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"),
          col("c_mktsegment").as("segment"), col("value"))
    }

  /** Streaming PSI drift monitor: per event-time hour, the Population
    * Stability Index of that hour's `value` distribution against the
    * STATIC whole-table baseline — the production guardrail "did this
    * hour's traffic shift against yesterday's profile?". The baseline
    * bounds ride into the streaming plan as two double literals (the
    * bounded-driver-collect pattern); the stream aggregates
    * (hour, bin) counts — state bounded by hours × bins — and the
    * per-hour PSI is computed batch-side off the memory sink over the
    * hour-cardinality result with the [[Drift.psi]] smoothing and
    * 1e-8 fixed-point term quantization. */
  def runWindowedPsi(spark: SparkSession, dir: String, bins: Int = 10,
                     name: String = "graft_stream_psi"): DataFrame = {
    require(bins >= 2 && bins <= 1000, "bins must be in [2, 1000]")
    val base = graft.Tables.t(spark, dir, "events")
      .select(col("value").cast("double").as("v"))
    val b = base.agg(min("v"), max("v"), count(lit(1))).head
    val lo = b.getDouble(0); val hi = b.getDouble(1); val nTot = b.getLong(2)
    val width = (hi - lo) / bins
    // clamp BOTH sides: live traffic can land below the static baseline's
    // min (a canonical downward drift) — without the greatest() those rows
    // would take negative bins and fall off the dense spine join, silently
    // shrinking the very distribution shift the monitor exists to catch
    def binOf(c: Column): Column =
      greatest(least(floor((c - lit(lo)) / lit(width)), lit(bins - 1L)),
        lit(0L)).cast("long")
    val baseCounts = base.groupBy(binOf(col("v")).as("bin"))
      .agg(count(lit(1)).as("bc"))
    val hourly = drain(spark, name, "complete") {
      readEventStream(spark, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"),
          binOf(col("value").cast("double")).as("bin"))
        .agg(count(lit(1)).as("c"))
    }.select(
      date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
      col("bin"), col("c"))
    val hours = hourly.groupBy("hour_ts").agg(sum("c").as("n_hour"))
    val spine = hours.crossJoin(
      broadcast(spark.range(bins).select(col("id").as("bin"))))
    val dense = spine
      .join(hourly, Seq("hour_ts", "bin"), "left")
      .join(broadcast(baseCounts), Seq("bin"), "left")
      .select(col("hour_ts"), col("n_hour"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("bc"), lit(0L)).as("bc"))
    val p = (col("c") + 1).cast("double") / (col("n_hour") + bins).cast("double")
    val q2 = (col("bc") + 1).cast("double") / lit((nTot + bins).toDouble)
    dense
      .select(col("hour_ts"), col("n_hour"),
        round((p - q2) * log(p / q2) * lit(1e8), 0).cast("long").as("t"))
      .groupBy("hour_ts", "n_hour")
      .agg(round(sum("t").cast("double") / lit(1e8), 4).as("psi"))
      .select(col("hour_ts"), col("n_hour").as("n_events"), col("psi"))
      .orderBy("hour_ts")
  }

  /** Streaming sample-ratio-mismatch monitor: per event-time hour, the
    * chi-square of observed per-variant EVENT counts against the literal
    * design ratios (variant = the q170 modular user assignment) — the
    * "did the bucketing logger break mid-flight?" alarm, evaluated as
    * traffic arrives rather than at readout time. Stream state is
    * (hour, variant)-keyed counts; the chi-square runs batch-side off
    * the memory sink with 1e-6 fixed-point terms ([[Trend.srmCheck]]'s
    * quantization). */
  def runWindowedSrm(spark: SparkSession, dir: String,
                     design: Seq[(String, Double)] =
                       Seq("A" -> 0.5, "B" -> 0.3, "C" -> 0.2),
                     name: String = "graft_stream_srm"): DataFrame = {
    require(design.size == 3 &&
      math.abs(design.map(_._2).sum - 1.0) < 1e-9,
      "this monitor maps user_id % 10 onto exactly three variants " +
        "with ratios summing to 1")
    val variant = when(col("user_id") % 10 <= 4, design.head._1)
      .when(col("user_id") % 10 <= 7, design(1)._1).otherwise(design(2)._1)
    val hourly = drain(spark, name, "complete") {
      readEventStream(spark, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), variant.as("v"))
        .agg(count(lit(1)).as("o"))
    }.select(
      date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("hour_ts"),
      col("v"), col("o"))
    val hours = hourly.groupBy("hour_ts").agg(sum("o").as("n_hour"))
    // (hour × design) spine via Trend's shared helpers: an hour with ZERO
    // events for a variant still contributes its full (0−e)²/e term —
    // total starvation is the alarm case, not a dropped row
    val dense = hours
      .crossJoin(broadcast(Trend.designSpine(spark, design)))
      .join(hourly, Seq("hour_ts", "v"), "left")
      .select(col("hour_ts"), col("n_hour"), col("r"),
        coalesce(col("o"), lit(0L)).as("o"))
    dense
      .select(col("hour_ts"), col("n_hour"),
        Trend.chiSqTerm(col("o"),
          col("r") * col("n_hour").cast("double")).as("t"))
      .groupBy("hour_ts", "n_hour")
      .agg(round(sum("t").cast("double") / lit(1e6), 4).as("chi2"))
      .select(col("hour_ts"), col("n_hour").as("n_events"),
        lit(design.size - 1L).as("deg_free"), col("chi2"))
      .orderBy("hour_ts")
  }
}
