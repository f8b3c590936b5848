package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Staging

/** Crash-safe parquet state for foreachBatch drivers — the q327 CDC
  * sink's three-step rename swap, extracted so every stateful streaming
  * loop ([[EventStreams.runCdcApply]], [[IngestStreams]]' cluster /
  * split-assignment state) shares one audited device instead of a
  * driver-held `var`:
  *
  *   1. write the new state to `<path>.tmp` (the merge plan READS the
  *      live dir, so the new state must materialize elsewhere first),
  *   2. rename the live dir aside to `<path>.old`,
  *   3. rename `.tmp` in, then drop `.old`.
  *
  * [[recover]] repairs any crash point: a leftover `.tmp` is an
  * incomplete write (discard); `.old` with no live dir means the crash
  * hit between rename-aside and move-in (restore); `.old` alongside a
  * live dir means the crash hit before the final cleanup (drop it). Each
  * rename is a single directory move on one filesystem — atomic on
  * POSIX, and the same protocol HDFS/cloud commit protocols use.
  *
  * Exactly-once across micro-batch RETRIES rides on a commit marker: the
  * committed `batchId` is written INTO the swapped dir (an `_`-prefixed
  * file, invisible to parquet readers), so state and marker move
  * atomically together. A foreachBatch body gates on
  * `batchId > committedBatch(path)` — a re-delivered micro-batch (sink
  * succeeded, checkpoint offset commit didn't) skips cleanly instead of
  * double-applying, and a driver restart resumes from the last swapped
  * state, keyed to the streaming checkpoint's own batch numbering. */
object DurableState {
  private val Marker = "_graft_commit"

  /** Repair a crash at any point of the swap (idempotent; call before
    * every read of the state and at the top of every micro-batch). */
  def recover(statePath: String): Unit = {
    val tmp = new java.io.File(statePath + ".tmp")
    val old = new java.io.File(statePath + ".old")
    if (tmp.exists()) Staging.deleteRecursively(tmp)
    if (old.exists()) {
      if (new java.io.File(statePath).exists()) Staging.deleteRecursively(old)
      else Files.move(Paths.get(statePath + ".old"), Paths.get(statePath))
    }
    ()
  }

  /** Whether a live (recovered) state dir exists. */
  def exists(statePath: String): Boolean = {
    recover(statePath)
    new java.io.File(statePath).isDirectory
  }

  /** The last committed batch id, or -1 when none was recorded (a fresh
    * bootstrap commit, a pre-seeded dir, or no state at all). */
  def committedBatch(statePath: String): Long = {
    val m = new java.io.File(statePath, Marker)
    if (m.isFile)
      new String(Files.readAllBytes(m.toPath), "UTF-8").trim.toLong
    else -1L
  }

  /** Swap `df` in as the new state, recording `batchId` as committed.
    * `df` may read the CURRENT state dir — it materializes fully into
    * `.tmp` before the live dir is touched. Use `batchId = -1` for the
    * bootstrap (pre-stream) state so streaming batch 0 still applies.
    * Self-recovering: a stale `.old`/`.tmp` from a prior crash is
    * repaired on entry (without it, the rename-aside below would throw
    * FileAlreadyExistsException on a leftover `.old` — callers that
    * commit a path they never load, e.g. the fold's base re-commit,
    * would otherwise depend on someone else having recovered it).
    *
    * Returns the committed ROW COUNT, observed on the write itself
    * (r14, guide §1.2: the patch-log loops' size-triggered fold needed
    * the new state's cardinality and re-read the swapped parquet with a
    * separate count() job per trigger; an [[Observation]] rides the
    * write's own pass for free). */
  def commit(df: DataFrame, statePath: String, batchId: Long): Long = {
    recover(statePath)
    val tmpPath = statePath + ".tmp"
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, org.apache.spark.sql.functions
        .count(org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("overwrite").parquet(tmpPath)
    Files.write(Paths.get(tmpPath, Marker),
      batchId.toString.getBytes("UTF-8"))
    val live = new java.io.File(statePath)
    if (live.exists())
      Files.move(Paths.get(statePath), Paths.get(statePath + ".old"))
    Files.move(Paths.get(tmpPath), Paths.get(statePath))
    Staging.deleteRecursively(new java.io.File(statePath + ".old"))
    obs.get("rows").asInstanceOf[Long]
  }

  /** Read the live state. Path-based (not catalog) parquet reads list
    * files at DataFrame creation, so each micro-batch sees the latest
    * swap — no cloned-session relation-cache hazard (TESTDATA q358
    * lesson applies to catalog tables only). Self-recovering: a crash
    * between rename-aside and move-in leaves only `.old`, which would
    * fail this read until repaired. */
  def load(spark: SparkSession, statePath: String): DataFrame = {
    recover(statePath)
    spark.read.parquet(statePath)
  }

  /** Drop the state (fresh-run initialization). */
  def destroy(statePath: String): Unit =
    Seq("", ".tmp", ".old").foreach(s =>
      Staging.deleteRecursively(new java.io.File(statePath + s)))
}
