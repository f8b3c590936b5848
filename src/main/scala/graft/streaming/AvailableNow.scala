package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** The one way the engine runs a stream: start it under
  * `Trigger.AvailableNow` — process everything its sources hold now,
  * then stop — and wait for the end. That drives a bounded fixture to
  * completion and is also the production backfill shape; a live
  * deployment changes only the trigger. */
object AvailableNow {
  /** Runs `df` to completion into the memory table `name` (a memory
    * sink needs one), or through `batch` as a `foreachBatch` sink.
    * `checkpoint` makes the query resumable: a later run over the same
    * location processes only what the earlier runs did not commit. */
  def run(df: DataFrame, outputMode: String = "append",
          name: Option[String] = None, checkpoint: Option[String] = None,
          batch: Option[(DataFrame, Long) => Unit] = None): Unit = {
    val w = df.writeStream.outputMode(outputMode)
    name.foreach(w.queryName)
    checkpoint.foreach(w.option("checkpointLocation", _))
    batch.fold(w.format("memory"))(w.foreachBatch(_))
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }
}
