package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.ListenerBus
import graft.streaming.IngestStreams

/** Job counts of the streaming layer, counted by a listener after
  * [[ListenerBus.drain]]: a job is the unit of fixed cost at fixture
  * scale, so a change that adds one to a per-trigger step shows here. */
class StreamJobsSpec extends SparkSpec {
  private val sf001 =
    new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath

  /** Spark jobs started while `body` runs (streaming micro-batches
    * included: they run on the same SparkContext). */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBus.drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("the q377 dedup-compact ingest loop at sf0.01 starts 22 jobs") {
    // two triggers, one mid-stream index compaction, the output read;
    // the same 22 on every run
    val n = jobsDuring {
      IngestStreams.runIngestDedupCompact(spark, sf001, "t_jobs_q377",
        cut0 = 300, cut1 = 450)
      ()
    }
    assert(n === 22)
  }

  test("building an event-stream source starts no job") {
    // the schema comes from the events file's footer on the driver
    assert(jobsDuring { EventStreams.readEventStream(spark, sf); () } === 0)
  }
}
