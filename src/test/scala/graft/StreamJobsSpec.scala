package graft

import scala.jdk.CollectionConverters._
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
  private def jobsDuring(body: => Unit): Int = jobBatches(body).size

  /** The micro-batch of each Spark job started while `body` runs, read
    * from the `batch = N` line of the job description the stream sets
    * on its thread; None for a job outside any micro-batch. */
  private def jobBatches(body: => Unit): Seq[Option[Long]] = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]
    val batchLine = """batch = (\d+)""".r
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        batches.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .flatMap(batchLine.findFirstMatchIn(_)).map(_.group(1).toLong))
    }
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBus.drain(sc)
      batches.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  test("the q377 dedup-compact ingest loop at sf0.01 starts 19 jobs") {
    // two triggers, one mid-stream index compaction, the output read;
    // the same 19 on every run
    val n = jobsDuring {
      IngestStreams.runIngestDedupCompact(spark, sf001, "t_jobs_q377",
        cut0 = 300, cut1 = 450)
      ()
    }
    assert(n === 19)
  }

  test("each trigger of the plain q358 ingest loop at sf0.01 starts 6 jobs") {
    val perBatch = jobBatches {
      IngestStreams.runIngestDedup(spark, sf001, "t_jobs_q358",
        cut0 = 300, cut1 = 450)
      ()
    }.flatten.groupBy(identity).map { case (b, js) => b -> js.size }
    assert(perBatch === Map(0L -> 6, 1L -> 6))
  }

  test("VStage recover, exists and destroy start no job") {
    import spark.implicits._
    val b = "t_jobs_vstage"
    VStage.init(Seq((1L, "a")).toDF("k", "v"), b, "k")
    // the generation listing reads the session catalog on the driver
    assert(jobsDuring { VStage.recover(spark, b) } === 0)
    assert(jobsDuring { assert(VStage.exists(spark, b)) } === 0)
    assert(jobsDuring { VStage.destroy(spark, b) } === 0)
    assert(!VStage.exists(spark, b))
  }

  test("building an event-stream source starts no job") {
    // the schema comes from the events file's footer on the driver
    assert(jobsDuring { EventStreams.readEventStream(spark, sf); () } === 0)
  }
}
