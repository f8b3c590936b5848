package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: a closed loop with a single client.
  *
  * Set-up builds the session, then one untimed pass writes every step's
  * result to parquet: it is both the warm-up and the output that `run.py`
  * checks against the DuckDB oracle. Set-up time runs from the JVM's start
  * to the first timed step, so it holds all a fresh process pays first.
  * The timed passes follow, each in its own seeded order, with every step
  * starting only after the previous one has finished. The run writes one
  * JSON record of raw timings (and, traced, raw listener events); all
  * statistics are computed by `run.py`.
  *
  * Usage: Main <workload> <seed> <passes> <trace 0|1> <fixture root>
  *             <payload tsv> <work dir> <record json>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, passesS, traceS, fixture, payload, workS, recordPath) = args
    val seed = seedS.toLong
    val passes = passesS.toInt
    val traced = traceS == "1"
    val steps = Workloads.all.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = new File(workS).getAbsoluteFile
    val tmp = new File(work, "tmp"); tmp.mkdirs()
    val verifyDir = new File(work, "verify").getPath
    val outDir = new File(work, "out").getPath
    System.setProperty("java.io.tmpdir", tmp.getPath)
    val cpus = Runtime.getRuntime.availableProcessors

    if (steps.contains(Workloads.censusApi)) registerPayload(payload)

    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp.getPath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1).write.format("noop").mode("overwrite").save()
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      spark.streams.addListener(t.streaming)
    }
    // Untimed hygiene between steps, as graft.Bench does: blocks pinned by
    // the previous step are removed (blocking, so the removal does not land
    // in the next timed window) and the heap is collected, so no step pays
    // for its predecessor's garbage.
    def dropLeftoverBlocks(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }

    val clock = new Clock
    val spans = Seq.newBuilder[Map[String, Any]]
    def span(name: String, parent: Int, startMs: Double, endMs: Double,
             attrs: Map[String, Any] = Map.empty, id: Int = clock.nextId()): Int = {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
      id
    }

    // Warm-up and correctness output: each step once, canonical order.
    val w0 = System.nanoTime()
    val warmFailures = steps.flatMap { st =>
      val err = try {
        val df = st.build(spark, s"$fixture/${st.scale}")
        if (st == Workloads.censusApi) st.exec(df, verifyDir)
        else df.coalesce(1).write.mode("overwrite").parquet(s"$verifyDir/${st.name}")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up ${st.name} failed: $e")
        Some(st.name)
      }
      dropLeftoverBlocks()
      err
    }
    val warmupS = (System.nanoTime() - w0) / 1e9

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gc(): (Long, Long) =
      (gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum,
       gcBeans.map(b => math.max(b.getCollectionCount, 0L)).sum)

    val runtime = ManagementFactory.getRuntimeMXBean
    val rows = Seq.newBuilder[Map[String, Any]]
    val runId = clock.nextId()
    val runStart = clock.nowMs()
    val setupS = (runStart - runtime.getStartTime) / 1e3
    for (p <- 1 to passes) {
      val order = new scala.util.Random(seed * 1000003L + p).shuffle(steps)
      val passStart = clock.nowMs()
      val passId = clock.nextId()
      for (st <- order) {
        val (gcMs0, gcN0) = gc()
        val q0 = clock.nowMs()
        var q1 = q0
        var analysisMs = 0L
        val ok = try {
          val df = st.build(spark, s"$fixture/${st.scale}")
          q1 = clock.nowMs()
          // Analysis of the result frame ran while the library built it,
          // before any listener could see it.
          if (traced) analysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs).getOrElse(0L)
          st.exec(df, outDir)
          true
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] FAILED ${st.name} (pass $p): $e")
          e.printStackTrace()
          false
        }
        val q2 = clock.nowMs()
        val (gcMs1, gcN1) = gc()
        val qId = span("query", passId, q0, q2, Map("query" -> st.name, "pass" -> p))
        span("query.build", qId, q0, q1)
        span("query.exec", qId, q1, q2)
        rows += Map("pass" -> p, "query" -> st.name, "ok" -> ok,
          "start_ms" -> q0, "end_ms" -> q2,
          "build_s" -> (q1 - q0) / 1e3, "exec_s" -> (q2 - q1) / 1e3,
          "gc_ms" -> (gcMs1 - gcMs0), "gc_count" -> (gcN1 - gcN0),
          "analysis_ms" -> analysisMs)
        dropLeftoverBlocks()
      }
      span("pass", runId, passStart, clock.nowMs(), Map("pass" -> p), id = passId)
    }
    span("run", -1, runStart, clock.nowMs(), id = runId)

    // The census source's read cost on its own, which the pipeline's plan
    // does not expose: a forced read of the payload, median of three.
    val censusReadS = if (traced && steps.contains(Workloads.censusApi)) {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Workloads.censusRead(spark).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(1)
    } else 0d

    val traceRaw = tracer.map { t =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      t.raw
    }
    val peakRssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "passes" -> passes, "traced" -> traced,
      "steps" -> steps.map(_.name), "scales" -> steps.map(st => st.name -> st.scale).toMap,
      "warmup_failures" -> warmFailures,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter(kv => steps.exists(_.name == kv._1)),
      "census_spec" -> Workloads.censusSpec, "census_read_s" -> censusReadS,
      "setup_s" -> setupS, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "timings" -> rows.result(), "spans" -> spans.result(),
      "peak_rss_kb" -> peakRssKb,
      "env" -> Map(
        "cpus" -> cpus, "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "jvm_args" -> runtime.getInputArguments.asScala.toSeq,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "gc" -> gcBeans.map(_.getName)),
      "trace" -> traceRaw.orNull)
    JsonMapper.builder().addModule(DefaultScalaModule).build()
      .writeValue(new File(recordPath), record)
    spark.stop()
  }

  /** The generated census payload: a header line, then one row per tract,
    * tab-separated, grouped into one partition per `state` value. */
  private def registerPayload(path: String): Unit = {
    val lines = Files.readAllLines(Paths.get(path)).asScala.toSeq
    val header = lines.head.split("\t", -1).toSeq
    val rows = lines.tail.map(_.split("\t", -1).toSeq)
    val state = header.indexOf("state")
    graft.sources.CensusPayloads.register(Workloads.CensusPayload, header,
      rows.groupBy(_(state)))
  }

  /** Epoch milliseconds with nanosecond resolution, comparable with the
    * millisecond timestamps of Spark's listener events. */
  private final class Clock {
    private val baseNs = System.nanoTime()
    private val baseMs = System.currentTimeMillis().toDouble
    private var lastId = 0
    def epochMs(nanoTime: Long): Double = baseMs + (nanoTime - baseNs) / 1e6
    def nowMs(): Double = epochMs(System.nanoTime())
    def nextId(): Int = { lastId += 1; lastId }
  }
}
