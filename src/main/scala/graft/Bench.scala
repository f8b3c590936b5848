package graft
import scala.jdk.CollectionConverters._
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    // Pin ALL bench temp I/O (streaming temp checkpoints, foreachBatch
    // parquet spills, staging dirs, executor shuffle spill) to one fixed
    // repo-local path instead of the shared /tmp: the streaming queries'
    // in-suite times swung up to 7× run-to-run with zero code change
    // because their source/checkpoint dirs landed in whatever corner of
    // /tmp the loaded host was churning (r10 verdict directive 6). The
    // dir is wiped per run — bench runs never resume checkpoints.
    val benchTmp = new java.io.File("target/bench_tmp")
    Staging.deleteRecursively(benchTmp)
    benchTmp.mkdirs()
    System.setProperty("java.io.tmpdir", benchTmp.getAbsolutePath)
    val spark = Session.local(cpus, "spark.local.dir" -> benchTmp.getAbsolutePath)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: run every query once at the bench SF, so the timed
    // pass measures steady-state data work — not Janino codegen, JIT
    // compilation of the hot loops, or cold page cache. Override with
    // SPARK_GRAFT_WARM_DIR (e.g. a smaller SF) to trade warmup fidelity for
    // bench wall-clock.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    if (!new java.io.File(warmDir).isDirectory)
      System.err.println(s"[bench] WARNING: warmup dir $warmDir missing — " +
        "first timed queries will absorb codegen/JIT cost")
    val selected = if (args.nonEmpty) SparkEntry.queries.filter(kv => args.contains(kv._1))
                   else SparkEntry.queries
    // Blocks pinned by finished queries (localCheckpoints whose final
    // handle is never unpersisted — CC results, the tf materialization)
    // accumulate across a 90-query suite and turn into GC pressure that
    // inflates LATER heavy queries: q61 measured 7.0 s in-suite vs 3.5 s
    // standalone before this hygiene. Each query is self-contained, so
    // dropping every persistent RDD between queries is always safe.
    // blocking = true: with blocking = false the actual block removal
    // runs ASYNCHRONOUSLY and lands inside the NEXT query's timed
    // window — measured as the q284 standalone-vs-in-suite gap (r10:
    // 3.5 s standalone vs 4.6 s in-suite with ZERO attributed GC; the
    // interference is the block manager, not the collector). Removal
    // now completes here, in the untimed gap.
    def dropLeftoverBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    selected.foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: $e")
      }
      dropLeftoverBlocks()
    }
    // Two full timed passes, min per query: single-shot timings on a
    // 32-thread box carry ±3s GC/scheduler noise on the heavy queries;
    // the min of two runs is the honest steady-state number.
    def timedPass(): Map[String, (Double, Boolean)] =
      selected.toSeq.sortBy(_._1).map { case (name, fn) =>
        // untimed hygiene: drop blocks of no-longer-referenced
        // localCheckpoint RDDs (ContextCleaner runs off GC) so earlier
        // queries' leftovers don't become GC pauses inside later timings
        System.gc()
        val t0 = System.nanoTime()
        // noop sink forces full evaluation of every output column (count()
        // would let Catalyst prune the computed columns out of the plan).
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] FAILED $name: $e")
            e.printStackTrace()
            false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        dropLeftoverBlocks() // untimed: next query starts with a clean block manager
        name -> ((dt, ok))
      }.toMap
    val p1 = timedPass()
    val p2 = timedPass()
    val results = selected.keys.toSeq.sorted.map { name =>
      val (t1, ok1) = p1(name); val (t2, ok2) = p2(name)
      (name, math.min(t1, t2), ok1 && ok2)
    }
    // The driver keeps only a 2000-char TAIL of stdout: round 3's 61-query
    // full-precision line overflowed it, and round 6's 190-query line
    // overflowed even with compact keys (BENCH_r06 "parsed": null) — at
    // ~11 bytes/entry the full map stops fitting near ~160 queries, ever.
    // So the printed line carries only the SLOWEST topN per-query entries
    // (the perf-audit targets; everything else is sub-second noise), and
    // the COMPLETE map goes to bench_full.json in the repo root, which
    // survives via git for round-over-round diffing (tools/bench_diff.py
    // reads it first).
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    // Two query names sharing a pre-underscore prefix would collide into one
    // JSON key and silently drop a timing — fail loudly instead.
    require(results.map(r => shortKey(r._1)).distinct.size == results.size,
      "duplicate short bench keys: " +
        results.map(r => shortKey(r._1)).groupBy(identity).collect { case (k, v) if v.size > 1 => k }.mkString(","))
    val topN = sys.env.getOrElse("SPARK_GRAFT_BENCH_TOPN", "40").toInt
    val qs = results.sortBy(-_._2).take(topN)
      .map { case (k, v, _) => s"\"" + shortKey(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullQs = results.map { case (k, v, _) => s"\"" + shortKey(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // A failed query's (short) time-to-throw must not deflate the headline
    // total: sum successes only; failures are listed in "failed" and keep
    // their per-query detail for diagnosis.
    val total = results.collect { case (_, v, true) => v }.sum
    // core24: subtotal of the original SURVEY §2.15 inventory (q01–q24) —
    // the set BASELINE.md's 60 s target was derived FROM, so it is the
    // number comparable across rounds as the extension suite grows.
    // n_queries/sec_per_query give the full-suite rate for the same reason.
    val core24 = results.collect {
      case (k, v, true) if k.matches("q(0[1-9]|1[0-9]|2[0-4])_.*") => v
    }.sum
    // rate over SUCCESSES only: total already excludes failures, so
    // dividing by results.size would deflate the rate exactly when
    // queries fail
    val nOk = results.count(_._3)
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","core24":${fmt(core24)},"n_queries":${results.size},"sec_per_query":${fmt(total / math.max(nOk, 1))}"""
    // the run's own config rides along (bench_full.json only), so a
    // record from an 8-core run can never pass for a 32-core one
    val gcNames = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map("\"" + _.getName + "\"").mkString("[", ",", "]")
    val maxHeapMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    val fullLine = s"""{$head,"queries":$fullQs,"failed":$failed,"sf":"$sfDir","cpus":$cpus,"max_heap_mb":$maxHeapMb,"gc":$gcNames}"""
    // full-suite runs only: dev subset runs must not clobber the round's
    // committed per-query record
    if (args.isEmpty) try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullLine) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_full.json write failed: $e")
    }
    // the "full" pointer is only honest when this run actually (re)wrote
    // the file — a subset run advertising a stale full map would send
    // bench_diff readers to another round's numbers
    val fullRef = if (args.isEmpty) "\"full\":\"bench_full.json\"," else ""
    val line =
      s"""{$head,"queries":$qs,"queries_are_top":$topN,$fullRef"failed":$failed,"sf":"$sfDir"}"""
    // Stop Spark BEFORE printing the contract line (r13 driver finding):
    // the streaming queries leave state-store maintenance threads whose
    // shutdown stack traces (StateStoreCoordinator/RpcEnvStopped) can land
    // on stdout AFTER the JSON and push it out of the driver's 2000-char
    // tail capture — the r13 8-core scaling run lost its whole block that
    // way. Printing after stop() makes the line the final stdout write.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: $e") }
    println(line)
  }
}
