package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBus

/** The one dev entry point (not part of the driver contract):
  *
  * {{{
  * runMain graft.Dev time <sfDir> <iters> [query...]
  * runMain graft.Dev explain <sfDir> [query...]
  * runMain graft.Dev scale <srcDir> <dstDir> <copies>
  * }}}
  *
  *  - `time`: each iteration's wall (noop sink, as Bench), then the last
  *    iteration's shuffle write/read and spill bytes and its task and job
  *    counts, read by one listener — steady-state cost apart from first-run
  *    codegen/IO warmup, and the evidence behind PLANS.md's "one shuffle
  *    of X" claims.
  *  - `explain`: the formatted physical plan, to audit the scale-critical
  *    plan properties (PushedFilters, BroadcastHashJoin on small dims,
  *    ReusedExchange on self-joins, WholeStageCodegen spans; PLANS.md).
  *  - `scale`: a `copies`× fixture generated from `srcDir` (PLANS.md §sf1
  *    scale probe); compare scales by running `time` on both dirs.
  *
  * No query names means every registered query. The session is the
  * JVM's existing one when there is one (left running), else a
  * [[Session.local]] on `SPARK_GRAFT_CPUS` cores (default 32, as Bench).
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val existing = SparkSession.getDefaultSession
    val spark = existing.getOrElse {
      val s = Session.local(Session.cpus(32))
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def names(qs: List[String]) =
      if (qs.nonEmpty) qs else SparkEntry.queries.keys.toSeq.sorted
    try args.toList match {
      case "time" :: dir :: iters :: qs => time(spark, dir, iters.toInt, names(qs))
      case "explain" :: dir :: qs => explain(spark, dir, names(qs))
      case List("scale", src, dst, copies) => scale(spark, src, dst, copies.toInt)
      case _ => sys.error("usage: Dev time <sfDir> <iters> [query...] | " +
        "explain <sfDir> [query...] | scale <srcDir> <dstDir> <copies>")
    } finally if (existing.isEmpty) spark.stop()
  }

  private def time(spark: SparkSession, dir: String, iters: Int,
                   names: Seq[String]): Unit = {
    val write, read, spill, tasks, jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          tasks.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    println(f"${"query"}%-28s ${"wall_s per iteration"}%-24s " +
      f"${"shufW_MB"}%9s ${"shufR_MB"}%9s ${"spill_MB"}%9s ${"tasks"}%6s ${"jobs"}%5s")
    try names.foreach { n =>
      val walls = (1 to iters).map { _ =>
        Seq(write, read, spill, tasks, jobs).foreach(_.set(0))
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        ListenerBus.drain(sc)
        // Bench's hygiene: the next run starts with a clean block manager
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        dt
      }
      println(f"$n%-28s ${walls.map(t => f"$t%7.3f").mkString(" ")}%-24s " +
        f"${write.get / 1e6}%9.3f ${read.get / 1e6}%9.3f " +
        f"${spill.get / 1e6}%9.3f ${tasks.get}%6d ${jobs.get}%5d")
    } finally sc.removeSparkListener(listener)
  }

  private def explain(spark: SparkSession, dir: String,
                      names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"[explain] failed: ${e.getMessage}") }
    }

  private val KeyShift = 10000000000L

  /** `copies` key-shifted copies of the fixture tables in `src`, written
    * to `dst` in the fixture layout. Every per-copy key shifts by
    * i·10¹⁰, so joins stay consistent and key cardinalities scale with
    * the copies, while the fixed-cardinality dimensions (nation, region)
    * keep one copy — the TPC-H scaling law. Copy i > 0 prefixes document
    * text with the token `zq<i> ` (near- but not exact duplicates: the
    * dedup families see C(copies, 2) extra true near-dup pairs per
    * original doc) and jitters embeddings by a hash-seeded ±0.025 per
    * (copy, vector, dim), so clones stay near the original without tying
    * every top-k. Timestamps keep their span (denser events), so
    * streaming state bounds and watermarks are unchanged. */
  private def scale(spark: SparkSession, src: String, dst: String,
                    copies: Int): Unit = {
    def shifted(table: String, keys: Seq[String],
                salt: Option[String] = None,
                perturb: Option[String] = None): DataFrame = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until copies).map { i =>
        val keyed = keys.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * KeyShift)))
        val salted = salt match {
          case Some(c) if i > 0 =>
            keyed.withColumn(c, concat(lit(s"zq$i "), col(c)))
          case _ => keyed
        }
        perturb match {
          case Some(c) if i > 0 =>
            salted.withColumn(c, transform(col(c), (x, j) =>
              (x + lit(0.05f) *
                ((pmod(hash(keys.map(col): _*).cast("long") * lit(31L) +
                  j.cast("long") * lit(7L) + lit(i * 13L), lit(1000L))
                  .cast("float") / lit(1000f))
                  - lit(0.5f))).cast("float")))
          case _ => salted
        }
      }.reduce(_ unionByName _)
    }
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.read.parquet(s"$src/region.parquet"),
      "nation" -> spark.read.parquet(s"$src/nation.parquet"),
      "customer" -> shifted("customer", Seq("c_custkey")),
      "supplier" -> shifted("supplier", Seq("s_suppkey")),
      "part" -> shifted("part", Seq("p_partkey")),
      "orders" -> shifted("orders", Seq("o_orderkey", "o_custkey")),
      "lineitem" -> shifted("lineitem",
        Seq("l_orderkey", "l_partkey", "l_suppkey")),
      "events" -> shifted("events", Seq("event_id", "user_id")),
      "documents" -> shifted("documents", Seq("doc_id"), salt = Some("text")),
      "embeddings" -> shifted("embeddings", Seq("vec_id"),
        perturb = Some("embedding")))
    tables.foreach { case (t, df) =>
      // one flat FILE per table, as the fixtures are (the streaming
      // sources glob-filter on the file name "events.parquet", which a
      // directory layout would never match)
      val tmp = new java.io.File(s"$dst/__tmp_$t")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $t"))
      val target = new java.io.File(s"$dst/$t.parquet")
      if (target.exists()) target.delete()
      java.nio.file.Files.move(part.toPath, target.toPath)
      Staging.deleteRecursively(tmp)
    }
  }
}
