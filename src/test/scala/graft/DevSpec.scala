package graft

import org.apache.spark.sql.functions._

/** Smoke pins for the dev entry point: `scale` writes a consistent
  * key-shifted fixture, and `explain`/`time` run on it; `time` prints
  * task and job counts. */
class DevSpec extends SparkSpec {

  test("Dev scale doubles every keyed table and its keys, keeps the " +
      "dimensions, salts copy 1's text; explain and time run on the result") {
    spark // Dev runs inside the suite's session when one exists
    val dst = java.nio.file.Files.createTempDirectory("dev_scale").toFile
    try {
      Dev.main(Array("scale", sf, dst.getPath, "2"))
      def read(dir: String, t: String) = spark.read.parquet(s"$dir/$t.parquet")
      val keyed = Seq(
        "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
        "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
        "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
        "events" -> Seq("event_id", "user_id"), "documents" -> Seq("doc_id"),
        "embeddings" -> Seq("vec_id"))
      keyed.foreach { case (t, keys) =>
        val (src, out) = (read(sf, t), read(dst.getPath, t))
        assert(out.count() === 2 * src.count(), t)
        keys.foreach { k =>
          assert(out.select(k).distinct().count() ===
            2 * src.select(k).distinct().count(), s"$t.$k")
        }
      }
      Seq("nation", "region").foreach { t =>
        assert(read(dst.getPath, t).count() === read(sf, t).count(), t)
      }
      val docs = read(dst.getPath, "documents")
      val copy1 = docs.where(col("doc_id") >= 10000000000L)
      assert(copy1.count() > 0)
      assert(copy1.where(!col("text").startsWith("zq1 ")).isEmpty)
      assert(docs.where(col("doc_id") < 10000000000L)
        .where(col("text").startsWith("zq")).isEmpty)

      Dev.main(Array("explain", dst.getPath, "q16_group_agg_mixed"))
      val out = new java.io.ByteArrayOutputStream
      Console.withOut(out) {
        Dev.main(Array("time", dst.getPath, "1", "q16_group_agg_mixed"))
      }
      val Seq(header, row) = out.toString.linesIterator.toSeq
      assert(header.split("\\s+").takeRight(2).toSeq === Seq("tasks", "jobs"))
      val Array(tasks, jobs) = row.split("\\s+").takeRight(2).map(_.toLong)
      assert(tasks > 0 && jobs > 0 && jobs <= tasks, row)
      assert(!spark.sparkContext.isStopped, "Dev must leave a reused session running")
    } finally Staging.deleteRecursively(dst)
  }
}
