package graft

import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import graft.streaming.IngestStreams

/** Bucket counts sized to the data ([[Staging.sizedBuckets]]): the rule
  * itself, what appends and compactions do with it, and the streaming
  * indexes giving the same rows on both sides of it. */
class BucketSizingSpec extends SparkSpec {
  import spark.implicits._

  private val advisoryKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

  private def shufflePartitions: Int =
    spark.sessionState.conf.numShufflePartitions

  /** The bucket count of the live generation of VStage table `base`. */
  private def liveBuckets(base: String): Int =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(
        VStage.genTable(base, VStage.currentGen(spark, base))))
      .bucketSpec.get.numBuckets

  /** `body` run with the advisory partition size at `bytes`. */
  private def withAdvisory[T](bytes: BigInt)(body: => T): T =
    withConfs(advisoryKey -> bytes.toString)(body)

  test("sizedBuckets: a tiny frame gets 1 bucket, an estimate above N " +
      "advisory sizes gets min(N, shuffle partitions), and a " +
      "localCheckpoint leaf reports its origin's estimate") {
    val df = spark.range(1000).toDF("k")
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(size > 3)
    assert(Staging.sizedBuckets(df) === 1)
    assert(withAdvisory(size / 2)(Staging.sizedBuckets(df)) === 2)
    assert(withAdvisory(size / 2 - 1)(Staging.sizedBuckets(df)) === 3)
    assert(withAdvisory(1)(Staging.sizedBuckets(df)) === shufflePartitions)
    // a checkpointed frame keeps the estimate of the plan it pinned, so
    // sizing it neither reads Spark's unknown-size default nor runs a job
    val pinned = df.localCheckpoint()
    assert(pinned.queryExecution.optimizedPlan.stats.sizeInBytes === size)
    assert(withAdvisory(size / 2)(Staging.sizedBuckets(pinned)) === 2)
  }

  test("an append keeps the live bucket spec, and a compaction re-sizes") {
    val b = "t_sized"
    val day0 = (0L until 100L).map(i => (i, s"v$i")).toDF("k", "v")
    val day1 = (100L until 120L).map(i => (i, s"v$i")).toDF("k", "v")
    withAdvisory(1)(VStage.init(day0, b, "k"))
    assert(liveBuckets(b) === shufflePartitions)
    // sized afresh, day 1 would get one bucket; the append keeps four
    assert(Staging.sizedBuckets(day1) === 1)
    VStage.append(day1, b)
    assert(liveBuckets(b) === shufflePartitions)
    def content(): Seq[(Long, String)] = VStage.load(spark, b)
      .as[(Long, String)].collect().toSeq.sorted
    val want = (0L until 120L).map(i => (i, s"v$i"))
    assert(content() === want)
    // the bucketed scan groups files by the bucket id in their names,
    // so it would refuse an unbucketed append file
    val scan = VStage.load(spark, b).groupBy("k").count()
    assert(scan.queryExecution.executedPlan.toString.contains("Bucketed: true"))
    assert(scan.count() === 120L)
    VStage.compact(spark, b, "k", identity)
    assert(liveBuckets(b) === 1)
    assert(content() === want)
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    assert(new java.io.File(wh, VStage.genTable(b, 1)).listFiles()
      .count(_.getName.endsWith(".parquet")) === 1)
  }

  test("the streaming indexes give the same rows at shuffle-partitions " +
      "buckets as at their sized one bucket: q358, q377, the lexical " +
      "loop (q388) and the ANN recluster loop (q376)") {
    def run(tag: String): Seq[(Seq[Seq[Any]], Int)] =
      Seq[(String, String => org.apache.spark.sql.DataFrame)](
        s"t_bs_dd_$tag" -> (IngestStreams.runIngestDedup(spark, sf, _,
          cut0 = 200, cut1 = 350)),
        s"t_bs_dc_$tag" -> (IngestStreams.runIngestDedupCompact(spark, sf, _,
          cut0 = 200, cut1 = 350)),
        s"t_bs_lx_$tag" -> (IngestStreams.runLexicalIngest(spark, sf, _,
          cut0 = 200, cut1 = 350)),
        s"t_bs_rc_$tag" -> (IngestStreams.runAnnIngestRecluster(spark, sf, _,
          cut0 = 200, cut1 = 350))
      ).map { case (name, loop) =>
        (loop(name).collect().toSeq.map(_.toSeq), liveBuckets(name + "_idx"))
      }
    val sized = run("s")
    val forced = withAdvisory(1)(run("f"))
    assert(sized.map(_._2) === Seq(1, 1, 1, 1))
    assert(forced.map(_._2) === Seq.fill(4)(shufflePartitions))
    sized.zip(forced).foreach { case ((s, _), (f, _)) =>
      assert(s.nonEmpty)
      assert(f === s)
    }
  }
}
