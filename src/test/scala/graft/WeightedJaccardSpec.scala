package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property and plan pins for the weighted-Jaccard pair operators: the
  * block self-join over per-document vectors (q285) and its banded twin
  * (q305) must both equal the definition the oracle spells — Σmin over
  * shared (block, term) entries, over per-id totals summed across all of
  * an id's blocks. */
class WeightedJaccardSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  type Doc = (Option[Long], Option[String], Option[String])

  // few ids and blocks so (id, block) rows repeat and ids span blocks;
  // an empty token makes a double space; nulls in every column
  private val docGen: Gen[Doc] = for {
    id <- Gen.frequency(12 -> Gen.choose(1L, 8L).map(Some(_)), 1 -> Gen.const(None))
    blk <- Gen.frequency(8 -> Gen.oneOf("s", "t").map(Some(_)), 1 -> Gen.const(None))
    text <- Gen.frequency(
      8 -> Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(6 -> Gen.oneOf("x", "y", "z"), 1 -> Gen.const(""))))
        .map(ts => Some(ts.mkString(" "))),
      1 -> Gen.const(Some("")), 1 -> Gen.const(None))
  } yield (id, blk, text)

  private def gen[T](g: Gen[T], seed: Long): T =
    g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get

  /** The definition in plain Scala: (id_a, id_b) → sealed wjaccard. */
  private def reference(docs: Seq[Doc], minW: Double): Map[(Long, Long), Double] = {
    val tf = docs.collect { case (Some(id), Some(b), Some(t)) => (id, b, t) }
      .flatMap { case (id, b, t) => t.split(" ", -1).map(term => (id, b, term)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val tt = tf.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val smin = tf.toSeq.groupBy { case ((_, b, term), _) => (b, term) }.values
      .flatMap { post =>
        for (((a, _, _), fa) <- post; ((b, _, _), fb) <- post if a < b)
          yield (a, b) -> math.min(fa, fb)
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    smin.flatMap { case ((a, b), s) =>
      val den = tt(a) + tt(b) - s
      if (s.toDouble / den >= minW)
        Some((a, b) -> ((2 * s * 10000 + den) / (2 * den)).toDouble / 1e4)
      else None
    }
  }

  private def collected(df: DataFrame): Map[(Long, Long), Double] = {
    val rs = rows(df)
    val m = rs.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
      r.getAs[Double]("wjaccard")).toMap
    assert(m.size == rs.size, "a pair was emitted twice")
    m
  }

  test("weightedJaccardPairs == banded twin == Σmin over (block, term), random corpora") {
    for (round <- 0 until 5) {
      val docs = gen(Gen.listOfN(14, docGen), 4200L + round)
      val df = docs.toDF("doc_id", "source", "text")
      for (minW <- Seq(0.0, 0.4, 0.6, 1.0)) {
        val want = reference(docs, minW)
        val plain = collected(Dedup.weightedJaccardPairs(df, col("text"),
          col("doc_id"), col("source"), minW))
        val banded = collected(Dedup.weightedJaccardPairsBanded(df,
          col("text"), col("doc_id"), col("source"), minW))
        assert(plain == want, s"round $round minW $minW: q285 form")
        assert(banded == want, s"round $round minW $minW: banded form")
      }
    }
  }

  test("an id spanning blocks sums Σmin per shared block, not over merged tf") {
    // {s:x, t:xx} vs {s:xx, t:x}: Σmin 1 + 1 = 2, totals 3 + 3 → wj 0.5;
    // merging tf across blocks would give Σmin 3 → wj 1.0
    val docs = Seq((1L, "s", "x"), (1L, "t", "x x"), (2L, "s", "x x"),
      (2L, "t", "x")).toDF("doc_id", "source", "text")
    for (minW <- Seq(0.4, 0.6)) {
      val want = if (minW <= 0.5) Map((1L, 2L) -> 0.5) else Map.empty
      assert(collected(Dedup.weightedJaccardPairs(docs, col("text"),
        col("doc_id"), col("source"), minW)) == want)
      assert(collected(Dedup.weightedJaccardPairsBanded(docs, col("text"),
        col("doc_id"), col("source"), minW)) == want)
    }
  }

  test("q285 plan: vectors keep numShufflePartitions partitions; no join on term") {
    val docs = Tables.t(spark, sf, "documents")
    val para = spark.sessionState.conf.numShufflePartitions
    assert(para > 1)
    val v = Dedup.wjVectors(docs, col("text"), col("doc_id"), col("source"))
    assert(v.rdd.getNumPartitions == para)
    val plan = Dedup.weightedJaccardPairs(docs, col("text"), col("doc_id"),
      col("source")).queryExecution.executedPlan
    val keys = collect(plan) { case j: BaseJoinExec =>
      (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)).toSet
    }
    assert(keys == Seq(Set("blk")), s"join keys: $keys")
  }
}
