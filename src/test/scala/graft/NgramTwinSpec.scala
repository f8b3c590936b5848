package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property pins for the n-gram pair twins: the within-block pair join
  * and its candidate-pruned scale twin must both equal the definition
  * the oracle spells — every pair of rows in one (non-null) block with
  * a.id < b.id, compared as distinct-word sets. Jaccard: q27 == q61;
  * containment: q255 == q326. A document is one row per (id, block);
  * thresholds are > 0, the domain where prefix pruning is lossless. */
class NgramTwinSpec extends SparkSpec {
  import spark.implicits._

  type Doc = (Option[Long], Option[String], Option[String])

  // few ids and blocks so ids repeat across blocks; an empty token
  // makes a double space; nulls in every column
  private val docGen: Gen[Doc] = for {
    id <- Gen.frequency(12 -> Gen.choose(1L, 8L).map(Some(_)), 1 -> Gen.const(None))
    blk <- Gen.frequency(8 -> Gen.oneOf("s", "t").map(Some(_)), 1 -> Gen.const(None))
    text <- Gen.frequency(
      8 -> Gen.choose(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.frequency(6 -> Gen.oneOf("x", "y", "z", "w"),
          1 -> Gen.const(""))))
        .map(ts => Some(ts.mkString(" "))),
      1 -> Gen.const(Some("")), 1 -> Gen.const(None))
  } yield (id, blk, text)

  /** A corpus where each id keeps one row per block it appears in. */
  private def corpus(seed: Long): Seq[Doc] = {
    val docs = Gen.listOfN(14, docGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get
    docs.groupBy(d => (d._1, d._2)).values.map(_.head).toSeq
      .sortBy(d => (d._1, d._2))
  }

  /** Seal.ratio4 in plain Scala: round-half-up of i/u to 4 decimals. */
  private def seal(i: Long, u: Long): Double =
    ((2 * i * 10000 + u) / (2 * u)).toDouble / 1e4

  /** Every same-block row pair a.id < b.id with its two gram sets. */
  private def rowPairs(docs: Seq[Doc]): Seq[(Long, Long, Set[String], Set[String])] = {
    val live = docs.collect { case (Some(id), Some(b), Some(t)) =>
      (id, b, t.split(" ", -1).toSet) }
    for ((a, ba, ga) <- live; (b, bb, gb) <- live if ba == bb && a < b)
      yield (a, b, ga, gb)
  }

  private def jaccardRef(docs: Seq[Doc], minJ: Double): Seq[(Long, Long, Double)] =
    rowPairs(docs).flatMap { case (a, b, ga, gb) =>
      val i = (ga & gb).size.toLong
      val u = ga.size + gb.size - i
      if (i.toDouble / u >= minJ) Some((a, b, seal(i, u))) else None
    }.sorted

  private def containmentRef(docs: Seq[Doc], minC: Double)
      : Seq[(Long, Long, Long, Long, Double)] =
    rowPairs(docs).flatMap { case (a, b, ga, gb) =>
      val i = (ga & gb).size.toLong
      val mn = math.min(ga.size, gb.size).toLong
      if (i.toDouble / mn >= minC)
        Some((a, b, ga.size.toLong, gb.size.toLong, seal(i, mn)))
      else None
    }.sorted

  private def jaccardRows(df: DataFrame): Seq[(Long, Long, Double)] =
    rows(df).map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Double]("jaccard"))).sorted

  private def containmentRows(df: DataFrame): Seq[(Long, Long, Long, Long, Double)] =
    rows(df).map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
      r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
      r.getAs[Double]("containment"))).sorted

  test("ngramJaccardPairs == ngramJaccardPairsPrefix == same-block set Jaccard, random corpora") {
    for (round <- 0 until 3) {
      val docs = corpus(2700L + round)
      val df = docs.toDF("doc_id", "source", "text")
      for (minJ <- Seq(0.4, 0.6)) {
        val want = jaccardRef(docs, minJ)
        val plain = jaccardRows(Dedup.ngramJaccardPairs(df, col("text"),
          col("doc_id"), col("source"), n = 1, minJ = minJ))
        val prefix = jaccardRows(Dedup.ngramJaccardPairsPrefix(df,
          col("text"), col("doc_id"), col("source"), n = 1, minJ = minJ))
        assert(plain == want, s"round $round minJ $minJ: q27 form")
        assert(prefix == want, s"round $round minJ $minJ: q61 form")
      }
    }
  }

  test("ngramContainmentPairs == ngramContainmentPairsBanded == same-block containment, random corpora") {
    for (round <- 0 until 3) {
      val docs = corpus(25500L + round)
      val df = docs.toDF("doc_id", "source", "text")
      for (minC <- Seq(0.5, 0.9)) {
        val want = containmentRef(docs, minC)
        val plain = containmentRows(Dedup.ngramContainmentPairs(df,
          col("text"), col("doc_id"), col("source"), n = 1, minC = minC))
        val banded = containmentRows(Dedup.ngramContainmentPairsBanded(df,
          col("text"), col("doc_id"), col("source"), n = 1, minC = minC))
        assert(plain == want, s"round $round minC $minC: q255 form")
        assert(banded == want, s"round $round minC $minC: q326 form")
      }
    }
  }

  test("the prefix and banded forms refuse a zero threshold (they meet " +
      "only pairs that share a gram)") {
    val df = corpus(7L).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsPrefix(df, col("text"), col("doc_id"),
        col("source"), minJ = 0.0)
    }
    intercept[IllegalArgumentException] {
      Dedup.ngramContainmentPairsBanded(df, col("text"), col("doc_id"),
        col("source"), minC = 0.0)
    }
  }
}
