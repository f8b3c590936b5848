package graft

import org.apache.spark.sql.functions._

class ExtOpsSpec extends SparkSpec {
  import spark.implicits._

  test("Dedup.exact keeps the min-id row per duplicate text") {
    val df = Seq((3L, "same text", "s1"), (1L, "same text", "s2"), (2L, "other", "s3"))
      .toDF("doc_id", "text", "source")
    val got = rows(Dedup.exact(df, col("text"), col("doc_id")).orderBy("doc_id"))
    assert(got.map(_.getLong(0)) === Seq(1L, 2L))
  }

  test("shingles: sliding windows, short docs -> empty (no descending-sequence bug)") {
    val df = Seq("a b c d", "a b", "a").toDF("t")
    val got = rows(df.select(Dedup.shingles(col("t"), 3).as("s")))
    assert(got.head.getSeq[String](0).toSet === Set("a b c", "b c d"))
    assert(got(1).getSeq[String](0).isEmpty)
    assert(got(2).getSeq[String](0).isEmpty)
  }

  test("minhash: identical docs share full signature; disjoint docs don't") {
    val df = Seq((1L, "w1 w2 w3 w4 w5"), (2L, "w1 w2 w3 w4 w5"), (3L, "x1 x2 x3 x4 x5"))
      .toDF("id", "t")
    val cand = rows(Dedup.minhashCandidates(df, col("t"), col("id"), 3, 16, 4)
      .orderBy("id_a", "id_b"))
    assert(cand.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) === Seq((1L, 2L, 4L)))
  }

  test("minhashStarEdges: components identical to full collision-pair CC, " +
       "with a never-larger edge list (3-shingle and dense unigram regimes)") {
    val docs = Tables.t(spark, sf, "documents").limit(300)
    def comps(edges: org.apache.spark.sql.DataFrame) =
      rows(Dedup.connectedComponents(edges).orderBy("id"))
        .map(r => (r.getLong(0), r.getLong(1)))
    for (sh <- Seq(3, 1)) { // 1-shingles: the dense-bucket (dup-rich) regime
      val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id"),
        shingleSize = sh, numPerm = 16, bands = 4).select("id_a", "id_b")
      val stars = Dedup.minhashStarEdges(docs, col("text"), col("doc_id"),
        shingleSize = sh, numPerm = 16, bands = 4)
      val viaPairs = comps(pairs)
      val viaStars = comps(stars)
      assert(viaStars === viaPairs, s"shingleSize=$sh")
      assert(viaStars.nonEmpty, s"shingleSize=$sh fixture exercises CC")
      assert(stars.count() <= pairs.count(), s"shingleSize=$sh star edge bound")
    }
  }

  test("ccIncremental: hand-built merge cases — old-old via new node, " +
       "unlabeled-old endpoint, fresh pair, empty batch") {
    def lab(df: org.apache.spark.sql.DataFrame) =
      rows(df.orderBy("id")).map(r => (r.getLong(0), r.getLong(1)))
    val labels = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)).toDF("id", "comp")
    // (a) new node 9 bridges comps 1 and 5 -> everything labels 1;
    //     (10,11) is a fresh pair -> labels 10
    val e1 = Seq((2L, 9L), (9L, 5L), (10L, 11L)).toDF("id_a", "id_b")
    assert(lab(Dedup.ccIncremental(labels, e1)) ===
      Seq(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 9L -> 1L, 10L -> 10L, 11L -> 10L))
    // (b) endpoint 3 was never labeled (isolated old doc) and is SMALLER
    //     than the comp it joins -> the comp relabels to 3
    val e2 = Seq((6L, 3L)).toDF("id_a", "id_b")
    assert(lab(Dedup.ccIncremental(labels, e2)) ===
      Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 5L -> 3L, 6L -> 3L))
    // (c) empty batch -> labels pass through unchanged
    val e0 = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(lab(Dedup.ccIncremental(labels, e0)) ===
      Seq(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("ccIncremental over a corpus/batch edge split equals full-recompute " +
       "CC over all edges (fixture, 3-shingle collision graph)") {
    val docs = Tables.t(spark, sf, "documents").limit(300)
    val pairs = Dedup.minhashCandidates(docs, col("text"), col("doc_id"),
      shingleSize = 3, numPerm = 16, bands = 4)
      .select("id_a", "id_b").localCheckpoint()
    val cut = 150L // old graph = pairs wholly below the cut; batch = the rest
    val oldE = pairs.where(col("id_a") < cut && col("id_b") < cut)
    val newE = pairs.where(col("id_a") >= cut || col("id_b") >= cut)
    def lab(df: org.apache.spark.sql.DataFrame) =
      rows(df.orderBy("id")).map(r => (r.getLong(0), r.getLong(1)))
    val incr = lab(Dedup.ccIncremental(Dedup.connectedComponents(oldE), newE))
    val full = lab(Dedup.connectedComponents(pairs))
    assert(incr === full)
    assert(full.nonEmpty) // fixture actually exercises the merge
    assert(newE.count() > 0 && oldE.count() > 0) // both regimes present
  }

  test("keepBestIds: max score wins, ties break to min id, singletons kept") {
    val labeled = Seq(
      (1L, 10L, 0.5), (2L, 10L, 0.9), (3L, 10L, 0.9), // tie at 0.9 -> id 2
      (4L, 40L, 0.1),                                  // singleton
      (5L, 50L, 0.3), (6L, 50L, 0.2))                  // plain max -> id 5
      .toDF("id", "comp", "score")
    val got = rows(Dedup.keepBestIds(labeled, "id", "comp", "score")
      .orderBy("id")).map(_.getLong(0))
    assert(got === Seq(2L, 4L, 5L))
  }

  test("splitStableIngest: old docs never move, new docs inherit the " +
       "min-old-member split, bridged legacy splits are REPORTED as " +
       "conflicts, fresh components hash out") {
    // bands == numPerm (1 hash per band) makes collisions deterministic:
    // a union-of-tokens doc's per-perm min equals one side's or the
    // other's, so SOME band collides with each bridged doc
    val oldAssign = Seq(
      (1L, "train", None: Option[Long]),
      (2L, "test", None: Option[Long]),
      (5L, "val", None: Option[Long]))
      .toDF("id", "split", "comp")
    val corpusDocs = Seq((1L, "aa"), (2L, "bb"), (5L, "ee")).toDF("id", "t")
    val corpusIndex = Dedup.lshIndexFrame(corpusDocs, col("t"), col("id"),
      shingleSize = 1, numPerm = 16, bands = 16)
    // doc 10 bridges corpus docs 1 (train) and 2 (test) -> legacy
    // conflict; doc 11 is isolated -> fresh component
    val batch = Seq((10L, "aa bb"), (11L, "zz")).toDF("id", "t")
    val got = rows(Dedup.splitStableIngest(oldAssign, corpusIndex, batch,
      col("t"), col("id"), _ => lit("fresh"),
      spineSplits = Seq("fresh", "test", "train", "val"),
      shingleSize = 1, numPerm = 16, bands = 16))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Seq(
      ("fresh", 0L, 1L, 0L),   // doc 11: fresh component, hash-assigned
      ("test", 1L, 0L, 1L),    // doc 2 stays; its comp is conflicted
      ("train", 1L, 1L, 1L),   // doc 1 stays; doc 10 inherits min-old=1
      ("val", 1L, 0L, 0L)))    // untouched doc 5 unchanged, no conflict
  }

  test("splitStableAssign: old splits survive the transition verbatim, " +
       "new docs inherit, comps patch to the merged labels") {
    val oldAssign = Seq(
      (1L, "train", None: Option[Long]),
      (2L, "test", None: Option[Long]),
      (5L, "val", None: Option[Long]))
      .toDF("id", "split", "comp")
    val corpusDocs = Seq((1L, "aa"), (2L, "bb"), (5L, "ee")).toDF("id", "t")
    val corpusIndex = Dedup.lshIndexFrame(corpusDocs, col("t"), col("id"),
      shingleSize = 1, numPerm = 16, bands = 16)
    val batch = Seq((10L, "aa bb"), (11L, "zz")).toDF("id", "t")
    val got = rows(Dedup.splitStableAssign(oldAssign, corpusIndex, batch,
      col("t"), col("id"), _ => lit("fresh"),
      shingleSize = 1, numPerm = 16, bands = 16).orderBy("id"))
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // doc 10 bridges 1 (train) and 2 (test): comp 1, inherits train
    // (min old id); doc 2 relabels to the merged comp; doc 1 IS the
    // component minimum — its label never moved, so its comp stays
    // null under the family convention (null comp ⇒ own id: the
    // census and any later contraction coalesce it to 1, the true
    // label); 5 untouched; 11 fresh singleton
    assert(got === Seq(
      (1L, "train", -1L), (2L, "test", 1L), (5L, "val", -1L),
      (10L, "train", 1L), (11L, "fresh", 11L)))
  }

  test("simhash: identical -> hamming 0; pairs beyond maxDist filtered") {
    val df = Seq((1L, "alpha beta gamma delta", "s"), (2L, "alpha beta gamma delta", "s"),
      (3L, "zz yy xx ww vv uu", "s")).toDF("id", "t", "src")
    val got = rows(Dedup.simhashNearDup(df, col("t"), col("id"), col("src"), maxDist = 0))
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) === Seq((1L, 2L, 0L)))
  }

  test("prefix-filtered jaccard matches the quadratic form exactly (lossless)") {
    val docs = Tables.t(spark, sf, "documents").limit(200)
    def canon(df: org.apache.spark.sql.DataFrame) =
      rows(df.withColumn("jaccard", round(col("jaccard"), 4)).orderBy("id_a", "id_b"))
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val quad = canon(Dedup.ngramJaccardPairs(
      docs, col("text"), col("doc_id"), col("source"), n = 1, minJ = 0.6))
    val pref = canon(Dedup.ngramJaccardPairsPrefix(
      docs, col("text"), col("doc_id"), col("source"), n = 1, minJ = 0.6))
    assert(pref === quad)
    assert(quad.nonEmpty) // fixture actually exercises the comparison
  }

  test("jaccard known value") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    assert(rows(df.select(Dedup.jaccard(col("x"), col("y")))).head.getDouble(0) === 0.5)
  }

  test("cosine known value + bruteForceTopK ranks self-match first") {
    val df = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0)), (Seq(1.0, 0.0), Seq(0.0, 1.0)))
      .toDF("a", "b")
    val cos = rows(df.select(Similarity.cosine(col("a"), col("b")))).map(_.getDouble(0))
    assert(cos === Seq(1.0, 0.0))
    val e = Tables.t(spark, sf, "embeddings")
    val q = e.orderBy("vec_id").limit(1)
    val top = rows(Similarity.bruteForceTopK(e, col("embedding"), col("vec_id"),
      q, col("embedding"), 5))
    assert(top.head.getLong(0) === rows(q.select("vec_id")).head.getLong(0))
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p.head >= p.last)) // desc
  }

  test("lshTopK: approximate results are a subset of plausible matches incl. self") {
    val e = Tables.t(spark, sf, "embeddings")
    val q = e.orderBy("vec_id").limit(1)
    val got = rows(Similarity.lshTopK(e, col("embedding"), col("vec_id"),
      q, col("embedding"), 10))
    assert(got.nonEmpty)
    assert(got.head.getLong(0) === rows(q.select("vec_id")).head.getLong(0)) // self in own bucket
  }

  test("langId: clear stopword signals win; no signal -> und") {
    val df = Seq("the cat and the dog in a house", "la casa es un lugar por el sol",
      "qqq www zzz").toDF("text")
    val got = rows(df.select(TextAnalysis.langId(col("text")))).map(_.getString(0))
    assert(got === Seq("en", "es", "und"))
  }

  test("quality score is bounded and penalizes degenerate docs") {
    val df = Seq("the quick brown fox jumps over the lazy dog again and again today",
      "x x x x").toDF("text")
    val got = rows(df.select(TextAnalysis.qualityScore(col("text")))).map(_.getDouble(0))
    assert(got.forall(v => v >= 0 && v <= 1))
    assert(got.head > got(1))
  }

  test("fingerprint: deterministic and order-sensitive") {
    val df = Seq("a b c", "a b c", "c b a").toDF("text")
    val got = rows(df.select(TextAnalysis.fingerprint(col("text")))).map(_.getLong(0))
    assert(got(0) === got(1))
    assert(got(0) !== got(2))
  }

  test("fingerprint codegen expression equals the lambda composition on the corpus") {
    val docs = Tables.t(spark, sf, "documents")
      .union(Seq((-1L, "x", "en", "s", 1L), (-2L, "", "en", "s", 0L),
        (-3L, "a  b", "en", "s", 4L)) // double space -> empty token
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val diff = docs.select(
      TextAnalysis.fingerprint(col("text")).as("a"),
      TextAnalysis.fingerprintComposed(col("text")).as("b"))
      .where(col("a") =!= col("b") || col("a").isNull =!= col("b").isNull)
    assert(diff.count() === 0)
  }

  test("multimodal resize: target dims in metadata, byte count tracks area ratio") {
    val docs = Tables.t(spark, sf, "documents").limit(20)
    val in = Multimodal.mediaRows(docs).collect().map(r => r.doc_id -> r).toMap
    val out = Multimodal.resize(Multimodal.mediaRows(docs), 32, 32).collect()
    out.foreach { r =>
      assert(r.width === 32 && r.height === 32)
      val orig = in(r.doc_id)
      val expLen = math.max(1, math.min(orig.media.length,
        math.round(orig.media.length * (32.0 * 32 / (orig.width.toLong * orig.height))).toInt))
      assert(r.media.length === expLen)
    }
  }

  test("multimodal resize: REAL area-mean rescale of a decodable PNG " +
      "(dims + luma pinned through a decode round-trip)") {
    // 8x4, left half black / right half white: every 2x2 source box is
    // uniform, so the box filter's target pixels are exact 0 or 255
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val png = baos.toByteArray

    val ds = spark.createDataset(Seq(
      Multimodal.MediaRow(1L, png, 8, 4, "png"),
      Multimodal.MediaRow(2L, "not an image".getBytes, 16, 16, "webp")))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val out = Multimodal.resize(ds, 4, 2).collect().sortBy(_.doc_id).toSeq

    // decodable payload: truly rescaled raster, re-encoded PNG
    val real = out.head
    assert(real.width === 4 && real.height === 2 && real.format === "png")
    val rt = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(real.media))
    assert(rt.getWidth === 4 && rt.getHeight === 2)
    val luma = for (y <- 0 until 2; x <- 0 until 4) yield {
      val rgb = rt.getRGB(x, y)
      (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3.0
    }
    assert(luma.sum / luma.size === 127.5) // half black, half white survives exactly
    for (y <- 0 until 2; x <- 0 until 4)
      assert((rt.getRGB(x, y) & 0xffffff) ===
        (if (x < 2) 0x000000 else 0xffffff),
        s"pixel ($x,$y) of the resized raster")

    // undecodable payload: the deterministic byte-stub path, unchanged
    val stub = out(1)
    assert(stub.width === 4 && stub.height === 2 && stub.format === "webp")
    val txt = "not an image".getBytes
    val expLen = math.max(1, math.min(txt.length,
      math.round(txt.length * (4.0 * 2 / (16L * 16))).toInt))
    assert(stub.media.length === expLen)
  }

  test("multimodal frame sampling: every k-th fixed-size frame, fan-out counted") {
    val docs = Tables.t(spark, sf, "documents").limit(20)
    val rowsIn = Multimodal.mediaRows(docs).collect()
    val frames = Multimodal.sampleFrames(Multimodal.mediaRows(docs), 64, 3).collect()
    val byDoc = frames.groupBy(_.doc_id)
    rowsIn.foreach { r =>
      val nFrames = (r.media.length + 63) / 64
      val expKept = (0 until nFrames).count(_ % 3 == 0)
      assert(byDoc.get(r.doc_id).map(_.length).getOrElse(0) === expKept, s"doc ${r.doc_id}")
      byDoc.getOrElse(r.doc_id, Array.empty[Multimodal.Frame]).foreach { f =>
        assert(f.frame_idx % 3 === 0)
        assert(f.frame sameElements r.media.slice(f.frame_idx * 64, f.frame_idx * 64 + 64))
      }
    }
  }

  test("native MinhashSig is bit-equal to the explode+groupBy signature pipeline") {
    val docs = Tables.t(spark, sf, "documents")
      .union(Seq((-1L, "a b", "en", "s", 3L), // < k tokens -> dropped
        (-2L, "x y z x y z", "en", "s", 11L), // duplicate shingles
        (-3L, "a  b c d", "en", "s", 8L)) // empty token via double space
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val native = Dedup.minhashSignatures(docs, col("text"), col("doc_id"), 3, 16)
    val agg = Dedup.minhashSignaturesAgg(docs, col("text"), col("doc_id"), 3, 16)
    assert(native.count() === agg.count())
    val joined = native.withColumnRenamed("__sig", "n")
      .join(agg.withColumnRenamed("__sig", "a"), "__id")
    assert(joined.count() === native.count())
    assert(joined.where(col("n") =!= col("a")).count() === 0)
  }

  test("banded simhash near-dup equals the quadratic within-block form") {
    val docs = Tables.t(spark, sf, "documents")
    val quad = Dedup.simhashNearDup(docs, col("text"), col("doc_id"),
      col("source"), maxDist = 12).orderBy("id_a", "id_b").collect().toSeq
    val banded = Dedup.simhashNearDupBanded(docs, col("text"), col("doc_id"),
      col("source"), maxDist = 12).orderBy("id_a", "id_b").collect().toSeq
    assert(quad === banded)
    assert(quad.nonEmpty) // non-vacuous
  }

  test("native SimhashSig is bit-equal to the explode+groupBy vote pipeline") {
    val docs = Tables.t(spark, sf, "documents")
      .union(Seq((-1L, "", "en", "s", 0L), (-2L, "a  b ", "en", "s", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val native = Dedup.simhashSignatures(docs, col("text"), col("doc_id"), col("source"))
    val agg = Dedup.simhashSignaturesAgg(docs, col("text"), col("doc_id"), col("source"))
    val joined = native.withColumnRenamed("__sig", "n")
      .join(agg.withColumnRenamed("__sig", "a"), Seq("__id", "__blk"))
    assert(joined.count() === native.count())
    assert(joined.where(col("n") =!= col("a")).count() === 0)
  }

  test("Misra-Gries: heavy hitters survive, estimates within n/k (bounded-memory top-k)") {
    val tokens = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    val n = tokens.count()
    val k = 100
    val exact = tokens.groupBy("token").count()
      .as[(String, Long)].collect().toMap
    val sketch = tokens.select(col("token")).as[String]
      .select(HeavyHitters.misraGries(k)).collect().head
    assert(sketch.size <= k)
    // guarantee 1: every true-heavy item (> n/k) is present
    exact.filter(_._2 > n / k).keys.foreach { t =>
      assert(sketch.contains(t), s"heavy hitter '$t' missing")
    }
    // guarantee 2: estimates never exceed the true count and are within n/k
    sketch.foreach { case (t, est) =>
      val truth = exact.getOrElse(t, 0L)
      assert(est <= truth, s"'$t' overestimated: $est > $truth")
      assert(truth - est <= n / k, s"'$t' error too large: ${truth - est}")
    }
  }

  test("streaming PSI/SRM monitors: hours partition the stream, scores sane") {
    val total = Tables.t(spark, sf, "events").count()
    val psi = EventStreams.runWindowedPsi(spark, sf, bins = 10,
      name = "graft_psi_spec").collect()
    assert(psi.map(_.getLong(1)).sum === total) // hours partition all events
    psi.foreach(r => assert(r.getDouble(2) >= 0.0)) // PSI is non-negative
    val srm = EventStreams.runWindowedSrm(spark, sf,
      name = "graft_srm_spec").collect()
    assert(srm.map(_.getLong(1)).sum === total)
    srm.foreach { r =>
      assert(r.getLong(2) === 2L)
      assert(r.getDouble(3) >= 0.0)
    }
  }

  test("stream-static enrichment join equals the batch join") {
    val streamed = rows(EventStreams.runStaticEnrich(spark, sf, "graft_enrich_spec")
      .orderBy("event_id"))
    val batch = rows(Tables.t(spark, sf, "events")
      .join(Tables.t(spark, sf, "customer"), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"), col("value"))
      .orderBy("event_id"))
    assert(streamed === batch)
  }
}
