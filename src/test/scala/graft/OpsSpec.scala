package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Assignment, Dedup}

class OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val sf = SparkTestSession.sf0001

  test("hungarian solver: known optimal assignments") {
    // classic 3x3: optimal = 5 (0->1, 1->0, 2->2) cost 2+3+0? compute:
    val c = Array(
      Array(4.0, 1.0, 3.0),
      Array(2.0, 0.0, 5.0),
      Array(3.0, 2.0, 2.0))
    val a = Assignment.solve(c)
    val cost = a.zipWithIndex.map { case (j, i) => c(i)(j) }.sum
    assert(a.toSet.size == 3) // perfect matching
    assert(cost == 5.0) // 1 + 2 + 2
    // rectangular: 2 rows x 3 cols
    val r = Array(Array(10.0, 2.0, 8.0), Array(7.0, 3.0, 4.0))
    val ar = Assignment.solve(r)
    assert(ar.toSet.size == 2 && !ar.contains(-1))
    assert(ar.zipWithIndex.map { case (j, i) => r(i)(j) }.sum == 6.0) // 2 + 4
    // more rows than cols: one row unassigned
    val t = Array(Array(1.0), Array(5.0))
    val at = Assignment.solve(t)
    assert(at.count(_ >= 0) == 1 && at(0) == 0 && at(1) == -1)
  }

  test("hungarian beats greedy on the adversarial case") {
    val c = Array(Array(1.0, 2.0), Array(2.0, 100.0))
    val opt = Assignment.solve(c)
    assert(opt.zipWithIndex.map { case (j, i) => c(i)(j) }.sum == 4.0)
    val g = Assignment.greedy(c)
    assert(g.zipWithIndex.map { case (j, i) => c(i)(j) }.sum == 101.0)
  }

  test("block assignment links each A to at most one B with sane cost") {
    val df = Assignment.blockAssignment(spark, sf)
    assert(df.filter(col("n_assigned") > least(col("n_a"), col("n_b"))).count() == 0)
    assert(df.filter(col("cost_micros") < 0).count() == 0)
    assert(df.count() > 100)
  }

  test("negative sampler: negatives are never true pairs, deterministic") {
    val neg1 = sim.NegativeSampler.sample(spark, sf)
    val truth = EntryStages.cand(spark, sf)
      .filter(col("dni_a") === col("dni_b"))
      .select(col("idA"), col("idB").as("idB_neg"))
    assert(neg1.join(truth, Seq("idA", "idB_neg"), "left_semi").count() == 0)
    val neg2 = sim.NegativeSampler.sample(spark, sf)
    assert(neg1.exceptAll(neg2).isEmpty && neg2.exceptAll(neg1).isEmpty)
    // ~negRate per positive
    assert(neg1.count() >= truth.count() * 2)
    // seeded fair coin: both corruption sides occur, nothing else
    val kinds = neg1.select("corrupt_kind").distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("head", "tail"))
  }

  test("triple sampler: corrupted triples never exist in the graph, rel kind present, deterministic") {
    val t1 = sim.NegativeSampler.sampleTriples(spark, sf)
    val graphT = graph.GraphBuild.erTriples(spark, sf)
      .select(col("h").as("h_neg"), col("t").as("t_neg"), col("r").as("r_neg"))
    // rejection: no emitted corruption may be a real triple
    assert(t1.join(graphT, Seq("h_neg", "t_neg", "r_neg"), "left_semi")
      .count() == 0)
    val kinds = t1.select("corrupt_kind").distinct()
      .collect().map(_.getString(0)).toSet
    assert(kinds == Set("head", "tail", "rel"))
    // rel rows corrupt ONLY the relation; ent rows keep it
    assert(t1.filter(col("corrupt_kind") === "rel" &&
      (col("h") =!= col("h_neg") || col("t") =!= col("t_neg") ||
        col("r") === col("r_neg"))).count() == 0)
    assert(t1.filter(col("corrupt_kind") =!= "rel" &&
      col("r") =!= col("r_neg")).count() == 0)
    val t2 = sim.NegativeSampler.sampleTriples(spark, sf)
    assert(t1.exceptAll(t2).isEmpty && t2.exceptAll(t1).isEmpty)
  }

  test("LSH verification intersects only the candidate set") {
    import spark.implicits._
    // docs 1,2,3 all co-shingle, but only (1,2) is an LSH candidate:
    // the verify path must never compute the (1,3)/(2,3) intersections.
    val sh = Seq((1L, "s1"), (1L, "s2"), (2L, "s1"), (2L, "s2"),
      (3L, "s1"), (3L, "s2")).toDF("doc_id", "shingle")
    val cands = Seq((1L, 2L)).toDF("doc1", "doc2")
    val inter = Dedup.candidateIntersections(cands, sh).collect()
    assert(inter.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(inter.head.getLong(2) == 2L)
  }

  test("simhash: identical texts collide, near texts are close") {
    val a = Dedup.simhash64("the quick brown fox jumps over the lazy dog")
    val b = Dedup.simhash64("the quick brown fox jumps over the lazy dog")
    assert(a == b)
    val c = Dedup.simhash64("the quick brown fox jumps over the lazy cat")
    assert(Dedup.hamming(a, c) <= 16)
    val far = Dedup.simhash64("completely unrelated words entirely different text")
    assert(Dedup.hamming(a, far) > Dedup.hamming(a, c))
  }

  test("stratified sampler: seeded, rate-faithful, auditable") {
    import spark.implicits._
    import graft.ops.Sample
    // the codegen'd fnv_mix expression IS the Scala kernel
    val mixed = Seq((0L, 77L), (123456789L, 77L), (-1L, 42L))
      .toDF("a", "b")
      .select(graft.functions.FnvMixFunctions.fnv_mix(col("a"), col("b")))
      .collect().map(_.getLong(0))
    assert(mixed sameElements Array(
      sim.NegativeSampler.fnvMix(0L, 77L),
      sim.NegativeSampler.fnvMix(123456789L, 77L),
      sim.NegativeSampler.fnvMix(-1L, 42L)))
    val s1 = Sample.stratified(spark, sf)
    val s2 = Sample.stratified(spark, sf)
    assert(s1.exceptAll(s2).isEmpty && s2.exceptAll(s1).isEmpty)
    // audit table consistent with the row-level sample
    val stats = Sample.strataStats(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val keptByLang = s1.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    stats.foreach { case (lang, (rate, total, kept)) =>
      assert(keptByLang.getOrElse(lang, 0L) == kept, s"audit drift for $lang")
      // realized rate within 4 sigma of the configured Bernoulli rate
      val p = rate.toDouble / Sample.RateOne
      val tol = 4 * math.sqrt(p * (1 - p) * total)
      assert(math.abs(kept - p * total) <= math.max(tol, 1.0),
        s"$lang kept $kept of $total at configured $p")
    }
    assert(stats("en")._1 < stats("fr")._1) // head stratum downsampled
  }

  test("exact dedup groups identical normalized docs") {
    val d = Dedup.exact(spark, sf)
    assert(d.count() == 500)
    // every group has exactly one canonical row
    val g = d.groupBy("fp").agg(
      sum("is_canonical").as("nc"), count(lit(1)).as("n"))
    assert(g.filter(col("nc") =!= 1).count() == 0)
  }

  test("ECM separates an obviously separable pattern space") {
    val feats = ml.Classifiers.withFeatures(EntryStages.scoredp(spark, sf))
    val model = ml.Classifiers.fitEcm(ml.Classifiers.patternHist(feats))
    // all-ones pattern (exact dup) must classify as match,
    // all-zeros as non-match
    assert(model.posterior(31) > 0.5)
    assert(model.posterior(0) < 0.5)
    val m = ml.Classifiers.ecmMetrics(spark, sf).head()
    assert(m.getAs[Double]("f1") >= 0.95, s"ECM F1 ${m.getAs[Double]("f1")}")
  }

  test("deterministic logreg / kmeans fits separate the pattern space") {
    import ml.Classifiers._
    // supervised GD fit: all-ones pattern -> match, all-zeros -> not
    val lr = fitLogReg(Array((31, 1, 90L), (24, 1, 10L), (0, 0, 900L),
      (8, 0, 20L)))
    assert(lr.isMatch(31) && !lr.isMatch(0))
    // Lloyd k=2 from the 0.95/0.05 init on the same toy histogram
    val km = fitKmeans(Array((31, 100L), (0, 900L), (8, 20L)))
    assert(km.isMatch(31) && !km.isMatch(0))
    // real-data bands + fit determinism across repeated runs
    val lm = ml.Classifiers.logRegMetrics(spark, sf).head()
    assert(lm.getAs[Double]("f1") >= 0.95, s"logreg F1 $lm")
    val km2 = ml.Classifiers.kmeansMetrics(spark, sf).head()
    assert(km2.getAs[Double]("f1") >= 0.95, s"kmeans F1 $km2")
    val w1 = ml.Classifiers.logRegWeights(spark, sf).collect().toSeq
    val c1 = ml.Classifiers.kmeansCentroids(spark, sf).collect().toSeq
    assert(w1.size == 6 && c1.size == 2)
  }

  test("near-dup clusters: transitive closure of the thresholded minhash edges") {
    import spark.implicits._
    val edges = Dedup.minhashScored(spark, sf)
      .filter(col("jaccard") >= Dedup.ClusterMinJaccard)
      .as[(Long, Long, Double)].collect().map { case (a, b, _) => (a, b) }
    assert(edges.nonEmpty, "fixture must contain near-dup edges")
    val cl = Dedup.dedupClusters(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (doc, c, n, canon) => doc -> ((c, n, canon)) }.toMap
    // every doc clustered exactly once, cluster = min member id,
    // canonical iff doc == cluster, sizes consistent
    val byCluster = cl.groupBy(_._2._1)
    byCluster.foreach { case (c, members) =>
      assert(members.keys.min == c, s"cluster $c label must be min member")
      members.foreach { case (doc, (_, n, canon)) =>
        assert(n == members.size, s"size mismatch for $doc")
        assert((canon == 1L) == (doc == c))
      }
    }
    // edges never straddle clusters (closure is at least edge-consistent)
    edges.foreach { case (a, b) =>
      assert(cl(a)._1 == cl(b)._1, s"edge ($a,$b) split across clusters")
    }
    assert(byCluster.exists(_._2.size > 1), "expected a non-singleton cluster")
  }

  test("embedding LSH recovers EXACTLY the exact-cosine near-dup set") {
    import spark.implicits._
    // exact ground truth over the planted augmented view, driver-side
    val vecs = Dedup.augmentedEmbeddings(spark, sf)
      .as[(Long, Array[Float])].collect()
    assert(vecs.length == 600) // 500 base + 100 planted
    val exact = (for {
      (i, vi) <- vecs.iterator
      (j, vj) <- vecs.iterator
      if i < j && graft.sim.Embed.cosine(vi, vj) >= 0.9
    } yield (i, j)).toSet
    assert(exact.size == 100) // one planted pair per vec_id % 5 == 0
    assert(exact.forall { case (a, b) => b == a + Dedup.PlantOffset })
    val lsh = Dedup.embedLshPairs(spark, sf).as[(Long, Long)].collect().toSet
    assert(lsh == exact, // recall AND precision 1.0 on the planted set
      s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("ANN LSH recall@3 >= 0.8 vs brute force") {
    import spark.implicits._
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(ops.Ann.bruteTopK(spark, sf))
    val lsh = pairs(ops.Ann.lshTopK(spark, sf))
    assert(brute.size == 150)
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall@3 $recall")
  }

  test("hot-block assignment: greedy off the sparse pair list, no dense matrix") {
    import spark.implicits._
    // a single dense block far beyond maxSide: 1200 x 1200 = 1.44M
    // candidate pairs (round 2's dense path would allocate a 1.44M-cell
    // matrix in ONE task; the sparse path prunes to ~12k pairs)
    val n = 1200
    val ids = spark.range(n).select(col("id"))
    val pairs = ids.select(col("id").as("idA"))
      .crossJoin(ids.select(col("id").as("idB")))
      .withColumn("block_key", lit("hot"))
      .withColumn("dist",
        pmod(col("idA") * 31 + col("idB") * 17, lit(1000)) / lit(1000.0))
    val out = Assignment.assignPairs(pairs).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("method") == "greedy")
    assert(r.getAs[Long]("n_a") == n && r.getAs[Long]("n_b") == n)
    // maximal matching on the per-endpoint top-5 edge union covers
    // most endpoints
    assert(r.getAs[Long]("n_assigned") >= (n * 0.7).toLong)
    // small blocks still take the exact Hungarian path
    val small = Assignment.assignPairs(
      pairs.filter(col("idA") < 10 && col("idB") < 10)).collect().head
    assert(small.getAs[String]("method") == "hungarian")
    assert(small.getAs[Long]("n_assigned") == 10)
  }

  test("multimodal: BMP/WAV encode -> parse roundtrip matches closed form") {
    import ops.Multimodal._
    for (id <- Seq(0L, 3L, 6L, 99L, 123456L)) {
      val (w, h, sum) = decodeBmp(makeBmp(id))
      assert(w == bmpWidth(id) && h == BmpHeight)
      val expected = (0L until w.toLong * h * 3).map(i => bmpPixel(id, i).toLong).sum
      assert(sum == expected, s"bmp pixel sum for doc $id")
    }
    for (id <- Seq(1L, 4L, 7L, 1000L)) {
      val (sr, n, sumAbs) = decodeWav(makeWav(id))
      assert(sr == wavSampleRate(id) && n == WavSamples)
      val expected = (0 until WavSamples).map(i => math.abs(wavSample(id, i).toLong)).sum
      assert(sumAbs == expected, s"wav |sample| sum for doc $id")
    }
  }

  test("multimodal plumbing: binary schema + batched real decode") {
    val meta = ops.Multimodal.binaryMeta(spark, sf)
    assert(meta.count() == 500)
    val feats = ops.Multimodal.decodeFeatures(spark, sf).persist()
    assert(feats.count() == 500)
    // image rows carry parsed BMP geometry; audio rows parsed WAV rate
    assert(feats.filter(col("kind") === "image" &&
      (col("dim1") < 4 || col("dim1") > 7 || col("dim2") =!= 4)).count() == 0)
    assert(feats.filter(col("kind") === "audio" &&
      (col("dim1") < 8000 || col("dim1") > 15000 || col("dim2") =!= 32)).count() == 0)
    // video rows run the stub tier: dim2 = stub embedding dimension
    assert(feats.filter(col("kind") === "video" &&
      (col("dim1") =!= 0 || col("dim2") =!= 16)).count() == 0)
    feats.unpersist()
    val tbl = ops.Multimodal.mediaBinaryTable(spark, sf)
    assert(tbl.schema("payload").dataType.typeName == "binary")
  }

  test("embedCosine hot-bucket guard fires instead of a quadratic join") {
    val ex = intercept[IllegalArgumentException] {
      Dedup.embedCosine(spark, sf, maxBucket = 2L)
    }
    assert(ex.getMessage.contains("embedLshPairs"),
      s"guard message should point at the scale path: ${ex.getMessage}")
    // and the default bound leaves the test fixture untouched
    assert(Dedup.embedCosine(spark, sf).count() == 20)
  }
}
