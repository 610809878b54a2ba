package graft.sim

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuild
import graft.pipe.Splits
import graft.sim.MicroGrad.microQ
import graft.sim.NegativeSampler.fnvMix

/**
 * MTransE / ETransE — dual-KG alignment embedding
 * (/root/reference/ERER/mtranse.py:140-227,
 * /root/reference/ERER/etranse.py:60-110,300-340):
 *
 * - KG A and KG B each train a plain TransE margin loss over their OWN
 *   entity/relation tables (disjoint dictionaries): [[MicroGrad.hinge]]
 *   at each side's row offsets;
 * - an ALIGNMENT model learns a dim x dim translation matrix M over
 *   the prior pairs: hinge on ||M e_a - e_b||_1 against corrupted
 *   partners (mtranse.py _calc_alignment);
 * - ETransE adds per-relation EVOLUTION vectors v_r over the prior
 *   pairs' linked value nodes: hinge on ||M a + v_r - b||_1
 *   (etranse.py _calc_evolve), capturing how attribute values drift
 *   between the two snapshots.
 *
 * The epoch alternates the optimizers exactly like the reference's
 * train loop (A pass, B pass, alignment pass, evolution pass). Spark
 * shape is [[MicroGrad]]'s exact step: model broadcast per epoch, sparse
 * gradients in integer micro-units, one reduce-by-row shuffle per pass,
 * only model-sized rows on the driver.
 */
object MTransE {

  /**
   * @param negRelRate relation corruptions per triple per epoch inside
   *        each per-KG TransE pass (r' != r, rejecting real triples —
   *        /root/reference/common.py:117-127; the reference passes
   *        neg_rel_rate to both KGs' samplers).
   */
  final case class Config(
      // epochs = 5: the dual-KG + alignment tiers hold their band
      // (spec) — each epoch is three hinge blocks in the DuckDB replay
      dim: Int = 16, epochs: Int = 5, lr: Double = 0.1,
      margin: Double = 1.0, negRate: Int = 2, seed: Long = 42L,
      evolve: Boolean = false, negRelRate: Int = 0)

  final case class Model(
      entA: Array[Array[Float]], entB: Array[Array[Float]],
      relA: Array[Array[Float]], relB: Array[Array[Float]],
      m: Array[Array[Float]], evolveVec: Array[Array[Float]],
      lossByEpoch: Array[Double])

  /** M v for a dim x dim row-major matrix. */
  private def matVec(m: Array[Array[Float]], v: Array[Float]): Array[Float] = {
    val out = new Array[Float](v.length)
    var i = 0
    while (i < v.length) {
      val row = m(i)
      var s = 0.0
      var j = 0
      while (j < v.length) { s += row(j).toDouble * v(j); j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    out
  }

  /**
   * @param triplesA / triplesB per-side (h, t, r)
   * @param aligned   (a, b, r) pairs for the alignment loss (record
   *                  priors with r = -1) and, when cfg.evolve, the
   *                  evolution value pairs with their relation id
   */
  def train(spark: SparkSession,
            triplesA: DataFrame, triplesB: DataFrame, aligned: DataFrame,
            nEntA: Int, nEntB: Int, nRel: Int,
            cfg: Config = Config()): Model = {
    import spark.implicits._
    val dim = cfg.dim
    // FNV-seeded init, matrix slots 0..5 — SQL-replayable,
    // order-independent
    val entA = MicroGrad.init(0, nEntA, dim, cfg.seed)
    entA.foreach(Embed.l2normalize)
    val entB = MicroGrad.init(1, nEntB, dim, cfg.seed)
    entB.foreach(Embed.l2normalize)
    val relA = MicroGrad.init(2, nRel, dim, cfg.seed)
    val relB = MicroGrad.init(3, nRel, dim, cfg.seed)
    // dim x dim alignment matrix, one row per id
    val m = MicroGrad.init(4, dim, dim, cfg.seed)
    val evolveVec = MicroGrad.init(5, nRel, dim, cfg.seed)
    // gradient rows: off(side) entities and off(2 + side) relations of
    // KG A (side 0) / B (side 1), off(4) rows of M, off(5) evolution
    val lay = new MicroGrad.Layout(entA, entB, relA, relB, m, evolveVec)

    def ds(df: DataFrame): Dataset[(Long, Long, Long)] =
      MicroGrad.epochData(df.select(col(df.columns(0)).cast("long"),
        col(df.columns(1)).cast("long"), col(df.columns(2)).cast("long"))
        .as[(Long, Long, Long)])
    val dataA = ds(triplesA); val dataB = ds(triplesB)
    val dataAl = ds(aligned)

    // per-side rejection indexes for relation corruption
    val packedA = MicroGrad.rejectionIndex(dataA, nRel.toLong, nEntA.toLong,
      cfg.negRelRate > 0)
    val packedB = MicroGrad.rejectionIndex(dataB, nRel.toLong, nEntB.toLong,
      cfg.negRelRate > 0)

    val losses = new Array[Double](cfg.epochs)

    var epoch = 0
    while (epoch < cfg.epochs) {
      val ep = epoch
      val negRate = cfg.negRate
      val negRelRate = cfg.negRelRate
      val nRelL = nRel.toLong
      val margin = cfg.margin
      val evolve = cfg.evolve

      // --- per-KG TransE pass (side = 0 for A, 1 for B) ---
      def kgPass(data: Dataset[(Long, Long, Long)], side: Int): Double = {
        val bb = spark.sparkContext.broadcast((entA, entB, relA, relB))
        val nEntL = (if (side == 0) nEntA else nEntB).toLong
        val packed = if (side == 0) packedA else packedB
        val rows = data.mapPartitions { it =>
          val (ea, eb, ra, rb) = bb.value
          val e = if (side == 0) ea else eb
          val r = if (side == 0) ra else rb
          val acc = new MicroGrad.Acc(dim)
          val sorted = packed.value
          it.foreach { case (h, t, rl) =>
            // relation corruption: (h, t, r'), rejecting real triples
            var jr = 0
            while (jr < negRelRate && nRelL > 1) {
              val rNeg = MicroGrad.corruptRel(h * 31 + t + side * 131,
                att => 0x9e3779b9L + (ep.toLong * negRelRate + jr) * 31 + att,
                h, t, rl, nRelL, nEntL, sorted)
              if (rNeg >= 0)
                MicroGrad.hinge(acc, margin, lay.off(side), lay.off(2 + side),
                  h, rl, t, rNeg, t, e(h.toInt), r(rl.toInt), e(t.toInt),
                  r(rNeg.toInt), e(t.toInt))
              jr += 1
            }
            var j = 0
            while (j < negRate) {
              val d = fnvMix(h * 31 + t + side * 131, ep.toLong * negRate + j)
              val tNeg = ((d % nEntL) + nEntL) % nEntL
              if (tNeg != t)
                MicroGrad.hinge(acc, margin, lay.off(side), lay.off(2 + side),
                  h, rl, t, rl, tNeg, e(h.toInt), r(rl.toInt), e(t.toInt),
                  r(rl.toInt), e(tNeg.toInt))
              j += 1
            }
          }
          acc.rows
        }
        val l = lay.step(rows, cfg.lr)
        bb.destroy()
        l
      }

      val lossA = kgPass(dataA, 0)
      val lossB = kgPass(dataB, 1)
      entA.foreach(Embed.l2normalize)
      entB.foreach(Embed.l2normalize)
      // sphere-project relation rows under relation corruption (each
      // receives a hinge term per same-relation triple per epoch and
      // diverges un-normalized — see TransE.train)
      if (cfg.negRelRate > 0) {
        relA.foreach(Embed.l2normalize)
        relB.foreach(Embed.l2normalize)
      }

      // --- alignment (+ evolution) pass over (a, b, r) pairs ---
      val bb = spark.sparkContext.broadcast((entA, entB, m, evolveVec))
      val nEntBL = nEntB.toLong
      val rows = dataAl.mapPartitions { it =>
        val (ea, eb, mm, ev) = bb.value
        val acc = new MicroGrad.Acc(dim)
        it.foreach { case (a, b, rl) =>
          val va = ea(a.toInt)
          val ma = matVec(mm, va)
          val vec = if (rl >= 0 && evolve) ev(rl.toInt) else null
          def score(bi: Long): Double = {
            val vb = eb(bi.toInt)
            var s = 0.0
            var i = 0
            while (i < dim) {
              val z = ma(i).toDouble +
                (if (vec != null) vec(i).toDouble else 0.0) - vb(i)
              s += math.abs(z)
              i += 1
            }
            s
          }
          var j = 0
          var negSum = 0.0
          val sigma = new Array[Double](dim) // sp - mean(sn)
          val vb = eb(b.toInt)
          var i = 0
          while (i < dim) {
            sigma(i) = math.signum(ma(i).toDouble +
              (if (vec != null) vec(i).toDouble else 0.0) - vb(i))
            i += 1
          }
          val negIds = new Array[Long](negRate)
          var nNeg = 0
          while (j < negRate) {
            val d = fnvMix(a * 53 + b, (ep.toLong + 104729) * negRate + j)
            val bNeg = ((d % nEntBL) + nEntBL) % nEntBL
            if (bNeg != b) { negIds(nNeg) = bNeg; nNeg += 1; negSum += score(bNeg) }
            j += 1
          }
          if (nNeg > 0) {
            val pos = score(b)
            val negMean = negSum / nNeg
            val l = pos - negMean + margin
            if (l > 0) {
              acc.addLoss(microQ(l))
              val inv = 1.0 / nNeg
              // effective sign vector: sigma_pos - mean_j sigma_negj —
              // exact multiples of 1/nNeg (nNeg <= 2), so every
              // contribution below micro-quantizes exactly
              val eff = new Array[Double](dim)
              i = 0
              while (i < dim) { eff(i) = sigma(i); i += 1 }
              j = 0
              while (j < nNeg) {
                val vn = eb(negIds(j).toInt)
                val gn = acc.row(lay.off(1) + negIds(j))
                i = 0
                while (i < dim) {
                  val sn = math.signum(ma(i).toDouble +
                    (if (vec != null) vec(i).toDouble else 0.0) - vn(i)) * inv
                  eff(i) -= sn
                  gn(i) += microQ(sn) // corrupted partner pushed away
                  i += 1
                }
                j += 1
              }
              val gb = acc.row(lay.off(1) + b)
              val gaRow = acc.row(a)
              val gv = if (vec != null) acc.row(lay.off(5) + rl) else null
              i = 0
              while (i < dim) {
                gb(i) -= microQ(sigma(i))
                if (gv != null) gv(i) += microQ(eff(i))
                // grad_a = M^T eff ; grad_M(row i) = eff_i * a
                var s = 0.0
                var k2 = 0
                while (k2 < dim) { s += mm(k2)(i).toDouble * eff(k2); k2 += 1 }
                gaRow(i) += microQ(s)
                val gm = acc.row(lay.off(4) + i)
                k2 = 0
                while (k2 < dim) { gm(k2) += microQ(eff(i) * va(k2)); k2 += 1 }
                i += 1
              }
            }
          }
        }
        acc.rows
      }
      val lossAl = lay.step(rows, cfg.lr)
      bb.destroy()
      entA.foreach(Embed.l2normalize)
      entB.foreach(Embed.l2normalize)
      losses(epoch) = lossA + lossB + lossAl
      epoch += 1
    }
    dataA.unpersist(); dataB.unpersist(); dataAl.unpersist()
    packedA.destroy(); packedB.destroy()
    Model(entA, entB, relA, relB, m, evolveVec, losses)
  }

  /** Cosine pair scores of M e_a vs e_b over the candidate pairs
    * ([[GraphBuild.cosinePairs]]; M is applied to each A entity row
    * once, on the driver). */
  def pairScores(spark: SparkSession, sfDir: String,
                 cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val entsA = GraphBuild.ererEntities(spark, sfDir, "A")
    val entsB = GraphBuild.ererEntities(spark, sfDir, "B")
    val nA = entsA.count().toInt
    val nB = entsB.count().toInt
    val triplesA = GraphBuild.ererTriples(spark, sfDir, "A")
    val triplesB = GraphBuild.ererTriples(spark, sfDir, "B")
    val recA = GraphBuild.recordIds(entsA)
    val recB = GraphBuild.recordIds(entsB)
    val priors = GraphBuild.priorPairs(spark, sfDir)
      .join(recA.select(col("rid").as("idA"), col("ent_id").as("a")), "idA")
      .join(recB.select(col("rid").as("idB"), col("ent_id").as("b")), "idB")
      .select(col("a"), col("b"), lit(-1L).as("r"))
    // ETransE: add the evolution value pairs with their relation ids
    val aligned = if (!cfg.evolve) priors else {
      val prefixes = GraphBuild.Relations.zipWithIndex
        .map { case (rel, rid) => (rid.toLong, s"$rel:") }
        .toDF("r", "prefix")
      val evo = GraphBuild.evolutionPairs(spark, sfDir)
        .join(broadcast(prefixes), "r")
        .join(entsA.select(col("label").as("lblA"), col("ent_id").as("a")),
          concat(col("prefix"), col("val_a")) === col("lblA"))
        .join(entsB.select(col("label").as("lblB"), col("ent_id").as("b")),
          concat(col("prefix"), col("val_b")) === col("lblB"))
        .select(col("a"), col("b"), col("r"))
      priors.unionByName(evo)
    }
    val model = train(spark, triplesA, triplesB, aligned, nA, nB,
      GraphBuild.Relations.size, cfg)
    GraphBuild.cosinePairs(spark, sfDir,
      recA, model.entA.map(matVec(model.m, _)), recB, model.entB)
  }

  /** Summary row (shared by mtranse_eval / etranse_eval): theta swept
    * on the TRAIN-split pairs only, metrics reported on the TEST split. */
  def eval(spark: SparkSession, sfDir: String,
           cfg: Config = Config()): DataFrame = {
    val all = pairScores(spark, sfDir, cfg).persist()
    val row = Splits.summary(all, lit(1.0) - col("cos"), cfg.dim, cfg.epochs)
      .select(col("dim"), col("epochs"),
        lit(if (cfg.evolve) 1L else 0L).as("evolve"), col("theta"),
        col("f1"), col("precision"), col("recall"), col("mrr"))
    all.unpersist()
    row
  }
}
