package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuild
import graft.pipe.Splits
import graft.sim.MicroGrad.{Micro, microQ}
import graft.sim.NegativeSampler.fnvMix

/**
 * KR-EAR: knowledge embedding with separate RELATIONAL and
 * ATTRIBUTIONAL encoders (/root/reference/EAR/kr_ear.py:148-224):
 *
 * - relational triples (record -> shared entity) train with the plain
 *   TransE margin loss `max(0, ||h+r-t||_1 - ||h+r-t'||_1 + m)`, one
 *   hinge per corrupted tail or relation: [[MicroGrad.hinge]];
 * - attributional triples (record -> literal value) train with
 *   `score = ||tanh(h_proj + a) - v||_1` hinged against corrupted
 *   VALUES, where `h_proj = h - (h.n_a) n_a` projects the record onto
 *   the attribute's hyperplane (kr_ear.py _attr_calc/_transfer,
 *   :151-161), and the two losses run as ALTERNATING optimizers per
 *   epoch (kr_ear.py train loop).
 *
 * Spark shape is [[MicroGrad]]'s exact step: the model (entity + value
 * + relation + attribute + projection matrices) broadcasts per epoch,
 * each loss runs one mapPartitions pass emitting sparse gradients in
 * exact integer micro-units, gradients reduce by row id in one shuffle
 * (order-independent -> bit-deterministic), and only model-sized rows
 * reach the driver. Entity/value rows re-normalize per epoch as the
 * reference normalizes per lookup.
 *
 * REPLAY DISCIPLINE (the DuckDB oracle re-runs the whole training,
 * [[graft.oracle.OracleSqlKrEar]]): FNV-seeded init
 * ([[MicroGrad.init]], matrix slots 0=ent 1=value 2=rel 3=attr
 * 4=proj), fnvMix negative draws on integer keys, explicit-double
 * per-dim chains in loop order, per-contribution micro-quantization
 * before the order-free integer reduction, float-rounded model values
 * — plus one extra rule the TransE replay doesn't need: `tanh` is NOT
 * correctly rounded and may differ by 1 ulp between the JVM and
 * DuckDB's libm, so every tanh OUTPUT is micro-quantized
 * (floor(tanh(x)*1e6+0.5)/1e6) before any downstream use, in both
 * engines.
 */
object KrEar {

  /**
   * @param negRelRate RELATION corruptions per triple per epoch, in
   *        BOTH encoders (the reference passes neg_rel_rate to
   *        get_negative_samples for the relational AND attributional
   *        triple sets, /root/reference/EAR/kr_ear.py:31-36): the
   *        relational branch corrupts `r`, the attributional branch
   *        corrupts the attribute id `a` (its vector AND hyperplane),
   *        both rejecting corrupted triples that exist.
   */
  final case class Config(
      // epochs = 5: both encoders stay in their quality band (spec);
      // the gate's replay budget prices each epoch twice (rel + attr)
      dim: Int = 16, epochs: Int = 5, lr: Double = 0.1,
      margin: Double = 1.0, negRate: Int = 2, seed: Long = 42L,
      negRelRate: Int = 0)

  final case class Model(
      ent: Array[Array[Float]], value: Array[Array[Float]],
      rel: Array[Array[Float]], attr: Array[Array[Float]],
      proj: Array[Array[Float]],
      relLoss: Array[Double], attrLoss: Array[Double])

  /** Micro-quantized tanh via `1 - 2/(exp(2x)+1)` — DuckDB v1.0 has no
    * tanh builtin, so BOTH engines compute this exact formula (exp is
    * then the only transcendental; the exp->Inf saturation limit is
    * exactly ±1, no NaN) and snap to the 1e-6 lattice so a 1-ulp libm
    * exp divergence cannot leak into scores or gradients. */
  private def tanhQ(x: Double): Double = {
    val t = 1.0 - 2.0 / (math.exp(x * 2.0) + 1.0)
    math.floor(t * Micro + 0.5) / Micro
  }

  /**
   * EAR id spaces from the ER dictionary: entities = records + targets
   * of relational triples (block/repo nodes); values = attributional
   * literals. Returns (entDict(label_ent_id -> kr id),
   * valDict, relTriples(h,t,r'), attrTriples(h,v,a')) where r'/a' are
   * densely re-indexed within their own family.
   */
  def prepare(spark: SparkSession, sfDir: String):
      (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ear = GraphBuild.earTriples(spark, sfDir).persist()
    val rels = GraphBuild.Relations
    val relIdx = GraphBuild.RelationalRels.map(r => rels.indexOf(r).toLong)
      .zipWithIndex.toMap
    val attrIdx = GraphBuild.AttributionalRels.map(r => rels.indexOf(r).toLong)
      .zipWithIndex.toMap
    val relT = ear.filter(col("is_attr") === 0)
    val attrT = ear.filter(col("is_attr") === 1)
    // entity ids: heads (records) + relational tails, densely packed —
    // distributed sort+zipWithIndex, not a single-task global window;
    // cached before the remap joins and the callers' counts read them
    val entIds = GraphBuild.denseIds(
      relT.select(col("h").as("eid"))
        .union(attrT.select(col("h").as("eid")))
        .union(relT.select(col("t").as("eid"))).distinct(),
      "eid", "kid").persist()
    val valIds = GraphBuild.denseIds(
      attrT.select(col("t").as("eid")).distinct(), "eid", "kid").persist()
    def remapRel(df: DataFrame, idx: Map[Long, Int]): DataFrame = {
      val m = typedLit(idx.map { case (k, v) => (k, v.toLong) })
      df.withColumn("rk", element_at(m, col("r")))
    }
    val relOut = remapRel(relT, relIdx)
      .join(entIds.select(col("eid").as("h"), col("kid").as("hk")), "h")
      .join(entIds.select(col("eid").as("t"), col("kid").as("tk")), "t")
      .select(col("hk").as("h"), col("tk").as("t"), col("rk").as("r"))
    val attrOut = remapRel(attrT, attrIdx)
      .join(entIds.select(col("eid").as("h"), col("kid").as("hk")), "h")
      .join(valIds.select(col("eid").as("t"), col("kid").as("vk")), "t")
      .select(col("hk").as("h"), col("vk").as("v"), col("rk").as("a"))
    // materialize the remap joins once: the trainer re-reads these per
    // persist and the dictionary windows are the expensive part
    val relP = relOut.persist(); val attrP = attrOut.persist()
    relP.count(); attrP.count()
    ear.unpersist()
    (entIds, valIds, relP, attrP)
  }

  def train(spark: SparkSession, relTriples: DataFrame,
            attrTriples: DataFrame, nEnt: Int, nVal: Int,
            cfg: Config = Config()): Model = {
    import spark.implicits._
    val nRel = GraphBuild.RelationalRels.size
    val nAttr = GraphBuild.AttributionalRels.size
    val dim = cfg.dim
    val ent = MicroGrad.init(0, nEnt, dim, cfg.seed)
    ent.foreach(Embed.l2normalize)
    val value = MicroGrad.init(1, nVal, dim, cfg.seed)
    value.foreach(Embed.l2normalize)
    val rel = MicroGrad.init(2, nRel, dim, cfg.seed)
    val attr = MicroGrad.init(3, nAttr, dim, cfg.seed)
    val proj = MicroGrad.init(4, nAttr, dim, cfg.seed)
    proj.foreach(Embed.l2normalize)
    // gradient rows: off(1) value, off(2) rel, off(3) attr, off(4) proj
    val lay = new MicroGrad.Layout(ent, value, rel, attr, proj)

    val relData = MicroGrad.epochData(relTriples.select(col("h").cast("long"),
      col("t").cast("long"), col("r").cast("long")).as[(Long, Long, Long)])
    val attrData = MicroGrad.epochData(attrTriples.select(col("h").cast("long"),
      col("v").cast("long"), col("a").cast("long")).as[(Long, Long, Long)])
    // rejection indexes for relation/attribute corruption
    val relPackedB = MicroGrad.rejectionIndex(relData, nRel.toLong,
      nEnt.toLong, cfg.negRelRate > 0)
    val attrPackedB = MicroGrad.rejectionIndex(attrData, nAttr.toLong,
      nVal.toLong, cfg.negRelRate > 0)

    val relLoss = new Array[Double](cfg.epochs)
    val attrLoss = new Array[Double](cfg.epochs)

    var epoch = 0
    while (epoch < cfg.epochs) {
      val b = spark.sparkContext.broadcast((ent, value, rel, attr, proj))
      val ep = epoch
      val negRate = cfg.negRate
      val margin = cfg.margin
      val nEntL = nEnt.toLong
      val nValL = nVal.toLong

      val negRelRate = cfg.negRelRate
      val nRelL = nRel.toLong
      val nAttrL = nAttr.toLong
      // ---- relational encoder: plain TransE over entity space ----
      val relRows = relData.mapPartitions { it =>
        val (e, _, r, _, _) = b.value
        val relSorted = relPackedB.value
        val acc = new MicroGrad.Acc(dim)
        it.foreach { case (h, t, rl) =>
          // relation corruption: (h, t, r') with r' != r, rejecting
          // real triples (seeded, replayable)
          var jr = 0
          while (jr < negRelRate && nRelL > 1) {
            val rNeg = MicroGrad.corruptRel(h * 31 + t,
              att => 0x27220a95L + (ep.toLong * negRelRate + jr) * 31 + att,
              h, t, rl, nRelL, nEntL, relSorted)
            if (rNeg >= 0)
              MicroGrad.hinge(acc, margin, lay.off(0), lay.off(2),
                h, rl, t, rNeg, t, e(h.toInt), r(rl.toInt), e(t.toInt),
                r(rNeg.toInt), e(t.toInt))
            jr += 1
          }
          var j = 0
          while (j < negRate) {
            val tNeg = {
              val d = fnvMix(h * 31 + t, ep.toLong * negRate + j)
              ((d % nEntL) + nEntL) % nEntL
            }
            if (tNeg != t)
              MicroGrad.hinge(acc, margin, lay.off(0), lay.off(2),
                h, rl, t, rl, tNeg, e(h.toInt), r(rl.toInt), e(t.toInt),
                r(rl.toInt), e(tNeg.toInt))
            j += 1
          }
        }
        acc.rows
      }
      relLoss(ep) = lay.step(relRows, cfg.lr)
      ent.foreach(Embed.l2normalize)

      // ---- attributional encoder: |tanh(h_proj + a) - v| hinge ----
      val b2 = spark.sparkContext.broadcast((ent, value, rel, attr, proj))
      val attrRows = attrData.mapPartitions { it =>
        val (e, vv, _, av, pj) = b2.value
        val acc = new MicroGrad.Acc(dim)
        // score of ||tanhQ(hp + a) - v||_1 (quantized tanh — see tanhQ)
        def attrScore(h: Array[Float], n: Array[Float], a: Array[Float],
                      v: Array[Float]): Double = {
          var hn = 0.0
          var i = 0
          while (i < dim) { hn += h(i).toDouble * n(i); i += 1 }
          var s = 0.0
          i = 0
          while (i < dim) {
            val hp = h(i).toDouble - hn * n(i)
            s += math.abs(tanhQ(hp + a(i)) - v(i))
            i += 1
          }
          s
        }
        // signed gradient of attrScore(e(h), pj(at), av(at), vv(v))
        // into the accumulators — used by the attribute-corruption
        // hinge, whose pos and neg terms live on DIFFERENT attribute
        // hyperplanes (unlike the value-corruption loop below, which
        // shares one h_proj + a for both terms)
        def accumAttrGrad(h: Long, at: Long, v: Long, sign: Double): Unit = {
          val eh = e(h.toInt); val ev = vv(v.toInt)
          val ea = av(at.toInt); val nv = pj(at.toInt)
          val gh = acc.row(h); val gv = acc.row(lay.off(1) + v)
          val ga = acc.row(lay.off(3) + at); val gp = acc.row(lay.off(4) + at)
          var hn = 0.0
          var i = 0
          while (i < dim) { hn += eh(i).toDouble * nv(i); i += 1 }
          val gHp = new Array[Double](dim)
          i = 0
          while (i < dim) {
            val hp = eh(i).toDouble - hn * nv(i)
            val z = tanhQ(hp + ea(i))
            val s = math.signum(z - ev(i))
            val dz = (1.0 - z * z) * s * sign
            gHp(i) = dz
            ga(i) += microQ(dz)
            gv(i) += microQ(-s * sign)
            i += 1
          }
          var gnd = 0.0
          i = 0
          while (i < dim) { gnd += gHp(i) * nv(i); i += 1 }
          i = 0
          while (i < dim) {
            gh(i) += microQ(gHp(i) - gnd * nv(i))
            gp(i) += microQ(-(gnd * eh(i).toDouble + hn * gHp(i)))
            i += 1
          }
        }
        val attrSorted = attrPackedB.value
        it.foreach { case (h, v, at) =>
          // attribute corruption: (h, v, a') with a' != a — corrupts
          // the attribute VECTOR and its HYPERPLANE together, rejecting
          // real (h, v, a') triples
          var jr = 0
          while (jr < negRelRate && nAttrL > 1) {
            val aNeg = MicroGrad.corruptRel(h * 37 + v,
              att => 0x5851f42dL + (ep.toLong * negRelRate + jr) * 31 + att,
              h, v, at, nAttrL, nValL, attrSorted)
            if (aNeg >= 0) {
              val eh = e(h.toInt); val ev = vv(v.toInt)
              val pos = attrScore(eh, pj(at.toInt), av(at.toInt), ev)
              val neg = attrScore(eh, pj(aNeg.toInt), av(aNeg.toInt), ev)
              val l = pos - neg + margin
              if (l > 0) {
                acc.addLoss(microQ(l))
                accumAttrGrad(h, at, v, 1.0)
                accumAttrGrad(h, aNeg, v, -1.0)
              }
            }
            jr += 1
          }
          var j = 0
          while (j < negRate) {
            val vNeg = {
              val d = fnvMix(h * 37 + v, (ep.toLong + 7919) * negRate + j)
              ((d % nValL) + nValL) % nValL
            }
            if (vNeg != v) {
              val eh = e(h.toInt); val ev = vv(v.toInt)
              val en = vv(vNeg.toInt); val ea = av(at.toInt)
              val nv = pj(at.toInt)
              val pos = attrScore(eh, nv, ea, ev)
              val neg = attrScore(eh, nv, ea, en)
              val l = pos - neg + margin
              if (l > 0) {
                acc.addLoss(microQ(l))
                val gh = acc.row(h); val gv = acc.row(lay.off(1) + v)
                val gn = acc.row(lay.off(1) + vNeg)
                val ga = acc.row(lay.off(3) + at)
                val gp = acc.row(lay.off(4) + at)
                var hn = 0.0
                var i = 0
                while (i < dim) { hn += eh(i).toDouble * nv(i); i += 1 }
                // accumulate d(loss)/d(hp) to backprop through the
                // hyperplane projection in a second pass
                val gHp = new Array[Double](dim)
                i = 0
                while (i < dim) {
                  val hp = eh(i).toDouble - hn * nv(i)
                  val z = tanhQ(hp + ea(i))
                  val sP = math.signum(z - ev(i))
                  val sN = math.signum(z - en(i))
                  val dz = 1.0 - z * z // same h_proj + a for pos and neg
                  val dHpA = dz * sP - dz * sN
                  gHp(i) = dHpA
                  ga(i) += microQ(dHpA)
                  gv(i) += microQ(-sP)
                  gn(i) += microQ(sN)
                  i += 1
                }
                // h gradient through (I - n n^T); n gradient
                var gn_dot = 0.0
                i = 0
                while (i < dim) { gn_dot += gHp(i) * nv(i); i += 1 }
                i = 0
                while (i < dim) {
                  gh(i) += microQ(gHp(i) - gn_dot * nv(i))
                  gp(i) += microQ(-(gn_dot * eh(i).toDouble + hn * gHp(i)))
                  i += 1
                }
              }
            }
            j += 1
          }
        }
        acc.rows
      }
      attrLoss(ep) = lay.step(attrRows, cfg.lr)
      ent.foreach(Embed.l2normalize)
      value.foreach(Embed.l2normalize)
      proj.foreach(Embed.l2normalize)
      // sphere-project rel/attr rows under relation corruption: each
      // receives a hinge term from every triple of its relation per
      // epoch and diverges un-normalized (see TransE.train)
      if (cfg.negRelRate > 0) {
        rel.foreach(Embed.l2normalize)
        attr.foreach(Embed.l2normalize)
      }
      b.destroy(); b2.destroy()
      epoch += 1
    }
    relData.unpersist(); attrData.unpersist()
    relPackedB.destroy(); attrPackedB.destroy()
    Model(ent, value, rel, attr, proj, relLoss, attrLoss)
  }

  /** Summary row of cosine pair scores over trained RECORD embeddings
    * (the EAR census eval shape, /root/reference/tests/ear/test_kr_ear.py):
    * theta swept on the TRAIN-split pairs only, F1/P/R and MRR reported
    * on the TEST split (never tuned on the reported set). The
    * dictionaries stay cached until the row is collected. */
  def eval(spark: SparkSession, sfDir: String,
           cfg: Config = Config()): DataFrame = {
    val (entIds, valIds, relT, attrT) = prepare(spark, sfDir)
    val model = train(spark, relT, attrT, entIds.count().toInt,
      valIds.count().toInt, cfg)
    relT.unpersist(); attrT.unpersist()
    // record rows of the ER dictionary -> kr entity ids, by join
    val recs = GraphBuild.recordIds(GraphBuild.erEntities(spark, sfDir))
      .select(col("rid"), col("ent_id").as("eid"))
      .join(entIds, "eid")
      .select(col("rid"), col("kid").as("ent_id"))
    val all = GraphBuild.cosinePairs(spark, sfDir, recs, model.ent, recs, model.ent).persist()
    val row = Splits.summary(all, lit(1.0) - col("cos"), cfg.dim, cfg.epochs)
    all.unpersist(); entIds.unpersist(); valIds.unpersist()
    row
  }
}
