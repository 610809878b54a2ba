package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipe.Splits

/**
 * Distributed TransE trainer (SURVEY.md §7.4 v2): margin ranking loss
 * `max(0, ||h+r-t||_1 - ||h+r-t'||_1 + margin)` with L1 subgradients —
 * the reference's objective (/root/reference/ER/transe.py:76-108) —
 * trained as parameter-averaged SGD: per epoch the weight matrices are
 * BROADCAST, each partition accumulates sparse gradients over its
 * triples with HASH-seeded (replayable) negative tail corruption
 * (/root/reference/common.py:72-129), gradients REDUCE BY MODEL ROW in
 * one shuffle (exact integer micro-units, so the reduction is
 * order-independent and the training bit-deterministic), and only the
 * reduced model-sized rows reach the driver, which applies the update
 * + L2-normalizes entity rows (/root/reference/ER/transe.py:41-44).
 *
 * Scale shape: broadcast size is O(|entities| x dim) — the model, not
 * the data; gradient traffic is one shuffle of touched-row gradients
 * per epoch and the driver holds nothing data-sized. Embedding quality
 * mirrors the reference's TransE tier (F1 0.2-0.6), far below the
 * string+cosine flagship — kept for operator parity, not as the
 * decision path.
 *
 * REPLAY DISCIPLINE (the DuckDB oracle re-runs the whole training,
 * [[graft.oracle.OracleSqlTransE]]):
 *  - init is FNV-seeded per (matrix, row, dim) — [[initComponent]] —
 *    not a sequential java.util.Random stream;
 *  - all per-dim arithmetic is EXPLICIT DOUBLE with left-to-right
 *    accumulation order (the SQL unrolls the same literal chains);
 *  - every per-triple gradient contribution is quantized to integer
 *    MICRO-UNITS before the cross-triple sum, so the reduction is
 *    exact integer addition — order-free in both engines (for plain
 *    TransE the contributions are signum sums, already integers; the
 *    floor(x*1e6+0.5) quantizer only matters for TransH);
 *  - model values are FLOAT-rounded after each update/normalize —
 *    IEEE round-to-nearest, the same CAST(.. AS REAL) the oracle
 *    applies — so both engines walk the identical float lattice.
 *
 * Negative sampling can be restricted PER RELATION via
 * [[Config.tailRanges]]: corrupted tails are drawn from the relation's
 * own id range, the RLTransE scheme where each relation owns a value
 * vocabulary (/root/reference/VEG/rltranse.py:33-53).
 */
object TransE {

  /**
   * @param normalizeRel L2-normalize relation rows per epoch, as the
   *        reference normalizes every relation lookup
   *        (/root/reference/VEG/rltranse.py:93-98 l2_normalize(pos_r)) —
   *        without it a frequently-hit relation's vector grows without
   *        bound under full-batch hinge gradients.
   * @param negRelRate RELATION corruptions per triple per epoch on top
   *        of the `negRate` tail corruptions: a seeded draw of
   *        `r' != r` whose corrupted triple `(h, t, r')` does not exist
   *        in the graph (rejection against a broadcast packed-triple
   *        index) — the reference's `neg_rel_rate`
   *        (/root/reference/common.py:117-127).
   */
  // epochs = 6: the graph-only TransE/TransH tiers plateau inside the
  // reference's published F1 band (0.21-0.58, BASELINE.md §2) well
  // before 10 epochs, and every epoch is ~10% of the trainer's full
  // DuckDB replay — the driver correctness gate's wall-clock budget
  // (VERIFY_BUDGET.json) prices each one
  final case class Config(
      dim: Int = 16, epochs: Int = 6, lr: Double = 0.1,
      margin: Double = 1.0, negRate: Int = 2, seed: Long = 42L,
      transH: Boolean = false,
      tailRanges: Option[Array[(Long, Long)]] = None,
      normalizeRel: Boolean = false,
      negRelRate: Int = 0)

  final case class Model(ent: Array[Array[Float]], rel: Array[Array[Float]],
                         wRel: Array[Array[Float]],
                         lossByEpoch: Array[Double])

  /** Seeded mix shared with the sampler oracles — the ONE hash stream
    * the DuckDB side already replays ([[NegativeSampler.fnvMix]] /
    * OracleSql.fnvMixChainW). */
  private def mix(a: Long, b: Long): Long = NegativeSampler.fnvMix(a, b)

  /** Salt separating the relation-corruption draw stream from the tail
    * stream (same `mix`, disjoint y inputs) — shared verbatim with the
    * DuckDB replay. */
  private[graft] final val RelCorruptSalt = 0x517cc1b727220a95L

  /** grid_transe axes — single-sourced into SparkEntry's sweep and the
    * DuckDB grid replay ([[graft.oracle.OracleSqlTransE.gridTranse]]). */
  final val GridDims = Seq(8, 16)
  final val GridNegRel = Seq(0, 1)

  /**
   * FNV-seeded uniform init in [-bound, bound): matrix `matId` (8
   * per-trainer stream slots: TransE uses 0=ent, 1=rel, 2=wRel; KrEar
   * 0..4; MTransE its own set) row `row` dim `j`, bound = 6/sqrt(dim)
   * (the reference's Xavier-style range,
   * /root/reference/ER/transe.py:33-36). A pure function of its
   * arguments — SQL-replayable and independent of init ORDER, unlike
   * the java.util.Random stream it replaces.
   */
  private[graft] def initComponent(matId: Int, row: Int, j: Int,
                                   seed: Long, dim: Int): Float = {
    // stream packing allots 3 bits to matId and 6 to j: past those
    // bounds the (seed, j) streams of ADJACENT seeds would silently
    // alias, weakening init independence (ADVICE r4)
    require(j < 64 && dim <= 64, s"init stream packing needs dim <= 64 (dim=$dim)")
    require(matId < 8, s"init stream packing needs matId < 8 (matId=$matId)")
    val h = mix(row.toLong * 8L + matId, seed * 64L + j)
    val u = (h >>> 11).toDouble / 9007199254740992.0
    ((u * 2.0 - 1.0) * (6.0 / math.sqrt(dim))).toFloat
  }

  /** Gradients ship as exact integer micro-units: long addition is
    * associative+commutative, so the shuffle reduction is
    * order-independent and training deterministic. */
  private final val Micro = 1e6

  /** Integer micro-unit quantizer (floor(x*1e6 + 0.5), NOT rint:
    * half-up ties replay as `floor(x*1000000.0 + 0.5)` in SQL, where
    * rint's half-even would not). */
  private def microQ(x: Double): Long = math.floor(x * Micro + 0.5).toLong

  /**
   * @param triples (h, t, r, idx) with dense ids in [0, nEnt) /
   *                [0, nRel); `idx` is any deterministic instance-unique
   *                long used to seed that instance's negative samples
   *                (duplicate (h,t,r) instances with different idx draw
   *                DIFFERENT negatives, as the reference's per-instance
   *                sampler does). [[packedIdx]] is the replayable choice.
   */
  def train(spark: SparkSession, triples: DataFrame, nEnt: Int, nRel: Int,
            cfg: Config = Config()): Model = {
    import spark.implicits._
    def init(matId: Int, n: Int) = Array.tabulate(n)(row =>
      Array.tabulate(cfg.dim)(j => initComponent(matId, row, j, cfg.seed,
        cfg.dim)))
    val ent = init(0, nEnt)
    ent.foreach(Embed.l2normalize)
    val rel = init(1, nRel)
    // TransH per-relation hyperplane normals (unit length,
    // /root/reference/ER/transh.py:114-122)
    val wRel = init(2, nRel)
    wRel.foreach(Embed.l2normalize)
    // Few wide partitions: each partition emits one dense gradient row
    // per entity it touches, so gradient-shuffle volume scales with
    // (partitions x touched entities) — 8 partitions keeps the epoch
    // CPU parallel while bounding duplicate gradient rows.
    // localCheckpoint truncates the logical plan: otherwise every epoch
    // re-analyzes the full upstream lineage (dictionary windows/joins),
    // which dominates the epoch wall time.
    val data = triples.select(col("h").cast("long"), col("t").cast("long"),
      col("r").cast("long"), col("idx").cast("long"))
      .as[(Long, Long, Long, Long)].repartition(8).localCheckpoint()
    // Packed-triple rejection index for relation corruption: 8 bytes
    // per triple, broadcast ONCE for the whole training (the graph is
    // O(records x fields) — the same order as the entity matrix already
    // broadcast every epoch).
    val nEntL0 = nEnt.toLong; val nRelL0 = nRel.toLong
    val packedTriples: Array[Long] =
      if (cfg.negRelRate > 0)
        data.map { case (h, t, r, _) => (h * nRelL0 + r) * nEntL0 + t }
          .collect().sorted
      else Array.emptyLongArray
    val packedB = spark.sparkContext.broadcast(packedTriples)
    val losses = new Array[Double](cfg.epochs)

    var epoch = 0
    while (epoch < cfg.epochs) {
      val entB = spark.sparkContext.broadcast((ent, rel, wRel))
      val ep = epoch
      val dim = cfg.dim
      val margin = cfg.margin
      val negRate = cfg.negRate
      val negRelRate = cfg.negRelRate
      val transH = cfg.transH
      val tailRanges = cfg.tailRanges
      val nEntL = nEnt.toLong
      val nRelL = nRel.toLong
      // per-partition sparse gradients + loss, as micro-unit long rows;
      // keys: entity id in [0, nEnt); relation row at nEnt + r;
      // hyperplane row at nEnt + nRel + r; loss at -1. One key per
      // model row (head- and tail-role gradients MERGE here), so the
      // driver applies exactly one update per touched row — no
      // order-dependent double-rounding of the same float row.
      val grads = data.mapPartitions { it =>
        val (e, r, wv) = entB.value
        val sortedPacked = packedB.value
        val acc = new java.util.HashMap[Long, Array[Long]]()
        var lossMicro = 0L
        def g(id: Long): Array[Long] = {
          var v = acc.get(id)
          if (v == null) { v = new Array[Long](dim); acc.put(id, v) }
          v
        }
        it.foreach { case (h, t, rl, idx) =>
          var j = 0
          while (j < negRate) {
            val draw = mix(idx, ep.toLong * negRate + j)
            val tNeg = tailRanges match {
              case Some(rs) =>
                val (base, cnt) = rs(rl.toInt)
                if (cnt <= 1L) -1L else base + (((draw % cnt) + cnt) % cnt)
              case None => ((draw % nEntL) + nEntL) % nEntL
            }
            if (tNeg >= 0 && tNeg != t) {
              val eh = e(h.toInt); val et = e(t.toInt)
              val en = e(tNeg.toInt); val er = r(rl.toInt)
              if (!transH) {
                var pos = 0.0; var neg = 0.0
                var i = 0
                while (i < dim) {
                  pos += math.abs(eh(i).toDouble + er(i) - et(i))
                  neg += math.abs(eh(i).toDouble + er(i) - en(i))
                  i += 1
                }
                val l = pos - neg + margin
                if (l > 0) {
                  lossMicro += microQ(l)
                  val gh = g(h); val gt = g(t); val gn = g(tNeg)
                  val gr = g(nEntL + rl)
                  i = 0
                  while (i < dim) {
                    // exact integers: signum of nonzero doubles is ±1
                    val sp = math.signum(eh(i).toDouble + er(i) - et(i))
                    val sn = math.signum(eh(i).toDouble + er(i) - en(i))
                    val d = ((sp - sn) * Micro).toLong
                    gh(i) += d; gr(i) += d
                    gt(i) -= (sp * Micro).toLong
                    gn(i) += (sn * Micro).toLong
                    i += 1
                  }
                }
              } else {
                // TransH: v = (h - t) - (w.(h - t)) w + d_r, L1 margin
                val w = wv(rl.toInt)
                var wduP = 0.0; var wduN = 0.0
                var i = 0
                while (i < dim) {
                  wduP += w(i).toDouble * (eh(i).toDouble - et(i))
                  wduN += w(i).toDouble * (eh(i).toDouble - en(i))
                  i += 1
                }
                var pos = 0.0; var neg = 0.0
                i = 0
                while (i < dim) {
                  pos += math.abs(eh(i).toDouble - et(i) - wduP * w(i) + er(i))
                  neg += math.abs(eh(i).toDouble - en(i) - wduN * w(i) + er(i))
                  i += 1
                }
                val l = pos - neg + margin
                if (l > 0) {
                  lossMicro += microQ(l)
                  var swP = 0.0; var swN = 0.0
                  i = 0
                  while (i < dim) {
                    swP += math.signum(
                      eh(i).toDouble - et(i) - wduP * w(i) + er(i)) * w(i)
                    swN += math.signum(
                      eh(i).toDouble - en(i) - wduN * w(i) + er(i)) * w(i)
                    i += 1
                  }
                  val gh = g(h); val gt = g(t); val gn = g(tNeg)
                  val gr = g(nEntL + rl)
                  val gw = g(nEntL + nRelL + rl)
                  i = 0
                  while (i < dim) {
                    val sp = math.signum(
                      eh(i).toDouble - et(i) - wduP * w(i) + er(i))
                    val sn = math.signum(
                      eh(i).toDouble - en(i) - wduN * w(i) + er(i))
                    val projP = sp - swP * w(i)
                    val projN = sn - swN * w(i)
                    gh(i) += microQ(projP - projN)
                    gt(i) -= microQ(projP)
                    gn(i) += microQ(projN)
                    gr(i) += microQ(sp - sn)
                    gw(i) += microQ(-(swP * (eh(i).toDouble - et(i)) + wduP * sp)
                      + (swN * (eh(i).toDouble - en(i)) + wduN * sn))
                    i += 1
                  }
                }
              }
            }
            j += 1
          }
          // relation corruption (neg_rel_rate): (h, t, r') negatives
          // with r' != r and (h, t, r') not a real triple (seeded
          // rejection against the broadcast packed index)
          var jr = 0
          while (jr < negRelRate && nRelL > 1) {
            var rNeg = -1L
            var att = 0
            while (rNeg < 0 && att < 16) {
              val d = mix(idx,
                RelCorruptSalt ^ (ep.toLong * negRelRate + jr) * 31 + att)
              val c = ((d % nRelL) + nRelL) % nRelL
              if (c != rl && java.util.Arrays.binarySearch(
                  sortedPacked, (h * nRelL + c) * nEntL + t) < 0) rNeg = c
              att += 1
            }
            if (rNeg >= 0) {
              val eh = e(h.toInt); val et = e(t.toInt)
              val er = r(rl.toInt); val ern = r(rNeg.toInt)
              if (!transH) {
                var pos = 0.0; var neg = 0.0
                var i = 0
                while (i < dim) {
                  pos += math.abs(eh(i).toDouble + er(i) - et(i))
                  neg += math.abs(eh(i).toDouble + ern(i) - et(i))
                  i += 1
                }
                val l = pos - neg + margin
                if (l > 0) {
                  lossMicro += microQ(l)
                  val gh = g(h); val gt = g(t)
                  val gr = g(nEntL + rl); val grn = g(nEntL + rNeg)
                  i = 0
                  while (i < dim) {
                    val sp = math.signum(eh(i).toDouble + er(i) - et(i))
                    val sn = math.signum(eh(i).toDouble + ern(i) - et(i))
                    val d = ((sp - sn) * Micro).toLong
                    gh(i) += d; gt(i) -= d
                    gr(i) += (sp * Micro).toLong
                    grn(i) -= (sn * Micro).toLong
                    i += 1
                  }
                }
              } else {
                // TransH with relation-corrupted negative: pos uses
                // (w_r, d_r), neg uses (w_r', d_r') on the SAME (h, t)
                val w = wv(rl.toInt); val w2 = wv(rNeg.toInt)
                var wduP = 0.0; var wduN = 0.0
                var i = 0
                while (i < dim) {
                  wduP += w(i).toDouble * (eh(i).toDouble - et(i))
                  wduN += w2(i).toDouble * (eh(i).toDouble - et(i))
                  i += 1
                }
                var pos = 0.0; var neg = 0.0
                i = 0
                while (i < dim) {
                  pos += math.abs(eh(i).toDouble - et(i) - wduP * w(i) + er(i))
                  neg += math.abs(eh(i).toDouble - et(i) - wduN * w2(i) + ern(i))
                  i += 1
                }
                val l = pos - neg + margin
                if (l > 0) {
                  lossMicro += microQ(l)
                  var swP = 0.0; var swN = 0.0
                  i = 0
                  while (i < dim) {
                    swP += math.signum(
                      eh(i).toDouble - et(i) - wduP * w(i) + er(i)) * w(i)
                    swN += math.signum(
                      eh(i).toDouble - et(i) - wduN * w2(i) + ern(i)) * w2(i)
                    i += 1
                  }
                  val gh = g(h); val gt = g(t)
                  val gr = g(nEntL + rl); val grn = g(nEntL + rNeg)
                  val gw = g(nEntL + nRelL + rl)
                  val gw2 = g(nEntL + nRelL + rNeg)
                  i = 0
                  while (i < dim) {
                    val sp = math.signum(
                      eh(i).toDouble - et(i) - wduP * w(i) + er(i))
                    val sn = math.signum(
                      eh(i).toDouble - et(i) - wduN * w2(i) + ern(i))
                    val projP = sp - swP * w(i)
                    val projN = sn - swN * w2(i)
                    gh(i) += microQ(projP - projN)
                    gt(i) -= microQ(projP - projN)
                    gr(i) += (sp * Micro).toLong
                    grn(i) -= (sn * Micro).toLong
                    gw(i) += microQ(-(swP * (eh(i).toDouble - et(i)) + wduP * sp))
                    gw2(i) += microQ(swN * (eh(i).toDouble - et(i)) + wduN * sn)
                    i += 1
                  }
                }
              }
            }
            jr += 1
          }
        }
        import scala.jdk.CollectionConverters._
        val lossRow = {
          val a = new Array[Long](dim)
          a(0) = lossMicro
          (-1L, a)
        }
        Iterator.single(lossRow) ++
          acc.entrySet().asScala.iterator.map(kv => (kv.getKey, kv.getValue))
      }
      // ONE shuffle: exact element-wise long sums per model row; only
      // the reduced (model-sized) rows reach the driver. RDD
      // reduceByKey at the trainer's own width (8) instead of the
      // typed groupByKey path: map-side combine plus 8 reduce tasks
      // per epoch, not a session-wide 64-partition encoder shuffle —
      // long sums are commutative/associative, so the reduced values
      // are bit-identical under any partitioning.
      val reduced = grads.rdd.reduceByKey({ (a, b) =>
        val s = new Array[Long](a.length)
        var i = 0
        while (i < s.length) { s(i) = a(i) + b(i); i += 1 }
        s
      }, 8).collect()

      reduced.foreach { case (id, gv) =>
        if (id == -1L) losses(epoch) = gv(0) / Micro
        else {
          val target =
            if (id < nEntL) ent(id.toInt)
            else if (id < nEntL + nRelL) rel((id - nEntL).toInt)
            else wRel((id - nEntL - nRelL).toInt)
          var i = 0
          while (i < cfg.dim) {
            target(i) =
              (target(i).toDouble - cfg.lr * (gv(i).toDouble / Micro)).toFloat
            i += 1
          }
        }
      }
      ent.foreach(Embed.l2normalize)
      // forced under relation corruption: every relation row receives
      // a hinge term from EVERY triple of that relation per epoch
      // (O(triples/nRel) gradients on nRel rows), which diverges
      // un-normalized — the reference l2-normalizes every relation
      // lookup (/root/reference/VEG/rltranse.py:93-98)
      if (cfg.normalizeRel || cfg.negRelRate > 0)
        rel.foreach(Embed.l2normalize)
      if (cfg.transH) wRel.foreach(Embed.l2normalize)
      entB.destroy()
      epoch += 1
    }
    data.unpersist()
    packedB.destroy()
    Model(ent, rel, wRel, losses)
  }

  /** The replayable per-instance seed: the packed triple id
    * `(h*nRel + r)*nEnt + t` — unique because the graph's (h, t, r)
    * facts are distinct, and bounded integer arithmetic the DuckDB
    * oracle reproduces exactly (the round-3 xxhash64 seed was opaque
    * to SQL). Overflows 64 bits only past ~2^24 entities x 2^16
    * relations — far beyond the driver-collectable model size this
    * trainer already requires. */
  private[graft] def packedIdx(nEnt: Long, nRel: Long) =
    (col("h") * nRel + col("r")) * nEnt + col("t")

  /**
   * End-to-end TransE linkage eval over the ER graph: train, attach
   * record entity ids by JOIN (the id map is data-sized — it never
   * lands on the driver), broadcast the trained entity matrix,
   * cosine-score candidate pairs in mapPartitions, sweep the threshold,
   * report test F1/MRR.
   */
  def pairScores(spark: SparkSession, sfDir: String,
                 cfg: Config = Config()): DataFrame = {
    // train-once memo (the reference freezes one fit per experiment
    // family): transe_eval, htranse_eval and the grid cells that share
    // a config share one training + scoring pass. tailRanges carries an
    // array (unstable toString), so the key uses the scalar fields; the
    // ER eval path never sets it.
    require(cfg.tailRanges.isEmpty,
      "pairScores is the ER-graph path; per-relation tail ranges " +
        "belong to the RLTransE batch path")
    graft.EntryStages.memo(spark, sfDir,
      s"transe_pairs:${cfg.dim}:${cfg.epochs}:${cfg.lr}:${cfg.margin}:" +
        s"${cfg.negRate}:${cfg.seed}:${cfg.transH}:${cfg.normalizeRel}:" +
        s"${cfg.negRelRate}") {
      pairScoresUncached(spark, sfDir, cfg)
    }
  }

  private def pairScoresUncached(spark: SparkSession, sfDir: String,
                                 cfg: Config): DataFrame = {
    import spark.implicits._
    val ents = graft.graph.GraphBuild.erEntities(spark, sfDir)
    val nEnt = ents.count().toInt
    val nRel = graft.graph.GraphBuild.Relations.size
    val triples = graft.graph.GraphBuild.erTriples(spark, sfDir)
      .withColumn("idx", packedIdx(nEnt.toLong, nRel.toLong))
    val model = train(spark, triples, nEnt, nRel, cfg)
    // record label -> entity id resolved by join, not a driver map
    val recEnt = ents.filter(col("label").rlike("^r[0-9]+$"))
      .select(substring(col("label"), 2, 20).cast("long").as("rid"),
        col("ent_id"))
    val entB = spark.sparkContext.broadcast(model.ent)
    graft.EntryStages.cand(spark, sfDir)
      .select(col("idA"), col("idB"), col("block_key"),
        (col("dni_a") === col("dni_b")).cast("long").as("label"),
        col("split_a"), col("split_b"))
      .join(recEnt.select(col("rid").as("idA"), col("ent_id").as("entA")), "idA")
      .join(recEnt.select(col("rid").as("idB"), col("ent_id").as("entB")), "idB")
      .select(col("idA"), col("idB"), col("block_key"), col("entA"),
        col("entB"), col("label"), col("split_a"), col("split_b"))
      .as[(Long, Long, String, Long, Long, Long, String, String)]
      .mapPartitions { it =>
        val e = entB.value
        it.map { case (a, b, bk, ea, eb, lbl, sa, sb) =>
          (a, b, bk, Embed.cosine(e(ea.toInt), e(eb.toInt)), lbl, sa, sb)
        }
      }.toDF("idA", "idB", "block_key", "cos", "label",
        "split_a", "split_b")
  }

  /** Summary row: theta swept on the TRAIN-split pairs only, F1/MRR
    * reported on the TEST split (never tuned on the reported set). */
  def eval(spark: SparkSession, sfDir: String,
           cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val all = pairScores(spark, sfDir, cfg) // memo-persisted
    val dist = lit(1.0) - col("cos")
    val theta = Splits.theta(all, dist, col("label"))
    val m = Splits.testEval(all, dist, col("label"), theta).head()
    Seq((cfg.dim.toLong, cfg.epochs.toLong, theta,
      m.getAs[Double]("f1"), m.getAs[Double]("precision"),
      m.getAs[Double]("recall"), m.getAs[Double]("mrr")))
      .toDF("dim", "epochs", "theta", "f1", "precision", "recall", "mrr")
  }
}
