package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipe.Splits
import graft.sim.NegativeSampler.fnvMix

/**
 * Distributed TransE trainer (SURVEY.md §7.4 v2): margin ranking loss
 * `max(0, ||h+r-t||_1 - ||h+r-t'||_1 + margin)` with L1 subgradients —
 * the reference's objective (/root/reference/ER/transe.py:76-108) —
 * trained as parameter-averaged SGD through [[MicroGrad]]'s exact step:
 * per epoch the weight matrices are BROADCAST, each partition
 * accumulates sparse gradients over its triples with HASH-seeded
 * (replayable) negative tail corruption
 * (/root/reference/common.py:72-129), gradients REDUCE BY MODEL ROW in
 * one shuffle, and only the reduced model-sized rows reach the driver,
 * which applies the update + L2-normalizes entity rows
 * (/root/reference/ER/transe.py:41-44).
 *
 * Scale shape: broadcast size is O(|entities| x dim) — the model, not
 * the data; gradient traffic is one shuffle of touched-row gradients
 * per epoch and the driver holds nothing data-sized. Embedding quality
 * mirrors the reference's TransE tier (F1 0.2-0.6), far below the
 * string+cosine flagship — kept for operator parity, not as the
 * decision path.
 *
 * REPLAY DISCIPLINE (the DuckDB oracle re-runs the whole training,
 * [[graft.oracle.OracleSqlTransE]]): [[MicroGrad]]'s FNV-seeded init
 * ([[initComponent]], not a sequential java.util.Random stream),
 * micro-unit gradients and float-rounded updates, plus:
 *  - all per-dim arithmetic is EXPLICIT DOUBLE with left-to-right
 *    accumulation order (the SQL unrolls the same literal chains);
 *  - for plain TransE ([[MicroGrad.hinge]]) the gradient contributions
 *    are signum sums, already integers; the floor(x*1e6+0.5) quantizer
 *    only matters for TransH ([[MicroGrad.hingeH]]);
 *  - model values are also FLOAT-rounded after each normalize, so both
 *    engines walk the identical float lattice.
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
   *        Plain TransE only: [[train]] refuses `transH` with
   *        `negRelRate > 0`, since TransH trains (and its oracle
   *        replays) tail corruptions only.
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

  /** Salt separating the relation-corruption draw stream from the tail
    * stream (same [[NegativeSampler.fnvMix]] — the ONE hash stream the
    * DuckDB side replays, OracleSql.fnvMixChainW — disjoint y inputs),
    * shared verbatim with the DuckDB replay. */
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
    val h = fnvMix(row.toLong * 8L + matId, seed * 64L + j)
    val u = (h >>> 11).toDouble / 9007199254740992.0
    ((u * 2.0 - 1.0) * (6.0 / math.sqrt(dim))).toFloat
  }

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
    require(!(cfg.transH && cfg.negRelRate > 0),
      "TransE.train: TransH trains on tail corruptions only; " +
        s"negRelRate must be 0 with transH (got ${cfg.negRelRate})")
    import spark.implicits._
    val ent = MicroGrad.init(0, nEnt, cfg.dim, cfg.seed)
    ent.foreach(Embed.l2normalize)
    val rel = MicroGrad.init(1, nRel, cfg.dim, cfg.seed)
    // TransH per-relation hyperplane normals (unit length,
    // /root/reference/ER/transh.py:114-122)
    val wRel = MicroGrad.init(2, nRel, cfg.dim, cfg.seed)
    wRel.foreach(Embed.l2normalize)
    // gradient rows: entity id in [0, nEnt); relation row at off(1) + r;
    // hyperplane row at off(2) + r
    val lay = new MicroGrad.Layout(ent, rel, wRel)
    val data = MicroGrad.epochData(triples.select(col("h").cast("long"),
      col("t").cast("long"), col("r").cast("long"), col("idx").cast("long"))
      .as[(Long, Long, Long, Long)])
    val packedB = MicroGrad.rejectionIndex(data, nRel.toLong, nEnt.toLong,
      cfg.negRelRate > 0)
    val loss = new MicroGrad.KgLoss(lay, ent = 0, rel = 1,
      hyper = if (cfg.transH) Some(2) else None, cfg.margin, cfg.negRate,
      nEnt.toLong, new MicroGrad.RelCorruption(cfg.negRelRate, nRel.toLong,
        nEnt.toLong, RelCorruptSalt ^ _, packedB), cfg.tailRanges)
    val losses = new Array[Double](cfg.epochs)

    var epoch = 0
    while (epoch < cfg.epochs) {
      val ep = epoch
      losses(epoch) = lay.pass(data, cfg.lr) { case (m, acc, (h, t, r, idx)) =>
        loss(m, acc, ep, idx, h, t, r)
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
   * End-to-end TransE linkage eval over the ER graph: train, then
   * cosine-score the candidate pairs over the trained entity matrix
   * ([[graft.graph.GraphBuild.cosinePairs]]; the record id map is
   * joined, never collected): (idA, idB, block_key, cos, label,
   * split_a, split_b).
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
    val ents = graft.graph.GraphBuild.erEntities(spark, sfDir)
    val nEnt = ents.count().toInt
    val nRel = graft.graph.GraphBuild.Relations.size
    val triples = graft.graph.GraphBuild.erTriples(spark, sfDir)
      .withColumn("idx", packedIdx(nEnt.toLong, nRel.toLong))
    val model = train(spark, triples, nEnt, nRel, cfg)
    val recEnt = graft.graph.GraphBuild.recordIds(ents)
    graft.graph.GraphBuild.cosinePairs(spark, sfDir, recEnt, model.ent, recEnt, model.ent)
  }

  /** Summary row: theta swept on the TRAIN-split pairs only, F1/MRR
    * reported on the TEST split (never tuned on the reported set). */
  def eval(spark: SparkSession, sfDir: String,
           cfg: Config = Config()): DataFrame =
    Splits.summary(pairScores(spark, sfDir, cfg), // memo-persisted
      lit(1.0) - col("cos"), cfg.dim, cfg.epochs)
}
