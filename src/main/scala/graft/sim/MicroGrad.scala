package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

import graft.sim.NegativeSampler.fnvMix

/**
 * The one exact gradient step of the distributed trainers ([[TransE]],
 * [[KrEar]], [[MTransE]]): per pass the model is BROADCAST, each
 * partition runs the trainer's loss-and-gradient kernel over its
 * triples into an [[Acc]], the sparse gradient rows REDUCE BY MODEL ROW
 * in one shuffle, and only the reduced (model-sized) rows reach the
 * driver, which applies one float update per touched row
 * ([[Layout.step]]). [[Layout.pass]] is that whole pass, written once;
 * the trainers hand it a per-row kernel. The TransE-family loss of one
 * triple all three train is here too: [[KgLoss]] draws the tail and
 * relation corruptions and scores each with [[hinge]] (plain TransE)
 * or [[hingeH]] (TransH's tail arm). KR-EAR's attribute encoder and
 * MTransE's alignment pass keep their own kernels. This module
 * owns the replay discipline they share with the DuckDB oracles:
 *  - init is FNV-seeded per (matrix, row, dim) — [[TransE.initComponent]];
 *  - every per-triple gradient contribution is quantized to integer
 *    MICRO-UNITS ([[microQ]]) before the cross-triple sum, so the
 *    reduction is exact long addition — associative and commutative,
 *    hence order-free under any partitioning, and the trained floats
 *    bit-identical in both engines;
 *  - model values are FLOAT-rounded after each update, the same
 *    CAST(.. AS REAL) the oracles apply.
 */
object MicroGrad {

  /** Gradients ship as exact integer micro-units. */
  final val Micro = 1e6

  /** Integer micro-unit quantizer (floor(x*1e6 + 0.5), NOT rint:
    * half-up ties replay as `floor(x*1000000.0 + 0.5)` in SQL, where
    * rint's half-even would not). */
  def microQ(x: Double): Long = math.floor(x * Micro + 0.5).toLong

  /** Matrix `slot` of a trainer: `n` rows of FNV-seeded uniform init
    * ([[TransE.initComponent]]); slots are per-trainer stream ids. */
  def init(slot: Int, n: Int, dim: Int, seed: Long): Array[Array[Float]] =
    Array.tabulate(n)(row =>
      Array.tabulate(dim)(j => TransE.initComponent(slot, row, j, seed, dim)))

  /**
   * A trainer's epoch data, pinned once for the whole training.
   * Few wide partitions: each partition emits one dense gradient row
   * per model row it touches, so gradient-shuffle volume scales with
   * (partitions x touched rows) — 8 partitions keep the epoch CPU
   * parallel while bounding duplicate gradient rows; [[Layout.step]]
   * reduces at the same width, read back from the data.
   * localCheckpoint truncates the logical plan: otherwise every epoch
   * re-analyzes the full upstream lineage (dictionary windows/joins),
   * which dominates the epoch wall time.
   */
  def epochData[T](data: Dataset[T]): Dataset[T] =
    data.repartition(8).localCheckpoint()

  /**
   * Rejection index for relation corruption: the sorted packed ids
   * `(h*nRel + r)*nEnt + t` of `data`, whose first three fields are
   * (head, tail, relation). 8 bytes per triple, broadcast ONCE for the
   * whole training (the graph is the same order as the entity matrix
   * already broadcast every epoch); empty unless `enabled`.
   */
  def rejectionIndex(data: Dataset[_ <: Product], nRel: Long, nEnt: Long,
                     enabled: Boolean): Broadcast[Array[Long]] = {
    val packed =
      if (enabled)
        data.rdd.map { p =>
          val h = p.productElement(0).asInstanceOf[Long]
          val t = p.productElement(1).asInstanceOf[Long]
          val r = p.productElement(2).asInstanceOf[Long]
          (h * nRel + r) * nEnt + t
        }.collect().sorted
      else Array.emptyLongArray
    data.sparkSession.sparkContext.broadcast(packed)
  }

  /**
   * A trainer's relation-corruption stream (neg_rel_rate): for one
   * triple (h, t, r) with instance seed `seed`, `negRelRate` draws per
   * epoch. Draw `jr` of epoch `ep` is the first of up to 16 attempts
   * `c = fnvMix(seed, salt((ep * negRelRate + jr) * 31 + att)) mod nRel`
   * with `c != r` whose corrupted triple (h, t, c) is not in `index`
   * ([[rejectionIndex]], read only when `negRelRate > 0`); a draw whose
   * 16 attempts are all rejected yields nothing. The salt is the
   * trainer's own: each stream is replayed by its oracle.
   */
  final class RelCorruption(negRelRate: Int, nRel: Long, nEnt: Long,
                            salt: Long => Long, index: Broadcast[Array[Long]])
      extends Serializable {
    /** `f` of each accepted corruption r', in draw order. */
    def foreach(ep: Int, seed: Long, h: Long, t: Long, r: Long)
               (f: Long => Unit): Unit = {
      var jr = 0
      while (jr < negRelRate && nRel > 1) {
        val base = (ep.toLong * negRelRate + jr) * 31
        val packed = index.value
        var neg = -1L
        var att = 0
        while (neg < 0 && att < 16) {
          val d = fnvMix(seed, salt(base + att))
          val c = ((d % nRel) + nRel) % nRel
          if (c != r && java.util.Arrays.binarySearch(
              packed, (h * nRel + c) * nEnt + t) < 0) neg = c
          att += 1
        }
        if (neg >= 0) f(neg)
        jr += 1
      }
    }
  }

  /**
   * The plain TransE hinge `max(0, |h+r-t|_1 - |h+r'-t'|_1 + margin)`
   * of the true triple (h, r, t) against one corruption, its loss and
   * L1 subgradients added to `acc` in micro-units (exact integers: the
   * signum of a nonzero double is ±1). Entity `x` is gradient row
   * `entOff + x`, relation `x` is row `relOff + x` ([[Layout.off]]). The
   * two arms are the two corruptions:
   *  - tail (h, r, t'): pass `rNeg = r`, `ern = er`; h and r get
   *    `sp - sn`, t gets `-sp`, t' gets `+sn`;
   *  - relation (h, r', t): pass `tNeg = t`, `etn = et`; h gets
   *    `sp - sn`, t gets `sn - sp`, r gets `+sp`, r' gets `-sn`.
   * The id a corruption keeps names one gradient row, where the two
   * integer terms merge. [[KgLoss]] draws the corruptions.
   */
  def hinge(acc: Acc, margin: Double, entOff: Long, relOff: Long,
            h: Long, r: Long, t: Long, rNeg: Long, tNeg: Long,
            eh: Array[Float], er: Array[Float], et: Array[Float],
            ern: Array[Float], etn: Array[Float]): Unit = {
    val dim = eh.length
    var pos = 0.0; var neg = 0.0
    var i = 0
    while (i < dim) {
      pos += math.abs(eh(i).toDouble + er(i) - et(i))
      neg += math.abs(eh(i).toDouble + ern(i) - etn(i))
      i += 1
    }
    val l = pos - neg + margin
    if (l > 0) {
      acc.addLoss(microQ(l))
      val gh = acc.row(entOff + h); val gt = acc.row(entOff + t)
      val gtn = acc.row(entOff + tNeg)
      val gr = acc.row(relOff + r); val grn = acc.row(relOff + rNeg)
      i = 0
      while (i < dim) {
        val sp = (math.signum(eh(i).toDouble + er(i) - et(i)) * Micro).toLong
        val sn = (math.signum(eh(i).toDouble + ern(i) - etn(i)) * Micro).toLong
        gh(i) += sp - sn
        gr(i) += sp; grn(i) -= sn
        gt(i) -= sp; gtn(i) += sn
        i += 1
      }
    }
  }

  /**
   * The TransH tail hinge of (h, r, t) against (h, r, t'): each side
   * is `|v|_1` with `v = (h - t) - (w.(h - t)) w + d_r`, projected on
   * the relation's hyperplane normal `w` (d_r is `er`). Loss and
   * micro-quantized subgradients go to `acc` at rows `entOff + x`,
   * `relOff + r` and `hypOff + r` (the normal's row).
   */
  def hingeH(acc: Acc, margin: Double, entOff: Long, relOff: Long,
             hypOff: Long, h: Long, r: Long, t: Long, tNeg: Long,
             eh: Array[Float], er: Array[Float], et: Array[Float],
             en: Array[Float], w: Array[Float]): Unit = {
    val dim = eh.length
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
      acc.addLoss(microQ(l))
      var swP = 0.0; var swN = 0.0
      i = 0
      while (i < dim) {
        swP += math.signum(
          eh(i).toDouble - et(i) - wduP * w(i) + er(i)) * w(i)
        swN += math.signum(
          eh(i).toDouble - en(i) - wduN * w(i) + er(i)) * w(i)
        i += 1
      }
      val gh = acc.row(entOff + h); val gt = acc.row(entOff + t)
      val gn = acc.row(entOff + tNeg)
      val gr = acc.row(relOff + r)
      val gw = acc.row(hypOff + r)
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

  /**
   * The TransE-family margin loss of one triple (h, t, r), shared by
   * [[TransE]], KR-EAR's relational encoder and MTransE's per-KG
   * passes: `negRate` tail corruptions, each scored by [[hinge]] (or by
   * [[hingeH]] when `hyper` names a hyperplane matrix), then
   * the relation corruptions of `rels` ([[RelCorruption]]), each scored by
   * [[hinge]] (a TransH trainer has none: [[TransE.train]] refuses
   * `negRelRate > 0` with `transH`). Within a triple the order of the
   * hinges is free: [[Acc]] sums exact integers.
   *
   * The draw streams are the trainer's, each replayed by its oracle:
   * the per-triple `seed` (passed to [[apply]]) keys the tail draws
   * `fnvMix(seed, ep * negRate + j)` and the relation draws of `rels`;
   * `tailRanges` restricts a relation's tails to its own id range
   * (`cnt <= 1` draws none).
   *
   * @param ent, rel, hyper [[Layout]] slots of the entity, relation
   *        and (TransH only) hyperplane matrices
   */
  final class KgLoss(lay: Layout, ent: Int, rel: Int, hyper: Option[Int],
                     margin: Double, negRate: Int, nEnt: Long,
                     rels: RelCorruption,
                     tailRanges: Option[Array[(Long, Long)]] = None)
      extends Serializable {
    def apply(mats: Array[Array[Array[Float]]], acc: Acc, ep: Int,
              seed: Long, h: Long, t: Long, r: Long): Unit = {
      val e = mats(ent); val rm = mats(rel)
      val eh = e(h.toInt); val et = e(t.toInt); val er = rm(r.toInt)
      val entOff = lay.off(ent); val relOff = lay.off(rel)
      var j = 0
      while (j < negRate) {
        val draw = fnvMix(seed, ep.toLong * negRate + j)
        val tNeg = tailRanges match {
          case Some(rs) =>
            val (base, cnt) = rs(r.toInt)
            if (cnt <= 1L) -1L else base + (((draw % cnt) + cnt) % cnt)
          case None => ((draw % nEnt) + nEnt) % nEnt
        }
        if (tNeg >= 0 && tNeg != t) {
          val en = e(tNeg.toInt)
          hyper match {
            case None =>
              hinge(acc, margin, entOff, relOff, h, r, t, r, tNeg,
                eh, er, et, er, en)
            case Some(w) =>
              hingeH(acc, margin, entOff, relOff, lay.off(w), h, r, t, tNeg,
                eh, er, et, en, mats(w)(r.toInt))
          }
        }
        j += 1
      }
      rels.foreach(ep, seed, h, t, r) { rNeg =>
        hinge(acc, margin, entOff, relOff, h, r, t, rNeg, t,
          eh, er, et, rm(rNeg.toInt), et)
      }
    }
  }

  /**
   * One partition's sparse gradient accumulator: one micro-unit row per
   * touched model row (head- and tail-role gradients MERGE here, so
   * the driver applies exactly one update per touched row — no
   * order-dependent double-rounding of the same float row) plus the
   * micro-unit loss.
   */
  final class Acc(dim: Int) {
    private val acc = new java.util.HashMap[Long, Array[Long]]()
    private var lossMicro = 0L

    def row(id: Long): Array[Long] = {
      var v = acc.get(id)
      if (v == null) { v = new Array[Long](dim); acc.put(id, v) }
      v
    }

    def addLoss(micros: Long): Unit = lossMicro += micros

    /** The loss row at key -1 (loss in slot 0), then the touched rows. */
    def rows: Iterator[(Long, Array[Long])] = {
      import scala.jdk.CollectionConverters._
      val lossRow = new Array[Long](dim)
      lossRow(0) = lossMicro
      Iterator.single((-1L, lossRow)) ++
        acc.entrySet().asScala.iterator.map(kv => (kv.getKey, kv.getValue))
    }
  }

  /**
   * Global gradient row ids over a trainer's matrices, laid end to end
   * in argument order: row `i` of matrix `k` is `off(k) + i`. Kernels
   * capture the layout for [[off]]; only the offsets ship, the
   * matrices stay on the driver for [[step]] and reach the tasks as
   * [[pass]]'s broadcast.
   */
  final class Layout(@transient private val mats: Array[Array[Float]]*)
      extends Serializable {
    private val offs: Array[Long] = mats.scanLeft(0L)(_ + _.length).toArray
    private val dim: Int = mats.find(_.nonEmpty).fold(0)(_.head.length)

    def off(k: Int): Long = offs(k)

    /**
     * One training pass, the single broadcast-model /
     * reduce-sparse-gradient iteration: BROADCASTS the layout's
     * matrices (slot `k` is `mats(k)`), runs `kernel(mats, acc, row)`
     * over every row of `data`, one fresh [[Acc]] per partition, then
     * [[step]]s at `lr`, destroys the broadcast and returns the pass's
     * loss.
     */
    def pass[T](data: Dataset[T], lr: Double)
               (kernel: (Array[Array[Array[Float]]], Acc, T) => Unit): Double = {
      val b = data.sparkSession.sparkContext.broadcast(mats.toArray)
      val width = dim
      try step(data.rdd.mapPartitions { it =>
          val m = b.value
          val acc = new Acc(width)
          it.foreach(kernel(m, acc, _))
          acc.rows
        }, lr)
      finally b.destroy()
    }

    /**
     * ONE shuffle: exact element-wise long sums per model row — RDD
     * reduceByKey at the epoch data's own width (map-side combine, no
     * session-wide encoder shuffle); long sums are commutative and
     * associative, so the reduced values are bit-identical under any
     * partitioning. Applies `x = x - lr * g` to each touched row
     * exactly once, float-rounded, and returns the pass's loss.
     */
    private def step(grads: RDD[(Long, Array[Long])], lr: Double): Double = {
      val reduced = grads.reduceByKey({ (a, b) =>
        val s = new Array[Long](a.length)
        var i = 0
        while (i < s.length) { s(i) = a(i) + b(i); i += 1 }
        s
      }, grads.getNumPartitions).collect()
      var loss = 0.0
      reduced.foreach { case (id, gv) =>
        if (id == -1L) loss = gv(0) / Micro
        else {
          var k = 0
          while (k + 1 < mats.length && id >= offs(k + 1)) k += 1
          val target = mats(k)((id - offs(k)).toInt)
          var i = 0
          while (i < target.length) {
            target(i) =
              (target(i).toDouble - lr * (gv(i).toDouble / Micro)).toFloat
            i += 1
          }
        }
      }
      loss
    }
  }
}
