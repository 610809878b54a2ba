package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ckpt.ModelIO
import graft.sim.RLTransE

/**
 * Trained-model save/restore (the reference's TF `Saver` semantics:
 * train once, freeze, restore per experiment —
 * /root/reference/werl.py:364-374,
 * /root/reference/tests/test_werl.py:52-59). A restored model must be
 * BIT-IDENTICAL to the trained one, so every consumer (eval, WERL,
 * export) scores the same pairs to the same values. A save damaged
 * part-way (a failed write, a lost `_SUCCESS`, a torn commit record)
 * is retrained, never restored.
 */
class ModelIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // small config keeps the spec fast; determinism is seeded
  private val cfg = RLTransE.Config(dim = 8, epochs = 12)

  test("RLTransE model round-trips bit-exactly through parquet") {
    TempRoot("graft-model") { dir =>
      val trained = RLTransE.train(spark, SparkTestSession.sf0001, cfg)
      ModelIO.saveRLTransE(spark, dir, trained, "fp-test")
      val restored = ModelIO.loadRLTransE(spark, dir)
      assert(restored.maxValCount == trained.maxValCount)
      assert(restored.vocab.toSeq == trained.vocab.toSeq)
      assert(restored.lossByEpoch.toSeq == trained.lossByEpoch.toSeq)
      assert(restored.ent.length == trained.ent.length &&
        restored.rel.length == trained.rel.length)
      // bit-exact: java.util.Arrays equality on every row
      assert(restored.ent.indices.forall(i =>
        java.util.Arrays.equals(restored.ent(i), trained.ent(i))))
      assert(restored.rel.indices.forall(i =>
        java.util.Arrays.equals(restored.rel(i), trained.rel(i))))
    }
  }

  test("restored model scores candidate pairs identically to the trained one") {
    TempRoot("graft-model") { dir =>
      val trained = RLTransE.train(spark, SparkTestSession.sf0001, cfg)
      ModelIO.saveRLTransE(spark, dir, trained, "fp-test")
      val restored = ModelIO.loadRLTransE(spark, dir)
      // every scored field of every candidate pair
      val a = RLTransE.fieldScores(spark, SparkTestSession.sf0001, trained,
        testOnly = false).orderBy("idA", "idB").collect()
      val b = RLTransE.fieldScores(spark, SparkTestSession.sf0001, restored,
        testOnly = false).orderBy("idA", "idB").collect()
      assert(a.length == b.length && a.nonEmpty)
      assert(a.sameElements(b))
    }
  }

  test("TransE model round-trips bit-exactly through parquet") {
    import org.apache.spark.sql.functions.col
    TempRoot("graft-model-te") { dir =>
      val ents = graft.graph.GraphBuild.erEntities(spark, SparkTestSession.sf0001)
      val triples = graft.graph.GraphBuild.erTriples(spark, SparkTestSession.sf0001)
        .withColumn("idx", col("h") * 2654435761L + col("t"))
      val trained = graft.sim.TransE.train(spark, triples, ents.count().toInt,
        graft.graph.GraphBuild.Relations.size, graft.sim.TransE.Config(epochs = 2))
      ModelIO.saveTransE(spark, dir, trained, "fp-te")
      val restored = ModelIO.loadTransE(spark, dir)
      assert(restored.lossByEpoch.toSeq == trained.lossByEpoch.toSeq)
      assert(restored.ent.indices.forall(i =>
        java.util.Arrays.equals(restored.ent(i), trained.ent(i))))
      assert(restored.rel.indices.forall(i =>
        java.util.Arrays.equals(restored.rel(i), trained.rel(i))))
      assert(restored.wRel.indices.forall(i =>
        java.util.Arrays.equals(restored.wRel(i), trained.wRel(i))))
      assert(ModelIO.savedFingerprint(dir).contains("fp-te"))
      intercept[RuntimeException](ModelIO.loadRLTransE(spark, dir))
    }
  }

  test("rlTransEOrTrain restores on fingerprint match, retrains on change") {
    TempRoot("graft-model") { dir =>
      val (m1, fromDisk1) =
        ModelIO.rlTransEOrTrain(spark, SparkTestSession.sf0001, dir, cfg)
      assert(!fromDisk1) // first call trains and saves
      val (m2, fromDisk2) =
        ModelIO.rlTransEOrTrain(spark, SparkTestSession.sf0001, dir, cfg)
      assert(fromDisk2) // second call restores from parquet
      assert(m2.ent.indices.forall(i =>
        java.util.Arrays.equals(m2.ent(i), m1.ent(i))))
      // config change -> stale fingerprint -> retrain (not restore)
      val (_, fromDisk3) = ModelIO.rlTransEOrTrain(
        spark, SparkTestSession.sf0001, dir, cfg.copy(epochs = 13))
      assert(!fromDisk3)
      assert(ModelIO.savedFingerprint(dir).isDefined)
    }
  }

  private def sameRows(a: Array[Array[Float]], b: Array[Array[Float]]): Boolean =
    a.length == b.length && a.indices.forall(i => java.util.Arrays.equals(a(i), b(i)))

  /** A fit in a session of its own, so the in-session memo cannot serve it. */
  private lazy val freshFit = RLTransE.train(spark.newSession(), SparkTestSession.sf0001, cfg)

  /** After `corrupt` damages the save that `rlTransEOrTrain` committed
    * under fp A, the next fp-A call retrains, returns matrices
    * bit-identical to a fresh fit, and commits again. */
  private def retrainsAfter(corrupt: String => Unit): Unit = {
    TempRoot("graft-model-fault") { dir =>
      assert(!ModelIO.rlTransEOrTrain(spark, SparkTestSession.sf0001, dir, cfg)._2)
      corrupt(dir)
      val (m, fromDisk) = ModelIO.rlTransEOrTrain(spark, SparkTestSession.sf0001, dir, cfg)
      assert(!fromDisk, "a damaged save must not be restored")
      assert(sameRows(m.ent, freshFit.ent) && sameRows(m.rel, freshFit.rel))
      assert(ModelIO.rlTransEOrTrain(spark, SparkTestSession.sf0001, dir, cfg)._2)
    }
  }

  test("a save under another fingerprint that fails in a task is not restored") {
    retrainsAfter { dir =>
      // Spark ships no brotli codec: every parquet write task of this session fails
      val failing = spark.newSession()
      failing.conf.set("spark.sql.parquet.compression.codec", "brotli")
      intercept[Exception](ModelIO.saveRLTransE(failing, dir, freshFit, "fp-B"))
    }
  }

  test("a matrices table without _SUCCESS is not restored") {
    retrainsAfter(dir => Files.delete(Paths.get(s"$dir/matrices/_SUCCESS")))
  }

  test("a truncated commit record is not restored") {
    retrainsAfter { dir =>
      val fp = graft.ckpt.Checkpoint.fingerprint("rltranse", SparkTestSession.sf0001, cfg.toString)
      val meta = Paths.get(s"$dir/matrices._meta.json")
      val txt = Files.readString(meta)
      // keep the fingerprint field whole, cut the rest of the record
      Files.writeString(meta, txt.take(txt.indexOf(fp) + fp.length + 1))
    }
  }
}
