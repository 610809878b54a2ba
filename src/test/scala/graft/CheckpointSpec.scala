package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ckpt.Checkpoint

/**
 * Checkpoint/resume round-trip, mirroring the reference's
 * export/load count tests (/root/reference/tests/test_graph_export.py)
 * upgraded to fingerprint-gated per-stage resume (SURVEY.md §7.5);
 * the commit protocol under injected faults; and the stage contract
 * (meta rows, read-back schema, rows) on the cold and resumed paths.
 */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("stage computes once, resumes from parquet, recomputes on fingerprint change") {
    TempRoot("graft-ckpt") { root =>
      var computations = 0
      def compute = {
        computations += 1
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
      val r1 = Checkpoint.stage(spark, root, "s1", "fp-A")(compute)
      assert(!r1.fromCache && computations == 1)
      assert(r1.df.count() == 2)
      // same fingerprint -> served from checkpoint, no recompute
      val r2 = Checkpoint.stage(spark, root, "s1", "fp-A")(compute)
      assert(r2.fromCache && computations == 1)
      assert(r2.df.orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b")))
      // changed fingerprint -> recompute + rewrite
      val r3 = Checkpoint.stage(spark, root, "s1", "fp-B")(compute)
      assert(!r3.fromCache && computations == 2)
      // lineage columns present in the persisted parquet
      val raw = spark.read.parquet(s"$root/s1")
      assert(Seq("_stage", "_run_id", "_part_id", "_input_fingerprint")
        .forall(raw.columns.contains))
      assert(raw.select("_input_fingerprint").distinct().as[String].collect()
        .toSeq == Seq("fp-B"))
    }
  }

  test("pipeline resumes mid-run: cached stages are reused") {
    TempRoot("graft-pipe-ckpt") { root =>
      val out1 = Pipeline.run(spark, SparkTestSession.sf0001, Some(root))
      val f1a = out1.summary.head().getAs[Double]("test_f1")
      // second run must resume from the parquet checkpoints and agree
      val out2 = Pipeline.run(spark, SparkTestSession.sf0001, Some(root))
      val f1b = out2.summary.head().getAs[Double]("test_f1")
      assert(f1a == f1b && out1.theta == out2.theta)
      assert(Files.exists(java.nio.file.Paths.get(s"$root/scored._meta.json")))
    }
  }

  private val lineage = Seq("_stage", "_run_id", "_part_id", "_input_fingerprint")
  private val ids = (1L to 200L).map(i => (i, s"v$i"))

  /** 200 rows over 4 partitions, computed inside tasks. */
  private def idFrame: DataFrame =
    spark.range(1, 201, 1, 4).select(col("id"), concat(lit("v"), col("id")).as("v"))

  private def metaFile(root: String) = Paths.get(s"$root/s._meta.json")

  /** After `corrupt` damages a committed fp-A stage, the next fp-A run
    * recomputes and returns every row, then commits again. */
  private def recomputesAfter(corrupt: String => Unit): Unit = {
    TempRoot("graft-ckpt-fault") { root =>
      assert(!Checkpoint.stage(spark, root, "s", "fp-A")(idFrame).fromCache)
      corrupt(root)
      var computed = false
      val r = Checkpoint.stage(spark, root, "s", "fp-A") { computed = true; idFrame }
      assert(!r.fromCache && computed, "a damaged commit must not be served")
      assert(r.df.orderBy("id").as[(Long, String)].collect().toSeq == ids)
      assert(Checkpoint.stage(spark, root, "s", "fp-A")(idFrame).fromCache)
    }
  }

  test("a write that fails mid-stage under another fingerprint is not served") {
    val boom = udf { (id: Long) =>
      if (id == 150L) throw new IllegalStateException("injected task failure")
      id
    }
    recomputesAfter { root =>
      intercept[Exception] {
        Checkpoint.stage(spark, root, "s", "fp-B")(
          idFrame.withColumn("id", boom(col("id"))))
      }
      assert(Checkpoint.meta(root, "s").isEmpty, "the failed run left a meta")
    }
  }

  test("a truncated meta is not served") {
    recomputesAfter { root =>
      val txt = Files.readString(metaFile(root))
      // keep the fingerprint field whole, cut the rest of the record
      Files.writeString(metaFile(root), txt.take(txt.indexOf("fp-A") + "fp-A".length + 1))
    }
  }

  test("a stage without _SUCCESS is not served") {
    recomputesAfter(root => Files.delete(Paths.get(s"$root/s/_SUCCESS")))
  }

  test("a meta without a schema (the old format) is not served") {
    recomputesAfter { root =>
      val m = Checkpoint.meta(root, "s").get - "schema"
      Files.writeString(metaFile(root),
        m.map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}"))
    }
  }

  test("an empty stage commits 0 rows and is served") {
    TempRoot("graft-ckpt-empty") { root =>
      for ((empty, i) <- Seq(idFrame.filter(col("id") < 0),
                             Seq.empty[(Long, String)].toDF("id", "v")).zipWithIndex) {
        for (resumed <- Seq(false, true)) {
          val r = Checkpoint.stage(spark, root, s"e$i", "fp")(empty)
          assert(r.fromCache == resumed && r.df.count() == 0)
          assert(r.df.columns.toSeq == Seq("id", "v"))
          assert(Checkpoint.meta(root, s"e$i").get("rows") == "0")
        }
      }
    }
  }

  test("observed row counts leave the session serializable") {
    TempRoot("graft-ckpt-ser") { root =>
      Checkpoint.stage(spark, root, "s", "fp")(idFrame)
      val (rows, n) = Observed.rows(idFrame)(_.collect())
      assert(n == 200 && rows.length == 200)
      // an MLlib model's training summary holds the session, and its
      // transform closure ships the model to the tasks
      new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream()).writeObject(spark)
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  for ((kind, partitionBy) <- Seq("unpartitioned" -> Nil,
                                  "partitioned" -> Seq("commit", "lang"))) {
    test(s"$kind stage contract: meta rows, read-back schema and rows, cold and resumed") {
      TempRoot("graft-ckpt-contract") { root =>
        val dir = s"$root/recs"
        def compute = gen.Synth.records(spark, SparkTestSession.sf0001)
        for (resumed <- Seq(false, true)) {
          val r = Checkpoint.stage(spark, root, "recs", "fp", partitionBy)(compute)
          assert(r.fromCache == resumed)
          val inferred = spark.read.parquet(dir)
          assert(Checkpoint.meta(root, "recs").get("rows").toLong == inferred.count())
          def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
          assert(typed(r.df) == typed(inferred.drop(lineage: _*)))
          assert(sortedRows(r.df) == sortedRows(compute.select(r.df.columns.map(col): _*)))
        }
      }
    }
  }
}
