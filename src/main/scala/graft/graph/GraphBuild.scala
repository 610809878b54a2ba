package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryStages
import graft.pipe.Splits
import graft.sim.Embed

/**
 * Knowledge-graph encodings of the records table, the engine analogue
 * of the reference's four graph flavors (SURVEY.md §1.3):
 *
 * - ER: record ids and attribute VALUES all become entity nodes; one
 *   triple per (record, field value) with the field as the relation —
 *   7 triples per record, as the census ER builder emits
 *   (/root/reference/data/census.py:190-298, ER/model.py:8-104).
 * - VEG: per-relation value-pair triples (val_a, val_b, rel) for KNOWN
 *   true links only (/root/reference/data/census.py:650-805) — the
 *   `st` field genuinely EVOLVES between snapshots (fin->done, ...),
 *   so VEG is where that evolution is learned.
 * - EAR: the ER triples split into RELATIONAL triples (record ->
 *   shared entity: block, repo) and ATTRIBUTIONAL triples (record ->
 *   literal value: lang, st, w1f, prif, valf), as the reference's EAR
 *   model separates them (/root/reference/EAR/model.py:19-28,
 *   /root/reference/data/census.py:322-480).
 *
 * String interning is a dictionary join: distinct labels get dense ids
 * via row_number over a sorted window — NOT the reference's O(n^2)
 * `list.index` scans (SURVEY.md §4.1). All builders are pure
 * relational plans with DuckDB oracles.
 */
object GraphBuild {

  /** Field relations, in rel-id order. */
  final val Relations = Seq("block", "lang", "repo", "st", "w1f", "prif", "valf")

  /** EAR split: which relations are relational (entity-to-entity) vs
    * attributional (entity-to-literal-value). */
  final val RelationalRels = Seq("block", "repo")
  final val AttributionalRels = Seq("lang", "st", "w1f", "prif", "valf")

  private def valueCol(rel: String): Column = rel match {
    case "block" => col("block_key")
    case other => col(other)
  }

  /** Long attribute-value table (record_label, value_label, rel_id);
    * optionally restricted to one side (the ERER per-KG encoding). */
  private def rawTriples(spark: SparkSession, sfDir: String,
                         side: Option[String] = None): DataFrame = {
    val all = EntryStages.keyed(spark, sfDir)
    val filtered = side.fold(all)(s => all.filter(col("side") === s))
    val k = filtered.select(Seq(col("id"), col("block_key")) ++
        Relations.filter(_ != "block").map(col): _*)
    val base = k.withColumn("rec", concat(lit("r"), col("id")))
    Relations.zipWithIndex.map { case (rel, rid) =>
      base.select(col("rec"),
        concat(lit(s"$rel:"), valueCol(rel)).as("value"),
        lit(rid.toLong).as("rel_id"))
    }.reduce(_ unionByName _)
  }

  /**
   * Dense ids 0..n-1 by sorted key: DISTRIBUTED sort + per-partition
   * offset scan (`zipWithIndex` runs one count job over the sorted
   * partitions, then assigns locally). Bit-identical to
   * `row_number() OVER (ORDER BY key) - 1` — which is what the DuckDB
   * oracle still computes — but a global window funnels the WHOLE
   * dictionary through ONE task, the exact single-partition bottleneck
   * that dies first at 100x.
   */
  private[graft] def denseIds(df: DataFrame, keyCol: String,
                              idName: String): DataFrame = {
    val spark = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+ org.apache.spark.sql.types.StructField(
        idName, org.apache.spark.sql.types.LongType, nullable = false))
    val rows = df.orderBy(keyCol).rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    spark.createDataFrame(rows, schema)
  }

  /** Record rows of an entity dictionary as (rid, ent_id): the record
    * id parsed back out of its `r<id>` label. */
  def recordIds(ents: DataFrame): DataFrame =
    ents.filter(col("label").rlike("^r[0-9]+$"))
      .select(substring(col("label"), 2, 20).cast("long").as("rid"),
        col("ent_id"))

  /** Labeled candidate pairs (idA, idB, block_key, label, split_a,
    * split_b) with each record's entity id attached as `kA`/`kB` by
    * JOIN on the sides' (rid, ent_id) maps ([[recordIds]]) — the maps
    * are data-sized, never a driver map. */
  def candidateEntities(spark: SparkSession, sfDir: String,
                        recA: DataFrame, recB: DataFrame): DataFrame =
    EntryStages.cand(spark, sfDir)
      .select(col("idA"), col("idB"), col("block_key"),
        (col("dni_a") === col("dni_b")).cast("long").as("label"),
        col("split_a"), col("split_b"))
      .join(recA.select(col("rid").as("idA"), col("ent_id").as("kA")), "idA")
      .join(recB.select(col("rid").as("idB"), col("ent_id").as("kB")), "idB")

  /**
   * The embedding trainers' one pair scorer: the cosine of each
   * candidate pair's two trained entity rows, `cos(entA(kA), entB(kB))`,
   * over [[candidateEntities]] (`recA`, `recB` map record ids to the
   * matrices' rows). Both matrices go out in one broadcast and the
   * pairs are scored in one mapPartitions pass. Returns (idA, idB,
   * block_key, cos, label, split_a, split_b).
   */
  def cosinePairs(spark: SparkSession, sfDir: String,
                  recA: DataFrame, entA: Array[Array[Float]],
                  recB: DataFrame, entB: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    val ents = spark.sparkContext.broadcast((entA, entB))
    candidateEntities(spark, sfDir, recA, recB)
      .select(col("idA"), col("idB"), col("block_key"), col("kA"),
        col("kB"), col("label"), col("split_a"), col("split_b"))
      .as[(Long, Long, String, Long, Long, Long, String, String)]
      .mapPartitions { it =>
        val (ea, eb) = ents.value
        it.map { case (a, b, bk, ka, kb, lbl, sa, sb) =>
          (a, b, bk, Embed.cosine(ea(ka.toInt), eb(kb.toInt)), lbl, sa, sb)
        }
      }.toDF("idA", "idB", "block_key", "cos", "label", "split_a", "split_b")
  }

  /** Entity dictionary: dense ids by sorted label (deterministic).
    * Memoized per (session, sfDir): half a dozen queries and every
    * trainer re-derive it otherwise. */
  def erEntities(spark: SparkSession, sfDir: String): DataFrame =
    EntryStages.memo(spark, sfDir, "erEntities") {
      val t = rawTriples(spark, sfDir)
      val labels = t.select(col("rec").as("label"))
        .union(t.select(col("value").as("label"))).distinct()
      denseIds(labels, "label", "ent_id")
    }

  /** ER triples (h, t, r) with dictionary-encoded entity ids. */
  def erTriples(spark: SparkSession, sfDir: String): DataFrame =
    EntryStages.memo(spark, sfDir, "erTriples") {
      val ents = erEntities(spark, sfDir)
      val t = rawTriples(spark, sfDir)
      t.join(ents.withColumnRenamed("label", "rec")
          .withColumnRenamed("ent_id", "h"), "rec")
        .join(ents.withColumnRenamed("label", "value")
          .withColumnRenamed("ent_id", "t"), "value")
        .select(col("h"), col("t"), col("rel_id").as("r"))
    }

  /**
   * EAR triples: the ER triples plus `is_attr` marking attributional
   * relations (record -> literal value) vs relational ones (record ->
   * shared entity node), the reference's EAR split
   * (/root/reference/EAR/model.py:19-28).
   */
  def earTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val attrIds = Relations.zipWithIndex
      .collect { case (rel, rid) if AttributionalRels.contains(rel) => rid.toLong }
    erTriples(spark, sfDir).withColumn("is_attr",
      col("r").isInCollection(attrIds).cast("long"))
  }

  private def vegPairs(spark: SparkSession, sfDir: String,
                       truth: DataFrame): DataFrame = {
    val keyed = EntryStages.keyed(spark, sfDir)
      .select(Seq(col("id"), col("block_key")) ++
        Relations.filter(_ != "block").map(col): _*)
    val a = keyed.select(Seq(col("id").as("idA")) ++
      Relations.map(r => valueCol(r).as(s"a_$r")): _*)
    val b = keyed.select(Seq(col("id").as("idB")) ++
      Relations.map(r => valueCol(r).as(s"b_$r")): _*)
    val joined = truth.join(a, "idA").join(b, "idB")
    Relations.zipWithIndex.map { case (rel, rid) =>
      joined.select(col(s"a_$rel").as("val_a"), col(s"b_$rel").as("val_b"),
        lit(rid.toLong).as("r"))
    }.reduce(_ unionByName _)
      .groupBy("val_a", "val_b", "r").agg(count(lit(1)).as("n"))
  }

  /** VEG triples derived from an EXPLICIT link set (idA, idB) — the
    * hook for SEEA's self-learning loop, which re-derives the graph
    * from seed ∪ accepted links each round. */
  def vegTriplesFor(spark: SparkSession, sfDir: String,
                    links: DataFrame): DataFrame =
    vegPairs(spark, sfDir, links)

  /**
   * VEG value-evolution triples: for each TRUE candidate pair and each
   * relation, link the A-side and B-side observed values.
   */
  def vegTriples(spark: SparkSession, sfDir: String): DataFrame =
    vegPairs(spark, sfDir,
      EntryStages.cand(spark, sfDir)
        .filter(col("dni_a") === col("dni_b")).select("idA", "idB"))

  /**
   * VEG triples restricted to TRAIN-split true links — the training
   * graph for RLTransE, exactly as the reference trains on
   * graph.train_triples (/root/reference/VEG/rltranse.py:31-40).
   */
  def vegTrainTriples(spark: SparkSession, sfDir: String): DataFrame =
    vegPairs(spark, sfDir,
      Splits.train(EntryStages.cand(spark, sfDir)
        .filter(col("dni_a") === col("dni_b")))
        .select("idA", "idB"))

  // ------------------------- ERER (dual-KG) -------------------------

  /** Per-side entity dictionary (disjoint KGs A and B,
    * /root/reference/ERER/model.py:18-41). Memoized per (session,
    * sfDir, side) like [[erEntities]]: the side's triples and its
    * record ids read the same one. */
  def ererEntities(spark: SparkSession, sfDir: String,
                   side: String): DataFrame =
    EntryStages.memo(spark, sfDir, s"ererEntities:$side") {
      val t = rawTriples(spark, sfDir, Some(side))
      val labels = t.select(col("rec").as("label"))
        .union(t.select(col("value").as("label"))).distinct()
      denseIds(labels, "label", "ent_id")
    }

  /** Per-side ER triples with the side's own dictionary. */
  def ererTriples(spark: SparkSession, sfDir: String,
                  side: String): DataFrame = {
    val ents = ererEntities(spark, sfDir, side)
    val t = rawTriples(spark, sfDir, Some(side))
    t.join(ents.withColumnRenamed("label", "rec")
        .withColumnRenamed("ent_id", "h"), "rec")
      .join(ents.withColumnRenamed("label", "value")
        .withColumnRenamed("ent_id", "t"), "value")
      .select(col("h"), col("t"), col("rel_id").as("r"))
  }

  /**
   * Prior alignment pairs: a deterministic 30% of the TRUE pairs
   * (dni % 10 < 3), the reference's seed-alignment fraction
   * (/root/reference/data/census.py:638-640). Because the train split
   * is dni % 10 < 6, priors never leak val/test pairs.
   */
  def priorPairs(spark: SparkSession, sfDir: String): DataFrame =
    EntryStages.cand(spark, sfDir)
      .filter(col("dni_a") === col("dni_b") && col("dni_a") % 10 < 3)
      .select("idA", "idB")

  /**
   * Joint-KG merge: both sides' ER triples in the SHARED dictionary
   * (record labels are globally unique; value labels coincide) plus one
   * `same_as` triple per prior pair, the ERER merge-back
   * (/root/reference/ERER/model.py:177-237). The same_as relation gets
   * rel id = |Relations|.
   */
  def ererJointTriples(spark: SparkSession, sfDir: String): DataFrame = {
    val recIds = recordIds(erEntities(spark, sfDir))
    val sameAs = priorPairs(spark, sfDir)
      .join(recIds.select(col("rid").as("idA"), col("ent_id").as("h")), "idA")
      .join(recIds.select(col("rid").as("idB"), col("ent_id").as("t")), "idB")
      .select(col("h"), col("t"), lit(Relations.size.toLong).as("r"))
    erTriples(spark, sfDir).unionByName(sameAs)
  }

  /**
   * Evolution pairs for ETransE: per prior pair and relation, the
   * linked (value_A, value_B) nodes
   * (/root/reference/ERER/etranse.py:78-98) — structurally the VEG
   * derivation restricted to the prior pairs.
   */
  def evolutionPairs(spark: SparkSession, sfDir: String): DataFrame =
    vegPairs(spark, sfDir, priorPairs(spark, sfDir))
}
