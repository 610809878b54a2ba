package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic synthetic source-code-repository table
 * `(id, side, repo, path, commit, lang, content, dni, split,
 * st, w1f, prif, valf)` derived purely from the driver's TPC-H `orders`
 * parquet (TESTDATA.md), so the DuckDB oracle can reproduce it with
 * equivalent SQL (see [[graft.oracle.OracleSql]]).
 *
 * Design mirrors the reference's datasets:
 *  - two "commits" c1/c2 play the role of the census year-pair A/B
 *    split (/root/reference/data/census.py:75-80);
 *  - `dni` (= o_orderkey) is the hidden ground-truth entity id, as the
 *    census DNI column (/root/reference/data/base_census.py:123);
 *  - `st`/`w1f`/`prif`/`valf` are census-style FIELD columns (civil
 *    status / name / occupation / year analogues); `st` EVOLVES between
 *    snapshots through a fixed value map (fin->done, open->live,
 *    pend->wait) exactly like census civil status changes between
 *    census years — the value pairs the VEG graph links
 *    (/root/reference/data/census.py:650-805);
 *  - side-B rows carry deterministic FEBRL-style org/dup perturbations
 *    (/root/reference/data/febrl.py:55-71) that PRESERVE the blocking
 *    token, so blocking recall is 1.0;
 *  - ~0.7% of entities (k % 149 == 3) get a HEAVILY scrambled B snapshot
 *    (ambiguous true pair -> realistic false negatives), and ~2% of
 *    entities (k % 47 == 11) collapse onto a short customer-derived
 *    content template so same-customer orders become near-twins
 *    (realistic false positives). Together these pin the flagship test
 *    F1 into [0.99, 1.0) instead of a degenerate 1.00;
 *  - ~6% of entities exist on only one side (unmatched records);
 *  - customers with custkey % 100 == 0 collapse into one hot block
 *    ('c0') to force Zipf-style blocking skew, exercising salting.
 *
 * Everything is a pure Column expression over `orders` — no UDFs, no
 * RNG, no wall clock — so the whole derivation is pushed into
 * whole-stage codegen and reproducible bit-for-bit at any scale factor.
 */
object Synth {

  /** 29-word and 31-word vocabularies; coprime moduli give 899 combos. */
  val W1: Seq[String] = Seq(
    "alpha", "bravo", "cedar", "delta", "ember", "futon", "gamma", "haiku",
    "idiom", "jolly", "kappa", "lemur", "mango", "noble", "ocean", "piano",
    "quark", "raven", "sable", "tango", "umber", "viola", "waltz", "xenon",
    "yodel", "zebra", "acorn", "brook", "crane")
  val W2: Seq[String] = Seq(
    "anvil", "basil", "cobra", "dwell", "eagle", "fable", "gusto", "hazel",
    "inlet", "joust", "kayak", "llama", "maple", "nymph", "olive", "prism",
    "quill", "ridge", "slate", "thorn", "ultra", "vexed", "wharf", "xylem",
    "yacht", "zesty", "amber", "blitz", "cliff", "dunes", "elfin")

  private def wordAt(words: Seq[String], idx: Column): Column =
    element_at(array(words.map(lit): _*), idx.cast("int") + 1)

  private def ducklist(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /**
   * Deterministic filler tokens that stretch `content` to a realistic
   * source-file size (~250 chars): per round i, two dictionary words
   * indexed by affine functions of (k, ck) and one numeric token.
   * Single source of truth for BOTH the Spark columns and the DuckDB
   * oracle fragments — the two derivations cannot drift.
   */
  final val FillerRounds = 8

  /** Spark columns for the filler tokens; expects cols k, ck. */
  def fillerCols: Seq[Column] = {
    val k = col("k"); val ck = col("ck")
    (0 until FillerRounds).flatMap { i =>
      Seq(
        wordAt(W1, (k * (3 + i) + i) % 29),
        wordAt(W2, (k * (5 + i) + ck + i) % 31),
        ((k * (7 + 2 * i) + ck * (3 + i)) % 99991).cast("string"))
    }
  }

  /** DuckDB SQL fragments for the same filler tokens (k, ck in scope). */
  def fillerSql: Seq[String] =
    (0 until FillerRounds).flatMap { i =>
      Seq(
        s"list_extract(${ducklist(W1)}, CAST((k * ${3 + i} + $i) % 29 AS INT) + 1)",
        s"list_extract(${ducklist(W2)}, CAST((k * ${5 + i} + ck + $i) % 31 AS INT) + 1)",
        s"CAST((k * ${7 + 2 * i} + ck * ${3 + i}) % 99991 AS VARCHAR)")
    }

  /**
   * ck-ONLY filler tokens for the short-template (near-twin) tier: all
   * derived from the customer key alone, so two orders of the same
   * customer share every template token except the tiny `o <k%100>`
   * suffix — a genuinely ambiguous false-positive surface.
   */
  def ckFillerCols: Seq[Column] = {
    val ck = col("ck")
    (0 until FillerRounds).flatMap { i =>
      Seq(
        wordAt(W1, (ck * (3 + i) + i) % 29),
        wordAt(W2, (ck * (5 + i) + i) % 31),
        ((ck * (7 + 2 * i)) % 99991).cast("string"))
    }
  }

  /** DuckDB SQL fragments for the same ck-only template tokens. */
  def ckFillerSql: Seq[String] =
    (0 until FillerRounds).flatMap { i =>
      Seq(
        s"list_extract(${ducklist(W1)}, CAST((ck * ${3 + i} + $i) % 29 AS INT) + 1)",
        s"list_extract(${ducklist(W2)}, CAST((ck * ${5 + i} + $i) % 31 AS INT) + 1)",
        s"CAST((ck * ${7 + 2 * i}) % 99991 AS VARCHAR)")
    }

  def orders(spark: SparkSession, sfDir: String): DataFrame =
    graft.sources.Scan.parquet(spark, s"$sfDir/orders.parquet")

  /**
   * The synthetic records table. Columns:
   * id (unique long, 2k/2k+1), side ('A'/'B'), repo, path, commit,
   * lang, content, dni (truth entity id), split (train/val/test),
   * plus the census-style field columns st / w1f / prif / valf used by
   * the knowledge-graph encodings (field-level linkage). A pure
   * builder: defining the frame submits no Spark job and warms nothing
   * (a timed run warms up through [[graft.Pipeline.warm]]).
   */
  def records(spark: SparkSession, sfDir: String): DataFrame = {
    val pre = orders(spark, sfDir).select(
      col("o_orderkey").as("k"), col("o_custkey").as("ck"),
      col("o_orderstatus").as("st"), col("o_totalprice").as("tp"),
      col("o_orderpriority").as("pri"))
    val k = col("k")
    val ck = col("ck")

    val custtok = when(ck % 100 === 0, lit("c0"))
      .otherwise(concat(lit("c"), ck.cast("string")))
    val stA = when(col("st") === "F", "fin")
      .when(col("st") === "O", "open").otherwise("pend")
    // the B snapshot observes the EVOLVED status value — the value
    // pairs (fin->done, open->live, pend->wait) are what VEG links
    val stB = when(col("st") === "F", "done")
      .when(col("st") === "O", "live").otherwise("wait")
    // literal pattern: non-regex replace() is codegen'd string search,
    // identical output to regexp_replace for a metachar-free pattern
    val priw = lower(replace(col("pri"), lit("-"), lit(" ")))
    val valtok = floor(col("tp")).cast("bigint").cast("string")
    val ktok = k.cast("string")
    val w1 = wordAt(W1, k % 29)
    val w2 = wordAt(W2, (k * 7 + ck) % 31)
    val langC = when(k % 5 === 0, "scala").when(k % 5 === 1, "java")
      .when(k % 5 === 2, "python").when(k % 5 === 3, "rust").otherwise("go")
    val extC = when(k % 5 === 0, "scala").when(k % 5 === 1, "java")
      .when(k % 5 === 2, "py").when(k % 5 === 3, "rs").otherwise("go")

    def contentToks(stw: Column): Seq[Column] =
      Seq(lit("fn"), custtok, w1, stw, priw, w2,
        lit("val"), valtok, lit("k"), ktok) ++ fillerCols

    def tmpl(stw: Column): Column =
      concat_ws(" ", Seq(lit("fn"), custtok, stw) ++ ckFillerCols ++
        Seq(lit("o"), (k % 100).cast("string")): _*)

    val base = pre.select(
      k, ck, custtok.as("custtok"), langC.as("lang"), extC.as("ext"),
      stA.as("st_a"), stB.as("st_b"), w1.as("w1f"), priw.as("prif"),
      valtok.as("valf"), w2.as("w2t"),
      concat_ws(" ", contentToks(stA): _*).as("content_a"),
      concat_ws(" ", contentToks(stB): _*).as("content_b0"),
      tmpl(stA).as("tmpl_a"), tmpl(stB).as("tmpl_b"))

    val ca = col("content_a")
    val cb = col("content_b0")
    // FEBRL-style deterministic perturbations for the B side; cases 1
    // and 2 normalize away (exact dup after normalization), 3 and 4
    // survive as near-dups. All preserve the 'c<ck>' blocking token.
    val caseB = when(col("k") % 5 === 1,
        concat(upper(cb.substr(lit(1), lit(2))), cb.substr(lit(3), length(cb))))
      .when(col("k") % 5 === 2, replace(cb, lit(" val "), lit("  val ")))
      .when(col("k") % 5 === 3, cb.substr(lit(4), length(cb)))
      .when(col("k") % 5 === 4, replace(cb, lit(" val "), lit(" value ")))
      .otherwise(cb)
    // FN tier: a heavily scrambled B snapshot — keeps the blocking
    // token but drops ~85% of the content, so the true pair lands far
    // above any sane threshold (a genuine false negative).
    val heavyB = concat_ws(" ", lit("fn"), col("custtok"), col("st_b"),
      col("w2t"), lit("k"), col("k").cast("string"))

    val contentA = when(col("k") % 47 === 11, col("tmpl_a")).otherwise(ca)
    val contentB = when(col("k") % 149 === 3, heavyB)
      .when(col("k") % 47 === 11, col("tmpl_b"))
      .otherwise(caseB)

    val fieldCols = Seq(col("w1f"), col("prif"), col("valf"))
    val sideA = base.filter(col("k") % 17 =!= 5).select(
      Seq((col("k") * 2).as("id"), lit("A").as("side"), col("k"), col("ck"),
        col("custtok"), col("lang"), col("ext"), contentA.as("content"),
        col("st_a").as("st")) ++ fieldCols: _*)
    val sideB = base.filter(col("k") % 19 =!= 7).select(
      Seq((col("k") * 2 + 1).as("id"), lit("B").as("side"), col("k"), col("ck"),
        col("custtok"), col("lang"), col("ext"), contentB.as("content"),
        col("st_b").as("st")) ++ fieldCols: _*)

    sideA.unionByName(sideB).select(
      col("id"), col("side"),
      concat(lit("repo"), (col("ck") % 50).cast("string")).as("repo"),
      concat(lit("src/"), col("custtok"), lit("/f"), col("k").cast("string"),
        lit("."), col("ext")).as("path"),
      when(col("side") === "A", "c1").otherwise("c2").as("commit"),
      col("lang"), col("content"), col("k").as("dni"),
      when(col("k") % 10 < 6, "train").when(col("k") % 10 < 8, "val")
        .otherwise("test").as("split"),
      col("st"), col("w1f"), col("prif"), col("valf"))
  }
}
