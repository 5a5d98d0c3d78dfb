package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bigram language-model surprisal scoring — the CCNet/KenLM quality-
  * filtering role in an LLM data pipeline: fit a cheap n-gram LM on a
  * trusted target corpus, score every candidate document by how
  * surprising its token stream is under that model, and keep the
  * least-surprising (most in-domain) slice. The same two scores under
  * a target and a source model give the DSIR importance weight
  * (log p_target − log p_source) for contrastive data selection.
  *
  * Cross-engine determinism: a real log-probability sums transcendental
  * `ln` values whose last ulp differs between libm implementations, so
  * the score here is QUANTIZED to integer bits — per bigram the
  * add-one-smoothed probability is the exact rational
  * (c12 + 1) / (c1 + V), and its surprisal is taken as
  * `bitLength((c1 + V) div (c12 + 1)) − 1` = floor(log2) of the
  * integer quotient. Integer division and bit-length are exactly
  * specified on both engines (the `text_zipf_octaves` /
  * `length(bin(...))` discipline), so per-doc totals hash-match the
  * DuckDB oracle while preserving the ranking signal a quality filter
  * needs.
  *
  * Scale shape: documents reduce to (id, w1, w2) adjacent-pair rows in
  * one narrow generator pass (no window, no self-join — the pair list
  * is built inside the row from the split array); model tables are
  * VOCABULARY-sized (Heaps-sublinear in corpus size) so the scoring
  * joins are hash equi-joins against relations that AQE broadcasts at
  * small scale and that shuffle as (token, count) pairs — never text —
  * at large scale. The per-doc rollup partial-aggregates map-side.
  * Hot model keys (stopword bigrams) are build-side rows, not probe
  * skew: every probe row carries its doc id, so probe rows stay spread
  * across the id-partitioned corpus.
  */
object NgramLm {

  /** Adjacent-token-pair relation: one row per bigram occurrence,
    * carrying `carry` columns; docs with fewer than two tokens drop
    * out (they have no bigram and no defined LM score).
    */
  def docBigrams(docs: DataFrame, textCol: String, carry: Seq[String]): DataFrame = {
    val pairs = expr(
      "transform(sequence(0, size(t) - 2), " +
        "i -> struct(element_at(t, i + 1) AS w1, element_at(t, i + 2) AS w2))")
    docs
      .select(carry.map(col) :+ split(col(textCol), " ").as("t"): _*)
      .where(size(col("t")) >= 2)
      .select(carry.map(col) :+ explode(pairs).as("p"): _*)
      .select(carry.map(col) ++ Seq(col("p.w1").as("w1"), col("p.w2").as("w2")): _*)
  }

  /** Fitted model: bigram counts, context (w1) counts derived from
    * them, and the vocabulary size used as the add-one denominator.
    * `vocab` is materialized at fit time (one count-distinct action) —
    * like the BM25 corpus stats, a deployment fits once per corpus
    * version and reuses the model across scoring runs.
    */
  final case class Model(bigrams: DataFrame, contexts: DataFrame, vocab: Long)

  def fit(corpus: DataFrame, textCol: String): Model =
    fitFromBigrams(docBigrams(corpus, textCol, Nil),
      vocabOf(corpus, textCol))

  /** Vocabulary size (distinct tokens, short docs included) — the
    * add-one denominator [[fit]] materializes; one count-distinct
    * action.
    */
  def vocabOf(corpus: DataFrame, textCol: String): Long = corpus
    .select(explode(split(col(textCol), " ")).as("tok"))
    .agg(countDistinct(col("tok"))).head().getLong(0)

  /** [[fit]] from an ALREADY-BUILT bigram relation (the [[docBigrams]]
    * shape — extra carry columns are ignored by the (w1, w2) rollup,
    * so counts equal a fresh fit's bit for bit). Lets a caller that
    * fits several models AND scores from one corpus explode (the
    * contrastive-selection shape) pay that explode exactly once.
    */
  def fitFromBigrams(bigramRows: DataFrame, vocab: Long): Model = {
    // share-the-scan: contexts re-aggregates the bigram table and the
    // scoring join reads it again — a lazy localCheckpoint stops each
    // consumer from replanning the corpus scan + explode. NOT a
    // correctness cut (the bigram table is a deterministic aggregate).
    val bigrams = bigramRows
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = false)
    val contexts = bigrams.groupBy("w1").agg(sum("c12").as("c1"))
    Model(bigrams, contexts, vocab)
  }

  /** Persist / reload a fitted model — the deployment lifecycle the
    * scaladoc promises (fit once per corpus version, reuse across
    * scoring runs), same parquet-index convention as the ANN indexes.
    * Counts are exact integers, so a reloaded model scores bit-equal
    * to the freshly fitted one (pinned in NgramLmSpec).
    */
  def save(model: Model, path: String): Unit = {
    val spark = model.bigrams.sparkSession
    import spark.implicits._
    model.bigrams.write.mode("overwrite").parquet(s"$path/bigrams")
    model.contexts.write.mode("overwrite").parquet(s"$path/contexts")
    Seq(Tuple1(model.vocab)).toDF("vocab")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model =
    Model(
      spark.read.parquet(s"$path/bigrams"),
      spark.read.parquet(s"$path/contexts"),
      spark.read.parquet(s"$path/meta").head().getLong(0))

  /** Per-document quantized surprisal under `model`: bigram count,
    * out-of-model bigram count, and total surprisal bits. Unseen
    * contexts smooth to 1/V (c1 = 0), unseen bigrams to
    * 1/(c1 + V) — both stay integer-exact.
    */
  def score(docs: DataFrame, idCol: String, textCol: String, model: Model,
      carry: Seq[String] = Nil): DataFrame = {
    val keys = idCol +: carry
    val b = model.bigrams
      .withColumnRenamed("w1", "b_w1").withColumnRenamed("w2", "b_w2")
    val u = model.contexts.withColumnRenamed("w1", "u_w1")
    docBigrams(docs, textCol, keys)
      .join(b, col("w1") === col("b_w1") && col("w2") === col("b_w2"), "left")
      .join(u, col("w1") === col("u_w1"), "left")
      .withColumn("num", coalesce(col("c12"), lit(0L)) + lit(1L))
      .withColumn("den", coalesce(col("c1"), lit(0L)) + lit(model.vocab))
      .withColumn("bits",
        (length(bin(expr("den div num"))) - 1).cast("long"))
      .withColumn("oovf", when(col("c12").isNull, 1L).otherwise(0L))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_bigrams"),
        sum("oovf").as("oov_bigrams"),
        sum("bits").as("total_bits"))
  }

  /** Per-document quantized surprisal under SEVERAL models in ONE
    * docBigrams pass — the contrastive-selection shape (DSIR weights
    * need the same corpus scored under a target and a source model).
    * Calling [[score]] once per model pays the corpus explode, the
    * per-doc rollup, and a final per-doc join once per model; here the
    * bigram relation is built once and every model contributes two
    * broadcast/hash lookups (bigram + context) to the same pass, then
    * one rollup emits every model's bits column side by side.
    *
    * Output: keys ++ (n_bigrams, <name>_bits per model). Per model the
    * bits column is bit-identical to [[score]]'s total_bits (same
    * integer-exact num/den/floor-log2 per bigram row, same sum —
    * model tables are unique per (w1,w2)/(w1) so the left joins never
    * change row cardinality), and the output doc set is [[score]]'s
    * (docs with >= 2 tokens) — pinned in NgramLmSpec.
    */
  def scoreAll(docs: DataFrame, idCol: String, textCol: String,
      models: Seq[(String, Model)], carry: Seq[String] = Nil): DataFrame =
    scoreAllBigrams(docBigrams(docs, textCol, idCol +: carry),
      idCol +: carry, models)

  /** [[scoreAll]] over an ALREADY-BUILT bigram relation (the
    * [[docBigrams]] shape: keys ++ (w1, w2)) — callers that also fit
    * their models from the same relation materialize the corpus
    * explode exactly once per run.
    */
  def scoreAllBigrams(bigramRows: DataFrame, keys: Seq[String],
      models: Seq[(String, Model)]): DataFrame = {
    require(models.nonEmpty, "scoreAll needs at least one model")
    // names are spliced into column names and an `expr` string
    val names = models.map(_._1)
    names.foreach(nm => require(nm.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"scoreAll model name '$nm' is not an identifier ([A-Za-z_][A-Za-z0-9_]*)"))
    require(names.distinct.size == names.size,
      s"scoreAll model names must be distinct: ${names.mkString(", ")}")
    var rows = bigramRows
    models.foreach { case (nm, m) =>
      val b = m.bigrams
        .withColumnRenamed("w1", s"${nm}_b_w1")
        .withColumnRenamed("w2", s"${nm}_b_w2")
        .withColumnRenamed("c12", s"${nm}_c12")
      val u = m.contexts
        .withColumnRenamed("w1", s"${nm}_u_w1")
        .withColumnRenamed("c1", s"${nm}_c1")
      rows = rows
        .join(b, col("w1") === col(s"${nm}_b_w1") &&
          col("w2") === col(s"${nm}_b_w2"), "left")
        .join(u, col("w1") === col(s"${nm}_u_w1"), "left")
        .withColumn(s"${nm}_num", coalesce(col(s"${nm}_c12"), lit(0L)) + lit(1L))
        .withColumn(s"${nm}_den", coalesce(col(s"${nm}_c1"), lit(0L)) + lit(m.vocab))
        .withColumn(s"${nm}_bits_row",
          (length(bin(expr(s"${nm}_den div ${nm}_num"))) - 1).cast("long"))
    }
    rows
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_bigrams"),
        models.map { case (nm, _) =>
          sum(col(s"${nm}_bits_row")).as(s"${nm}_bits")
        }: _*)
  }

  /** Mean surprisal bits per bigram — ONE IEEE division of exact
    * integers, so even the double hash-matches across engines.
    */
  def meanBits: Column =
    (col("total_bits").cast("double") / col("n_bigrams")).as("mean_bits")
}
