package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextF
import graft.util.CacheScope

/** Exact near-duplicate pairs over shingle sets: the one engine every
  * Jaccard-family query composes (`ngram_jaccard`, containment, the MinHash
  * estimator scoreboards, the dup-graph sweeps, weighted Jaccard, ROUGE).
  *
  * Pipeline: tokens → distinct 5-shingles ([[shingleSets]]) → explode →
  * df cap (shingles held by more than [[StopShingleDf]] docs never pair) →
  * shingle-keyed self-join → per-pair shared count → set sizes → Jaccard
  * permille. Candidate pairs exist only for docs sharing a rare shingle, so
  * the self-join's shuffle is bounded by `StopShingleDf · |exploded|` at any
  * corpus size: one boilerplate shingle held by k docs would otherwise emit
  * k² pairs on its key.
  *
  * The DuckDB twin is `LlmQueries.JaccardSharedCteSql` (the oracle the
  * correctness gate compares against); both sides read the same constants.
  */
object PairEngine {

  /** Shingles present in more docs than this are excluded from pairing
    * (shared Spark ↔ oracle constant). */
  val StopShingleDf = 64

  /** [[jaccard]] keeps pairs at or above this Jaccard, in permille. */
  val MinJaccardPermille = 200L

  /** The engine's shingle spelling: the distinct 5-word shingles of a token
    * array (empty when a doc has fewer than 5 tokens). */
  def shingleSets(toks: Column): Column =
    array_distinct(TextF.shinglesFromTokens(toks, 5))

  /** Candidate pairs of a `(doc_id, sh)` frame (`sh` from [[shingleSets]]):
    * `(id_a, id_b, shared, n_a, n_b)` with `id_a < id_b`, `shared` the number
    * of df-capped shingles the two docs hold in common and `n_a`/`n_b` their
    * full set sizes. Unfiltered. */
  def shared(docs: DataFrame): DataFrame = {
    // the exploded shingle table feeds BOTH sides of the self-join plus the
    // size joins — persist it once instead of re-evaluating the shingle
    // expression tree per reference
    val ex = CacheScope.track(docs.select(col("doc_id"), explode(col("sh")).as("s")))
    // `sh` is distinct, so rows per doc == set size; shingle-less docs drop
    // out of `sizes` but can never appear in a pair either
    val sizes = ex.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val rare = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") <= StopShingleDf).select("s")
    val exF = ex.join(rare, "s")
    exF.as("a").join(exF.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .select("id_a", "id_b", "shared", "n_a", "n_b")
  }

  /** [[shared]] plus `jac_permille` = round(1000 · shared / |A ∪ B|), kept
    * at or above [[MinJaccardPermille]]. Unsorted. */
  def jaccard(docs: DataFrame): DataFrame =
    shared(docs)
      .withColumn("jac_permille",
        round(lit(1000.0) * col("shared") / (col("n_a") + col("n_b") - col("shared"))).cast("bigint"))
      .filter(col("jac_permille") >= MinJaccardPermille)

  /** Persisted token multiset of a `(doc_id, toks)` frame:
    * `(doc_id, t, tf)` over the non-empty tokens. */
  def tokenFreq(docs: DataFrame): DataFrame =
    CacheScope.track(docs
      .select(col("doc_id"), explode(col("toks")).as("t"))
      .filter(col("t") =!= "")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf")))

  /** Multiset overlap Σ min(tf_a, tf_b) per pair: `(id_a, id_b, <name>)` for
    * the `pairs` that share at least one term of `tf` (`(doc_id, t, tf)`).
    * Pairs sharing none are absent — left-join and coalesce to 0. */
  def sumMin(pairs: DataFrame, tf: DataFrame, name: String): DataFrame = pairs
    .join(tf.select(col("doc_id").as("id_a"), col("t"), col("tf").as("tfa")), Seq("id_a"))
    .join(tf.select(col("doc_id").as("id_b"), col("t"), col("tf").as("tfb")), Seq("id_b", "t"))
    .groupBy("id_a", "id_b")
    .agg(sum(least(col("tfa"), col("tfb"))).as(name))
}
