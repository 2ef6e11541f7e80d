package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, hash-ordered corpus sampling: shard assignment,
  * sampled heavy hitters and tempered mixture weights. Every order key is
  * md5 of an id plus a salt — a uniform random permutation that is
  * reproducible across runs, engines and partitionings.
  */
object Sampling {

  /** Deterministic global shuffle → training shards: every doc gets a
    * (shard, pos) address under a reproducible random permutation —
    * shard = first 8 md5 hex digits mod `nShards`, pos = rank of the
    * full md5 within the shard. This is how a training run consumes a
    * corpus: S shard files, each internally shuffled, any shard
    * re-derivable from (id, salt, S) alone — no stored permutation, no
    * driver state, stable under repartitioning.
    *
    * Scale shape: the only per-shard work is the rank window, which is
    * EXACTLY the sort a shard writer needs anyway (repartition(S) +
    * sortWithinPartitions before write); at 100 TB, nShards is sized to
    * the target shard file size (data / ~1 GB), so per-shard sort volume
    * is a constant, not a function of corpus size. Adds `shard`, `pos`. */
  def shuffleShards(df: DataFrame, nShards: Int, idCol: String = "doc_id",
      salt: String = ":shuffle:v1"): DataFrame = {
    val k = md5(concat(col(idCol).cast("string"), lit(salt)))
    val w = Window.partitionBy(col("shard")).orderBy(col("__k"), col(idCol))
    df.withColumn("__k", k)
      .withColumn("shard",
        (conv(substring(col("__k"), 1, 8), 16, 10).cast("long")
          % nShards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("__k")
  }

  /** Sampled heavy hitters: estimate the most frequent values of `keyCol`
    * from a deterministic bottom-k occurrence sample instead of an exact
    * global groupBy. The exact form (a groupBy + top-k)
    * shuffles EVERY DISTINCT KEY — at 100 TB an n-gram key space is
    * billions of rows of shuffle no matter how good the partial
    * aggregation; this estimator moves exactly k sampled occurrences
    * (TakeOrderedAndProject on md5(occurrence id), the PctSampleAgg
    * sampling rule applied corpus-wide) and counts within the sample.
    * est_count = cnt·N div k is the standard scale-up (exact integer
    * arithmetic); by DKW, sample FRACTIONS are within √(ln(2/δ)/2k) of
    * truth with prob 1−δ — at k = 4096 that is ±2.1 % of N at δ = 1e-3,
    * tight enough to rank heavy hitters, whose separation is the point.
    *
    * `occKeyCol` must uniquely identify an OCCURRENCE (not a value), so
    * the sample is uniform over rows; the caller supplies it because only
    * the caller knows the row identity (e.g. doc_id:position).
    * Returns the sample's top `topN` values: (keyCol, sample_cnt,
    * est_count), ties broken by value — fully replayable in SQL via
    * ROW_NUMBER OVER (ORDER BY md5(occ), occ) <= k. */
  def heavyHittersSampled(df: DataFrame, keyCol: String, occKeyCol: String,
      k: Int = 4096, topN: Int = 20): DataFrame = {
    val total = df.agg(count(lit(1)).cast("long").as("__n"))
    val sample = df
      .select(col(keyCol), col(occKeyCol).as("__occ"))
      .withColumn("__h", md5(col("__occ")))
      .orderBy(col("__h"), col("__occ"))
      .limit(k)
    sample.groupBy(keyCol)
      .agg(count(lit(1)).cast("long").as("sample_cnt"))
      .crossJoin(broadcast(total))
      .select(col(keyCol), col("sample_cnt"),
        expr(s"sample_cnt * __n div $k").as("est_count"))
      .orderBy(col("sample_cnt").desc, col(keyCol))
      .limit(topN)
  }

  /** Temperature-tempered mixture weights: turns raw per-stratum token
    * counts into the sampling recipe itself — w_s ∝ n_s^α renormalized,
    * the standard move (mBERT/XLM-style exponentiated smoothing) to keep
    * giant domains from drowning small ones. α is fixed at 1/2 (sqrt)
    * deliberately: IEEE sqrt is CORRECTLY ROUNDED in every engine,
    * unlike pow/exp, so the weights are bit-reproducible cross-engine.
    *
    * Exactness: token counts are exact BIGINTs from one combinable
    * groupBy; w_micro = round(sqrt(n)·1e6) (sqrt exact, tie only at
    * perfect squares where the product is an exact integer); the
    * normalizer is an exact integer sum; share is raw IEEE division and
    * the per-stratum token budget is pure integer arithmetic
    * (budget·w div Σw — floor on positives in any engine). Returns (stratumCol, n_docs, n_tokens,
    * w_micro, share, token_budget). */
  def mixtureWeights(df: DataFrame, stratumCol: String, totalBudget: Long,
      textCol: String = "text"): DataFrame = {
    val perStratum = df.groupBy(stratumCol).agg(
      count(lit(1)).as("n_docs"),
      sum(size(filter(split(col(textCol), " "), w => w =!= "")))
        .cast("long").as("n_tokens"))
    val weighted = perStratum.withColumn("w_micro",
      round(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
    val total = weighted.agg(sum(col("w_micro")).cast("long").as("__tw"))
    weighted.crossJoin(broadcast(total))
      .select(col(stratumCol), col("n_docs"), col("n_tokens"),
        col("w_micro"),
        (col("w_micro").cast("double") / col("__tw").cast("double"))
          .as("share"),
        expr(s"$totalBudget * w_micro div __tw").as("token_budget"))
  }
}
