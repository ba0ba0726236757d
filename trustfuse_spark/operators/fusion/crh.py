"""CRH truth discovery over a fact-grouped claim matrix.

Re-expresses the reference's per-bucket numpy loops (crh.py:26-103) as one
vectorized dataflow over *all* buckets at once: the fact key is
(bucket_id, entity, attr), the weight key is (bucket_id, source).

Reference semantics (verified against crh.py):

  weight step (update_w, crh.py:40-62):
    loss per claim = 1[v != truth]                       (categorical)
                   = (v - truth)^2 / max(std_pop(fact), eps)   (numeric)
    raw_s  = Σ losses of source s within its bucket
    w_s    = -log(raw_s / Σ_bucket raw)  if raw_s > 0 else 0.0
    (zero-loss sources KEEP weight 0 — reference rtn[rtn>0] masking)

  truth step (update_truth, crh.py:65-89):
    categorical: argmax over distinct claimed v of Σ w[claimers of v]
    numeric:     argmin over claimed v of Σ_claims w·(v - claim)^2 / denom
    truth is always snapped to a claimed value, never synthetic.

Init truth = mode / exact median (initialize_truth, crh.py:92-103).
Iterations fixed (reference while itr < max_itr with no convergence break).

Layout: the claims are shuffled once per run, into the claim matrix — one
row per fact and branch (a mixed-type fact scores its numeric and
categorical claims as two facts) holding the fact's claims as a sorted
array, its loss denominator, its distinct candidates and its initial truth.
The matrix is checkpointed once; an iteration is then one narrow pass over
it (truth per fact from the broadcast per-bucket weight maps, per-claim
losses exploded from it) plus one aggregation of |sources|·|buckets| rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trustfuse_spark.operators.fusion.base import (
    FACT_KEYS,
    WEIGHT_KEYS,
    CheckpointRotator,
    FusionResult,
    assemble_truth,
    checkpoint,
    checkpoint_rdd_id,
    release_rdds,
)


def _claim_matrix(claims: DataFrame, eps: float) -> DataFrame:
    """One row per (fact, branch): the only shuffle of claim-sized data.

    ``claims`` is sorted so every per-fact float sum folds in the same
    order whatever the input partitioning; ``denom`` is the population std
    (np.std, ddof=0 — SURVEY §2.6 W3) floored at eps; the initial truth is
    the mode (ties -> smallest value, pandas ``mode().iloc[0]``) or the
    exact ``percentile`` median (np.median, never percentile_approx)."""
    is_num = F.col("value_num").isNotNull()
    cat_value = F.when(~is_num, F.col("value_str"))
    return claims.groupBy(*FACT_KEYS, is_num.alias("is_num")).agg(
        F.array_sort(
            F.collect_list(F.struct("source", "value_str", "value_num"))
        ).alias("claims"),
        F.greatest(F.stddev_pop("value_num"), F.lit(eps)).alias("denom"),
        F.collect_set(cat_value).alias("cand_str"),
        F.collect_set("value_num").alias("cand_num"),
        F.mode(cat_value, deterministic=True).alias("truth_str"),
        F.expr("percentile(value_num, 0.5)").alias("truth_num"),
    )


def _best(cands: str, key) -> Column:
    """The candidate with the smallest ``key(candidate)``; ties go to the
    smaller candidate (struct order), so the smallest string or number wins
    whatever order the candidates are in."""
    return F.array_min(
        F.transform(cands, lambda v: F.struct(key(v).alias("k"), v.alias("v")))
    )["v"]


def _truth(matrix: DataFrame, weights: DataFrame) -> DataFrame:
    """The matrix with truth_i in place of truth_{i-1}, scored against the
    per-bucket weight maps (|sources| entries each) broadcast on bucket_id;
    a narrow projection, no shuffle of the matrix."""
    is_num = F.col("is_num")
    maps = weights.groupBy("bucket_id").agg(
        F.map_from_entries(F.collect_list(F.struct("source", "weight"))).alias("w")
    )

    def w(c):
        return F.col("w")[c["source"]]

    def vote(v):  # categorical: argmax of the weight sum of v's claimers
        return -F.aggregate(
            F.filter("claims", lambda c: c["value_str"] == v),
            F.lit(0.0),
            lambda acc, c: acc + w(c),
        )

    # numeric: argmin of Σ w·(v - claim)^2 / denom, summed term by term as
    # the reference does (an A - 2vB + v²C expansion cancels and can flip
    # near-ties)
    def loss(v):
        return F.aggregate(
            "claims",
            F.lit(0.0),
            lambda acc, c: acc + w(c) * (c["value_num"] - v) ** 2 / F.col("denom"),
        )

    return (
        matrix.join(F.broadcast(maps), "bucket_id")
        .withColumn("truth_str", F.when(~is_num, _best("cand_str", vote)))
        .withColumn("truth_num", F.when(is_num, _best("cand_num", loss)))
        .drop("w")
    )


def _weights(facts: DataFrame) -> DataFrame:
    """weights_i from the per-claim losses against the truth ``facts``
    carries: the one per-iteration shuffle, of |sources|·|buckets| rows.
    Every claim is exploded, so every (bucket, source) pair that claims
    anything gets a weight (0.0 when it lost nothing, as in the reference)."""
    c = F.col("c")
    loss = F.when(
        F.col("is_num"), (c["value_num"] - F.col("truth_num")) ** 2 / F.col("denom")
    ).otherwise((c["value_str"] != F.col("truth_str")).cast("double"))
    raw = (
        facts.select("bucket_id", F.explode("claims").alias("c"), loss.alias("loss"))
        .groupBy("bucket_id", c["source"].alias("source"))
        .agg(F.sum("loss").alias("raw"))
    )
    # Per-bucket normalizer as a broadcast dim, not a window: nothing moves
    # but |buckets| rows.
    totals = raw.groupBy("bucket_id").agg(F.sum("raw").alias("__tot"))
    return raw.join(F.broadcast(totals), "bucket_id").select(
        *WEIGHT_KEYS,
        F.when(F.col("raw") > 0, -F.log(F.col("raw") / F.col("__tot")))
        .otherwise(F.lit(0.0))
        .alias("weight"),
    )


def fuse_crh(
    claims: DataFrame, max_itr: int = 10, eps: float = 0.1
) -> FusionResult:
    """Run CRH over a long-form claims DataFrame (all buckets vectorized).

    The claim matrix is built and checkpointed once. Iteration i
    checkpoints weights_i (computed from truth_{i-1}) and frees weights_{i-1};
    truth_i stays a lazy projection of the matrix that the next weight step
    (or the final checkpoint) evaluates, so it is never materialised inside
    the loop. Before returning, the matrix is freed: the returned truth and
    weights are both checkpoints of their own.
    """
    spark = claims.sparkSession
    matrix = checkpoint(_claim_matrix(claims, eps))

    rot = CheckpointRotator(spark, keep=1)
    facts = matrix  # carries the initial truth
    weights = None
    for _ in range(max_itr):
        weights = rot.rotate(_weights(facts))
        facts = _truth(matrix, weights)

    if weights is None:  # max_itr == 0 -> init truth, uniform weights
        weights = rot.rotate(
            matrix.select("bucket_id", F.explode("claims.source").alias("source"))
            .distinct()
            .withColumn("weight", F.lit(0.0))
        )

    is_num = F.col("is_num")
    truth = checkpoint(assemble_truth(facts.filter(~is_num), facts.filter(is_num)))
    release_rdds(spark, {checkpoint_rdd_id(matrix)})
    return FusionResult(truth=truth, weights=weights)
