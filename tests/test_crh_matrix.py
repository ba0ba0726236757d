"""CRH on the claim matrix: hand-built tie-breaks, mixed-type facts, and
the blocks a fit leaves pinned."""

import math

import pytest

from tests.oracle import crh_oracle
from trustfuse_spark.datagen import gen_claims
from trustfuse_spark.operators.fusion.base import checkpoint_rdd_id, persistent_rdd_ids
from trustfuse_spark.operators.fusion.crh import fuse_crh

SCHEMA = (
    "bucket_id int, source string, entity string, attr string,"
    " value_str string, value_num double, claim_type string"
)


def _claims(spark, rows):
    return spark.createDataFrame(
        [
            (b, s, e, a, str(v), v if isinstance(v, float) else None,
             "quantity" if isinstance(v, float) else "string")
            for b, s, e, a, v in rows
        ],
        SCHEMA,
    )


def _truth(res):
    return {
        (r["bucket_id"], r["entity"], r["attr"], r["is_numeric"]): r["value_num"]
        if r["is_numeric"] else r["value_str"]
        for r in res.truth.collect()
    }


# Two sources that disagree symmetrically: every tie stays a tie, because
# each source loses exactly as much as the other in every iteration, so
# their weights stay equal. Claim order puts the winning value last.
TIES = [
    (1, "s1", "e1", "name", "b"), (1, "s2", "e1", "name", "a"),
    (1, "s1", "e2", "name", "x"), (1, "s2", "e2", "name", "y"),
    (1, "s1", "e3", "size", 20.0), (1, "s2", "e3", "size", 10.0),
    (1, "s1", "e4", "size", 10.0), (1, "s2", "e4", "size", 20.0),
]


@pytest.mark.parametrize("max_itr", [0, 1, 3])
def test_crh_ties_go_to_the_smallest_value(spark, max_itr):
    claims = _claims(spark, TIES)
    res = fuse_crh(claims, max_itr=max_itr)
    got = _truth(res)
    assert got[(1, "e1", "name", False)] == "a"
    assert got[(1, "e2", "name", False)] == "x"
    if max_itr == 0:  # the synthetic median, before any snapping
        assert got[(1, "e3", "size", True)] == got[(1, "e4", "size", True)] == 15.0
    else:  # losses tie between 10 and 20: the smaller wins
        assert got[(1, "e3", "size", True)] == got[(1, "e4", "size", True)] == 10.0
    w = {r["source"]: r["weight"] for r in res.weights.collect()}
    assert w["s1"] == w["s2"]
    want_truth, _ = crh_oracle(claims.toPandas(), max_itr=max_itr)
    assert {k[:3]: v for k, v in got.items()} == want_truth


def test_crh_mixed_fact_gives_one_truth_row_per_branch(spark):
    # s1/s2 claim strings, s3/s4 numbers for the same (entity, attr).
    claims = _claims(spark, [
        (2, "s1", "e", "a", "foo"), (2, "s2", "e", "a", "bar"),
        (2, "s3", "e", "a", 7.0), (2, "s4", "e", "a", 9.0),
    ])
    init = _truth(fuse_crh(claims, max_itr=0))
    assert init == {(2, "e", "a", False): "bar", (2, "e", "a", True): 8.0}

    # Iteration 1 scores against the initial truth: s1 loses 1 ("foo" vs
    # "bar"), s3 and s4 lose (7-8)^2/1 and (9-8)^2/1, s2 loses nothing.
    res = fuse_crh(claims, max_itr=1)
    w = {r["source"]: r["weight"] for r in res.weights.collect()}
    assert w["s2"] == 0.0
    for s in ("s1", "s3", "s4"):
        assert w[s] == pytest.approx(math.log(3), abs=1e-12)
    # "foo" carries log 3 against "bar"'s 0; 7 and 9 tie at 4·log 3
    rows = sorted(tuple(r) for r in res.truth.collect())
    assert rows == [
        (2, "e", "a", "7.000000", 7.0, True),
        (2, "e", "a", "foo", None, False),
    ]


@pytest.mark.parametrize("max_itr", [0, 5])
def test_crh_pins_only_its_truth_and_weights(spark, max_itr):
    claims = gen_claims(spark, n_entities=20, n_sources=6, n_revs=2)
    before = persistent_rdd_ids(spark)
    res = fuse_crh(claims, max_itr=max_itr)
    pinned = persistent_rdd_ids(spark) - before
    assert pinned == {checkpoint_rdd_id(res.truth), checkpoint_rdd_id(res.weights)}
    assert res.truth.count() > 0
    assert res.weights.count() > 0
