import pytest
from pyspark.sql import functions as F

from belb_spark.operators.blocking import BlockingConfig, block_keys
from belb_spark.operators.normalize import normalize
from belb_spark.operators.pairs import (
    PairsConfig,
    candidate_pairs,
    exact_duplicate_edges,
    pair_stats,
)


@pytest.fixture(scope="module")
def norm(tiny_spark):
    return normalize(tiny_spark["repos"], tiny_spark["synonym_dict"]).cache()


@pytest.fixture(scope="module")
def blocks(norm):
    return block_keys(norm, BlockingConfig()).cache()


def test_block_keys_deterministic(norm):
    a = block_keys(norm, BlockingConfig())
    b = block_keys(norm, BlockingConfig())
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_key_families_present(blocks):
    fams = {
        r["fam"]
        for r in blocks.select(
            F.split("block_key", ":").getItem(0).alias("fam")
        ).distinct().collect()
    }
    assert "exact" in fams and "pfx" in fams
    assert any(f.startswith("mh") for f in fams)


def test_positive_pairs_covered_by_blocking(blocks, tiny_spark):
    """Every labeled positive pair must share at least one blocking key
    (recall precondition for F1 — SURVEY.md §7.2 step 4)."""
    lp = tiny_spark["labeled_pairs"].filter("is_match").select("uid_a", "uid_b")
    a = blocks.select(F.col("uid").alias("uid_a"), "block_key")
    b = blocks.select(F.col("uid").alias("uid_b"), "block_key")
    covered = lp.join(a, "uid_a").join(b, ["uid_b", "block_key"]).select("uid_a", "uid_b").distinct()
    n_lp = lp.count()
    n_cov = covered.count()
    assert n_cov == n_lp, f"blocking lost {n_lp - n_cov} positive pairs"


def test_candidate_pairs_unique_ordered(blocks):
    pairs = candidate_pairs(blocks, PairsConfig())
    assert pairs.filter(F.col("uid_a") >= F.col("uid_b")).count() == 0
    assert pairs.count() == pairs.distinct().count()


def test_anchor_cap_bounds_hot_blocks(blocks):
    """Pairs from a block of size n are ≤ full pairing, and for hot blocks
    ≈ anchor_rank · n (no quadratic blowup)."""
    cfg = PairsConfig(full_join_max=16, anchor_rank=4)
    stats = pair_stats(blocks, cfg)
    hot = stats.filter(F.col("block_size") > 16).collect()
    assert hot, "fixture should contain hot blocks"
    for r in hot:
        assert r["pairs_emitted"] <= 4 * (r["block_size"] - 1)
        assert r["pairs_emitted"] < r["pairs_theoretical"]


@pytest.mark.parametrize("key_type", ["bigint", "string"])
def test_candidate_pairs_match_reference(spark, key_type):
    """The one pair builder against a pure-Python reference, on both key
    types it serves (dedup's xxhash64 longs, the pipeline's strings): all
    pairs of a block with n ≤ full_join_max; above the cap, every (a, b),
    a < b, whose smaller uid ranks among the block's first anchor_rank.
    The small block shares uids with the hot one, so a pair reached from
    both blocks must come out once."""
    import pandas as pd

    hot, small = (7, 3) if key_type == "bigint" else ("hot", "small")
    members = {hot: list(range(120)), small: [0, 115, 116, 117, 118, 1000]}
    cfg = PairsConfig(full_join_max=8, anchor_rank=2)
    blocks = spark.createDataFrame(
        pd.DataFrame(
            [(u, k) for k, us in members.items() for u in us],
            columns=["uid", "block_key"],
        )
    )
    assert dict(blocks.dtypes)["block_key"] == key_type

    expected = set()
    for us in members.values():
        us = sorted(us)
        anchors = us if len(us) <= cfg.full_join_max else us[: cfg.anchor_rank]
        expected |= {(a, b) for a in anchors for b in us if a < b}

    rows = candidate_pairs(blocks, cfg).collect()
    got = [(r["uid_a"], r["uid_b"]) for r in rows]
    assert len(got) == len(set(got))
    assert set(got) == expected


def test_exact_duplicate_edges_star_shape(norm):
    edges = exact_duplicate_edges(norm)
    assert edges.filter(F.col("uid_a") >= F.col("uid_b")).count() == 0
    # anchor is the min uid of its dup group: anchors never appear as uid_b
    a_set = {r["uid_a"] for r in edges.select("uid_a").distinct().collect()}
    b_set = {r["uid_b"] for r in edges.select("uid_b").distinct().collect()}
    assert not (a_set & b_set)
