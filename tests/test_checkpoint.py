"""Checkpoint/resume tests (SURVEY.md §5.2 item 5, north_rule
"resumable from checkpoint with per-partition lineage + metrics")."""

from __future__ import annotations

import pytest

from montecarlopagerank_spark.algos.pagerank_mc import pagerank_monte_carlo
from montecarlopagerank_spark.algos.pagerank_power import pagerank_power
from montecarlopagerank_spark.operators.checkpoint import CheckpointManager


def ranks_dict(df):
    return {r["v"]: r["rank"] for r in df.collect()}


def test_manifest_commit_semantics(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path / "ck"), {"algo": "t"})
    assert ck.last_complete_step() is None
    df = spark.range(3).selectExpr("id as v", "cast(id as double) as rank")
    ck.save_step(0, {"state": df}, {"delta": 0.5})
    ck.save_step(1, {"state": df}, {"delta": 0.1})
    assert ck.last_complete_step() == 1
    man = ck.manifest(1)
    assert man["metrics"]["delta"] == 0.1 and man["run_config"]["algo"] == "t"
    # a partial step (tables but no manifest) is invisible
    df.write.mode("overwrite").parquet(str(tmp_path / "ck" / "step=2" / "state"))
    assert ck.last_complete_step() == 1


def test_pi_resume_identical(spark, gnutella_mini, tmp_path):
    """Interrupt PI after 3 supersteps; resume must land on ranks identical
    to the uninterrupted run (checkpoint determinism)."""
    full_dir = str(tmp_path / "full")
    part_dir = str(tmp_path / "part")
    full, info_full = pagerank_power(
        spark, gnutella_mini, tol=1e-8, max_iters=60, checkpoint_dir=full_dir)
    # simulated kill: cap at 3 iterations
    partial, info_part = pagerank_power(
        spark, gnutella_mini, tol=1e-8, max_iters=3, checkpoint_dir=part_dir)
    assert not info_part["converged"]
    resumed, info_res = pagerank_power(
        spark, gnutella_mini, tol=1e-8, max_iters=60,
        checkpoint_dir=part_dir, resume=True)
    assert info_res["converged"]
    assert info_res["iterations"] == info_full["iterations"]
    d_full, d_res = ranks_dict(full), ranks_dict(resumed)
    assert set(d_full) == set(d_res)
    for v in d_full:
        assert d_res[v] == pytest.approx(d_full[v], abs=1e-12)


def test_pi_resume_on_converged_run_is_noop(spark, cycle5, tmp_path):
    ck = str(tmp_path / "ck")
    r1, i1 = pagerank_power(spark, cycle5, tol=1e-9, checkpoint_dir=ck)
    r2, i2 = pagerank_power(
        spark, cycle5, tol=1e-9, checkpoint_dir=ck, resume=True)
    assert i2["converged"] and "resumed_at" in i2
    assert ranks_dict(r1) == ranks_dict(r2)


def test_mc_resume_identical(spark, gnutella_mini, tmp_path):
    """MC resume: visits/coupons restored from the manifest-committed step;
    block-seeded RNG makes the continuation byte-identical. The durable
    and scratch paths share one walk UDF and router, so the scratch run
    lands on the same ranks too."""
    full_dir = str(tmp_path / "mcfull")
    part_dir = str(tmp_path / "mcpart")
    full, _ = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=8, seed=5,
        checkpoint_dir=full_dir)
    pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=3, seed=5,
        checkpoint_dir=part_dir)
    resumed, info = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=8, seed=5,
        checkpoint_dir=part_dir, resume=True)
    assert info["iterations"] == 8
    assert ranks_dict(full) == ranks_dict(resumed)
    scratch, _ = pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=8, seed=5)
    assert ranks_dict(scratch) == ranks_dict(full)


def test_mc_resume_rejects_foreign_checkpoint(spark, gnutella_mini, tmp_path):
    """A checkpoint in the older vertex-keyed coupon format (v, c), or one
    written under another block layout, must not resume: the routed
    (block_id, rkey, c) state would be misread. Resume raises instead."""
    old = str(tmp_path / "mcold")
    ck = CheckpointManager(spark, old, {"algo": "pagerank_mc", "K": 20,
                                        "eps": 0.15, "seed": 5})
    ck.save_step(-1, {"coupons": spark.createDataFrame(
        [(0, 20), (1, 20)], "v long, c long")}, {"init": True})
    with pytest.raises(ValueError, match="resume=False"):
        pagerank_monte_carlo(
            spark, gnutella_mini, walks_per_vertex=20, iterations=3, seed=5,
            checkpoint_dir=old, resume=True)
    other = str(tmp_path / "mcother")
    pagerank_monte_carlo(
        spark, gnutella_mini, walks_per_vertex=20, iterations=2, seed=5,
        checkpoint_dir=other, edges_per_block=1 << 12)
    with pytest.raises(ValueError, match="layout"):
        pagerank_monte_carlo(
            spark, gnutella_mini, walks_per_vertex=20, iterations=3, seed=5,
            checkpoint_dir=other, edges_per_block=64, resume=True)


def test_cc_resume_identical(spark, gnutella_mini, tmp_path):
    """Interrupt CC after 2 star rounds; resume must land on labels
    identical to the uninterrupted run (each round is a pure function of
    the committed pair set)."""
    from montecarlopagerank_spark.algos.components import connected_components

    def labels(df):
        return {r["v"]: r["component"] for r in df.collect()}

    full = labels(connected_components(spark, gnutella_mini))
    part_dir = str(tmp_path / "cc")
    partial = connected_components(
        spark, gnutella_mini, max_iters=2, checkpoint_dir=part_dir
    )
    partial.count()
    resumed = connected_components(
        spark, gnutella_mini, checkpoint_dir=part_dir, resume=True
    )
    assert labels(resumed) == full
    # resume on the converged checkpoint is a no-op (no extra rounds)
    again = connected_components(
        spark, gnutella_mini, checkpoint_dir=part_dir, resume=True
    )
    assert labels(again) == full


def test_lpa_resume_identical(spark, gnutella_mini, tmp_path):
    """Interrupt LPA after 2 supersteps; resume must land on labels
    identical to the uninterrupted run."""
    from montecarlopagerank_spark.algos.labelprop import label_propagation

    def labels(df):
        return {r["v"]: r["label"] for r in df.collect()}

    full = labels(label_propagation(spark, gnutella_mini, max_iters=10))
    part_dir = str(tmp_path / "lpa")
    label_propagation(
        spark, gnutella_mini, max_iters=2, checkpoint_dir=part_dir
    ).count()
    resumed = label_propagation(
        spark, gnutella_mini, max_iters=10, checkpoint_dir=part_dir,
        resume=True,
    )
    assert labels(resumed) == full
