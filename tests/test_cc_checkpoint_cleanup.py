"""connected_components_df: labels equal a union-find over the same
edges, the session shuffle-partition conf the loop lowers is restored
(also on the non-convergence error), and the reliable-checkpoint
hygiene: superseded rounds' checkpoint files are deleted inside the
loop, so the checkpoint dir holds O(1) round files after convergence
instead of one per round."""

import os

import pytest
from pyspark.sql import functions as F


def _rdd_ckpt_dirs(root):
    out = []
    for dirpath, dirnames, _ in os.walk(root):
        out.extend(d for d in dirnames if d.startswith("rdd-"))
    return out


def test_cc_reliable_checkpoints_are_cleaned_in_loop(spark, tmp_path):
    from etielle_spark.operators.graph import connected_components_df

    ckpt = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    sc.setCheckpointDir(ckpt)
    try:
        # a 40-node path graph forces multiple pointer-jump rounds
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(40)], "id_a long, id_b long"
        )
        labels = connected_components_df(edges, "id_a", "id_b")
        rows = labels.collect()
        assert len(rows) == 41
        assert {r["component"] for r in rows} == {0}

        kept = _rdd_ckpt_dirs(ckpt)
        # only the CONVERGED round's files may remain (the returned
        # frame reads them); every superseded round must be gone
        assert len(kept) <= 1, f"leaked checkpoint rounds: {kept}"
        # and the returned frame still computes off the kept round
        assert labels.count() == 41
    finally:
        # session-scoped fixture: restore the no-checkpoint-dir default
        # so other tests keep exercising the localCheckpoint path
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )


def _union_find_labels(edges):
    """Pure-Python union-find: vertex -> smallest id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((v, find(v)) for v in parent)


@pytest.fixture
def wide_shuffle(spark):
    """A session shuffle-partition count above the loop's floor of 4, so
    the loop really lowers it; the fixture restores the original."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    yield "16"
    spark.conf.set("spark.sql.shuffle.partitions", old)


def test_cc_labels_match_union_find_and_restore_conf(spark, wide_shuffle):
    from etielle_spark.operators.graph import connected_components_df

    # a path graph (multi-round convergence) plus a disjoint triangle
    rows = [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102), (102, 100)]
    edges = spark.createDataFrame(rows, "id_a long, id_b long")

    got = sorted(
        (r["id"], r["component"])
        for r in connected_components_df(edges, "id_a", "id_b").collect()
    )
    assert got == _union_find_labels(rows)
    assert {c for _, c in got} == {0, 100}
    # the loop's reduced shuffle-partition conf must not leak out
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_shuffle


def test_cc_conf_restored_on_nonconvergence_error(spark, wide_shuffle):
    from etielle_spark.operators.graph import connected_components_df

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components_df(edges, "id_a", "id_b", max_iter=1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == wide_shuffle
