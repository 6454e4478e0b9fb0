"""Tests for the benchmark's own helpers.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from layers import PER_LAYER_UNITS  # noqa: E402
from quality import ess, first_reaching, prefix_smpc_f1, read_chain  # noqa: E402
from run import END_TO_END_UNITS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


# -- effective sample size ------------------------------------------------------

def test_ess_iid_is_about_n():
    x = np.random.default_rng(0).normal(size=4000)
    assert 0.85 * 4000 <= ess(x) <= 1.15 * 4000


def test_ess_ar1_matches_known_value():
    rho, n = 0.8, 50_000
    rng = np.random.default_rng(1)
    e = rng.normal(size=n)
    x = np.empty(n)
    x[0] = e[0] / np.sqrt(1 - rho**2)
    for i in range(1, n):
        x[i] = rho * x[i - 1] + e[i]
    want = n * (1 - rho) / (1 + rho)
    assert abs(ess(x) - want) / want < 0.15


def test_ess_constant_trace_is_n():
    assert ess(np.full(100, 3.5)) == 100.0


# -- prefix sMPC scan -------------------------------------------------------------

def _write_chain(path: str, samples: list[tuple[int, list[list[str]]]]) -> None:
    rows = [(it, 0, c) for it, clusters in samples for c in clusters]
    pq.write_table(
        pa.table({
            "iteration": pa.array([r[0] for r in rows], pa.int64()),
            "partition_id": pa.array([r[1] for r in rows], pa.int32()),
            "rec_ids": pa.array([r[2] for r in rows], pa.list_(pa.string())),
        }),
        os.path.join(path, "linkage-chain.parquet", "part-0.parquet"),
    )


def _random_chain(rng, recs: list[str], n_samples: int):
    """Samples that keep re-drawing from a few candidate clusterings, so
    most-probable-cluster ties and cross-sample agreement both occur, and
    ground truth close to the first candidate."""
    labels = [rng.integers(0, len(recs) // 2, len(recs)) for _ in range(3)]
    candidates = [[[r for r, l in zip(recs, lab) if l == k] for k in set(lab.tolist())] for lab in labels]
    samples = [(100 + 10 * i, candidates[int(rng.choice(3, p=[0.5, 0.25, 0.25]))]) for i in range(n_samples)]
    truth = {r: str(l if rng.random() < 0.8 else -1 - i) for i, (r, l) in enumerate(zip(recs, labels[0]))}
    return samples, truth


@pytest.fixture(scope="module")
def spark():
    from dblink_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_full_prefix_f1_equals_evaluate_pairwise(spark, tmp_path, seed):
    from dblink_spark.er.analysis import membership_to_clusters
    from dblink_spark.er.chain import most_probable_clusters, shared_most_probable_clusters
    from dblink_spark.er.metrics import evaluate_pairwise
    from dblink_spark.sources.chain import read_linkage_chain

    samples, truth = _random_chain(np.random.default_rng(seed), [str(i) for i in range(40)], 9)
    os.makedirs(tmp_path / "linkage-chain.parquet")
    _write_chain(str(tmp_path), samples)

    smpc = shared_most_probable_clusters(most_probable_clusters(
        read_linkage_chain(spark, str(tmp_path), cutoff=100)))
    true_clusters = membership_to_clusters(
        spark.createDataFrame(sorted(truth.items()), "rec_id string, ent_id string"))
    want = evaluate_pairwise(smpc, true_clusters).f1

    scan = prefix_smpc_f1(read_chain(str(tmp_path), cutoff=100), truth)
    assert len(scan) == 9
    assert 0 < want < 1
    assert scan[-1] == want


def test_tie_breaks_to_smaller_cluster_key():
    # record "1" is in ["1","2"] once and ["1","3"] once: the smaller key
    # "[1, 2]" wins, so sMPC pairs are (1,2) only
    samples = [(1, [["1", "2"], ["3"]]), (2, [["1", "3"], ["2"]])]
    truth = {"1": "a", "2": "a", "3": "b"}
    assert prefix_smpc_f1(samples, truth) == [1.0, 1.0]


def test_first_reaching():
    assert first_reaching([0.5, 0.8, 0.9], 0.85) == 2
    assert first_reaching([0.5], 0.9) is None


# -- metric names -------------------------------------------------------------------

def test_metric_names_are_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared_e2e = {m["name"] for m in bench["end_to_end"]}
    declared_layer = {m["name"] for m in bench["per_layer"]}
    for name in declared_e2e | declared_layer | {w["name"] for w in bench["workloads"]}:
        assert NAME.fullmatch(name), name
    assert declared_e2e == set(END_TO_END_UNITS)
    assert declared_layer == set(PER_LAYER_UNITS)
