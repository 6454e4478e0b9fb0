"""Chain-quality helpers for the benchmark: effective sample size, the
prefix sMPC F1 scan behind ``time_to_f1_s``, and the output invariants
every pipeline run must satisfy.

Everything here is pure numpy/pyarrow and runs after the timed pipeline
has exited, so none of it is inside a measured interval.
"""

from __future__ import annotations

import csv
import math
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq


def ess(trace) -> float:
    """Effective sample size of one chain (Geyer's initial monotone sequence
    estimator on FFT autocorrelations).

    A constant trace carries no autocorrelation to estimate; it returns
    ``len(trace)``, the convention ArviZ and Stan use.
    """
    x = np.asarray(trace, dtype=np.float64)
    n = x.shape[0]
    if n < 4:
        return float(n)
    xc = x - x.mean()
    if not np.any(xc):
        return float(n)
    f = np.fft.rfft(xc, 2 * n)
    acov = np.fft.irfft(f * np.conj(f))[:n] / n
    rho = acov / acov[0]
    m = (n - 1) // 2
    gamma = rho[0 : 2 * m : 2] + rho[1 : 2 * m + 1 : 2]
    # initial positive sequence: stop at the first non-positive pair sum
    nonpos = np.flatnonzero(gamma <= 0)
    gamma = gamma[: nonpos[0]] if nonpos.size else gamma
    # initial monotone sequence: running minimum
    gamma = np.minimum.accumulate(gamma)
    tau = -1.0 + 2.0 * gamma.sum()
    return float(n / tau) if tau > 0 else float(n)


def read_chain(output_path: str, cutoff: int = 0) -> list[tuple[int, list[list[str]]]]:
    """Saved samples under ``output_path`` with iteration >= ``cutoff``, as
    ``[(iteration, [cluster rec_ids, ...]), ...]`` in iteration order."""
    tbl = pq.read_table(
        os.path.join(output_path, "linkage-chain.parquet"),
        columns=["iteration", "rec_ids"],
    )
    by_iter: dict[int, list[list[str]]] = {}
    for it, recs in zip(tbl.column("iteration").to_pylist(), tbl.column("rec_ids").to_pylist()):
        if it >= cutoff:
            by_iter.setdefault(it, []).append(recs)
    return sorted(by_iter.items())


def read_truth(csv_path: str, rec_col: str = "rec_id", ent_col: str = "ent_id") -> dict[str, str]:
    with open(csv_path, newline="") as f:
        return {row[rec_col]: row[ent_col] for row in csv.DictReader(f)}


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pairwise_f1(groups: dict, truth: dict[str, str]) -> float:
    """Pairwise F1 of a clustering ``{group key: [rec_id, ...]}`` against
    ground truth, with the arithmetic of ``er.metrics.ConfusionMatrix``."""
    tp = pred = 0
    for members in groups.values():
        pred += _pairs(len(members))
        tp += sum(_pairs(c) for c in Counter(truth[r] for r in members).values())
    true = sum(_pairs(c) for c in Counter(truth.values()).values())
    p = tp / pred if pred else float("nan")
    r = tp / true if true else float("nan")
    d = p + r
    return 2.0 * p * r / d if d else float("nan")


def prefix_smpc_f1(samples, truth: dict[str, str]) -> list[float]:
    """sMPC pairwise F1 of every prefix of ``samples`` (``read_chain``
    output): element k scores the point estimate built from samples 0..k.

    Mirrors ``er.chain.most_probable_clusters`` (highest frequency, ties to
    the smaller cluster key, the member list cast to a string) and
    ``shared_most_probable_clusters`` (records grouped by their most
    probable cluster). Cluster counts only grow as samples are added, so
    each record's best cluster is updated incrementally.
    """
    counts: dict[tuple, int] = {}
    keys: dict[tuple, str] = {}
    best: dict[str, tuple[int, str, tuple]] = {}
    out = []
    for _, clusters in samples:
        for recs in clusters:
            c = tuple(sorted(recs))
            n = counts.get(c, 0) + 1
            counts[c] = n
            k = keys.get(c)
            if k is None:
                k = keys[c] = "[" + ", ".join(c) + "]"
            for r in c:
                b = best.get(r)
                if b is None or n > b[0] or (n == b[0] and k < b[1]):
                    best[r] = (n, k, c)
        groups: dict[tuple, list[str]] = {}
        for r, (_, _, c) in best.items():
            groups.setdefault(c, []).append(r)
        out.append(pairwise_f1(groups, truth))
    return out


def first_reaching(values: list[float], target: float) -> int | None:
    """Index of the first value >= ``target`` (None if none does)."""
    for i, v in enumerate(values):
        if v >= target:
            return i
    return None


def check_invariants(samples, record_ids: set[str], diag_rows: list[dict],
                     expect: dict, final_iteration: int,
                     num_partitions: int) -> list[str]:
    """Problems with one run's outputs (empty when all invariants hold)."""
    problems = []
    for it, clusters in samples:
        members = [r for c in clusters for r in c]
        if len(members) != len(record_ids) or set(members) != record_ids:
            problems.append(f"iteration {it}: records not in exactly one cluster")
            break
    if len(samples) != expect["samples"]:
        problems.append(f"{len(samples)} saved samples, expected {expect['samples']}")
    want = expect["burnin"] + expect["samples"] * expect["thinning"]
    if final_iteration != want:
        problems.append(f"final iteration {final_iteration}, expected {want}")
    if num_partitions != expect["partitions"]:
        problems.append(f"{num_partitions} partitions, expected {expect['partitions']}")
    lls = [float(r["logLikelihood"]) for r in diag_rows]
    if not lls or not all(math.isfinite(v) for v in lls):
        problems.append("non-finite or missing logLikelihood")
    return problems
