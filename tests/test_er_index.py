"""Attribute index + similarity golden tests.

Golden values come from the reference's own unit suite
(ref: SimilarityFnTest.scala:44-74, AttributeIndexTest.scala:38-60) — the
cheapest correctness anchor for the model math (see FIXTURES.md §2-3).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from dblink_spark.er.attributes import BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.index import build_attribute_index, build_attribute_index_local

STATE_WEIGHTS = {
    "Australian Capital Territory": 0.410,
    "New South Wales": 7.86,
    "Northern Territory": 0.246,
    "Queensland": 4.92,
    "South Australia": 1.72,
    "Tasmania": 0.520,
    "Victoria": 6.32,
    "Western Australia": 2.58,
}

GOLDEN_SIM_NORMS = {
    "Australian Capital Territory": 0.0027140755302269004,
    "New South Wales": 1.4193905286944585e-4,
    "Northern Territory": 0.00451528932619675,
    "Queensland": 2.2673706056780077e-4,
    "South Australia": 6.465919296781136e-4,
    "Tasmania": 0.00214117348291189,
    "Western Australia": 4.317863538883541e-4,
    "Victoria": 1.7651936247903708e-4,
}


class TestLevenshteinSim:
    fn = LevenshteinSim(5.0, 10.0)

    def test_identical(self):
        assert self.fn.similarity("John Smith", "John Smith") == pytest.approx(10.0)

    def test_empty_vs_nonempty(self):
        assert self.fn.similarity("", "John Smith") == pytest.approx(0.0)

    def test_golden_ab_bb(self):
        # ref: SimilarityFnTest expects 2.0 with threshold 5, 6.0 without
        assert self.fn.similarity("AB", "BB") == pytest.approx(2.0)
        assert LevenshteinSim(0.0, 10.0).similarity("AB", "BB") == pytest.approx(6.0)

    def test_symmetry(self):
        assert self.fn.similarity("Jane Smith", "John Smith") == pytest.approx(
            self.fn.similarity("John Smith", "Jane Smith")
        )

    def test_both_empty(self):
        assert self.fn.similarity("", "") == pytest.approx(10.0)

    def test_invalid_params(self):
        with pytest.raises(ValueError):
            LevenshteinSim(threshold=10.0, max_similarity=10.0)
        with pytest.raises(ValueError):
            LevenshteinSim(threshold=0.0, max_similarity=0.0)


@pytest.fixture(scope="module")
def const_index():
    return build_attribute_index_local(STATE_WEIGHTS, ConstantSim())


@pytest.fixture(scope="module")
def lev_index():
    return build_attribute_index_local(STATE_WEIGHTS, LevenshteinSim(5.0, 10.0))


@pytest.mark.parametrize("which", ["const", "lev"])
def test_generic_index_behavior(which, const_index, lev_index):
    idx = const_index if which == "const" else lev_index
    assert idx.num_values == len(STATE_WEIGHTS)
    ids = {idx.value_id_of(v) for v in STATE_WEIGHTS}
    assert ids == set(range(len(STATE_WEIGHTS)))
    total = sum(STATE_WEIGHTS.values())
    for v, w in STATE_WEIGHTS.items():
        assert idx.probability_of(idx.value_id_of(v)) == pytest.approx(w / total, abs=1e-4)
    with pytest.raises(IndexError):
        idx.probability_of(idx.num_values + 1)
    with pytest.raises(IndexError):
        idx.sim_normalization_of(idx.num_values + 1)
    with pytest.raises(IndexError):
        idx.sim_values_of(idx.num_values + 1)
    with pytest.raises(IndexError):
        idx.exp_sim_of(idx.num_values + 1, 0)
    with pytest.raises(IndexError):
        idx.exp_sim_of(0, idx.num_values + 1)


def test_constant_index_trivial_sims(const_index):
    for v in range(const_index.num_values):
        assert const_index.sim_normalization_of(v) == 1.0
        assert const_index.sim_values_of(v) == {}
        for w in range(const_index.num_values):
            assert const_index.exp_sim_of(v, w) == 1.0
    # power distribution degenerates to the empirical distribution
    np.testing.assert_allclose(const_index.sim_norm_dist(3), const_index.probs)


def test_golden_sim_normalizations(lev_index):
    for value, expected in GOLDEN_SIM_NORMS.items():
        got = lev_index.sim_normalization_of(lev_index.value_id_of(value))
        assert got == pytest.approx(expected, abs=1e-4), value


def test_golden_neighbors_south_australia(lev_index):
    sa = lev_index.value_id_of("South Australia")
    wa = lev_index.value_id_of("Western Australia")
    got = lev_index.sim_values_of(sa)
    assert set(got) == {sa, wa}
    assert got[sa] == pytest.approx(math.exp(10.0), rel=1e-4)
    assert got[wa] == pytest.approx(39.813678188084864, abs=1e-4)


def test_golden_exp_sims(lev_index):
    sa = lev_index.value_id_of("South Australia")
    wa = lev_index.value_id_of("Western Australia")
    vic = lev_index.value_id_of("Victoria")
    tas = lev_index.value_id_of("Tasmania")
    assert lev_index.exp_sim_of(sa, wa) == pytest.approx(39.813678188084864, abs=1e-4)
    assert lev_index.exp_sim_of(vic, tas) == pytest.approx(1.0)


def test_spark_build_matches_local(spark, lev_index):
    """The Catalyst crossJoin build (with length-band pruning) must agree with
    the driver-local build exactly."""
    dom = spark.createDataFrame(
        [(k, float(v)) for k, v in STATE_WEIGHTS.items()], "value string, weight double"
    )
    spark_idx = build_attribute_index(dom, LevenshteinSim(5.0, 10.0))
    np.testing.assert_array_equal(spark_idx.values, lev_index.values)
    np.testing.assert_allclose(spark_idx.probs, lev_index.probs, rtol=1e-12)
    np.testing.assert_allclose(spark_idx.sim_norms, lev_index.sim_norms, rtol=1e-9)
    for v in range(spark_idx.num_values):
        np.testing.assert_array_equal(spark_idx.neighbor_ids[v], lev_index.neighbor_ids[v])
        np.testing.assert_allclose(
            spark_idx.neighbor_expsims[v], lev_index.neighbor_expsims[v], rtol=1e-9
        )


def test_beta_params():
    assert BetaParams(3.0, 3.0).mean == pytest.approx(0.5)
    with pytest.raises(ValueError):
        BetaParams(0.0, 1.0)


def test_index_build_self_only_neighbors_matches_local(spark):
    """Degenerate domain (all values mutually dissimilar): every value's
    only neighbor is itself, and the vectorized Spark build is bit-identical
    to the driver-local builder (CSR layout, expsims, sim_norms)."""
    from dblink_spark.er.attributes import LevenshteinSim
    from dblink_spark.er.index import (
        build_attribute_index,
        build_attribute_index_local,
    )

    dom = spark.createDataFrame(
        [("aaaaaaaa", 1.0), ("bbbbbbbb", 2.0), ("cccccccc", 1.0)],
        "value string, weight double",
    )
    sim = LevenshteinSim(7.0, 10.0)
    idx = build_attribute_index(dom, sim)
    ref = build_attribute_index_local(
        {"aaaaaaaa": 1.0, "bbbbbbbb": 2.0, "cccccccc": 1.0}, sim
    )
    for v in range(3):
        assert idx.neighbor_ids[v].tolist() == ref.neighbor_ids[v].tolist() == [v]
        assert idx.neighbor_expsims[v].tolist() == ref.neighbor_expsims[v].tolist()
    assert idx.sim_norms.tolist() == ref.sim_norms.tolist()


@pytest.mark.parametrize(
    "threshold,max_sim",
    [
        # t = 0.3: float-boundary adversary — exact strict bounds computed
        # from the rounded quotient EXCLUDE the (len 10, len 3) pair whose
        # truncated similarity is positive only by ~8e-17; the widened
        # bounds must keep it (caught in r6 review; regression pin)
        (0.3, 1.0),
        (7.0, 10.0),   # the RLdata default
        (0.33, 1.0),
        (6.6, 11.0),
    ],
)
def test_bucketed_build_matches_local_at_float_boundaries(spark, threshold, max_sim):
    """The length-bucketed equi-join + bitmask prune are PRUNES: for any
    representable threshold ratio the Spark build's neighbor sets must
    equal the exhaustive driver-local build's, including pairs that clear
    sim > 0 only by float epsilon."""
    from dblink_spark.er.attributes import LevenshteinSim
    from dblink_spark.er.index import (
        build_attribute_index,
        build_attribute_index_local,
    )

    values = {
        "aaaaaaaaaa": 1.0,  # len 10
        "aaa": 1.0,         # len 3 — d=7 vs len 10: unit = 0.3 + 4e-17
        "aaaaaaa": 2.0,     # len 7
        "bbbb": 1.0,
        "": 1.0,            # empty: pairs only with itself (unit := 1)
        "ab": 1.0,
    }
    sim = LevenshteinSim(threshold, max_sim)
    dom = spark.createDataFrame(list(values.items()), "value string, weight double")
    idx = build_attribute_index(dom, sim)
    ref = build_attribute_index_local(values, sim)
    for v in range(len(values)):
        assert idx.neighbor_ids[v].tolist() == ref.neighbor_ids[v].tolist(), (
            f"value id {v} ({idx.values[v]!r}) neighbors diverge at "
            f"t={threshold}/{max_sim}"
        )
        # JVM Math.exp and Python math.exp may differ in the LAST ULP for
        # identical inputs (libm implementations) — membership is the
        # contract here, values to 1-ulp
        assert idx.neighbor_expsims[v].tolist() == pytest.approx(
            ref.neighbor_expsims[v].tolist(), rel=1e-14
        )
    assert idx.sim_norms.tolist() == pytest.approx(ref.sim_norms.tolist(), rel=1e-14)


#: (rec_id, file_id, fname, lname, year): two files, a null in every
#: attribute, non-ASCII names in a Levenshtein attribute (their ids pin the
#: code-point sort order), and a constant-similarity attribute
CACHE_CORPUS = [
    ("r1", "A", "Zoë", "Smith", "1950"),
    ("r2", "A", "Zoe", "Smyth", "1950"),
    ("r3", "A", "Åsa", None, "1951"),
    ("r4", "A", "Asa", "Smith", None),
    ("r5", "A", None, "Jones", "1951"),
    ("r6", "B", "ß", "Jones", "1950"),
    ("r7", "B", "ss", "Jonas", None),
    ("r8", "B", "Zoë", "Smith", "1952"),
    ("r9", "B", None, None, "1950"),
    ("r10", "B", "Anna", "Åberg", "1951"),
]


def test_records_cache_matches_local_build(spark):
    """The records cache equals the per-attribute index builds attribute by
    attribute (value order, probs, neighbors, expSims, sim norms, precached
    powers), and counts file sizes and missing values exactly."""
    import pyspark.sql.functions as F

    from dblink_spark.er.attributes import Attribute
    from dblink_spark.er.cache import build_records_cache

    records = spark.createDataFrame(
        CACHE_CORPUS,
        "rec_id string, file_id string, fname string, lname string, year string",
    )
    prior = BetaParams(1.0, 50.0)
    attrs = [
        Attribute("fname", LevenshteinSim(3.0, 10.0), prior),
        Attribute("lname", LevenshteinSim(5.0, 10.0), prior),
        Attribute("year", ConstantSim(), prior),
    ]
    powers = range(1, 4)
    cache = build_records_cache(records, attrs, expected_max_cluster_size=3)

    assert cache.file_sizes == {"A": 5, "B": 5}
    assert cache.missing_counts == {
        ("A", 0): 1, ("B", 0): 1, ("A", 1): 1, ("B", 1): 1,
        ("A", 2): 1, ("B", 2): 1,
    }
    domains = [
        {"Anna": 1.0, "Asa": 1.0, "Zoe": 1.0, "Zoë": 2.0, "ss": 1.0, "Åsa": 1.0,
         "ß": 1.0},
        {"Jonas": 1.0, "Jones": 2.0, "Smith": 3.0, "Smyth": 1.0, "Åberg": 1.0},
        {"1950": 4.0, "1951": 3.0, "1952": 1.0},
    ]
    assert cache.indexes[0].values.tolist() == [
        "Anna", "Asa", "Zoe", "Zoë", "ss", "Åsa", "ß"
    ]
    for attr, idx, dom in zip(attrs, cache.indexes, domains):
        # bit-exact against the Spark build of the same domain
        one = build_attribute_index(
            records.select(F.col(attr.name).alias("value"))
            .filter("value IS NOT NULL")
            .groupBy("value")
            .agg(F.count("*").cast("double").alias("weight")),
            attr.sim_fn,
            precache_powers=powers,
        )
        # exact on everything that does not go through exp(); JVM Math.exp
        # and Python math.exp may differ in the last ulp (see above)
        ref = build_attribute_index_local(dom, attr.sim_fn, precache_powers=powers)
        assert idx.values.tolist() == one.values.tolist() == ref.values.tolist()
        assert idx.probs.tolist() == one.probs.tolist() == ref.probs.tolist()
        assert idx.is_constant == one.is_constant == ref.is_constant
        assert sorted(idx.power_dists) == sorted(one.power_dists)
        for k in powers:
            got = idx.sim_norm_dist(k).tolist()
            assert got == one.sim_norm_dist(k).tolist()
            assert got == pytest.approx(ref.sim_norm_dist(k).tolist(), rel=1e-14)
        if ref.is_constant:
            continue
        assert idx.sim_norms.tolist() == one.sim_norms.tolist()
        assert idx.sim_norms.tolist() == pytest.approx(ref.sim_norms.tolist(), rel=1e-14)
        for v in range(ref.num_values):
            ids = idx.neighbor_ids[v].tolist()
            exps = idx.neighbor_expsims[v].tolist()
            assert ids == one.neighbor_ids[v].tolist() == ref.neighbor_ids[v].tolist()
            assert exps == one.neighbor_expsims[v].tolist()
            assert exps == pytest.approx(ref.neighbor_expsims[v].tolist(), rel=1e-14)
