"""Per-attribute domain index: dictionary encoding, empirical distribution,
truncated-similarity neighbor lists, normalizations, power distributions.

Semantics mirror the reference (ref: AttributeIndex.scala:106-245):

- value ids are assigned by sorting the domain strings ascending;
- probability = weight / total weight (weights = occurrence counts);
- neighbors of v = {w : truncated sim(v, w) > 0}, stored with
  expSim = exp(sim); every non-neighbor pair has expSim = 1;
- sim_norm(v) = 1 / sum_w p(w) * expSim(w, v);
- power distribution k: p(v) * sim_norm(v)^k, normalized.

The *build* is Spark-first: domain + weights come from a groupBy agg, and the
all-pairs similarity comes from a crossJoin using the JVM-side
`F.levenshtein`, pre-pruned by a length-band bound (|len(a)-len(b)| lower-
bounds the edit distance) so the quadratic work only touches pairs that can
clear the threshold. The reference does an unpruned RDD cartesian
(ref: AttributeIndex.scala:219-231). The finished index is a small numpy
container broadcast to executors — same distribution story as the reference's
broadcast RecordsCache.
"""

from __future__ import annotations

import bisect
import math
from dataclasses import dataclass, field

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dblink_spark.er.attributes import SimilarityFn


@dataclass
class AttributeIndex:
    values: np.ndarray  # id -> string, sorted ascending
    probs: np.ndarray  # id -> empirical probability
    is_constant: bool
    # neighbor structure (non-constant only): per value id, sorted neighbor
    # ids and matching expSims. Constant: every pair has expSim 1.0.
    neighbor_ids: list[np.ndarray] | None = None
    neighbor_expsims: list[np.ndarray] | None = None
    sim_norms: np.ndarray | None = None  # id -> 1/sum_w p(w) expSim(w, id)
    power_dists: dict[int, np.ndarray] = field(default_factory=dict)
    _value_to_id: dict[str, int] = field(default_factory=dict, repr=False)
    _k1_csr: dict | None = field(default=None, repr=False)

    # -- queries (ref: AttributeIndex.scala trait) ---------------------------

    @property
    def num_values(self) -> int:
        return len(self.values)

    def value_id_of(self, value: str) -> int:
        return self._value_to_id[value]

    def _check(self, value_id: int) -> None:
        if not (0 <= value_id < self.num_values):
            raise IndexError(f"value id {value_id} is not in the index")

    def probability_of(self, value_id: int) -> float:
        self._check(value_id)
        return float(self.probs[value_id])

    def sim_normalization_of(self, value_id: int) -> float:
        self._check(value_id)
        if self.is_constant:
            return 1.0
        return float(self.sim_norms[value_id])

    def sim_values_of(self, value_id: int) -> dict[int, float]:
        self._check(value_id)
        if self.is_constant:
            return {}
        return dict(
            zip(self.neighbor_ids[value_id].tolist(), self.neighbor_expsims[value_id].tolist())
        )

    def exp_sim_of(self, value_id1: int, value_id2: int) -> float:
        self._check(value_id1)
        self._check(value_id2)
        if self.is_constant:
            return 1.0
        ids = self.neighbor_ids[value_id1]
        pos = bisect.bisect_left(ids, value_id2)
        if pos < len(ids) and ids[pos] == value_id2:
            return float(self.neighbor_expsims[value_id1][pos])
        return 1.0

    def draw(self, rng: np.random.Generator, size: int | None = None):
        """Draw from the empirical distribution."""
        return rng.choice(self.num_values, size=size, p=self.probs)

    def sim_norm_dist(self, power: int) -> np.ndarray:
        """Normalized distribution p(v)*sim_norm(v)^power (ref:
        AttributeIndex.scala:188-216). Cached per power."""
        if power <= 0:
            raise ValueError("power must be a positive integer")
        if self.is_constant:
            return self.probs
        dist = self.power_dists.get(power)
        if dist is None:
            w = self.probs * self.sim_norms**power
            dist = w / w.sum()
            self.power_dists[power] = dist
        return dist

    def precache_powers(self, powers) -> None:
        for k in powers:
            self.sim_norm_dist(k)

    def collapsed_k1_csr(self) -> dict:
        """CSR tables for the batched singleton (k=1) collapsed value draw.

        The k=1 perturbation vector over value v's neighbors is
        ``base[nbrs]*(expsim-1)`` plus a single θ-dependent correction at
        v's own slot — so everything except that scalar is θ- and
        iteration-independent. Precomputing per-segment prefix sums turns
        each rejected draw into O(1) boundary checks (the draw lands on v
        itself whenever the correction mass dominates) plus a rare
        segment-local searchsorted; no per-group cumsum at sample time.

        Layout (one segment per value id, all int64/float64):
          off      (V+1,) segment offsets
          ids      flat sorted neighbor ids
          S        flat per-segment prefix sums of the θ-free perturbation
          T0       (V,) θ-free segment totals
          pos      (V,) local index of v inside its own segment
        """
        if self._k1_csr is None:
            if self.is_constant:
                raise ValueError("constant index has no neighbor structure")
            base = self.sim_norm_dist(1)
            lens = np.fromiter(
                (len(a) for a in self.neighbor_ids),
                dtype=np.int64,
                count=self.num_values,
            )
            off = np.zeros(self.num_values + 1, dtype=np.int64)
            np.cumsum(lens, out=off[1:])
            ids = np.concatenate(self.neighbor_ids).astype(np.int64)
            exps = np.concatenate(self.neighbor_expsims).astype(np.float64)
            pert = np.maximum(base[ids] * (exps - 1.0), 0.0)
            G = np.cumsum(pert)
            G0 = np.concatenate(([0.0], G[off[1:-1] - 1]))
            S = G - np.repeat(G0, lens)
            # v is always a member of its own neighbor list
            owner = np.repeat(np.arange(self.num_values, dtype=np.int64), lens)
            pos = np.flatnonzero(ids == owner) - off[:-1]
            self._k1_csr = {
                "off": off,
                "ids": ids,
                "exps": exps,
                "S": S,
                "T0": S[off[1:] - 1],
                "pos": pos,
            }
        return self._k1_csr

    def __post_init__(self):
        if not self._value_to_id:
            self._value_to_id.update({v: i for i, v in enumerate(self.values.tolist())})


def build_attribute_index(
    domain_weights: DataFrame,
    sim_fn: SimilarityFn,
    precache_powers=None,
) -> AttributeIndex:
    """Build an AttributeIndex from a (value string, weight double) DataFrame.

    The neighbor computation is a self crossJoin with a length-band prune
    pushed *before* `F.levenshtein`, then a threshold filter — Catalyst plans
    the whole thing; only surviving (a_id, b_id, expSim) triples reach the
    driver.
    """
    dom = (
        domain_weights.groupBy("value")
        .agg(F.sum("weight").alias("weight"))
        .orderBy("value")
        .collect()
    )
    if not dom:
        raise ValueError("index cannot be empty")
    values = np.array([r["value"] for r in dom], dtype=object)
    weights = np.array([r["weight"] for r in dom], dtype=np.float64)
    probs = weights / weights.sum()

    if sim_fn.is_constant:
        return AttributeIndex(values=values, probs=probs, is_constant=True)

    spark = domain_weights.sparkSession
    dom_df = spark.createDataFrame(
        [(int(i), str(v)) for i, v in enumerate(values)], "id int, value string"
    )
    # per-side pruning key (e.g. Levenshtein's 64-bit char-presence mask):
    # computed ONCE per domain value here, instead of per candidate pair —
    # |dom| evaluations, not |dom|^2
    prune_key = sim_fn.prune_key_column(F.col("value"))
    if prune_key is not None:
        dom_df = dom_df.withColumn("pk", prune_key)
    side_cols = ["id", "value"] + (["pk"] if prune_key is not None else [])
    a = dom_df.select(*[F.col(c).alias(f"a_{c}") for c in side_cols])
    b = dom_df.select(*[F.col(c).alias(f"b_{c}") for c in side_cols])
    unit_floor = sim_fn.threshold / sim_fn.max_similarity
    bounds = sim_fn.allowed_length_bounds(F.length("b_value"))
    if bounds is not None:
        # LENGTH-BUCKETED EQUI-JOIN (replaces the all-pairs scan): side b
        # explodes to its admissible partner lengths (|dom| x O(len) rows,
        # still tiny, still broadcast) and the join key is a's actual
        # length — a BroadcastHashJoin that EMITS only length-compatible
        # pairs, so scan cost tracks candidates instead of |dom|^2. sim > 0
        # implies membership in the bounds (attributes.py), so no true
        # neighbor is lost; the final sim > 0 filter decides semantics.
        lo, hi = bounds
        b_exp = b.withColumn("join_len", F.explode(F.sequence(lo, hi)))
        pairs_df = a.join(
            F.broadcast(b_exp), F.length("a_value") == F.col("join_len")
        )
    else:
        pairs_df = (
            # broadcast the right side: BroadcastNestedLoopJoin keeps the
            # task count at |a|'s partitioning (a plain cartesian would
            # multiply the two sides' partition counts — 32x32 = 1024 tasks
            # for a 240-value domain).
            a.crossJoin(F.broadcast(b))
            # length-band prune: best-case unit similarity must clear the
            # threshold
            .filter(
                sim_fn.unit_upper_bound_column(
                    F.length("a_value"), F.length("b_value")
                )
                > unit_floor
            )
        )
    if prune_key is not None:
        # key-based Levenshtein lower bound (d >= popcount(maskA^maskB)/2,
        # attributes.py:prune_filter_column): two long ops per pair that
        # eliminate the O(len^2) levenshtein for the bulk of the length-
        # compatible candidates (measured ~7x pair reduction on the
        # 1M-record RLdata name domains)
        pairs_df = pairs_df.filter(
            sim_fn.prune_filter_column(
                F.col("a_pk"), F.col("b_pk"), F.length("a_value"), F.length("b_value")
            )
        )
    pairs_df = (
        pairs_df.withColumn("sim", sim_fn.column(F.col("a_value"), F.col("b_value")))
        .filter(F.col("sim") > 0.0)
        .select("a_id", "b_id", F.exp("sim").alias("exp_sim"))
    )
    # Arrow transfer + vectorized CSR grouping: a realistic domain survives
    # millions of neighbor pairs (1.85M for the 1M-record RLdata fname
    # domain) and a per-Row Python loop dominated the whole index build;
    # lexsort + bincount does the same grouping in ~100 ms. Per-a blocks
    # are sorted by b_id exactly as the per-value argsort produced.
    tbl = pairs_df.toArrow()
    a_ids = np.asarray(tbl.column("a_id").to_numpy(zero_copy_only=False), dtype=np.int64)
    b_ids = np.asarray(tbl.column("b_id").to_numpy(zero_copy_only=False), dtype=np.int64)
    sims = np.asarray(tbl.column("exp_sim").to_numpy(zero_copy_only=False), dtype=np.float64)
    order = np.lexsort((b_ids, a_ids))
    a_ids, b_ids, sims = a_ids[order], b_ids[order], sims[order]
    offsets = np.concatenate(
        ([0], np.cumsum(np.bincount(a_ids, minlength=len(values))))
    )
    neighbor_ids = [
        b_ids[offsets[v]: offsets[v + 1]] for v in range(len(values))
    ]
    neighbor_expsims = [
        sims[offsets[v]: offsets[v + 1]] for v in range(len(values))
    ]

    # sim_norm(v) = 1 / (1 + sum_{w in nbr(v)} p(w) * (expSim(w,v) - 1))
    # (non-neighbors contribute p(w)*1, which sums to 1 - covered neighbors)
    sim_norms = np.empty(len(values), dtype=np.float64)
    for v in range(len(values)):
        extra = float(np.sum(probs[neighbor_ids[v]] * (neighbor_expsims[v] - 1.0)))
        sim_norms[v] = 1.0 / (1.0 + extra)

    idx = AttributeIndex(
        values=values,
        probs=probs,
        is_constant=False,
        neighbor_ids=neighbor_ids,
        neighbor_expsims=neighbor_expsims,
        sim_norms=sim_norms,
    )
    if precache_powers:
        idx.precache_powers(precache_powers)
    return idx


def build_attribute_index_local(
    values_weights: dict[str, float],
    sim_fn: SimilarityFn,
    precache_powers=None,
) -> AttributeIndex:
    """Driver-local build for small domains / tests — identical semantics to
    build_attribute_index, no Spark session needed."""
    items = sorted(values_weights.items())
    if not items:
        raise ValueError("index cannot be empty")
    values = np.array([v for v, _ in items], dtype=object)
    weights = np.array([w for _, w in items], dtype=np.float64)
    probs = weights / weights.sum()
    if sim_fn.is_constant:
        return AttributeIndex(values=values, probs=probs, is_constant=True)

    n = len(values)
    neighbor_ids = []
    neighbor_expsims = []
    for i in range(n):
        ids = []
        sims = []
        for j in range(n):
            s = sim_fn.similarity(values[i], values[j])
            if s > 0.0:
                ids.append(j)
                sims.append(math.exp(s))
        neighbor_ids.append(np.array(ids, dtype=np.int64))
        neighbor_expsims.append(np.array(sims, dtype=np.float64))
    sim_norms = np.empty(n, dtype=np.float64)
    for v in range(n):
        extra = float(np.sum(probs[neighbor_ids[v]] * (neighbor_expsims[v] - 1.0)))
        sim_norms[v] = 1.0 / (1.0 + extra)
    idx = AttributeIndex(
        values=values,
        probs=probs,
        is_constant=False,
        neighbor_ids=neighbor_ids,
        neighbor_expsims=neighbor_expsims,
        sim_norms=sim_norms,
    )
    if precache_powers:
        idx.precache_powers(precache_powers)
    return idx
