"""End-to-end MCMC smoke + invariant tests on synthetic RLdata.

The reference has no kernel unit tests (SURVEY §5); these check the
invariants it relies on implicitly: population size conserved, every record
appears in exactly one cluster, distortion flags consistent with the state
(non-distorted observed values always agree with the entity), and the chain
actually links distorted duplicates (F1 beats the trivial baselines).
"""

from __future__ import annotations

import numpy as np
import pytest

from dblink_spark.er.attributes import Attribute, BetaParams, ConstantSim, LevenshteinSim
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.datagen import make_rldata
from dblink_spark.er.partition import KDTreePartitioner, SinglePartition
from dblink_spark.er.sampler import SamplerOptions, sample
from dblink_spark.er.state import assign_partitions, init_state, transition


@pytest.fixture(scope="module")
def rl_setup(spark):
    pdf = make_rldata(n_records=150, dup_fraction=0.2, missing_fraction=0.02, seed=7)
    records = spark.createDataFrame(pdf).withColumnRenamed("rec_id", "rec_id")
    records = records.withColumn("file_id", records["rec_id"].substr(1, 0))  # ""
    from pyspark.sql import functions as F

    records = records.withColumn("file_id", F.lit("0"))
    attrs = [
        Attribute("by", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bm", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bd", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("fname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("lname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
    ]
    cache = build_records_cache(records, attrs, expected_max_cluster_size=10)
    return records, attrs, cache, pdf


def _check_invariants(state, n_records, pop):
    rows = state.df.filter("NOT is_summary").collect()
    assert len(rows) == pop, "population size must be conserved"
    all_recs = [r for row in rows for r in row["rec_ids"]]
    assert len(all_recs) == n_records
    assert len(set(all_recs)) == n_records, "records must partition across clusters"
    for row in rows:
        a_dim = len(row["ent_values"])
        vals = np.frombuffer(bytes(row["rec_values"]), dtype="<i4").reshape(-1, a_dim)
        dist = (
            np.frombuffer(bytes(row["rec_dist"]), dtype=np.uint8)
            .reshape(-1, a_dim)
            .astype(bool)
        )
        for vrow, drow in zip(vals, dist):
            for a, (v, d) in enumerate(zip(vrow, drow)):
                if v >= 0 and not d:
                    assert v == row["ent_values"][a], (
                        "non-distorted observed value must equal entity value"
                    )


@pytest.mark.parametrize("mode", ["Gibbs-Sequential", "Gibbs", "PCG-I", "PCG-II"])
def test_transition_invariants(spark, rl_setup, mode):
    records, attrs, cache, pdf = rl_setup
    state = init_state(
        spark, records, cache, SinglePartition(), 1, seed=123,
    )
    n = len(pdf)
    _check_invariants(state, n, n)
    for _ in range(3):
        state = transition(state, mode)
    _check_invariants(state, n, n)
    assert state.iteration == 3
    assert np.isfinite(state.summary.log_likelihood)
    assert state.summary.agg_distortions.sum() >= 0


def test_chain_links_duplicates(spark, rl_setup, tmp_path):
    """After a modest PCG-I run, the sMPC point estimate should recover a
    decent share of the true duplicate pairs with high precision.

    Mixing from the cold start is gradual (the reference runs 1,000
    iterations on RLdata500; this smoke runs 80), so thresholds are loose —
    the point is "the kernel links distorted duplicates", not convergence.
    """
    from dblink_spark.er.chain import most_probable_clusters, shared_most_probable_clusters
    from dblink_spark.er.metrics import evaluate_pairwise
    from dblink_spark.er.analysis import membership_to_clusters
    import pyspark.sql.functions as F

    records, attrs, cache, pdf = rl_setup
    state = init_state(spark, records, cache, SinglePartition(), 1, seed=11)
    out = str(tmp_path / "chain")
    state = sample(
        state,
        sample_size=10,
        options=SamplerOptions(sampler="PCG-I", burnin_interval=30, thinning_interval=5),
        output_path=out,
    )
    chain = state.df.sparkSession.read.parquet(out + "/linkage-chain.parquet")
    assert chain.select("iteration").distinct().count() == 10
    assert state.iteration == 80

    smpc = shared_most_probable_clusters(most_probable_clusters(chain))
    truth = membership_to_clusters(
        spark.createDataFrame(pdf[["rec_id", "ent_id"]]).select(
            "rec_id", F.col("ent_id").alias("ent_id")
        )
    )
    m = evaluate_pairwise(smpc, truth)
    assert m.recall > 0.25, f"recall {m.recall:.2f} too low — kernel is not linking"
    assert m.precision > 0.6, f"precision {m.precision:.2f} too low"


def test_kdtree_partitioned_run(spark, rl_setup):
    """2-partition KD-tree run: same invariants, clusters migrate freely."""
    records, attrs, cache, pdf = rl_setup
    import pyspark.sql.functions as F

    from dblink_spark.er.state import assign_partitions

    state = init_state(spark, records, cache, SinglePartition(), 1, seed=5)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])  # split on fname
    part.fit(state.df.filter("NOT is_summary").select("ent_values"))
    assert part.num_partitions == 2
    state = assign_partitions(state, part, 2)
    # the remap must split the state BEFORE the first transition — otherwise
    # iteration 1 runs as one kernel group in a single task
    pids0 = {
        r["partition_id"]
        for r in state.df.filter("NOT is_summary").select("partition_id").distinct().collect()
    }
    assert pids0 == {0, 1}, f"initial state not partitioned: {pids0}"
    for _ in range(3):
        state = transition(state, "PCG-I")
    _check_invariants(state, len(pdf), len(pdf))
    pids = {r["partition_id"] for r in state.df.filter("NOT is_summary").select("partition_id").distinct().collect()}
    assert pids == {0, 1}, f"expected both partitions populated, got {pids}"


def test_assign_partitions_is_a_fork_not_an_advance(spark, rl_setup):
    """r13 regression: the storage-release that transition() now performs
    must NOT happen at the assign_partitions fork point — callers re-key
    the SAME source state under several partitioners (the bench's
    1/2/4-part sweeps did exactly this and hit
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND when the first fork released s0's
    checkpoint). Both forks from one s0 must run transitions; and the
    buffered chain writer must flush samples whose source states were
    retired iterations ago (append-time decoupling)."""
    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=13)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    a = assign_partitions(s0, SinglePartition(), 1)
    a = transition(a, "PCG-I")
    b = assign_partitions(s0, part, 2)  # second fork from the SAME s0
    b = transition(b, "PCG-I")
    _check_invariants(b, len(pdf), len(pdf))

    # buffered writer survives retired source states: 3 samples buffered
    # across 3 transitions, flushed at the end — each sample's producing
    # state was consumed by the next transition before the flush
    import tempfile

    from dblink_spark.er.sampler import linkage_sample
    from dblink_spark.sources.chain import BufferedChainWriter, read_linkage_chain

    out = tempfile.mkdtemp(prefix="chainbuf_")
    w = BufferedChainWriter(out, buffer_size=10)
    s = a
    for _ in range(3):
        w.append(linkage_sample(s))
        s = transition(s, "PCG-I")
    w.flush()
    chain = read_linkage_chain(spark, out)
    assert chain.select("iteration").distinct().count() == 3


def test_iteration_storage_is_bounded(spark, rl_setup):
    """r13: retired state checkpoints must release their STORAGE each
    iteration, not at GC time. DataFrame.unpersist only clears the
    CacheManager entry — the localCheckpoint RDD's blocks leaked one
    cached RDD per iteration (measured ~60 MB/iter on the 1M chain:
    monotone growth, a 1,000-iteration run would pin ~60 GB). After N
    transitions the JVM's cached-RDD count must stay bounded, not grow
    linearly with N."""
    records, attrs, cache, pdf = rl_setup

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    state = init_state(spark, records, cache, SinglePartition(), 1, seed=7)
    state = transition(state, "PCG-I")
    base = n_cached()
    for _ in range(6):
        state = transition(state, "PCG-I")
    after = n_cached()
    # live state needs ~1 checkpoint; allow slack for unrelated session
    # caches, but 6 iterations must NOT add ~6 RDDs
    assert after - base <= 2, (
        f"cached RDDs grew {base} -> {after} over 6 iterations — "
        "checkpoint storage is leaking again"
    )
    _check_invariants(state, len(pdf), len(pdf))


def test_init_population_smaller_than_records(spark, rl_setup):
    """pop < n_records: round-robin entity sharing over the stable
    (file_id, rec_id) order, computed WITHOUT a global single-task window
    (distributed zipWithIndex). Checks exact assignment, determinism over
    a multi-partition shuffled input, and that the chain runs on it."""
    records, attrs, cache, pdf = rl_setup
    n = len(pdf)
    pop = n // 3
    # feed the init a many-partition, deliberately shuffled input
    shuffled = records.repartition(16)
    state = init_state(spark, shuffled, cache, SinglePartition(), 1, seed=3,
                       population_size=pop)
    _check_invariants(state, n, pop)
    # exact round-robin: rank i in (file_id, rec_id) order -> entity i % pop
    rows = state.df.filter("NOT is_summary").collect()
    order = sorted(pdf["rec_id"].astype(str))
    expect_groups = {}
    for i, rid in enumerate(order):
        expect_groups.setdefault(i % pop, set()).add(rid)
    got_groups = {frozenset(r["rec_ids"]) for r in rows}
    assert got_groups == {frozenset(v) for v in expect_groups.values()}
    # deterministic across invocations
    state2 = init_state(spark, shuffled, cache, SinglePartition(), 1, seed=3,
                        population_size=pop)
    rows2 = state2.df.filter("NOT is_summary").collect()
    key = lambda r: tuple(sorted(r["rec_ids"]))
    for a, b in zip(sorted(rows, key=key), sorted(rows2, key=key)):
        assert a["ent_values"] == b["ent_values"]
        assert sorted(a["rec_ids"]) == sorted(b["rec_ids"])
    # the chain runs on the shared-entity state
    st = transition(state, "PCG-I")
    _check_invariants(st, n, pop)


def test_kernel_row_order_independence(spark, rl_setup):
    """The chain must not depend on the order rows arrive at the kernel
    (shuffle fetch order is not guaranteed across retries/AQE): a random
    permutation of entities AND records must produce a bit-identical chain,
    because run_fused_sweeps canonicalizes on entry."""
    from dblink_spark.er.model import PartitionState
    from dblink_spark.er.state import _pa_to_partition_state, run_fused_sweeps

    records, attrs, cache, pdf = rl_setup
    state = init_state(spark, records, cache, SinglePartition(), 1, seed=7)
    ps = _pa_to_partition_state(
        state.df.filter("NOT is_summary").toArrow(), cache.num_attributes
    )

    prng = np.random.default_rng(0)
    eperm = prng.permutation(ps.num_entities)
    inv = np.empty_like(eperm)
    inv[eperm] = np.arange(len(eperm))
    rperm = prng.permutation(ps.num_records)
    ps2 = PartitionState(
        entities=ps.entities[eperm],
        rec_ids=ps.rec_ids[rperm],
        rec_fids=ps.rec_fids[rperm],
        rec_values=ps.rec_values[rperm],
        rec_dist=ps.rec_dist[rperm],
        link=inv[ps.link][rperm],
    )
    out1 = run_fused_sweeps(ps, cache, state.theta, "PCG-I", 123, 1, 0, 3)
    out2 = run_fused_sweeps(ps2, cache, state.theta, "PCG-I", 123, 1, 0, 3)
    assert (out1.entities == out2.entities).all()
    assert (out1.rec_ids == out2.rec_ids).all()
    assert (out1.link == out2.link).all()
    assert (out1.rec_values == out2.rec_values).all()
    assert (out1.rec_dist == out2.rec_dist).all()


def _chain_facts(st):
    """Everything two executors must agree on after a step: iteration,
    seed, θ, the summary (log-likelihood compared with ``==``) and the
    sorted linkage rows. Taken before the state is advanced (advancing
    consumes it)."""
    rows = st.df.filter("NOT is_summary").collect()
    return {
        "iteration": st.iteration,
        "current_seed": st.current_seed,
        "theta": st.theta.tolist(),
        "log_likelihood": st.summary.log_likelihood,
        "agg_distortions": st.summary.agg_distortions.tolist(),
        "num_isolates": st.summary.num_isolates,
        "links": sorted(
            (r["partition_id"], r["ent_values"], sorted(r["rec_ids"]))
            for r in rows
        ),
    }


def _parity_start(spark, rl_setup, p):
    records, attrs, cache, pdf = rl_setup
    st = init_state(spark, records, cache, SinglePartition(), 1, seed=17)
    if p == 1:
        return st
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(st.df.filter("NOT is_summary").select("ent_values"))
    return assign_partitions(st, part, 2)


def _public_step(p, k, executor):
    """One step of ``k`` sweeps on ``executor`` through the entry point a
    caller uses for it (the local multi-partition multisweep has none, so
    it calls the shared core)."""
    from dblink_spark.er.state import (
        _advance, transition_fused, transition_local, transition_multisweep,
    )

    local = executor == "local"
    if p == 1:
        return lambda s: transition_fused(s, "PCG-I", k, local=local)
    if k == 1:
        return (
            (lambda s: transition_local(s, "PCG-I")) if local
            else (lambda s: transition(s, "PCG-I"))
        )
    if local:
        return lambda s: _advance(s, "PCG-I", k, local=True)
    return lambda s: transition_multisweep(s, "PCG-I", k)


@pytest.fixture(scope="module")
def parity_reference(spark, rl_setup):
    """``(p, k) -> facts`` after each of three Spark reference steps:
    ``transition_fused(local=False)`` at p=1, ``transition_multisweep(k)``
    at p=2 (so k=1 also pins multisweep(1) against ``transition``).
    Memoized for the module: every executor param compares to one run."""
    from dblink_spark.er.state import transition_fused, transition_multisweep

    memo: dict = {}

    def get(p, k):
        if (p, k) not in memo:
            if p == 1:
                step = lambda s: transition_fused(s, "PCG-I", k, local=False)  # noqa: E731
            else:
                step = lambda s: transition_multisweep(s, "PCG-I", k)  # noqa: E731
            s = _parity_start(spark, rl_setup, p)
            facts = []
            for _ in range(3):
                s = step(s)
                facts.append(_chain_facts(s))
            memo[(p, k)] = facts
        return memo[(p, k)]

    return get


@pytest.mark.parametrize("k", [1, 3])
@pytest.mark.parametrize("p", [1, 2])
@pytest.mark.parametrize("executor", ["local", "spark"])
def test_executor_parity(spark, rl_setup, parity_reference, executor, p, k):
    """Both executors of the transition core produce the SAME chain: two
    steps on ``executor`` then one on the other executor (a hand-off in
    either direction) match three Spark reference steps in θ, seed,
    log-likelihood (``==``; ≤2 partition terms are IEEE-commutative),
    distortion counts, isolates and linkage rows. Kernels canonicalize on
    entry, seeds are data-keyed and migration follows the same partition
    function, so nothing may differ."""
    records, attrs, cache, pdf = rl_setup
    ref = parity_reference(p, k)
    other = "spark" if executor == "local" else "local"
    s = _parity_start(spark, rl_setup, p)
    for i, ex in enumerate([executor, executor, other]):
        s = _public_step(p, k, ex)(s)
        assert (s.local_parts is not None) == (ex == "local")
        assert _chain_facts(s) == ref[i], f"step {i + 1} on {ex}"
    assert s.iteration == 3 * k
    _check_invariants(s, len(pdf), len(pdf))
    if p == 2:  # both partitions still populated after migration
        assert {r[0] for r in ref[-1]["links"]} == {0, 1}


def test_init_state_rejects_duplicate_rec_ids(spark, rl_setup):
    """canonicalize_partition_state's determinism requires globally-unique
    rec_id (the reference documents this, Project.scala:39, but never
    enforces it); init_state must fail fast instead of silently running a
    shuffle-order-dependent chain."""
    records, attrs, cache, pdf = rl_setup
    from pyspark.sql import functions as F

    dup = records.limit(1).withColumn("file_id", F.lit("1"))
    with pytest.raises(ValueError, match="globally unique"):
        init_state(
            spark, records.union(dup), cache, SinglePartition(), 1, seed=123
        )


def test_concat_partition_states_empty_raises():
    """Empty input used to hit IndexError via parts[0] before the guard."""
    from dblink_spark.er.model import concat_partition_states

    with pytest.raises(ValueError, match="at least one part"):
        concat_partition_states([])


class TestKernelTaskPlacement:
    """The salted grouping must give every kernel group its own shuffle
    bucket, and the driver-side murmur3 must stay bit-identical to Spark's
    (it predicts where HashPartitioning will place each group)."""

    def test_murmur3_matches_spark_hash(self, spark):
        from pyspark.sql import functions as F

        from dblink_spark.er.state import _murmur3_int

        vals = list(range(16)) + [2**31 - 1, -1, -(2**31)]
        rows = (
            spark.createDataFrame([(v,) for v in vals], "x: int")
            .select("x", F.hash("x").alias("h"))
            .collect()
        )
        assert all(_murmur3_int(r["x"]) == r["h"] for r in rows)

    def test_chained_murmur3_matches_multi_column_hash(self, spark):
        from pyspark.sql import functions as F

        from dblink_spark.er.state import _murmur3_int

        pairs = [(p, s) for p in range(4) for s in range(4)]
        rows = (
            spark.createDataFrame(pairs, "pid: int, salt: int")
            .select("pid", "salt", F.hash("pid", "salt").alias("h"))
            .collect()
        )
        assert all(
            _murmur3_int(r["salt"], seed=_murmur3_int(r["pid"])) == r["h"]
            for r in rows
        )

    @pytest.mark.parametrize("p,m", [(2, 32), (4, 32), (8, 32), (16, 16), (32, 64)])
    def test_kernel_salts_collision_free(self, p, m):
        from dblink_spark.er.state import _kernel_salts, _murmur3_int

        salts = _kernel_salts(p, m)
        assert salts is not None and len(salts) == p
        buckets = [
            _murmur3_int(s, seed=_murmur3_int(pid)) % m
            for pid, s in enumerate(salts)
        ]
        assert len(set(buckets)) == p, "every kernel group needs its own bucket"

    def test_kernel_salts_impossible_when_p_exceeds_m(self):
        from dblink_spark.er.state import _kernel_salts

        assert _kernel_salts(33, 32) is None


def test_consumed_state_raises_named_error(spark, rl_setup):
    """r13 ADVICE: transition() consumes its input past iteration 0 —
    reading or advancing the consumed handle must fail HERE with
    StateConsumedError, not as a raw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    from deep inside Spark. Roots stay readable (fork-vs-advance rule)."""
    from dblink_spark.er.state import StateConsumedError

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=21)
    s1 = transition(s0, "PCG-I")
    s2 = transition(s1, "PCG-I")  # consumes s1
    with pytest.raises(StateConsumedError, match="iteration 1"):
        _ = s1.df
    with pytest.raises(StateConsumedError, match="transition"):
        transition(s1, "PCG-I")
    # the chain ROOT is never consumed: both reads must still work
    assert s0.df.filter("NOT is_summary").count() == len(pdf)
    _check_invariants(s2, len(pdf), len(pdf))


def test_salt_expr_cache_keyed_by_live_context(spark):
    """r13 ADVICE: _SALT_EXPR_CACHE entries are py4j-backed Columns owned
    by ONE gateway — an entry built under a dead/replaced SparkContext
    must be rebuilt, not served (it would fail every transition at that
    width with an opaque py4j error)."""
    import weakref

    from pyspark.sql import functions as F

    from dblink_spark.er import state as st

    df = spark.range(16).withColumn(
        "partition_id", (F.col("id") % 4).cast("int")
    )
    out1, keys1 = st._salted_group(df, 4, num_buckets=32)
    assert keys1 == ["partition_id", "__kernel_salt"]
    ent = st._SALT_EXPR_CACHE[(4, 32)]
    assert ent[0]() is spark.sparkContext
    expr1 = ent[1]
    st._salted_group(df, 4, num_buckets=32)
    assert st._SALT_EXPR_CACHE[(4, 32)][1] is expr1, "live-context memo hit"

    class _DeadContext:
        pass

    dead = _DeadContext()
    st._SALT_EXPR_CACHE[(4, 32)] = (weakref.ref(dead), expr1)
    del dead  # the weakref now resolves to None, as after a restart
    out3, keys3 = st._salted_group(df, 4, num_buckets=32)
    ent3 = st._SALT_EXPR_CACHE[(4, 32)]
    assert ent3[0]() is spark.sparkContext, "stale entry must be rebuilt"
    # the rebuilt expression is functional AND delivers the salt property:
    # each pid's (pid, salt) hash lands in its OWN shuffle bucket
    buckets = (
        out3.select(
            F.pmod(F.hash("partition_id", "__kernel_salt"), F.lit(32))
            .alias("b")
        )
        .distinct()
        .count()
    )
    assert buckets == 4


def test_multisweep_k3_invariants_and_determinism(spark, rl_setup):
    """k=3 on 2 partitions: population conserved, records partition
    across clusters, iteration/seed advance by k, chains deterministic
    (two identically-seeded runs agree bit-exactly), and the consumed-
    state rule applies to the multisweep path too."""
    from dblink_spark.er.state import (
        StateConsumedError, assign_partitions, transition_multisweep,
    )

    records, attrs, cache, pdf = rl_setup

    def mk():
        st = init_state(spark, records, cache, SinglePartition(), 1, seed=29)
        part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
        part.fit(st.df.filter("NOT is_summary").select("ent_values"))
        return assign_partitions(st, part, 2)

    def run():
        s = mk()
        for _ in range(2):
            s = transition_multisweep(s, "PCG-I", 3)
        return s

    a, b = run(), run()
    assert a.iteration == 6
    assert a.current_seed == mk().current_seed + 6 * 2
    _check_invariants(a, len(pdf), len(pdf))

    def links(st):
        rows = st.df.filter("NOT is_summary").collect()
        return sorted(
            (r["partition_id"], r["ent_values"], sorted(r["rec_ids"]))
            for r in rows
        )

    assert links(a) == links(b), "multisweep chain must be deterministic"
    assert a.summary.log_likelihood == b.summary.log_likelihood

    mid = transition_multisweep(a, "PCG-I", 2)  # consumes a
    with pytest.raises(StateConsumedError):
        transition_multisweep(a, "PCG-I", 1)
    _check_invariants(mid, len(pdf), len(pdf))


def test_sampler_multisweep_knob(spark, rl_setup, tmp_path):
    """r14: SamplerOptions.multisweep_k drives the distributed chain k
    sweeps per job without overrunning save points — exact sample count,
    exact saved iterations, invariants intact."""
    from dblink_spark.er.sampler import linkage_sample  # noqa: F401
    from dblink_spark.sources.chain import read_linkage_chain

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=37)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    st = assign_partitions(s0, part, 2)
    out = str(tmp_path / "chain_ms")
    st = sample(
        st,
        sample_size=3,
        options=SamplerOptions(
            sampler="PCG-I", burnin_interval=4, thinning_interval=3,
            multisweep_k=4, local_exec_max_records=0,  # force distributed
        ),
        output_path=out,
    )
    chain = read_linkage_chain(spark, out)
    its = sorted(
        r["iteration"] for r in chain.select("iteration").distinct().collect()
    )
    assert its == [7, 10, 13], its  # burnin 4, thin 3: saves at 7,10,13
    assert st.iteration == 13
    _check_invariants(st, len(pdf), len(pdf))


def test_local_predecessor_stays_readable_after_distributed_advance(
    spark, rl_setup
):
    """r14 review fix: a driver-local (local_parts) state advanced through
    the DISTRIBUTED transition must stay readable — its DataFrame form was
    a lazy Arrow materialization of the numpy state (nothing checkpointed,
    nothing freed), so marking it consumed was a false positive. Only
    states whose checkpoint storage was actually released may raise."""
    from dblink_spark.er.state import assign_partitions, transition_local

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=41)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    s = assign_partitions(s0, part, 2)
    s = transition_local(s, "PCG-I")  # local_parts state, iteration 1
    s = transition_local(s, "PCG-I")  # iteration 2, still local
    mid = s
    s = transition(s, "PCG-I")  # distributed advance through mid
    # mid holds local_parts — the documented 'stays readable' case
    assert mid.df.filter("NOT is_summary").count() == len(pdf)
    _check_invariants(s, len(pdf), len(pdf))


def test_sampler_burnin_only_multisweep(spark, rl_setup, tmp_path):
    """r14: multisweep_burnin_k fuses ONLY the burn-in (no kept sample is
    produced under the relaxed cadence): sweeps never overrun the burn-in
    boundary, the sampling phase runs at reference cadence, and saved
    iterations are exact. Measured on the rl10k reference config: burn-in
    k=8 + sampling k=1 lands F1/ARI 0.772 vs 0.764 all-unfused — kept-
    sample quality preserved while burn-in runs ~8x."""
    from dblink_spark.sources.chain import read_linkage_chain

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=43)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    st = assign_partitions(s0, part, 2)
    out = str(tmp_path / "chain_bms")
    st = sample(
        st,
        sample_size=3,
        options=SamplerOptions(
            sampler="PCG-I", burnin_interval=5, thinning_interval=2,
            multisweep_burnin_k=4, local_exec_max_records=0,
        ),
        output_path=out,
    )
    its = sorted(
        r["iteration"]
        for r in read_linkage_chain(spark, out)
        .select("iteration").distinct().collect()
    )
    assert its == [7, 9, 11], its  # burnin 5, thin 2
    assert st.iteration == 11
    _check_invariants(st, len(pdf), len(pdf))


def test_sampler_multisweep_ignored_on_local_path_warns(
    spark, rl_setup, caplog
):
    """r15 (r14 ADVICE): the driver-local routing takes precedence over the
    multisweep branch — fusion only amortizes the distributed per-job
    floor, so ignoring it there is correct, but it must SAY so: a config
    asking for multisweep_k>1 on a chain under local_exec_max_records gets
    a ONE-TIME (per configuration, r15 ADVICE: once-guard, not per-call)
    warning naming the workaround, and the chain content is
    the plain local chain (the setting changed nothing)."""
    import logging as _logging

    from dblink_spark.er import sampler as _sampler_mod

    records, attrs, cache, pdf = rl_setup
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=47)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    st = assign_partitions(s0, part, 2)
    _sampler_mod._MS_IGNORED_WARNED.clear()  # isolate from suite ordering
    opts = SamplerOptions(
        sampler="PCG-I", burnin_interval=2, thinning_interval=1,
        multisweep_k=4,  # ignored: default local cap routes local
    )
    with caplog.at_level(_logging.WARNING, logger="dblink_spark.er.sampler"):
        st = sample(st, sample_size=2, options=opts)
    assert st.iteration == 4  # burnin 2 + 2 kept at thin 1
    assert st.local_parts is not None, "chain must have run driver-local"
    msgs = [r.message for r in caplog.records if "multisweep" in r.message]
    assert len(msgs) == 1, msgs
    assert "local_exec_max_records=0" in msgs[0], msgs
    # r15 ADVICE: a second sample() with the SAME config must not re-warn
    # (repeated short calls previously spammed the log one-per-call)
    caplog.clear()
    with caplog.at_level(_logging.WARNING, logger="dblink_spark.er.sampler"):
        st = sample(st, sample_size=1, options=opts)
    again = [r.message for r in caplog.records if "multisweep" in r.message]
    assert again == [], again


# ---------------------------------------------------------------------------
# Behaviour pins: seeded multi-partition chains, end to end
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pin_corpus(spark):
    return _pin_corpus(spark)


def _pin_corpus(spark):
    """RLdata-shape corpus (Levenshtein names, constant dates, Beta(10,
    1000) priors) that runs in seconds on every execution path."""
    from pyspark.sql import functions as F

    from dblink_spark.er.analysis import membership_to_clusters

    pdf = make_rldata(n_records=400, dup_fraction=0.1, missing_fraction=0.02, seed=11)
    records = spark.createDataFrame(pdf).withColumn("file_id", F.lit("0"))
    prior = BetaParams(10.0, 1000.0)
    attrs = [
        Attribute("fname", LevenshteinSim(7.0, 10.0), prior),
        Attribute("lname", LevenshteinSim(7.0, 10.0), prior),
        Attribute("by", ConstantSim(), prior),
        Attribute("bm", ConstantSim(), prior),
        Attribute("bd", ConstantSim(), prior),
    ]
    cache = build_records_cache(records, attrs, expected_max_cluster_size=10)
    truth = membership_to_clusters(
        spark.createDataFrame(pdf[["rec_id", "ent_id"]])
    ).localCheckpoint(eager=True)
    return records, cache, truth


#: (precision, recall, F1, ARI, final summary log-likelihood, final
#: isolates) of a seeded 2-partition chain per execution route, captured
#: before the transition entry points were folded into one core. Exact:
#: every route is deterministic given the seed.
CHAIN_PINS = {
    "driver_local": (
        1.0, 0.225, 0.36734693877551017, 0.36723042450658394,
        -6712.373779026693, 9,
    ),
    "distributed_k1": (
        1.0, 0.225, 0.36734693877551017, 0.36723042450658394,
        -6712.373779026693, 9,
    ),
    "distributed_burnin_k4": (
        1.0, 0.175, 0.2978723404255319, 0.29776749048010154,
        -6710.646811601452, 8,
    ),
}
CHAIN_OPTIONS = {
    "driver_local": {},
    "distributed_k1": {"local_exec_max_records": 0},
    "distributed_burnin_k4": {"local_exec_max_records": 0, "multisweep_burnin_k": 4},
}


def _pinned_chain(spark, pin_corpus, out, route):
    from dblink_spark.er.chain import most_probable_clusters, shared_most_probable_clusters
    from dblink_spark.er.metrics import evaluate_clustering, evaluate_pairwise
    from dblink_spark.sources.chain import read_linkage_chain

    records, cache, truth = pin_corpus
    s0 = init_state(spark, records, cache, SinglePartition(), 1, seed=2024)
    part = KDTreePartitioner(num_levels=1, attribute_ids=[0, 1])
    part.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    st = sample(
        assign_partitions(s0, part, 2),
        sample_size=5,
        options=SamplerOptions(
            sampler="PCG-I", burnin_interval=8, thinning_interval=2,
            **CHAIN_OPTIONS[route],
        ),
        output_path=out,
    )
    assert st.iteration == 18
    smpc = shared_most_probable_clusters(
        most_probable_clusters(read_linkage_chain(spark, out))
    )
    m = evaluate_pairwise(smpc, truth)
    return (
        m.precision, m.recall, m.f1, evaluate_clustering(smpc, truth),
        st.summary.log_likelihood, st.summary.num_isolates,
    )


@pytest.mark.parametrize("route", sorted(CHAIN_PINS))
def test_multi_partition_chain_pins(spark, pin_corpus, tmp_path, route):
    """The whole sampler, not one kernel: a seeded 2-partition chain on
    each execution route reaches exactly its pinned quality and final
    summary."""
    got = _pinned_chain(spark, pin_corpus, str(tmp_path / route), route)
    assert got == CHAIN_PINS[route], got


# ---------------------------------------------------------------------------
# Spark jobs per transition
# ---------------------------------------------------------------------------


def _jobs_in(spark, fn):
    """Run ``fn`` inside a fresh job group; return (result, jobs launched)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_transition_job_counts(spark, rl_setup):
    """Spark jobs one step launches, pinned per executor path in steady
    block format: two (AQE's shuffle-map job for the kernel groupBy, then
    the summary collect that materializes the lazy checkpoint). The
    driver-local steps launch none once the chain holds ``local_parts``."""
    from dblink_spark.er.state import (
        transition_fused, transition_local, transition_multisweep,
    )

    records, attrs, cache, pdf = rl_setup

    def two_part(seed):
        st = init_state(spark, records, cache, SinglePartition(), 1, seed=seed)
        part = KDTreePartitioner(num_levels=1, attribute_ids=[3])
        part.fit(st.df.filter("NOT is_summary").select("ent_values"))
        return assign_partitions(st, part, 2)

    jobs = {}
    s = transition(two_part(51), "PCG-I")  # enter block format
    assert s.block_df is not None
    s, jobs["transition"] = _jobs_in(spark, lambda: transition(s, "PCG-I"))
    s, jobs["multisweep_k3"] = _jobs_in(
        spark, lambda: transition_multisweep(s, "PCG-I", 3)
    )

    f = init_state(spark, records, cache, SinglePartition(), 1, seed=53)
    f = transition_fused(f, "PCG-I", 2, local=False)
    assert f.block_df is not None
    f, jobs["fused_spark"] = _jobs_in(
        spark, lambda: transition_fused(f, "PCG-I", 2, local=False)
    )

    loc = transition_local(two_part(55), "PCG-I")
    assert loc.local_parts is not None
    loc, jobs["local"] = _jobs_in(spark, lambda: transition_local(loc, "PCG-I"))
    fl = transition_fused(
        init_state(spark, records, cache, SinglePartition(), 1, seed=57),
        "PCG-I", 2,
    )
    assert fl.local_parts is not None
    fl, jobs["fused_local"] = _jobs_in(
        spark, lambda: transition_fused(fl, "PCG-I", 3, local=True)
    )
    assert jobs == {
        "transition": 2, "multisweep_k3": 2, "fused_spark": 2,
        "local": 0, "fused_local": 0,
    }, jobs
