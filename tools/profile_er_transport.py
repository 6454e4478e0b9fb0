"""Split the distributed-ER transport cost (identity-kernel transition time
minus job floor) into: checkpoint scan, shuffle, Python Arrow round-trip,
and localCheckpoint materialization. Companion of profile_er_floor.py."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dblink_spark.er.attributes import (
    Attribute,
    BetaParams,
    ConstantSim,
    LevenshteinSim,
)
from dblink_spark.er.cache import build_records_cache
from dblink_spark.er.datagen import make_rldata
from dblink_spark.er.partition import KDTreePartitioner, SinglePartition
from dblink_spark.er import state as st
from dblink_spark.session import get_spark


def timeit(fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    n_records = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    p = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    spark = get_spark("er_transport_profile")
    spark.sparkContext.setLogLevel("WARN")

    pdf = make_rldata(
        n_records=n_records, dup_fraction=0.2, missing_fraction=0.02, seed=11
    )
    records = (
        spark.createDataFrame(pdf.drop(columns=["ent_id"]))
        .withColumn("file_id", F.lit("0"))
        .repartition(32)
    )
    attrs = [
        Attribute("by", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bm", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("bd", ConstantSim(), BetaParams(0.5, 50.0)),
        Attribute("fname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
        Attribute("lname", LevenshteinSim(7.0, 10.0), BetaParams(0.5, 50.0)),
    ]
    cache = build_records_cache(records, attrs, expected_max_cluster_size=10)
    s0 = st.init_state(spark, records, cache, SinglePartition(), 1, seed=99)
    if p == 1:
        pf = SinglePartition()
    else:
        pf = KDTreePartitioner(num_levels=p.bit_length() - 1, attribute_ids=[3, 4, 0])
        pf.fit(s0.df.filter("NOT is_summary").select("ent_values"))
    s = st.assign_partitions(s0, pf, pf.num_partitions)
    s = st.transition(s, "PCG-I")
    s = st.transition(s, "PCG-I")
    src = s.block_df

    # state size on the wire
    sizes = src.select(
        F.count("*").alias("rows"),
        (
            F.sum(
                F.coalesce(F.length("counts"), F.lit(0))
                + F.coalesce(F.length("ent_values"), F.lit(0))
                + F.coalesce(F.length("rec_id_lens"), F.lit(0))
                + F.coalesce(F.length("rec_id_data"), F.lit(0))
                + F.coalesce(F.length("rec_fids"), F.lit(0))
                + F.coalesce(F.length("rec_values"), F.lit(0))
                + F.coalesce(F.length("rec_dist"), F.lit(0))
            ) / 1e6
        ).alias("mb"),
    ).collect()[0]
    print(f"block state: {sizes['rows']} rows, {sizes['mb']:.1f} MB")

    df_in, keys = st._salted_group(src, p, num_buckets=p)

    # 1. scan only (read checkpoint, touch every byte, no shuffle/python)
    t = timeit(
        lambda: df_in.select(
            F.sum(F.coalesce(F.length("rec_values"), F.lit(0)))
        ).collect()
    )
    print(f"scan-only over checkpoint: {t:.3f}s")

    # 2. shuffle only (repartition by keys, no python, no checkpoint)
    with st._kernel_exec_conf(spark, shuffle_partitions=p):
        t = timeit(
            lambda: df_in.repartition(p, *[F.col(k) for k in keys])
            .select(F.sum(F.coalesce(F.length("rec_values"), F.lit(0))))
            .collect()
        )
    print(f"scan+shuffle (no python): {t:.3f}s")

    def identity_step():
        kernel = st.make_transition_kernel_arrow(
            st._cache_ref(s, df_in), s.theta, "PCG-I", s.current_seed,
            s.partition_fn, num_partitions=p,
        )
        return df_in.groupBy(*keys).applyInArrow(kernel, st.BLOCK_SCHEMA)

    # 3. identity kernel, NO localCheckpoint
    real = st.run_fused_sweeps
    st.run_fused_sweeps = lambda ps, *a, **k: ps
    try:
        with st._kernel_exec_conf(spark, shuffle_partitions=p):
            new_df = identity_step()
            t = timeit(lambda: st.collect_summary(new_df, cache))
            print(f"scan+shuffle+python round-trip (no checkpoint): {t:.3f}s")

            # 4. + localCheckpoint (the full identity transition body)
            def full():
                nd = identity_step().localCheckpoint(eager=False)
                st.collect_summary(nd, cache)

            t = timeit(full)
            print(f"full identity body (with checkpoint): {t:.3f}s")
    finally:
        st.run_fused_sweeps = real


if __name__ == "__main__":
    main()
