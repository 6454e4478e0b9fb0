"""Markov-chain state as a DataFrame + the Spark-side transition operator.

State layout (one row per entity cluster, ref concept: Partitions =
RDD[(PartitionId, EntRecCluster)], package.scala:34,80-88):

    partition_id  int      entity-space partition (kernel group key)
    is_summary    boolean  per-partition summary rows ride along in-band
    ent_values    array<int>
    rec_ids       array<string>          linked records ([] = isolate)
    rec_fids      array<int>             file index per linked record
    rec_values    binary   packed little-endian int32, row-major (k, A)
    rec_dist      binary   packed uint8 0/1, row-major (k, A)
    loglik / n_isolates / agg_dist / rec_dist_hist   (summary rows only)

One iteration = groupBy(partition keys).applyInArrow(kernel) — a single
Arrow round-trip per partition and a single hash shuffle (clusters migrate to
the partition of their new entity values by virtue of the *next* groupBy),
matching the reference's mapPartitions + partitionBy cadence
(ref: GibbsUpdates.scala:124-153). In steady state the chain rides in BLOCK
format (see BLOCK_SCHEMA): each kernel emits one packed-buffer row per
destination partition, so the grouped Arrow boundary handles O(p) rows per
kernel instead of O(clusters) — cluster rows (STATE_SCHEMA) remain the
interchange format for init, save/load, and analysis. Summaries are
pre-aggregated inside the kernel and emitted as one in-band row per
partition, so the per-iteration driver action collects only num_partitions
tiny rows (the reference needed accumulator merges;
ref: GibbsUpdates.scala:219-301). Kernel groups are placed one-per-task:
a salt column decollides the group-key hash (every group gets its own
shuffle bucket) and AQE partition coalescing is disabled for the iteration
query (its bytes-based cost model would merge seconds-of-CPU kernels).

Seed discipline: kernel RNG = default_rng(seed + partition_id) — keyed on the
partition *data value*, not the Spark task index — and the kernel
canonicalizes its row order on entry (model.canonicalize_partition_state),
so RNG consumption order is determined by partition CONTENT alone. Together
these make task retries and AQE re-planning unable to change results, for
multi-partition chains included (the reference seeds by task index and
documents the weaker guarantee, State.scala:47-49).
"""

from __future__ import annotations

import time
import weakref
from contextlib import contextmanager
from dataclasses import dataclass, replace
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dblink_spark.er.cache import RecordsCache, encode_records
from dblink_spark.operators.workerboot import make_worker_boot
from dblink_spark.er.model import (
    PartitionState,
    canonicalize_partition_state,
    concat_partition_states,
    partition_summary,
    split_partition_state,
    transition_partition,
)
from dblink_spark.er.rand import sample_from_probs

STATE_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("is_summary", BooleanType()),
        StructField("ent_values", ArrayType(IntegerType())),
        StructField("rec_ids", ArrayType(StringType())),
        StructField("rec_fids", ArrayType(IntegerType())),
        # packed blobs, not nested arrays: array<array<T>> cells cost a
        # JVM-side element-by-element Arrow conversion per record per attr
        # (an identity applyInArrow round-trip of 300k nested rows measured
        # ~12s in one task); a binary cell is one memcpy each way.
        StructField("rec_values", BinaryType()),  # <i4, row-major (k, A)
        StructField("rec_dist", BinaryType()),  # uint8 0/1, row-major (k, A)
        StructField("loglik", DoubleType()),
        StructField("n_isolates", LongType()),
        StructField("agg_dist", ArrayType(LongType())),
        StructField("rec_dist_hist", ArrayType(LongType())),
    ]
)

#: Iteration-loop state format: ONE row per (kernel -> destination
#: partition) block, every per-record field packed into a binary blob.
#: Grouped Arrow execution (the sort/group/convert before a grouped-map
#: kernel) costs ~30-40us PER ROW single-threaded — an identity
#: groupBy().applyInArrow() over 300k cluster rows measured ~12s in one
#: task while the same bytes as a narrow mapInArrow cost 0.9s. Blocks cut
#: the grouped row count from O(clusters) to O(p^2), making the boundary a
#: handful of memcpys; cluster rows (STATE_SCHEMA) remain the interchange
#: format for init, save/load, and analysis consumers.
BLOCK_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("is_summary", BooleanType()),
        StructField("n_clusters", LongType()),
        StructField("ent_values", BinaryType()),  # <i4 (E, A)
        StructField("counts", BinaryType()),  # <i4 (E,) records per cluster
        StructField("rec_id_lens", BinaryType()),  # <i4 (R,) utf-8 lengths
        StructField("rec_id_data", BinaryType()),  # utf-8 concatenation
        StructField("rec_fids", BinaryType()),  # <i4 (R,)
        StructField("rec_values", BinaryType()),  # <i4 (R, A)
        StructField("rec_dist", BinaryType()),  # uint8 (R, A)
        StructField("loglik", DoubleType()),
        StructField("n_isolates", LongType()),
        StructField("agg_dist", ArrayType(LongType())),
        StructField("rec_dist_hist", ArrayType(LongType())),
    ]
)


@dataclass
class SummaryVars:
    """Per-iteration chain summaries (ref: package.scala:116-119)."""

    num_isolates: int
    log_likelihood: float
    agg_distortions: np.ndarray  # (A, F) counts
    rec_distortions: np.ndarray  # histogram over 0..A distorted attrs


class StateConsumedError(RuntimeError):
    """A transition already CONSUMED this state (its checkpoint storage was
    released when the successor materialized — see ``transition``'s
    consume-on-transition rule, r13). Reading or advancing it would hit
    freed RDD blocks deep inside Spark (raw
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), so the reuse fails HERE with a
    name instead (r13 ADVICE). The rule: ADVANCE a chain through the state
    the last transition returned; FORK (linkage_sample, a second
    partitioner fit, ...) from the iteration-0 root or an
    ``assign_partitions`` result — roots and forks are never consumed. To
    keep a mid-chain snapshot readable, save it (``state_io.save_state``)
    or take ``state.df`` BEFORE advancing past it."""


@dataclass
class State:
    """Full chain state (ref: State.scala:56-68).

    The cluster rows live in ONE of three forms:

    - `_df` — cluster-row DataFrame (STATE_SCHEMA), the interchange format
      every external consumer reads (chain writer, save, analysis);
    - `block_df` — block-format DataFrame (BLOCK_SCHEMA), the iteration
      loop's wire format (distributed `transition` keeps the chain here);
    - `local_parts` — per-partition numpy states for driver-local advance.

    `state.df` is a lazy view: when only a non-cluster form exists it
    materializes cluster rows on first access (narrow mapInArrow unpack for
    blocks; Arrow createDataFrame for local parts), so consumers are
    oblivious to which form is current."""

    iteration: int
    _df: DataFrame | None  # cluster rows + in-band summary rows
    theta: np.ndarray  # (A, F) distortion probabilities
    population_size: int
    summary: SummaryVars
    partition_fn: Callable[[np.ndarray], np.ndarray]
    num_partitions: int
    start_seed: int
    current_seed: int
    cache: RecordsCache
    rng: np.random.Generator  # driver RNG (theta updates)
    #: driver-local per-partition state (pid -> PartitionState)
    local_parts: "dict[int, PartitionState] | None" = None
    spark: SparkSession | None = None
    #: iteration-loop block-format rows (BLOCK_SCHEMA)
    block_df: DataFrame | None = None
    #: lazily-created ``(weakref-to-cache, sc.broadcast(cache))`` memo
    #: (see ``_cache_ref``). The cache pickles to
    #: ~7 MB at 100k records; captured directly in the kernel closure it is
    #: re-serialized into every iteration's task binary and re-unpickled per
    #: task. As a broadcast it ships once and the worker-side broadcast
    #: registry caches the deserialized object across jobs (worker reuse),
    #: so the per-iteration closure is just theta + small callables —
    #: measured ~0.12 s/iteration at p=4 on local[32]. Mirrors the
    #: reference's broadcast RecordsCache (ref: RecordsCache.scala:74-106).
    cache_bcast: "object | None" = None
    #: set once a transition consumes this state (checkpoint storage
    #: released); any later read raises StateConsumedError by name
    _released: bool = False

    @property
    def df(self) -> DataFrame:
        if self._released:
            raise StateConsumedError(
                f"state at iteration {self.iteration} was consumed by a "
                "later transition; read .df before advancing, or fork from "
                "the chain root / an assign_partitions result"
            )
        if self._df is None and self.block_df is not None:
            self._df = _blocks_df_to_cluster_df(
                self.block_df, self.cache.num_attributes
            )
        elif self._df is None:
            # Arrow-native marshal (createDataFrame accepts a pyarrow
            # Table): no per-row Python lists
            tbl = pa.concat_tables(
                [
                    _partition_state_to_pa(
                        self.local_parts[pid],
                        self.partition_fn(self.local_parts[pid].entities),
                        pid,
                        self.cache,
                    )
                    for pid in sorted(self.local_parts)
                ]
            )
            self._df = self.spark.createDataFrame(tbl, schema=STATE_SCHEMA)
        return self._df


# ---------------------------------------------------------------------------
# cluster-row marshalling (init / save / analysis interchange format)
# ---------------------------------------------------------------------------


#: Arrow twin of STATE_SCHEMA (exact dtype mapping Spark uses for Arrow UDFs)
_PA_STATE_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("is_summary", pa.bool_()),
        ("ent_values", pa.list_(pa.int32())),
        ("rec_ids", pa.list_(pa.string())),
        ("rec_fids", pa.list_(pa.int32())),
        ("rec_values", pa.binary()),
        ("rec_dist", pa.binary()),
        ("loglik", pa.float64()),
        ("n_isolates", pa.int64()),
        ("agg_dist", pa.list_(pa.int64())),
        ("rec_dist_hist", pa.list_(pa.int64())),
    ]
)


def _binary_column_to_array(col: pa.ChunkedArray, dtype, n_items: int) -> np.ndarray:
    """Concatenate a binary column's cell payloads into one typed numpy
    array. Fast path: when the value buffer is dense (offsets cover it
    without gaps — always true for freshly built/filtered arrays), this is a
    single zero-copy frombuffer slice; otherwise falls back to a Python-level
    join of the cells."""
    arr = col.combine_chunks()
    itemsize = np.dtype(dtype).itemsize
    bufs = arr.buffers()
    if bufs[1] is not None and bufs[2] is not None and arr.null_count == 0:
        off_width = 8 if pa.types.is_large_binary(arr.type) else 4
        off_dtype = np.int64 if off_width == 8 else np.int32
        offs = np.frombuffer(bufs[1], dtype=off_dtype)[
            arr.offset : arr.offset + len(arr) + 1
        ]
        if int(offs[-1] - offs[0]) == n_items * itemsize:  # dense, no gaps
            data = np.frombuffer(bufs[2], dtype=np.uint8)[
                int(offs[0]) : int(offs[-1])
            ]
            return data.view(dtype).copy()
    return np.frombuffer(
        b"".join(arr.to_pylist()), dtype=dtype
    ).copy()


def _pa_to_partition_state(tbl: pa.Table, num_attrs: int) -> PartitionState:
    """Decode cluster rows (STATE_SCHEMA) into one PartitionState: nested
    list columns unpack via vectorized ``flatten()`` on the list offsets
    instead of materializing millions of per-cell Python lists (at 300k
    records a pandas decode of ``array<array<int>>`` columns cost ~10 s per
    iteration per task while the MCMC kernel itself cost ~1 s)."""
    import pyarrow.compute as pc

    E = tbl.num_rows
    ent = tbl.column("ent_values").combine_chunks()
    entities = (
        ent.flatten()
        .to_numpy(zero_copy_only=False)
        .astype(np.int32)
        .reshape(E, num_attrs)
    )
    rid = tbl.column("rec_ids").combine_chunks()
    counts = pc.list_value_length(rid).to_numpy(zero_copy_only=False).astype(np.int64)
    rec_ids = np.asarray(rid.flatten().to_pylist(), dtype=str)
    fid = tbl.column("rec_fids").combine_chunks()
    rec_fids = fid.flatten().to_numpy(zero_copy_only=False).astype(np.int32)
    R = rec_fids.shape[0]
    rec_values = _binary_column_to_array(
        tbl.column("rec_values"), "<i4", R * num_attrs
    ).reshape(R, num_attrs)
    rec_dist = (
        _binary_column_to_array(tbl.column("rec_dist"), np.uint8, R * num_attrs)
        .astype(bool)
        .reshape(R, num_attrs)
    )
    return PartitionState(
        entities=entities,
        rec_ids=rec_ids,
        rec_fids=rec_fids,
        rec_values=rec_values,
        rec_dist=rec_dist,
        link=np.repeat(np.arange(E, dtype=np.int64), counts),
    )


def _ps_cluster_body_pa(ps: PartitionState, new_pids: np.ndarray) -> pa.Table:
    """Cluster rows (no summary) for one PartitionState as an Arrow table:
    list columns assembled from (offsets, flat values) pairs — no per-row
    Python lists. Record order: stable grouping by entity."""
    order = np.argsort(ps.link, kind="stable")
    counts = np.bincount(ps.link, minlength=ps.num_entities)
    E, R, A = ps.num_entities, ps.num_records, ps.entities.shape[1]
    bounds = pa.array(
        np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    )
    ent_vals = pa.ListArray.from_arrays(
        pa.array(np.arange(E + 1, dtype=np.int32) * A),
        pa.array(ps.entities.ravel(), type=pa.int32()),
    )
    rec_ids = pa.ListArray.from_arrays(
        bounds, pa.array(ps.rec_ids[order].tolist(), type=pa.string())
    )
    rec_fids = pa.ListArray.from_arrays(
        bounds, pa.array(ps.rec_fids[order], type=pa.int32())
    )
    # binary cells built zero-copy from (offsets, packed data) buffer pairs
    byte_bounds = bounds.to_numpy(zero_copy_only=False)
    rec_values = pa.Array.from_buffers(
        pa.binary(),
        E,
        [
            None,
            pa.py_buffer((byte_bounds * (A * 4)).astype(np.int32).tobytes()),
            pa.py_buffer(ps.rec_values[order].astype("<i4").tobytes()),
        ],
    )
    rec_dist = pa.Array.from_buffers(
        pa.binary(),
        E,
        [
            None,
            pa.py_buffer((byte_bounds * A).astype(np.int32).tobytes()),
            pa.py_buffer(ps.rec_dist[order].astype(np.uint8).tobytes()),
        ],
    )
    return pa.Table.from_arrays(
        [
            pa.array(np.asarray(new_pids, dtype=np.int32), type=pa.int32()),
            pa.array(np.zeros(E, dtype=bool)),
            ent_vals,
            rec_ids,
            rec_fids,
            rec_values,
            rec_dist,
            pa.nulls(E, pa.float64()),
            pa.nulls(E, pa.int64()),
            pa.nulls(E, pa.list_(pa.int64())),
            pa.nulls(E, pa.list_(pa.int64())),
        ],
        schema=_PA_STATE_SCHEMA,
    )


def _summary_row_pa(
    schema: pa.Schema, summary_pid: int, loglik, n_iso, agg_dist, hist
) -> pa.Table:
    """One in-band summary row in ``schema`` (cluster-row or BLOCK): the
    summary fields set, every per-cluster field null."""
    cells = {
        "partition_id": pa.array([summary_pid], type=pa.int32()),
        "is_summary": pa.array([True]),
        "loglik": pa.array([float(loglik)], type=pa.float64()),
        "n_isolates": pa.array([int(n_iso)], type=pa.int64()),
        "agg_dist": pa.array(
            [np.asarray(agg_dist, dtype=np.int64)], type=pa.list_(pa.int64())
        ),
        "rec_dist_hist": pa.array(
            [np.asarray(hist, dtype=np.int64)], type=pa.list_(pa.int64())
        ),
    }
    return pa.Table.from_arrays(
        [cells.get(f.name, pa.nulls(1, f.type)) for f in schema], schema=schema
    )


def _partition_state_to_pa(
    ps: PartitionState, new_pids: np.ndarray, summary_pid: int, cache: RecordsCache
) -> pa.Table:
    """Cluster rows (STATE_SCHEMA) for one PartitionState plus its in-band
    summary row."""
    return pa.concat_tables(
        [
            _ps_cluster_body_pa(ps, new_pids),
            _summary_row_pa(
                _PA_STATE_SCHEMA, summary_pid, *partition_summary(ps, cache)
            ),
        ]
    )


# ---------------------------------------------------------------------------
# block-format marshalling (iteration-loop wire format; see BLOCK_SCHEMA)
# ---------------------------------------------------------------------------

_PA_BLOCK_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("is_summary", pa.bool_()),
        ("n_clusters", pa.int64()),
        ("ent_values", pa.binary()),
        ("counts", pa.binary()),
        ("rec_id_lens", pa.binary()),
        ("rec_id_data", pa.binary()),
        ("rec_fids", pa.binary()),
        ("rec_values", pa.binary()),
        ("rec_dist", pa.binary()),
        ("loglik", pa.float64()),
        ("n_isolates", pa.int64()),
        ("agg_dist", pa.list_(pa.int64())),
        ("rec_dist_hist", pa.list_(pa.int64())),
    ]
)


def _ps_to_block_cells(ps: PartitionState, pid: int) -> list:
    """One BLOCK row's cells (ordered per _PA_BLOCK_SCHEMA, summary fields
    excluded) for one PartitionState. Record order: stable by entity."""
    order = np.argsort(ps.link, kind="stable")
    counts = np.bincount(ps.link, minlength=ps.num_entities).astype("<i4")
    ids = ps.rec_ids[order]
    id_bytes = [s.encode("utf-8") for s in ids]
    lens = np.fromiter((len(b) for b in id_bytes), dtype="<i4", count=len(id_bytes))
    return [
        pid,
        False,
        int(ps.num_entities),
        ps.entities.astype("<i4").tobytes(),
        counts.tobytes(),
        lens.tobytes(),
        b"".join(id_bytes),
        ps.rec_fids[order].astype("<i4").tobytes(),
        ps.rec_values[order].astype("<i4").tobytes(),
        ps.rec_dist[order].astype(np.uint8).tobytes(),
    ]


def _blocks_to_partition_state(tbl: pa.Table, num_attrs: int) -> PartitionState:
    """Concatenate BLOCK rows (any number, e.g. everything routed to one
    destination partition) back into a PartitionState. All per-record
    columns decode via frombuffer; only the record-id strings materialize
    as Python objects (the kernel needs them as such anyway)."""
    cols = {
        name: tbl.column(name).to_pylist()
        for name in (
            "n_clusters",
            "ent_values",
            "counts",
            "rec_id_lens",
            "rec_id_data",
            "rec_fids",
            "rec_values",
            "rec_dist",
        )
    }
    ents, cnts, ids, fids, vals, dist = [], [], [], [], [], []
    for i in range(tbl.num_rows):
        e_b = int(cols["n_clusters"][i])
        ents.append(
            np.frombuffer(cols["ent_values"][i], dtype="<i4").reshape(e_b, num_attrs)
        )
        c = np.frombuffer(cols["counts"][i], dtype="<i4").astype(np.int64)
        cnts.append(c)
        lens = np.frombuffer(cols["rec_id_lens"][i], dtype="<i4")
        data = cols["rec_id_data"][i]
        offs = np.concatenate(([0], np.cumsum(lens)))
        ids.extend(
            data[offs[j] : offs[j + 1]].decode("utf-8") for j in range(len(lens))
        )
        fids.append(np.frombuffer(cols["rec_fids"][i], dtype="<i4"))
        vals.append(
            np.frombuffer(cols["rec_values"][i], dtype="<i4").reshape(-1, num_attrs)
        )
        dist.append(
            np.frombuffer(cols["rec_dist"][i], dtype=np.uint8)
            .reshape(-1, num_attrs)
            .astype(bool)
        )
    entities = (
        np.concatenate(ents).astype(np.int32)
        if ents
        else np.empty((0, num_attrs), dtype=np.int32)
    )
    counts_all = (
        np.concatenate(cnts) if cnts else np.empty(0, dtype=np.int64)
    )
    E = entities.shape[0]
    return PartitionState(
        entities=entities,
        rec_ids=np.asarray(ids, dtype=str),
        rec_fids=(
            np.concatenate(fids).astype(np.int32)
            if fids
            else np.empty(0, dtype=np.int32)
        ),
        rec_values=(
            np.concatenate(vals).astype(np.int32)
            if vals
            else np.empty((0, num_attrs), dtype=np.int32)
        ),
        rec_dist=(
            np.concatenate(dist)
            if dist
            else np.empty((0, num_attrs), dtype=bool)
        ),
        link=np.repeat(np.arange(E, dtype=np.int64), counts_all),
    )


def _block_output_table(
    ps: PartitionState,
    new_pids: np.ndarray,
    src_pid: int,
    cache: RecordsCache,
) -> pa.Table:
    """Kernel output in BLOCK format: one row per destination partition
    (clusters routed by ``new_pids``) plus the in-band summary row."""
    parts = split_partition_state(ps, np.asarray(new_pids, dtype=np.int64))
    rows = [_ps_to_block_cells(sub, dst) for dst, sub in sorted(parts.items())]
    n_cells = 10  # cells per _ps_to_block_cells row; the rest are summary
    body = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            if i < n_cells
            else pa.nulls(len(rows), f.type)
            for i, f in enumerate(_PA_BLOCK_SCHEMA)
        ],
        schema=_PA_BLOCK_SCHEMA,
    )
    summ = _summary_row_pa(
        _PA_BLOCK_SCHEMA, src_pid, *partition_summary(ps, cache)
    )
    return pa.concat_tables([body, summ])


def _blocks_df_to_cluster_df(block_df: DataFrame, num_attrs: int) -> DataFrame:
    """Narrow mapInArrow unpack of BLOCK rows into cluster rows
    (STATE_SCHEMA) — no shuffle; summary rows pass through re-shaped."""

    boot = make_worker_boot()

    def unpack(batches):
        boot()  # stat-guard zipimport invalidation (operators/workerboot.py)
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            import pyarrow.compute as pc

            summ = tbl.filter(tbl.column("is_summary"))
            blocks = tbl.filter(pc.equal(tbl.column("is_summary"), False))
            out = []
            pids = blocks.column("partition_id").to_pylist()
            for i in range(blocks.num_rows):
                ps = _blocks_to_partition_state(blocks.slice(i, 1), num_attrs)
                out.append(
                    _ps_cluster_body_pa(
                        ps, np.full(ps.num_entities, pids[i], dtype=np.int32)
                    )
                )
            for i in range(summ.num_rows):
                out.append(
                    _summary_row_pa(
                        _PA_STATE_SCHEMA,
                        summ.column("partition_id")[i].as_py(),
                        summ.column("loglik")[i].as_py(),
                        summ.column("n_isolates")[i].as_py(),
                        summ.column("agg_dist")[i].as_py(),
                        summ.column("rec_dist_hist")[i].as_py(),
                    )
                )
            if out:
                for b in pa.concat_tables(out).to_batches():
                    yield b

    return block_df.mapInArrow(unpack, STATE_SCHEMA)


def run_fused_sweeps(
    ps: PartitionState,
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
    seed: int,
    num_partitions: int,
    pid: int,
    n_sweeps: int,
) -> PartitionState:
    """`n_sweeps` consecutive Markov transitions over one partition's state.

    Shared by both executors of :func:`_advance` (the Spark ``applyInArrow``
    kernel and the driver-local loop), so they produce bit-identical chains.
    Sweep ``j`` uses rng seed ``seed + j*num_partitions + pid`` — exactly
    the seed an unfused chain gives iteration ``j``. On a single-partition
    chain θ is redrawn in place between sweeps: the partition's distortion
    counts are the global counts, so this is the same Beta posterior the
    driver would sample (ref: GibbsUpdates.scala:305-320). On a
    multi-partition chain the given θ holds for ALL sweeps
    (``transition_multisweep``): a per-sweep local redraw would sample from
    partition-local counts, a different model.

    The state is canonicalized on entry (content-determined row order), so
    the chain does not depend on shuffle fetch order — the property that
    makes the data-keyed seeds actually deliver retry/AQE-proof results on
    multi-partition chains."""
    num_attrs = cache.num_attributes
    num_files = len(cache.file_ids)
    ps = canonicalize_partition_state(ps)
    th = theta
    for j in range(n_sweeps):
        rng = np.random.default_rng(seed + j * num_partitions + pid)
        if j > 0 and num_partitions == 1:
            _, _, agg, _ = partition_summary(ps, cache)
            th = draw_theta(rng, cache, agg.reshape(num_attrs, num_files))
        ps = transition_partition(rng, ps, cache, th, mode)
    return ps


def _murmur3_int(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32 of one int32, bit-identical to Spark's ``F.hash`` /
    ``HashPartitioning`` (seed 42; multi-column hashes chain the previous
    hash as the next seed). Public algorithm (Austin Appleby, public domain);
    pinned against Spark in tests/test_er_mcmc.py."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = x & 0xFFFFFFFF
    k = (k * c1) & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = (k * c2) & 0xFFFFFFFF
    h = seed & 0xFFFFFFFF
    h ^= k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # finalization: 4 bytes hashed
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


#: memoized salt Column expressions keyed by (num_partitions, num_buckets)
#: — Column objects are immutable and plan-independent, so one expression
#: serves every iteration of every chain at that width. Unbounded growth
#: impossible in practice (a session uses a handful of widths). Values are
#: ``(weakref-to-SparkContext, expr)`` (r13 ADVICE): a Column is backed by
#: a py4j JVM object owned by ONE gateway — after a SparkContext restart in
#: the same process a cached expression references a dead JVM object and
#: every transition at that width would fail with an opaque py4j error, so
#: entries built under a different (or collected) context are rebuilt.
_SALT_EXPR_CACHE: dict = {}


def _kernel_salts(num_partitions: int, num_buckets: int) -> list[int] | None:
    """Per-partition salt values making ``pmod(hash(pid, salt), num_buckets)``
    pairwise distinct — each kernel group gets its OWN shuffle bucket, hence
    its own task.

    Hash-partitioning p group keys into m buckets collides two keys with
    probability ~p²/2m (birthday), and a collision serializes two
    compute-heavy kernels inside one task — at p=4, m=32 the stock hash
    really does collide (pids 1 and 3). Growing m instead would need m ~ p²
    for collision-freeness, which is absurd at p=1000; a driver-side salt
    search is O(m log m) once per transition and exact for any p <= m.
    Returns None when p > m (exact placement impossible; plain grouping is
    no worse then)."""
    if num_partitions > num_buckets:
        return None
    used: set[int] = set()
    salts: list[int] = []
    for pid in range(num_partitions):
        seed = _murmur3_int(pid)
        s = 0
        while True:
            b = _murmur3_int(s, seed) % num_buckets  # Python % == Spark pmod
            if b not in used:
                used.add(b)
                salts.append(s)
                break
            s += 1
    return salts


def _salted_group(
    df: DataFrame, num_partitions: int, num_buckets: int | None = None
) -> tuple[DataFrame, list[str]]:
    """Attach the collision-free salt column and return (df, grouping keys).

    The kernel still reads ``key[0]`` for the partition id, and the salt is a
    pure function of partition_id, so chains are bit-identical with or
    without it — only task *placement* changes. ``num_buckets`` is the
    shuffle width the iteration query will run with (``_kernel_exec_conf``
    scopes ``spark.sql.shuffle.partitions`` to the same value); when None,
    the session conf is read as a fallback."""
    if num_partitions <= 1:
        return df, ["partition_id"]
    if num_buckets is not None:
        m = num_buckets
    else:
        spark = df.sparkSession
        try:
            # Non-numeric values (e.g. "auto" on some platforms) or an AQE
            # initialPartitionNum override make the bucket prediction wrong;
            # placement is only an optimization, so degrade to unsalted.
            m = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:  # noqa: BLE001 - conf absent or non-numeric
            return df, ["partition_id"]
    salts = _kernel_salts(num_partitions, m)
    if salts is None:
        return df, ["partition_id"]
    # Column expressions are plan-independent; memoize per (p, m) so the
    # per-iteration driver cost is one withColumn, not p+3 py4j
    # expression-construction round-trips (the transition loop calls this
    # every iteration — measured ~17 ms/iter at p=4 rebuilt fresh)
    key = (num_partitions, m)
    sc = df.sparkSession.sparkContext
    hit = _SALT_EXPR_CACHE.get(key)
    # validate the cached Column was built under the LIVE context (a
    # weakref, not id(), because CPython reuses ids after GC)
    expr = hit[1] if hit is not None and hit[0]() is sc else None
    if expr is None:
        arr = F.array(*[F.lit(s) for s in salts])
        expr = F.element_at(arr, F.col("partition_id") + 1)
        _SALT_EXPR_CACHE[key] = (weakref.ref(sc), expr)
    return (
        df.withColumn("__kernel_salt", expr),
        ["partition_id", "__kernel_salt"],
    )


@contextmanager
def _kernel_exec_conf(spark: SparkSession, shuffle_partitions: int | None = None):
    """Run the iteration query with AQE partition coalescing OFF and (when
    ``shuffle_partitions`` is given) the shuffle width pinned to the kernel
    count.

    The coalescer's cost model is bytes-based; a kernel group is a few MB of
    state but seconds of compute, so AQE happily merges all groups into one
    task (observed: a 4-partition RLdata10000 iteration ran as ONE task),
    silently serializing the partition parallelism the sampler exists to
    exploit. SQLConf is snapshotted when the action starts, so scoping the
    toggles around the materializing collect confines them to iteration
    queries; analytic queries keep coalescing (there it is the right
    behavior).

    Pinning ``spark.sql.shuffle.partitions`` to p kills the empty-bucket
    tasks: at the default 32 buckets a p=4 iteration schedules 32 map + 32
    reduce tasks of which 56 carry nothing — measured ~0.1 s/iteration of
    pure scheduling on local[32]. With width p and the collision-free salts
    (``_kernel_salts(p, p)``) each kernel owns exactly one bucket, so steady
    state runs p map + p reduce tasks. Placement quality is unchanged (the
    salt search is exact for any p <= m, and here m == p)."""
    keys = {"spark.sql.adaptive.coalescePartitions.enabled": "false"}
    if shuffle_partitions is not None and shuffle_partitions >= 1:
        keys["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    olds: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            olds[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 - conf may be unset
            olds[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in olds.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def _resolve_cache(cache_ref) -> RecordsCache:
    """Accept either a bare RecordsCache or a ``sc.broadcast`` handle.

    On executors the broadcast path hits the worker-process broadcast
    registry, so the ~7 MB cache is deserialized once per worker instead of
    once per task per iteration."""
    from pyspark.broadcast import Broadcast

    return cache_ref.value if isinstance(cache_ref, Broadcast) else cache_ref


def make_transition_kernel_arrow(
    cache: RecordsCache,
    theta: np.ndarray,
    mode: str,
    seed: int,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    n_sweeps: int = 1,
    num_partitions: int = 1,
):
    """Build the ``applyInArrow`` kernel for one Spark step: ``n_sweeps``
    fused sweeps (``run_fused_sweeps``) per partition group. theta/seed are
    captured in the closure — the Python-native equivalent of the
    reference's per-iteration distProbs broadcast (ref: State.scala:83-84).
    The state crosses the JVM/Python boundary as packed Arrow buffers. The
    kernel accepts EITHER cluster rows (first transition after init/load)
    or BLOCK rows (steady state, detected by the ``counts`` column) and
    always emits BLOCK rows — grouped Arrow execution costs ~30-40us per
    input row, so keeping the loop in block format turns the group
    boundary from O(clusters) rows into O(p) per kernel."""
    cache_ref = cache
    num_attrs = _resolve_cache(cache_ref).num_attributes
    boot = make_worker_boot()

    def kernel(key: tuple, tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        boot()  # stat-guard zipimport invalidation (operators/workerboot.py)
        cache = _resolve_cache(cache_ref)
        pid = int(key[0].as_py())
        tbl = tbl.filter(pc.equal(tbl.column("is_summary"), False))
        if tbl.num_rows == 0:
            return _PA_BLOCK_SCHEMA.empty_table()
        if "counts" in tbl.schema.names:
            ps = _blocks_to_partition_state(tbl, num_attrs)
        else:
            ps = _pa_to_partition_state(tbl, num_attrs)
        ps = run_fused_sweeps(
            ps, cache, theta, mode, seed, num_partitions, pid, n_sweeps
        )
        new_pids = partition_fn(ps.entities)
        return _block_output_table(ps, new_pids, pid, cache)

    return kernel


def _cache_ref(state: State, df: DataFrame):
    """Lazily broadcast the cache (once per chain) and return the handle to
    capture in kernel closures; falls back to the bare object if broadcast
    creation fails (placement/size optimizations must never break the
    chain). A failure is memoized (``cache_bcast = (id, False)``) so a
    broken context is not re-attempted every transition. The successful
    handle lives as long as the State holds it — the ContextCleaner
    reclaims the broadcast blocks once the last State referencing it is
    garbage collected, the normal Spark broadcast lifecycle.

    The memo is keyed by a WEAKREF to the cache it was built from (r5
    ADVICE): a State built with a DIFFERENT cache but a carried-over
    ``cache_bcast`` (e.g. via ``dataclasses.replace``) would otherwise
    silently run kernels against the stale broadcast; an identity mismatch
    re-broadcasts instead (a weakref, not ``id()``, because ids are reused
    after GC)."""
    memo = state.cache_bcast
    if not (
        isinstance(memo, tuple)
        and len(memo) == 2
        and memo[0]() is state.cache
    ):
        try:
            handle = df.sparkSession.sparkContext.broadcast(state.cache)
        except Exception:  # noqa: BLE001 - e.g. mocked/stopped context
            handle = False
        state.cache_bcast = (weakref.ref(state.cache), handle)
    handle = state.cache_bcast[1]
    return handle if handle else state.cache


def _release_state_df(old_df) -> None:
    """Free a retired state DataFrame's storage NOW, not at GC time.

    ``DataFrame.unpersist`` only clears the CacheManager entry; a
    ``localCheckpoint``'ed state's storage lives on the CHECKPOINT RDD
    inside its LogicalRDD plan, which survives until the py4j object is
    garbage collected and the ContextCleaner gets to it. Measured on the
    1M-record chain (r13): one leaked ~60 MB cached RDD per iteration,
    monotone growth — a 1,000-iteration production run would pin ~60 GB
    of storage it never reads again. Reaching through the analyzed plan
    for ``.rdd()`` (only LogicalRDD has it; anything else raises and is
    ignored) releases the blocks immediately."""
    if old_df is None:
        return
    try:
        old_df.unpersist()
    except Exception:  # noqa: BLE001 — may be unpersisted already
        pass
    try:
        old_df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — not a checkpointed plan
        pass


def _consume_state_dfs(state: State, old_dfs) -> None:
    """Release retired checkpoint storage and mark the predecessor consumed
    (``StateConsumedError`` on any later read/advance). Only marks when
    the state actually LOSES readable content: a predecessor that still
    holds ``local_parts`` stays legitimately readable — its DataFrame
    forms were lazy Arrow materializations of the numpy state (never
    checkpointed; the release calls are no-ops on them), and the numpy
    state itself is untouched (r14 review fix: a transition_local state
    advanced through the distributed path was falsely marked)."""
    released = False
    for old_df in old_dfs:
        if old_df is not None:
            _release_state_df(old_df)
            released = True
    if released and state.local_parts is None:
        state._released = True


def _df_to_local_parts(
    df: DataFrame, num_attrs: int
) -> dict[int, PartitionState]:
    """Collect a cluster-row state DataFrame over Arrow into driver-local
    per-partition states."""
    import pyarrow.compute as pc

    tbl = df.toArrow()
    tbl = tbl.filter(pc.equal(tbl.column("is_summary"), False))
    pids = np.unique(tbl.column("partition_id").to_numpy(zero_copy_only=False))
    return {
        int(pid): _pa_to_partition_state(
            tbl.filter(pc.equal(tbl.column("partition_id"), int(pid))),
            num_attrs,
        )
        for pid in pids
    }


def _reduce_summaries(parts, cache: RecordsCache) -> SummaryVars:
    """Finish the per-partition summary reduction on the driver, summing
    ``(loglik, n_isolates, agg_dist, rec_dist_hist)`` tuples in the order
    given."""
    A, Fn = cache.num_attributes, len(cache.file_ids)
    loglik, n_iso = 0.0, 0
    agg = np.zeros(A * Fn, dtype=np.int64)
    hist = np.zeros(A + 1, dtype=np.int64)
    for ll, ni, ag, hs in parts:
        loglik += ll
        n_iso += int(ni)
        agg += np.asarray(ag, dtype=np.int64)
        hist += np.asarray(hs, dtype=np.int64)
    return SummaryVars(
        num_isolates=n_iso,
        log_likelihood=float(loglik),
        agg_distortions=agg.reshape(A, Fn),
        rec_distortions=hist,
    )


def _execute_local(
    state: State, theta: np.ndarray, mode: str, n_sweeps: int
) -> tuple[dict[int, PartitionState], SummaryVars]:
    """Driver-local executor: sweep each partition's numpy state in pid
    order, reduce their post-sweep, pre-migration summaries in pid order
    (what the Spark kernel emits in-band), then migrate clusters to the
    partition of their new entity values with an in-memory split + concat.
    Launches no Spark job once the chain holds ``local_parts``."""
    cache, p = state.cache, state.num_partitions
    parts = state.local_parts
    if parts is None:
        parts = _df_to_local_parts(state.df, cache.num_attributes)
    swept = {
        pid: run_fused_sweeps(
            parts[pid], cache, theta, mode, state.current_seed, p, pid, n_sweeps
        )
        for pid in sorted(parts)
    }
    summary = _reduce_summaries(
        (partition_summary(swept[pid], cache) for pid in sorted(swept)), cache
    )
    buckets: dict[int, list[PartitionState]] = {}
    for pid in sorted(swept):
        ps = swept[pid]
        for t, sub in split_partition_state(
            ps, state.partition_fn(ps.entities)
        ).items():
            buckets.setdefault(t, []).append(sub)
    migrated = {t: concat_partition_states(subs) for t, subs in buckets.items()}
    return migrated, summary


def _execute_spark(
    state: State,
    theta: np.ndarray,
    mode: str,
    n_sweeps: int,
    phase_sink: dict[str, float] | None,
    t0: float,
) -> tuple[DataFrame, SummaryVars]:
    """Spark executor: the salted ``groupBy(...).applyInArrow`` block
    kernel (one shuffle; clusters migrate by virtue of the *next* groupBy),
    a lazy ``localCheckpoint``, then ``collect_summary`` — the action that
    materializes the checkpoint, so the step costs one collect."""
    # steady state keeps the chain in block format (O(p) grouped rows per
    # kernel); entry from init/load/assign/local feeds cluster rows once
    src = state.block_df if state.block_df is not None else state.df
    p = state.num_partitions
    df_in, keys = _salted_group(src, p, num_buckets=p)
    # _kernel_exec_conf must wrap localCheckpoint too: the checkpoint call
    # builds the QueryExecution (and snapshots SQLConf) even though the lazy
    # materialization only happens at the summary collect below.
    with _kernel_exec_conf(df_in.sparkSession, shuffle_partitions=p):
        kernel = make_transition_kernel_arrow(
            _cache_ref(state, df_in), theta, mode, state.current_seed,
            state.partition_fn, n_sweeps, p,
        )
        # Truncate lineage every step: the DataFrame analogue of the
        # reference's persist + periodic checkpoint (ref: Sampler.scala:56,
        # util/PeriodicCheckpointer.scala) — without this the plan grows per
        # iteration and Catalyst analysis time dominates.
        new_df = (
            df_in.groupBy(*keys)
            .applyInArrow(kernel, BLOCK_SCHEMA)
            .localCheckpoint(eager=False)
        )
        t1 = time.time()
        summary = collect_summary(new_df, state.cache)
        if phase_sink is not None:
            phase_sink["plan"] = t1 - t0
            phase_sink["job"] = time.time() - t1
    return new_df, summary


def _advance(
    state: State,
    mode: str,
    n_sweeps: int,
    *,
    local: bool,
    phase_sink: dict[str, float] | None = None,
) -> State:
    """The one Markov step behind every public transition (ref:
    State.scala:78-99 `nextState`): θ drawn once on the driver from the
    previous global summary, ``n_sweeps`` kernel sweeps per partition
    (``run_fused_sweeps``), cluster migration, summary reduction — run by
    the driver-local executor (``local``) or the Spark executor. Both
    produce the same chain; the seed advances ``n_sweeps`` per partition.

    CONSUMES its input past iteration 0: the previous state's checkpoint
    storage is released once the new state materializes (pre-r13 this
    leaked ~60 MB/iteration at 1M records), so reading or advancing a
    STALE mid-chain handle raises ``StateConsumedError`` by name instead
    of a raw CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND from deep inside Spark.
    Iteration-0 roots and ``assign_partitions`` forks stay readable.

    ``phase_sink`` (bench/profiling only, Spark executor): receives
    ``{"plan": s, "job": s}`` — the driver-side cost (θ draw, salt column,
    kernel plan build + cloudpickle, lazy-checkpoint Catalyst planning) vs
    the Spark work (scan → shuffle → Python kernels → checkpoint
    materialization → summary collect)."""
    if state._released:
        raise StateConsumedError(
            f"transition: state at iteration {state.iteration} was already "
            "consumed by a later transition; advance the state the last "
            "transition returned, or fork from the chain root / an "
            "assign_partitions result"
        )
    t0 = time.time()
    theta = draw_theta(state.rng, state.cache, state.summary.agg_distortions)
    if local:
        parts, summary = _execute_local(state, theta, mode, n_sweeps)
        block_df = None
    else:
        block_df, summary = _execute_spark(
            state, theta, mode, n_sweeps, phase_sink, t0
        )
        parts = None
    # never release the chain ROOT (iteration 0): init states are
    # legitimately reused as fork points (part.fit(s0.df) after a warm
    # fused transition; multi-partitioning sweeps); from iteration 1 on
    # the predecessor is genuinely retired chain state
    old_dfs = [state._df, state.block_df] if state.iteration > 0 else []
    new_state = replace(
        state,
        iteration=state.iteration + n_sweeps,
        _df=None,
        block_df=block_df,
        local_parts=parts,
        theta=theta,
        summary=summary,
        current_seed=state.current_seed + n_sweeps * state.num_partitions,
    )
    _consume_state_dfs(state, old_dfs)
    return new_state


def transition(
    state: State, mode: str, phase_sink: dict[str, float] | None = None
) -> State:
    """One Markov transition as one Spark step: θ update (driver Beta
    draws) → partition kernels (one shuffle) → in-band summary collection.
    Consumes its input past iteration 0; see :func:`_advance`."""
    return _advance(state, mode, 1, local=False, phase_sink=phase_sink)


def transition_fused(
    state: State, mode: str, n_sweeps: int, local: bool = True
) -> State:
    """``n_sweeps`` Markov transitions in one step of a single-partition
    chain.

    Only valid for single-partition chains: no clusters can migrate, and the
    partition's distortion counts are the global counts, so the per-sweep θ
    update (M15) can run inside the sweep loop. A single-partition chain has
    no distributable work — it IS a driver-sized problem (the reference runs
    these on local[1], docs/guide.md:132-141) — so by default the sweeps run
    driver-local on the cached numpy state, skipping the Arrow round-trip
    and job-scheduling floor entirely; `state.df` rematerializes lazily when
    a DataFrame consumer (chain writer, save) needs it. ``local=False``
    runs the same sweeps as one Spark step. Both executors produce
    bit-identical chains. The chain is statistically identical to the
    unfused sampler (same kernels, same seeds per sweep); only θ's RNG
    stream differs, so a fused run is not bit-identical to an unfused one.
    """
    if state.num_partitions != 1:
        raise ValueError("transition_fused requires a single-partition chain")
    if n_sweeps < 1:
        raise ValueError("n_sweeps must be >= 1")
    return _advance(state, mode, n_sweeps, local=local)


def transition_multisweep(
    state: State, mode: str, n_sweeps: int,
    phase_sink: dict[str, float] | None = None,
) -> State:
    """``n_sweeps`` kernel sweeps per Spark job on a MULTI-partition chain
    — the distributed fusion ``transition_fused`` provides for p=1.

    The measured per-iteration floor is structural: ~0.157s of driver
    plan-build + Python-job scheduling per transition at rl10k p=4, one
    job per iteration being the reference's own cadence (ref:
    State.scala:78-99). Fusing k sweeps into each job amortizes that floor
    k× — the kernels loop k times on the partition state they already hold
    in memory, so the extra sweeps cost only their numpy compute.

    CHAIN-SEMANTICS DIFFERENCE vs k unfused transitions (opt-in, k=1 is
    bit-identical to ``transition`` — pinned in tests/test_er_mcmc.py):

    - **Migration every k sweeps.** Clusters move to the partition of
      their (new) entity values only at job boundaries, so for sweeps
      2..k a cluster whose entity drifted across a KD-tree cell boundary
      keeps sampling against its OLD partition's inverted index. Same
      class of approximation the partitioned model already makes within
      one sweep; it relaxes k× further.
    - **θ every k sweeps.** θ is drawn ONCE per job from the previous
      global summary and held fixed for all k sweeps (a per-sweep redraw
      inside a partition would sample from partition-LOCAL distortion
      counts — a different posterior). The (θ, linkage) blocked scan
      remains a valid sampler, just on a k-sweep cadence.

    MEASURED quality cost (rl10k reference config, 1000-iteration chains,
    2 partitions): F1/ARI 0.764 at k=1, 0.725 at k=2, 0.713 at k=8; a
    2000-iteration k=8 chain lands 0.703, so extra length does NOT buy the
    cadence back. Throughput at p=4 scales 4.7/10.6/20.2/37.8 it/s for
    k=1/2/4/8. Use k>1 where throughput binds (burn-in, exploratory runs)
    and k=1 for the chains whose samples you keep — the measured
    best-of-both is ``SamplerOptions.multisweep_burnin_k``: burn-in at k=8
    + sampling at k=1 lands F1/ARI 0.772 on the same workload.

    AT SCALE the sweet spot SHRINKS (BENCH_1M_MULTISWEEP_r15.json, 1M
    records): the per-job floor is a small share of a 1M iteration, so the
    win saturates at k=2 (1.63x/1.42x/1.42x sec-per-iter at p=8/16/32) and
    larger k erodes it (k=8: 1.12x/0.97x/1.12x). Recommended k by regime:
    job-floor-bound chains (rl10k-class) take k=8 burn-in; kernel-bound 1M+
    chains take k=2."""
    if n_sweeps < 1:
        raise ValueError("n_sweeps must be >= 1")
    return _advance(state, mode, n_sweeps, local=False, phase_sink=phase_sink)


def transition_local(state: State, mode: str) -> State:
    """One Markov transition executed entirely on the driver.

    Same chain as :func:`transition` — per-partition kernels with seed
    ``current_seed + pid``, θ drawn once from the driver RNG, clusters
    migrated to the partition of their new entity values — without the
    per-iteration Spark job: kernels run sequentially on cached numpy
    states and migration is an in-memory split + concat. Float
    log-likelihood sums match the Spark executor bit-exactly for ≤2
    partitions (IEEE addition is commutative) and to reordering rounding
    beyond that (pinned by tests/test_er_mcmc.py::test_executor_parity).

    Use when the whole state comfortably fits on the driver — the sampler
    gates it on total record count. The Spark executor remains the
    strategy at scale; this removes the per-iteration job floor that
    dominates driver-sized problems."""
    return _advance(state, mode, 1, local=True)


class PartitionBudgetError(RuntimeError):
    """A partition's packed state would exceed the configured memory budget
    (or Arrow's hard per-cell ceiling). Raised at ``assign_partitions`` time
    — fail fast on the driver instead of an executor OOM / Arrow overflow
    mid-chain. The fix is always the same: more, smaller partitions
    (``KDTreePartitioner(num_levels=...)`` +1 halves the largest one)."""


#: Arrow binary cells use 32-bit offsets: one packed buffer (the largest is
#: rec_values at 4*R*A bytes) must stay below 2^31 bytes or the kernel's
#: Arrow marshal overflows. This ceiling is structural, not configurable.
_ARROW_CELL_LIMIT = (1 << 31) - 1

#: Default per-partition packed-state budget. The whole partition is
#: materialized in one grouped-Arrow task (the reference shares the
#: limitation — SURVEY §4: "spill is not handled"; ref:
#: GibbsUpdates.scala:175-184 likewise collects the full partition), and
#: the kernel's numpy working set runs a small multiple of the packed
#: bytes, so 2 GiB packed keeps a task comfortably inside a typical
#: 8-16 GiB executor. Override per call or via
#: ``DBLINK_PARTITION_BUDGET_MB``; 0 disables the soft budget (Arrow
#: hard-ceiling check only — see ``audit_partition_budget``).
_DEFAULT_PARTITION_BUDGET_MB = 2048


def audit_partition_budget(
    state_df: DataFrame,
    num_attributes: int,
    budget_bytes: int | None = None,
) -> list[dict]:
    """Per-partition packed-state byte estimate, checked against the budget.

    One cheap aggregation job over the (already checkpointed) cluster rows:
    for each partition, E clusters and R records pack to
    ``4*A*E + 4*E`` (ent_values + counts) plus the record blobs
    (rec_values 4*R*A, rec_dist R*A — measured exactly via octet_length),
    plus rec_id payload (utf-8 bytes + 4*R lengths) and fids (4*R) — the
    BLOCK_SCHEMA wire format's exact widths.

    Raises :class:`PartitionBudgetError` when any partition exceeds the
    budget, or when its largest single Arrow cell would exceed the 2^31
    hard ceiling regardless of budget. Returns the per-partition stats
    (sorted by bytes, descending) for diagnostics/tests.

    ``budget_bytes=0`` (or ``DBLINK_PARTITION_BUDGET_MB=0``) is the
    explicit opt-out sentinel (ADVICE r8): deployments that deliberately
    run partitions above the default 2 GiB — executors with real headroom
    — disable the soft budget without losing the STRUCTURAL 2^31 Arrow
    cell check, which is never skippable (exceeding it corrupts the
    kernel marshal, not just memory)."""
    import os

    if budget_bytes is None:
        budget_bytes = (
            int(os.environ.get(
                "DBLINK_PARTITION_BUDGET_MB", _DEFAULT_PARTITION_BUDGET_MB
            ))
            << 20
        )
    if budget_bytes < 0:
        # only the EXPLICIT 0 sentinel disables the soft budget (ADVICE r9:
        # a typo'd DBLINK_PARTITION_BUDGET_MB=-2048 must not silently opt out)
        raise ValueError(
            f"partition budget must be >= 0 (0 disables the soft budget); "
            f"got {budget_bytes} bytes"
        )
    rows = (
        state_df.filter(~F.col("is_summary"))
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("E"),
            F.sum(F.size("rec_ids")).alias("R"),
            F.sum(
                F.octet_length("rec_values") + F.octet_length("rec_dist")
            ).alias("blob_bytes"),
            F.sum(
                F.aggregate(
                    "rec_ids",
                    F.lit(0).cast("long"),
                    lambda acc, rid: acc + F.octet_length(rid),
                )
            ).alias("id_bytes"),
        )
        .collect()
    )
    stats = []
    for r in rows:
        e, rec, blob, ids = int(r["E"]), int(r["R"] or 0), int(
            r["blob_bytes"] or 0
        ), int(r["id_bytes"] or 0)
        packed = 4 * num_attributes * e + 4 * e + blob + ids + 8 * rec
        stats.append(
            {
                "partition_id": int(r["partition_id"]),
                "n_clusters": e,
                "n_records": rec,
                "packed_bytes": packed,
                "max_cell_bytes": max(4 * rec * num_attributes, ids),
            }
        )
    stats.sort(key=lambda s: -s["packed_bytes"])
    if stats:
        worst = stats[0]
        guidance = (
            "increase the partitioner's granularity — e.g. "
            "KDTreePartitioner(num_levels=+1) halves the largest partition "
            "— or raise DBLINK_PARTITION_BUDGET_MB if the executors have "
            "headroom"
        )
        if worst["max_cell_bytes"] > _ARROW_CELL_LIMIT:
            raise PartitionBudgetError(
                f"partition {worst['partition_id']} packs a "
                f"{worst['max_cell_bytes']:,}-byte Arrow cell "
                f"(> 2^31-1 hard ceiling; {worst['n_records']:,} records x "
                f"{num_attributes} attributes): {guidance}"
            )
        if budget_bytes > 0 and worst["packed_bytes"] > budget_bytes:
            raise PartitionBudgetError(
                f"partition {worst['partition_id']} packs "
                f"{worst['packed_bytes']:,} bytes "
                f"({worst['n_clusters']:,} clusters, "
                f"{worst['n_records']:,} records) > budget "
                f"{budget_bytes:,}: {guidance}"
            )
    return stats


def assign_partitions(
    state: State,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    num_partitions: int,
    partition_budget_bytes: int | None = None,
) -> State:
    """Re-key every cluster row to a (newly fitted) partition function.

    Init runs under SinglePartition (the KD-tree fits on the *initialized*
    entity values), so without this remap the whole first transition would
    execute as ONE kernel group in a single task — a memory/straggler trap
    at scale. The reference initializes partitions with the fitted partition
    function (ref: State.scala:244-270); this is the DataFrame equivalent:
    a narrow mapInPandas (no shuffle — the first groupBy in transition()
    co-locates), re-checkpointed so the remap computes once.

    After the remap, :func:`audit_partition_budget` fails fast (with
    actionable guidance) if any partition's packed state would not fit the
    per-partition memory budget — the one scale ceiling this execution
    model has (each partition is materialized whole in one grouped-Arrow
    task; the reference shares it, SURVEY §4 "spill is not handled").
    """
    boot = make_worker_boot()

    def assign_pid(batches):
        boot()  # stat-guard zipimport invalidation (operators/workerboot.py)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.copy()
            mask = ~pdf["is_summary"]
            if mask.any():
                ents = np.stack(
                    [np.asarray(v, dtype=np.int32) for v in pdf.loc[mask, "ent_values"]]
                )
                pdf.loc[mask, "partition_id"] = partition_fn(ents).astype(np.int32)
            pdf["partition_id"] = pdf["partition_id"].astype(np.int32)
            yield pdf

    new_df = state.df.mapInPandas(assign_pid, STATE_SCHEMA).localCheckpoint(eager=True)
    audit_partition_budget(
        new_df, state.cache.num_attributes, partition_budget_bytes
    )
    # NO release of the input state's frames: assign_partitions is a FORK,
    # not an advance — callers legitimately re-key the SAME source state
    # under several partitioners (the bench's 1/2/4-part sweeps, probe
    # tools), so the input must stay readable (releasing here broke the
    # second assign_partitions(s0, ...) with
    # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    new_state = replace(
        state,
        _df=new_df,
        block_df=None,
        local_parts=None,
        partition_fn=partition_fn,
        num_partitions=num_partitions,
        # fresh chains get the seed an init at P partitions would have had;
        # a mid-chain re-partition (not the normal path) keeps its stream
        current_seed=(
            state.start_seed + num_partitions
            if state.iteration == 0
            else state.current_seed
        ),
    )
    return new_state


def draw_theta(
    rng: np.random.Generator, cache: RecordsCache, agg_dist: np.ndarray
) -> np.ndarray:
    """θ_(attr,file) ~ Beta(α + D, β + n − D) on the driver
    (ref: GibbsUpdates.scala:305-320)."""
    A = cache.num_attributes
    files = cache.file_ids
    theta = np.empty((A, len(files)), dtype=np.float64)
    for a, attr in enumerate(cache.attributes):
        prior = attr.distortion_prior
        for f, fid in enumerate(files):
            n = cache.file_sizes[fid]
            d = float(agg_dist[a, f])
            theta[a, f] = rng.beta(prior.alpha + d, prior.beta + n - d)
    return theta


def collect_summary(state_df: DataFrame, cache: RecordsCache) -> SummaryVars:
    """Collect the in-band per-partition summary rows (num_partitions of
    them) and finish the reduction on the driver."""
    rows = state_df.filter(F.col("is_summary")).select(
        "loglik", "n_isolates", "agg_dist", "rec_dist_hist"
    ).collect()
    return _reduce_summaries((tuple(r) for r in rows), cache)


def prior_log_likelihood_term(
    cache: RecordsCache, theta: np.ndarray, agg_dist: np.ndarray
) -> float:
    """Driver-side distortion-prior contribution to the log-likelihood
    (ref: GibbsUpdates.scala:283-293)."""
    total = 0.0
    for a, attr in enumerate(cache.attributes):
        prior = attr.distortion_prior
        for f, fid in enumerate(cache.file_ids):
            n = cache.file_sizes[fid]
            d = float(agg_dist[a, f])
            th = float(theta[a, f])
            total += (prior.alpha + d - 1.0) * np.log(th) + (
                prior.beta + n - d - 1.0
            ) * np.log(1.0 - th)
    return total


# ---------------------------------------------------------------------------
# Deterministic initialization (ref: State.scala:205-334)
# ---------------------------------------------------------------------------


def init_state(
    spark: SparkSession,
    records: DataFrame,
    cache: RecordsCache,
    partition_fn: Callable[[np.ndarray], np.ndarray],
    num_partitions: int,
    seed: int,
    population_size: int | None = None,
) -> State:
    """Deterministic initial state: record i (in a stable global order) links
    to entity i mod popSize; entity values copy the first linked record's
    values with missing imputed from the empirical distributions; distortion
    flags start true iff record and entity values disagree; leftover entity
    ids become isolates with random values.

    The reference initializes per-RDD-partition with a bin-packing heuristic
    (State.scala:244-270); a stable global row_number gives the same model
    semantics with cleaner determinism.
    """
    # One agg job both sizes the problem and enforces the reference's
    # documented-but-unchecked precondition that rec_id is globally unique
    # (Project.scala:39): canonicalize_partition_state's determinism (and
    # with it the retry/AQE-proof claim) relies on rec_id sort keys being
    # collision-free, so duplicates must fail fast here, not corrupt chains.
    counts = records.agg(
        F.count("*").alias("n"), F.count_distinct("rec_id").alias("n_ids")
    ).first()
    n_records = counts["n"]
    if counts["n_ids"] != n_records:
        raise ValueError(
            f"rec_id must be globally unique across files: {n_records} records "
            f"but only {counts['n_ids']} distinct rec_ids (ref: Project.scala:39)"
        )
    pop = population_size if population_size is not None else n_records
    if pop <= 0:
        raise ValueError("population size must be positive")

    encoded = encode_records(records, cache)
    file_index = {fid: i for i, fid in enumerate(cache.file_ids)}
    num_attrs = cache.num_attributes
    indexes = cache.indexes

    def _impute_and_cluster(vals: np.ndarray, rec_rows: pd.DataFrame, rng):
        """One cluster row from a group of records (first record seeds the
        entity values; missing imputed from the empirical distributions)."""
        ent_values = vals[0].copy()
        for a in range(num_attrs):
            if ent_values[a] < 0:
                ent_values[a] = sample_from_probs(rng, indexes[a].probs, 1)[0]
        dist = (vals >= 0) & (vals != ent_values[None, :])
        return {
            "partition_id": 0,
            "is_summary": False,
            "ent_values": ent_values.tolist(),
            "rec_ids": rec_rows["rec_id"].tolist(),
            "rec_fids": [file_index[f] for f in rec_rows["file_id"]],
            "rec_values": vals.astype("<i4").tobytes(),
            "rec_dist": dist.astype(np.uint8).tobytes(),
            "loglik": None,
            "n_isolates": None,
            "agg_dist": None,
            "rec_dist_hist": None,
        }

    if pop >= n_records:
        # Fast path (the common case): every record seeds its own entity —
        # no shuffle at all, one mapInPandas over the encoded records.
        # Imputation RNG is keyed on (seed, crc32(rec_id)) so results do not
        # depend on input partitioning.
        import zlib

        boot = make_worker_boot()

        def init_map(batches):
            boot()  # operators/workerboot.py
            for pdf in batches:
                rows = []
                for i in range(len(pdf)):
                    vals = np.asarray(pdf["values"].iloc[i], dtype=np.int32).reshape(
                        1, num_attrs
                    )
                    rng = np.random.default_rng(
                        (seed, zlib.crc32(str(pdf["rec_id"].iloc[i]).encode()))
                    )
                    rows.append(_impute_and_cluster(vals, pdf.iloc[i : i + 1], rng))
                yield pd.DataFrame(rows) if rows else pd.DataFrame(
                    columns=[f.name for f in STATE_SCHEMA.fields]
                )

        clusters = encoded.mapInPandas(init_map, STATE_SCHEMA)
    else:
        # pop < n_records: records share entities round-robin over a stable
        # global order (ref: State.scala:276 `i mod numEntities`).
        #
        # A global row_number() window would funnel the whole dataset
        # through ONE task; instead use the zipWithIndex pattern, fully
        # distributed: range-repartition on the sort key (partition i holds
        # keys < partition i+1 — a total order since (file_id, rec_id) is
        # unique), count per partition, prefix-sum the tiny count vector on
        # the driver, then stamp __ridx = offset[pid] + local position with
        # a narrow mapInPandas. Two jobs over a checkpointed input, no
        # single-partition exchange anywhere.
        n_parts = max(int(spark.sparkContext.defaultParallelism), 1)
        ordered = (
            encoded.repartitionByRange(n_parts, "file_id", "rec_id")
            .sortWithinPartitions("file_id", "rec_id")
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        counts = {
            r["__pid"]: r["cnt"]
            for r in ordered.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
        }
        offsets: dict[int, int] = {}
        acc = 0
        for p in sorted(counts):
            offsets[p] = acc
            acc += counts[p]

        ridx_schema = ordered.withColumn("__ridx", F.lit(0).cast("long")).schema

        boot = make_worker_boot()

        def stamp_ridx(batches):
            boot()  # operators/workerboot.py
            seen = 0  # mapInPandas runs once per partition: counter is local
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                base = offsets[int(pdf["__pid"].iloc[0])]
                pdf = pdf.copy()
                pdf["__ridx"] = base + seen + np.arange(len(pdf), dtype=np.int64)
                seen += len(pdf)
                yield pdf

        numbered = ordered.mapInPandas(stamp_ridx, ridx_schema).withColumn(
            "__ent", (F.col("__ridx") % pop).cast("long")
        )

        boot = make_worker_boot()

        def init_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            boot()  # operators/workerboot.py
            rng = np.random.default_rng((seed, int(key[0])))
            pdf = pdf.sort_values("__ridx")
            vals = np.stack([np.asarray(v, dtype=np.int32) for v in pdf["values"]])
            return pd.DataFrame([_impute_and_cluster(vals, pdf, rng)])

        clusters = numbered.groupBy("__ent").applyInPandas(init_kernel, STATE_SCHEMA)

    if pop > n_records:
        # isolates with empirical random values
        iso_rows = []
        rng = np.random.default_rng(seed + pop)
        for e in range(n_records, pop):
            ent_values = [
                int(sample_from_probs(rng, indexes[a].probs, 1)[0])
                for a in range(num_attrs)
            ]
            iso_rows.append(
                (0, False, ent_values, [], [], b"", b"", None, None, None, None)
            )
        clusters = clusters.unionByName(spark.createDataFrame(iso_rows, STATE_SCHEMA))

    # assign entity-space partitions via the fitted partition function
    # (mapInPandas: narrow, no shuffle — the first groupBy in transition()
    # does the co-location shuffle)
    boot = make_worker_boot()

    def assign_pid(batches):
        boot()  # operators/workerboot.py
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ents = np.stack([np.asarray(v, dtype=np.int32) for v in pdf["ent_values"]])
            pdf = pdf.copy()
            pdf["partition_id"] = partition_fn(ents).astype(np.int32)
            yield pdf

    clusters = clusters.mapInPandas(assign_pid, STATE_SCHEMA)
    state_df = clusters.localCheckpoint(eager=True)

    # initial summaries: distortion counts via a distributed partial count
    # over the packed rec_dist blobs — one bincount per Arrow batch, a tiny
    # (fid, pos, cnt) frame shuffled to the final groupBy
    # (loglik is reported from iteration 1; θ only needs agg_dist)
    A, Fn = num_attrs, len(cache.file_ids)

    boot = make_worker_boot()

    def dist_counts(batches):
        boot()  # operators/workerboot.py
        for pdf in batches:
            if len(pdf) == 0:
                continue
            fids = np.concatenate(
                [np.asarray(f, dtype=np.int64) for f in pdf["rec_fids"]]
            ) if len(pdf) else np.empty(0, dtype=np.int64)
            if fids.size == 0:
                continue
            dist = np.frombuffer(
                b"".join(bytes(d) for d in pdf["rec_dist"]), dtype=np.uint8
            ).reshape(-1, A)
            # key = fid * A + pos, counted only where distorted
            keys = (fids[:, None] * A + np.arange(A)[None, :])[dist.astype(bool)]
            cnt = np.bincount(keys, minlength=Fn * A)
            nz = np.flatnonzero(cnt)
            yield pd.DataFrame(
                {
                    "fid": (nz // A).astype(np.int64),
                    "pos": (nz % A).astype(np.int64),
                    "cnt": cnt[nz].astype(np.int64),
                }
            )

    pairs = (
        state_df.filter(~F.col("is_summary"))
        .select("rec_fids", "rec_dist")
        .mapInPandas(dist_counts, "fid long, pos long, cnt long")
        .groupBy("fid", "pos")
        .agg(F.sum("cnt").alias("count"))
        .collect()
    )
    agg = np.zeros((A, Fn), dtype=np.int64)
    for r in pairs:
        agg[r["pos"], r["fid"]] = r["count"]
    summary = SummaryVars(
        # every entity below min(pop, n) holds a record: the fast path seeds
        # one per record, and ridx % pop covers 0..pop-1 when pop < n
        num_isolates=max(pop - n_records, 0),
        log_likelihood=float("nan"),
        agg_distortions=agg,
        rec_distortions=np.zeros(A + 1, dtype=np.int64),
    )

    rng = np.random.default_rng(seed)
    return State(
        iteration=0,
        _df=state_df,
        spark=spark,
        theta=np.array(
            [
                [a.distortion_prior.mean] * Fn
                for a in cache.attributes
            ]
        ),
        population_size=pop,
        summary=summary,
        partition_fn=partition_fn,
        num_partitions=num_partitions,
        start_seed=seed,
        current_seed=seed + num_partitions,
        cache=cache,
        rng=rng,
    )
