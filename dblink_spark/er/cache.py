"""RecordsCache: dataset statistics + dictionary encoding.

The reference gathers per-file sizes, per-attribute value counts, and
missing counts in a single RDD foreach with map-accumulators
(ref: RecordsCache.scala:74-106) and encodes records via a broadcast
string→id map (ref: RecordsCache.scala:120-134).

Spark-first rebuild:
- statistics are ONE stacked aggregation: the matching attributes are
  unpivoted to (file_id, attr, value) rows and counted per triple (map-side
  partial aggregation — the accumulator pattern). The Σ files × Σ |domain|
  result rows come back once through Arrow; file sizes, missing counts (the
  null rows) and each attribute's sorted domain with its weights are
  finished in numpy on the driver;
- the neighbour pairs of every Levenshtein attribute come back in one more
  job (`index.build_attribute_indexes`);
- dictionary encoding is the reference's value→id map: one narrow
  mapInArrow looks every attribute value up in its index's sorted value
  array, missing → -1. No join, no shuffle.

The resulting `RecordsCache` (attribute indexes + file sizes) is a small
Python object broadcast into the MCMC kernels.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from dblink_spark.er.attributes import Attribute, BetaParams
from dblink_spark.er.index import AttributeIndex, build_attribute_indexes
from dblink_spark.operators.workerboot import make_worker_boot


@dataclass
class RecordsCache:
    attributes: list[Attribute]
    indexes: list[AttributeIndex]
    file_sizes: dict[str, int]
    missing_counts: dict[tuple[str, int], int]  # (file_id, attr_id) -> count

    @property
    def num_records(self) -> int:
        return sum(self.file_sizes.values())

    @property
    def num_attributes(self) -> int:
        return len(self.attributes)

    @property
    def file_ids(self) -> list[str]:
        return sorted(self.file_sizes)

    def distortion_priors(self) -> list[BetaParams]:
        return [a.distortion_prior for a in self.attributes]


def build_records_cache(
    records: DataFrame,
    attributes: list[Attribute],
    expected_max_cluster_size: int = 10,
) -> RecordsCache:
    """Gather stats and build per-attribute indexes.

    `records` schema: rec_id string, file_id string, and one string column
    per matching attribute (nulls = missing).
    """
    stacked = records.select(
        "file_id",
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("attr"), F.col(a.name).cast("string").alias("value")
                    )
                    for i, a in enumerate(attributes)
                ]
            )
        ),
    )
    tbl = stacked.groupBy("file_id", "attr", "value").count().toArrow()
    fids, attr_ids, values, counts = (
        tbl.column(c).to_numpy(zero_copy_only=False)
        for c in ("file_id", "attr", "value", "count")
    )
    missing = tbl.column("value").is_null().to_numpy(zero_copy_only=False)

    # every record contributes exactly one row per attribute
    first = attr_ids == 0
    file_keys, inv = np.unique(fids[first], return_inverse=True)
    file_sizes = {
        f: int(n) for f, n in zip(file_keys.tolist(), np.bincount(inv, weights=counts[first]))
    }
    missing_counts = {
        (f, int(a)): int(n)
        for f, a, n in zip(fids[missing], attr_ids[missing], counts[missing])
    }

    # per-attribute domains, ids by sorted value: numpy sorts str objects by
    # code point, the same order as Spark's UTF-8 binary orderBy
    domains = []
    for i, attr in enumerate(attributes):
        mine = (attr_ids == i) & ~missing
        dom, inv = np.unique(values[mine], return_inverse=True)
        weights = np.bincount(inv, weights=counts[mine], minlength=len(dom))
        domains.append((dom, weights, attr.sim_fn))
    indexes = build_attribute_indexes(
        records.sparkSession, domains, range(1, expected_max_cluster_size + 1)
    )

    return RecordsCache(
        attributes=attributes,
        indexes=indexes,
        file_sizes=file_sizes,
        missing_counts=missing_counts,
    )


def encode_records(records: DataFrame, cache: RecordsCache) -> DataFrame:
    """Dictionary-encode record attribute values to dense int ids.

    Returns: rec_id string, file_id string, values array<int> (missing = -1).
    One narrow mapInArrow: a value's id is its position in the index's
    sorted value array (the `_value_to_id` map), found with Arrow's hash
    lookup (ref semantics: RecordsCache.scala:120-134, valueIdxOf per
    attribute).
    """
    value_sets = [pa.array(idx.values.tolist(), pa.string()) for idx in cache.indexes]
    num_attrs = len(value_sets)
    boot = make_worker_boot()

    def encode(batches):
        boot()  # operators/workerboot.py
        for batch in batches:
            n = batch.num_rows
            ids = np.empty((n, num_attrs), dtype=np.int32)
            for a, value_set in enumerate(value_sets):
                ids[:, a] = (
                    pc.index_in(batch.column(2 + a), value_set=value_set)
                    .fill_null(-1)
                    .to_numpy(zero_copy_only=False)
                )
            offsets = pa.array(np.arange(0, n * num_attrs + 1, num_attrs, dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pa.ListArray.from_arrays(offsets, pa.array(ids.ravel())),
                ],
                names=["rec_id", "file_id", "values"],
            )

    return records.select(
        F.col("rec_id").cast("string"),
        F.col("file_id").cast("string"),
        *[F.col(a.name).cast("string") for a in cache.attributes],
    ).mapInArrow(encode, "rec_id string, file_id string, values array<int>")


def with_file_id(records: DataFrame, file_id_col: str | None) -> DataFrame:
    """Normalize the optional file-identifier column (ref: State.scala:359-375
    defaults fileId to "0" when absent)."""
    if file_id_col is None:
        return records.withColumn("file_id", F.lit("0"))
    return records.withColumn("file_id", F.col(file_id_col).cast("string"))
