"""Compressed bucket blocks — Arrow-backed Gorilla layer as an operator.

Turns a (keys..., ts, metrics...) tier into one row per (keys...,
block_start) holding delta-of-delta-compressed timestamps and
XOR/delta-compressed metric columns (:mod:`grass_spark.functions.compress`),
plus byte-level lineage (raw vs compressed sizes).  The inverse operator
restores the original rows bit-exactly.

This is the engine's counterpart of GRASS's per-row raster compression
(``lib/gis/compress.c:21-27``) — but time-series-aware.  The only Python
in either plan is whole-array numpy over Arrow record batches (the
BASELINE "zero per-row Python" rule).

Encode plan: hash-repartition by the keys into ``defaultParallelism``
partitions (observed from the session; an explicit count is one AQE
cannot merge, so every core encodes), sort within partitions by (keys,
block, ts) so each block is a contiguous run, then ``mapInArrow``.  Each
Arrow batch is encoded by the segmented kernels (``encode_*_many``): one
vectorized pass per stream over all the batch's blocks, not one Python
call per block.  A block that runs past the end of a batch is carried
into the next one, so a task holds at most one batch plus one block.
Values and validity are read straight from the Arrow arrays — int64
metrics never pass through a float64 carrier.

Scale notes: a block spans one ``block`` period (``"day"`` by default;
the rollup pipeline's block store uses ``"month"``) of one key.  Block
rows are ~5-50x smaller than their input, so everything downstream of
the codec is cheap.  Decode (``decompress_blocks``) is ``mapInPandas``
and iterates blocks, each decoded by whole-array numpy.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grass_spark.functions import compress as C


def _next_differs(col: pa.Array) -> np.ndarray:
    """Whether row ``i + 1`` differs from row ``i``, by Spark's grouping
    equality (NULL equals NULL, NaN equals NaN)."""
    a, b = col.slice(0, len(col) - 1), col.slice(1)
    same = pc.equal(a, b)
    if pa.types.is_floating(col.type):
        same = pc.or_kleene(same, pc.and_kleene(pc.is_nan(a), pc.is_nan(b)))
    if col.null_count:
        same = pc.coalesce(same, pc.equal(pc.is_null(a), pc.is_null(b)))
    return ~same.to_numpy(zero_copy_only=False)


def _run_starts(batch: pa.RecordBatch, cols: list[str]) -> np.ndarray:
    """Row index where each run of equal ``cols`` begins (always 0 first)."""
    new = np.zeros(batch.num_rows, dtype=bool)
    new[0] = True
    for c in cols:
        new[1:] |= _next_differs(batch.column(c))
    return np.flatnonzero(new)


def _whole_blocks(batches, cols: list[str]):
    """Re-cut sorted Arrow batches so no block is split: yields
    ``(batch, block_starts)`` pairs.  The last block of each batch may
    continue in the next one, so it is carried over; the carry is one
    block at most."""
    carry = None
    for batch in batches:
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
        if batch.num_rows == 0:
            continue
        starts = _run_starts(batch, cols)
        if starts[-1] > 0:
            yield batch.slice(0, starts[-1]), starts[:-1]
        carry = batch.slice(starts[-1])
    if carry is not None:
        yield carry, np.zeros(1, dtype=np.int64)


def _local_micros(col: pa.Array) -> np.ndarray:
    """Wall-clock microseconds in the session time zone — the values a
    pandas UDF would see, and what ``decompress_blocks`` reads back as
    naive timestamps."""
    if col.type.tz is not None:
        col = pc.local_timestamp(col)
    return col.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(zero_copy_only=False)


def _validity(col: pa.Array) -> np.ndarray:
    if col.null_count == 0:
        return np.ones(len(col), dtype=bool)
    return col.is_valid().to_numpy(zero_copy_only=False)


def _binary(encoded: tuple[np.ndarray, np.ndarray]) -> pa.Array:
    """Arrow ``binary`` array over a segmented kernel's (buffer, offsets)."""
    buf, offsets = encoded
    arr = pa.Array.from_buffers(
        pa.large_binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets), pa.py_buffer(buf)],
    )
    return arr.cast(pa.binary())


def _encode_partition(
    batches, *, keys: list[str], ts_col: str,
    float_cols: list[str], int_cols: list[str],
):
    """mapInArrow body: one output row per block of a (keys, _block,
    ts)-sorted partition."""
    for batch, starts in _whole_blocks(batches, [*keys, "_block"]):
        lens = np.diff(starts, append=batch.num_rows)
        first = pa.array(starts)
        out = {k: batch.column(k).take(first) for k in keys}
        out["block_start"] = batch.column("_block").take(first)
        out["n"] = pa.array(lens)
        ts_blob = C.encode_timestamps_many(
            _local_micros(batch.column(ts_col)), starts, lens
        )
        comp = np.diff(ts_blob[1])
        metrics = {}
        for m in float_cols + int_cols:
            col = batch.column(m)
            if m in float_cols:
                # NULL slots read as NaN; the validity bitmap marks them
                blob = C.encode_floats_many(
                    col.to_numpy(zero_copy_only=False), starts, lens
                )
            else:
                blob = C.encode_ints_many(
                    col.fill_null(0).to_numpy(), starts, lens
                )
            valid = C.encode_validity_many(_validity(col), starts, lens)
            comp += np.diff(blob[1]) + np.diff(valid[1])
            metrics[f"{m}_blob"] = _binary(blob)
            metrics[f"{m}_valid"] = _binary(valid)
        out["ts_blob"] = _binary(ts_blob)
        out["raw_bytes"] = pa.array(lens * 8 * (1 + len(float_cols) + len(int_cols)))
        out["comp_bytes"] = pa.array(comp)
        out.update(metrics)
        yield pa.RecordBatch.from_pydict(out)


def compress_blocks(
    df: DataFrame,
    *,
    keys: list[str] | None = None,
    ts_col: str = "bucket_start",
    float_cols: list[str] | None = None,
    int_cols: list[str] | None = None,
    block: str = "day",
) -> DataFrame:
    """One compressed block per (keys..., date_trunc(block, ts))."""
    keys = ["conv_id"] if keys is None else list(keys)
    float_cols = list(float_cols or [])
    int_cols = list(int_cols or [])
    metric_cols = float_cols + int_cols

    key_fields = ", ".join(
        f"{k} {t}" for k, t in df.select(*keys).dtypes
    )
    blob_fields = ", ".join(
        [f"{m}_blob binary, {m}_valid binary" for m in metric_cols]
    )
    schema = (
        f"{key_fields}, block_start timestamp, n bigint, "
        f"ts_blob binary, raw_bytes bigint, comp_bytes bigint"
        + (", " + blob_fields if blob_fields else "")
    )

    par = df.sparkSession.sparkContext.defaultParallelism
    runs = (
        df.select(*keys, ts_col, *metric_cols)
        .withColumn("_block", F.date_trunc(block, F.col(ts_col)))
        .repartition(par, *keys)
        .sortWithinPartitions(*keys, "_block", ts_col)
    )
    encode = partial(
        _encode_partition, keys=keys, ts_col=ts_col,
        float_cols=float_cols, int_cols=int_cols,
    )
    return runs.mapInArrow(encode, schema=schema)


def decompress_blocks(
    blocks: DataFrame,
    *,
    keys: list[str] | None = None,
    ts_col: str = "bucket_start",
    float_cols: list[str] | None = None,
    int_cols: list[str] | None = None,
) -> DataFrame:
    """Inverse of :func:`compress_blocks` — bit-exact restore."""
    keys = ["conv_id"] if keys is None else list(keys)
    float_cols = list(float_cols or [])
    int_cols = list(int_cols or [])

    key_fields = ", ".join(
        f"{k} {t}" for k, t in blocks.select(*keys).dtypes
    )
    out_fields = ", ".join(
        [f"{m} double" for m in float_cols] + [f"{m} bigint" for m in int_cols]
    )
    schema = f"{key_fields}, {ts_col} timestamp" + (
        ", " + out_fields if out_fields else ""
    )

    def decode(batches):
        for pdf in batches:
            frames = []
            for _, r in pdf.iterrows():   # iterates BLOCKS, not rows
                n = int(r["n"])
                ts = C.decode_timestamps(r["ts_blob"]).astype("datetime64[us]")
                d: dict = {k: np.repeat(r[k], n) for k in keys}
                d[ts_col] = ts
                for m in float_cols:
                    vals = C.decode_floats(r[f"{m}_blob"])
                    valid = C.decode_validity(r[f"{m}_valid"], n)
                    vals = np.where(valid, vals, np.nan)
                    d[m] = vals
                for m in int_cols:
                    # pandas nullable Int64 (masked), NOT float64+NaN:
                    # values above 2^53 would silently lose precision in
                    # a float carrier, breaking the bit-exact contract
                    vals = C.decode_ints(r[f"{m}_blob"])
                    valid = C.decode_validity(r[f"{m}_valid"], n)
                    d[m] = pd.arrays.IntegerArray(
                        vals.astype("int64"), mask=~valid
                    )
                frames.append(pd.DataFrame(d))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return blocks.mapInPandas(decode, schema=schema)


def report_columns() -> list:
    """The five codec metrics as aggregate columns (``agg`` or ``observe``)."""
    return [
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum("n").alias("n_points"),
        F.sum("raw_bytes").alias("raw_bytes"),
        F.sum("comp_bytes").alias("comp_bytes"),
        F.round(F.sum("raw_bytes") / F.sum("comp_bytes"), 3).alias("ratio"),
    ]


def compression_report(blocks: DataFrame) -> DataFrame:
    """Aggregate codec metrics (lineage for the manifest)."""
    return blocks.agg(*report_columns())
