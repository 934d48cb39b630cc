"""Gorilla-style codec: numpy round-trips + Spark block operator."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from grass_spark.datagen import synth_transcripts
from grass_spark.functions import compress as C
from grass_spark.operators.blocks import (
    compress_blocks,
    compression_report,
    decompress_blocks,
)
from grass_spark.operators.rollup import rollup_from_raw
from grass_spark.functions.granularity import adjust_datetime_to_granularity


# ---------------- numpy codec ----------------


def test_ts_roundtrip_regular():
    ts = np.arange(0, 60_000_000 * 100, 60_000_000, dtype=np.int64) + 1_700_000_000_000_000
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(ts)), ts)


def test_ts_roundtrip_irregular():
    rng = np.random.default_rng(7)
    deltas = rng.integers(1, 10_000_000, 5000)
    ts = 1_700_000_000_000_000 + np.cumsum(deltas)
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(ts)), ts)


def test_ts_regular_compresses_hard():
    """Perfectly regular cadence -> all dods are 0 -> ~2 bits/value."""
    ts = np.arange(0, 60_000_000 * 10000, 60_000_000, dtype=np.int64)
    blob = C.encode_timestamps(ts)
    assert len(blob) < 10000  # vs 80000 raw bytes (>8x)


def test_float_roundtrip_bitexact():
    rng = np.random.default_rng(3)
    v = rng.normal(250.0, 2.0, 4096)
    v[17] = np.nan
    v[100] = np.inf
    v[101] = -0.0
    out = C.decode_floats(C.encode_floats(v))
    assert np.array_equal(v.view(np.uint64), out.view(np.uint64))  # bit-exact incl NaN


def test_float_constant_compresses():
    v = np.full(5000, 123.456)
    blob = C.encode_floats(v)
    assert len(blob) < 2500  # vs 40000 raw


def test_int_roundtrip():
    rng = np.random.default_rng(5)
    v = np.cumsum(rng.integers(-3, 4, 3000)).astype(np.int64)
    assert np.array_equal(C.decode_ints(C.encode_ints(v)), v)
    big = np.array([0, 2**62, -(2**62), 17], dtype=np.int64)
    assert np.array_equal(C.decode_ints(C.encode_ints(big)), big)


def test_empty_and_single():
    assert len(C.decode_timestamps(C.encode_timestamps(np.array([], dtype=np.int64)))) == 0
    one = np.array([1_700_000_000_000_000], dtype=np.int64)
    assert np.array_equal(C.decode_timestamps(C.encode_timestamps(one)), one)
    assert C.decode_floats(C.encode_floats(np.array([3.14])))[0] == 3.14


def test_validity_bitmap():
    m = np.array([True, False, True, True, False])
    assert np.array_equal(C.decode_validity(C.encode_validity(m), 5), m)


def test_bad_header_rejected():
    with pytest.raises(ValueError):
        C.decode_floats(b"\x00" * 16)


# ---------------- segmented kernels ----------------


_MANY = [
    (C.encode_timestamps_many, C.encode_timestamps),
    (C.encode_ints_many, C.encode_ints),
    (C.encode_floats_many, C.encode_floats),
    (C.encode_validity_many, C.encode_validity),
]


def _split(encoded) -> list[bytes]:
    buf, offsets = encoded
    return [bytes(buf[a:b]) for a, b in zip(offsets[:-1], offsets[1:])]


def _random_values(rng, one, n: int) -> np.ndarray:
    """Values of the kind ``one`` encodes, drawn to hit every class."""
    pick = rng.integers(4)
    if one is C.encode_validity:
        return [np.zeros(n, bool), np.ones(n, bool), rng.random(n) < 0.5,
                rng.random(n) < 0.05][pick]
    if one is C.encode_floats:
        v = [rng.normal(250.0, 2.0, n), np.full(n, 1.5),
             rng.normal(0, 1e300, n), rng.integers(0, 3, n).astype(float)][pick]
        special = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0,
                            np.uint64(0xFFF8_0000_0000_0001).view(np.float64)])
        hit = rng.random(n) < 0.2
        v[hit] = rng.choice(special, hit.sum())
        return v
    edge = np.array([2**62, -(2**62), 0, 2**63 - 1, -(2**63)], dtype=np.int64)
    v = [np.cumsum(rng.integers(0, 120_000_000, n)) + 1_700_000_000_000_000,
         rng.integers(-(2**62), 2**62, n, dtype=np.int64),
         np.cumsum(rng.integers(-3, 4, n)),
         rng.choice(edge, n)][pick]
    return np.asarray(v, dtype=np.int64)


@pytest.mark.parametrize("many, one", _MANY, ids=lambda f: f.__name__)
def test_many_kernels_match_per_block(many, one):
    """Each segmented kernel returns, block for block, exactly the bytes
    of the per-block reference encoder."""
    rng = np.random.default_rng(20)
    for _ in range(60):
        n_blocks = int(rng.integers(1, 12))
        lens = rng.choice([0, 1, 2, 3, 64, 257], n_blocks)
        lens[rng.random(n_blocks) < 0.3] = rng.integers(1, 2000)
        values = _random_values(rng, one, int(lens.sum()))
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        want = [one(values[s:s + n]) for s, n in zip(starts, lens)]
        assert _split(many(values, starts, lens)) == want
        # blocks given as arbitrary slices (gaps, any order) encode the same
        order = rng.permutation(n_blocks)
        spaced = np.concatenate([np.concatenate((values[s:s + n], values[:3]))
                                 for s, n in zip(starts[order], lens[order])])
        gap_starts = np.concatenate(([0], np.cumsum(lens[order] + min(3, len(values)))[:-1]))
        assert _split(many(spaced, gap_starts, lens[order])) == [want[i] for i in order]


@pytest.mark.parametrize("many, one", _MANY, ids=lambda f: f.__name__)
def test_many_kernels_empty_input(many, one):
    empty = np.array([], dtype=bool if one is C.encode_validity else np.int64)
    buf, offsets = many(empty, [], [])
    assert len(buf) == 0 and list(offsets) == [0]


# ---------------- Spark block operator ----------------


@pytest.fixture(scope="module")
def tier(spark):
    raw = synth_transcripts(spark, n_convs=20, avg_turns=40, seed=3)
    t0 = raw.agg(F.min("ts")).collect()[0][0]
    origin = adjust_datetime_to_granularity(t0, "1 minute")
    t = rollup_from_raw(raw, "1 minute", origin, ["conv_id"]).withColumn(
        "len_avg", F.col("len_sum") / F.col("len_cnt")
    )
    return t.cache()


def test_block_roundtrip(spark, tier):
    blocks = compress_blocks(
        tier, ts_col="bucket_start",
        float_cols=["len_avg"], int_cols=["turn_cnt", "len_sum"],
    )
    back = decompress_blocks(
        blocks, ts_col="bucket_start",
        float_cols=["len_avg"], int_cols=["turn_cnt", "len_sum"],
    )
    orig = tier.select(
        "conv_id", "bucket_start",
        F.col("len_avg").cast("double"),
        F.col("turn_cnt").cast("double"),
        F.col("len_sum").cast("double"),
    )
    got = back.select(
        "conv_id", "bucket_start",
        F.col("len_avg").cast("double"),
        F.col("turn_cnt").cast("double"),
        F.col("len_sum").cast("double"),
    )
    assert orig.exceptAll(got).count() == 0
    assert got.exceptAll(orig).count() == 0


def test_block_compression_ratio(spark, tier):
    blocks = compress_blocks(
        tier, ts_col="bucket_start",
        float_cols=["len_avg"], int_cols=["turn_cnt", "len_sum"],
    )
    rep = compression_report(blocks).collect()[0]
    assert rep["n_points"] == tier.count()
    assert rep["ratio"] > 2.0, f"weak compression: {rep['ratio']}"


def test_block_one_per_conv_day(spark, tier):
    blocks = compress_blocks(
        tier, ts_col="bucket_start", int_cols=["turn_cnt"],
    )
    dup = (
        blocks.groupBy("conv_id", "block_start").count().filter("count > 1").count()
    )
    assert dup == 0


def test_int_decode_exact_above_2_53(spark):
    """ADVICE round-1: int64 values above 2^53 must restore bit-exactly
    (the decode path uses a masked Int64 carrier, not float64+NaN)."""
    from datetime import datetime, timedelta

    big = 2**60 + 12345
    rows = [
        ("c", datetime(2024, 1, 1) + timedelta(minutes=i), big + i)
        for i in range(5)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, v bigint"
    )
    blocks = compress_blocks(df, ts_col="bucket_start", int_cols=["v"])
    back = decompress_blocks(blocks, ts_col="bucket_start", int_cols=["v"])
    got = sorted(r["v"] for r in back.collect())
    assert got == [big + i for i in range(5)]


def test_int_null_decode_exact_above_2_53(spark):
    """A NULL in a block must not push its int64 values through a float64
    carrier: the encoder reads values and validity from Arrow directly."""
    from datetime import datetime, timedelta

    big = 2**60 + 12345
    want = [None if i == 2 else big + i for i in range(5)]
    rows = [
        ("c", datetime(2024, 1, 1) + timedelta(minutes=i), v)
        for i, v in enumerate(want)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start timestamp, v bigint"
    )
    blocks = compress_blocks(df, ts_col="bucket_start", int_cols=["v"])
    back = decompress_blocks(blocks, ts_col="bucket_start", int_cols=["v"])
    got = [r["v"] for r in back.orderBy("bucket_start").collect()]
    assert got == want


def test_block_rows_match_per_block_encode(spark, tier):
    """Block rows equal a per-block encode of each (conv_id, day) group
    with the reference ``encode_*`` codecs, byte for byte."""
    ints = ["turn_cnt", "len_sum"]
    blocks = compress_blocks(
        tier, ts_col="bucket_start", float_cols=["len_avg"], int_cols=ints,
    ).toPandas()
    pdf = tier.select("conv_id", "bucket_start", "len_avg", *ints).toPandas()
    pdf["day"] = pdf["bucket_start"].dt.floor("D")
    got = blocks.set_index(["conv_id", "block_start"])
    assert len(got) == pdf.groupby(["conv_id", "day"]).ngroups
    for (conv, day), g in pdf.sort_values("bucket_start").groupby(["conv_id", "day"]):
        row = got.loc[(conv, day)]
        n = len(g)
        ts = g["bucket_start"].to_numpy().astype("datetime64[us]").astype(np.int64)
        assert row["n"] == n
        assert row["ts_blob"] == C.encode_timestamps(ts)
        comp = len(row["ts_blob"])
        assert row["len_avg_blob"] == C.encode_floats(g["len_avg"].to_numpy(np.float64))
        assert row["len_avg_valid"] == C.encode_validity(g["len_avg"].notna().to_numpy())
        for m in ints:
            assert row[f"{m}_blob"] == C.encode_ints(g[m].to_numpy(np.int64))
            assert row[f"{m}_valid"] == C.encode_validity(np.ones(n, bool))
        comp += sum(len(row[f"{m}_blob"]) + (n + 7) // 8 for m in ["len_avg", *ints])
        assert (row["raw_bytes"], row["comp_bytes"]) == (n * 8 * 4, comp)


def test_block_batch_boundary(spark, tier):
    """Blocks longer than one Arrow batch are carried across batches:
    still one row per block, identical bytes, bit-exact round-trip."""
    kw = dict(ts_col="bucket_start", float_cols=["len_avg"],
              int_cols=["turn_cnt", "len_sum"])
    ref = compress_blocks(tier, **kw).localCheckpoint()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        blocks = compress_blocks(tier, **kw)
        assert blocks.agg(F.max("n")).collect()[0][0] > 7
        dup = blocks.groupBy("conv_id", "block_start").count().filter("count > 1")
        assert dup.count() == 0
        assert blocks.exceptAll(ref).count() == 0
        assert ref.exceptAll(blocks).count() == 0
        back = decompress_blocks(blocks, **kw)
        cols = ["conv_id", "bucket_start", "len_avg", "turn_cnt", "len_sum"]
        orig, got = tier.select(*cols), back.select(*cols)
        assert orig.exceptAll(got).count() == 0
        assert got.exceptAll(orig).count() == 0
    finally:
        spark.conf.set(key, old)
