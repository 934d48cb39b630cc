"""The read queries of the ``tier_reads`` mix, each paired with its check.

Every query returns a :class:`Answer`: rows returned, the raw turns
those rows summarize, and the number of rows that disagree with the
independent answer from :mod:`checks`.  The same queries, restricted to
the sampled conversations, form the final correctness gate of the write
workloads.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass
from datetime import timedelta

import pandas as pd
from pyspark.sql import functions as F

from grass_spark.operators.aggregate import aggregate
from grass_spark.operators.gapfill import gapfill

import checks as C
from procstat import stopwatch

#: hours with at least this many tool calls form the gappy hourly
#: series that ``gapfill_series`` fills (conversations are continuous,
#: so their t1d/t1h series of all turns have no gaps to fill)
GAPFILL_MIN_TOOL_CALLS = 22


@dataclass
class Answer:
    rows: int
    turns: int
    mismatches: int
    seconds: float      # wall time of the Spark work, without the check


class Reference:
    """Independent tier values for a set of raw turns (pandas)."""

    def __init__(self, raw: pd.DataFrame):
        self.raw = raw
        self._tiers: dict[str, pd.DataFrame] = {}

    def tier(self, name: str) -> pd.DataFrame:
        if name not in self._tiers:
            self._tiers[name] = C.reference_tier(self.raw, name)
        return self._tiers[name]


class ReadQueries:
    def __init__(self, bench, pipe, raw_path: str, ref: Reference):
        self.b = bench
        self.spark = bench.spark
        self.pipe = pipe
        self.raw_path = raw_path
        self.ref = ref

    @contextmanager
    def timed(self, span: str):
        """Span ``span`` around the Spark work; yields a dict that holds
        the span record (``rec``, None when tracing is off) and, after
        the block, its wall seconds (``s``)."""
        with self.b.tr.span(span) as rec, stopwatch() as w:
            box = {"rec": rec}
            yield box
        box.update(w)

    def note(self, box: dict, **attrs) -> None:
        if box["rec"] is not None:
            box["rec"].update(attrs)

    # -- tier reads ----------------------------------------------------
    def point_series(self, conv: str) -> Answer:
        cols = ["conv_id", "bucket_start", "turn_cnt", "len_cnt", "len_sum", "len_avg"]
        with self.timed("read.point_series") as t:
            got = (self.pipe.read_tier(self.spark, "t1h")
                   .filter(F.col("conv_id") == conv).select(*cols).toPandas())
        self.note(t, rows=len(got))
        exp = self.ref.tier("t1h")
        exp = exp[exp["conv_id"] == conv]
        exp = exp.assign(len_avg=exp["len_sum"].astype("float64")
                         / exp["len_cnt"].astype("float64"))
        bad = C.diff_rows(got, exp, cols[2:], rtol=1e-12)
        return Answer(len(got), int(got["turn_cnt"].sum()), bad, t["s"])

    def fleet_daily(self, days: int = 7) -> Answer:
        t1d = self.ref.tier("t1d")
        last = C.as_ns(t1d["bucket_start"]).max()
        lo = last - timedelta(days=days - 1)
        sums = ["turn_cnt", "tool_calls", "len_sum"]
        with self.timed("read.fleet_daily") as t:
            got = (self.pipe.read_tier(self.spark, "t1d")
                   .filter(F.col("d") >= lo.strftime("%Y-%m-%d"))
                   .groupBy("bucket_start")
                   .agg(*[F.sum(c).alias(c) for c in sums],
                        F.count(F.lit(1)).alias("convs"))
                   .toPandas())
        self.note(t, rows=len(got))
        exp = t1d[C.as_ns(t1d["bucket_start"]) >= lo]
        exp = (exp.groupby("bucket_start")[sums].sum()
               .assign(convs=exp.groupby("bucket_start").size()).reset_index())
        bad = C.diff_rows(got, exp, [*sums, "convs"], keys=["bucket_start"])
        return Answer(len(got), int(got["turn_cnt"].sum()), bad, t["s"])

    # -- gap fill --------------------------------------------------------
    def gapfill_series(self, convs: list[str]) -> Answer:
        vals = ["turn_cnt", "tool_calls"]
        with self.timed("gapfill.query") as t:
            src = (self.pipe.read_tier(self.spark, "t1h")
                   .filter(F.col("conv_id").isin(convs)
                           & (F.col("tool_calls") >= GAPFILL_MIN_TOOL_CALLS))
                   .select("conv_id", "bucket_start", *vals))
            got = gapfill(src, "1 hour", value_cols=vals).toPandas()
        t1h = self.ref.tier("t1h")
        present = t1h[t1h["conv_id"].isin(convs)
                      & (t1h["tool_calls"] >= GAPFILL_MIN_TOOL_CALLS)]
        exp = C.reference_gapfill(present[["conv_id", "bucket_start", *vals]], vals, "h")
        self.note(t, rows_in=len(present), rows_out=len(got))
        bad = C.diff_rows(got, exp, vals, rtol=1e-12)
        return Answer(len(got), int(present["turn_cnt"].sum()), bad, t["s"])

    # -- holistic stats from raw ----------------------------------------
    def holistic_hourly(self, convs: list[str]) -> Answer:
        with self.timed("aggregate.query") as t:
            src = (self.spark.read.parquet(self.raw_path)
                   .filter(F.col("conv_id").isin(convs))
                   .withColumn("len", F.length("text")))
            got = (aggregate(src, "1 hour", ["median", "average"], value_col="len")
                   .select("conv_id", "bucket_start", "median", "average")
                   .toPandas())
        raw = self.ref.raw[self.ref.raw["conv_id"].isin(convs)]
        exp = C.reference_holistic(raw)
        bad = C.diff_rows(got, exp, ["median", "average"], rtol=1e-12)
        return Answer(len(got), len(raw), bad, t["s"])

    # -- block store -------------------------------------------------------
    def blocks_decode(self, lo: str, hi: str, month_start, month_end) -> Answer:
        with self.timed("blocks.decode") as t:
            got = (self.pipe.read_tier_from_blocks(self.spark, "t1m")
                   .filter(F.col("conv_id").between(lo, hi)
                           & (F.col("bucket_start") >= F.lit(month_start))
                           & (F.col("bucket_start") < F.lit(month_end)))
                   .toPandas())
        t1m = self.ref.tier("t1m")
        ts = C.as_ns(t1m["bucket_start"])
        exp = t1m[t1m["conv_id"].between(lo, hi)
                  & (ts >= pd.Timestamp(month_start)) & (ts < pd.Timestamp(month_end))]
        bad = C.diff_rows(got, exp, C.INT_METRICS)
        return Answer(len(got), int(got["turn_cnt"].sum()), bad, t["s"])

    def blocks_roundtrip(self, convs: list[str]) -> Answer:
        """Decode the store's t1m blocks for ``convs`` and compare them
        with the t1m tier as stored, and that with the raw recompute."""
        stored = (self.pipe.read_tier(self.spark, "t1m")
                  .filter(F.col("conv_id").isin(convs))
                  .select("conv_id", "bucket_start", *C.INT_METRICS)
                  .toPandas())
        self.b.group("gate:blocks_decode")
        with self.timed("blocks.decode") as t:
            got = (self.pipe.read_tier_from_blocks(self.spark, "t1m")
                   .filter(F.col("conv_id").isin(convs)).toPandas())
        bad = C.diff_rows(got, stored, C.INT_METRICS)
        bad += C.diff_rows(stored, self.ref.tier("t1m"), C.INT_METRICS)
        return Answer(len(got), int(got["turn_cnt"].sum()), bad, t["s"])
