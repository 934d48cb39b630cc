"""The two workloads and the measurement loop around them.

One :class:`Bench` is one run: it starts a ``local[nproc]`` session,
generates its input from the seed, sets up the workload, measures a
closed loop (one client, next operation after the previous one
returns) for the requested seconds, checks every output, and turns what
it saw into metrics.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from grass_spark.datagen import synth_transcripts
from grass_spark.operators.rollup import RollupPipeline
from grass_spark.session import get_spark

import checks as C
from procstat import cpu_times, du, mem_total_mb, steal_share, stopwatch, vm_hwm_kb
from queries import Answer, ReadQueries, Reference
from tracing import Tracer

WORKLOADS = ("append_blocks", "tier_reads")
HOT_CONV = "conv-00000000"
SAMPLE_CONVS = 50     # conversations checked besides the hot one
READ_CONVS = 50       # conversations per gapfill/holistic read
# Day plan over the generator's dense first 30 days (conversation starts
# are spread over Jan 1-30; later days hold only the hot conversation's
# tail).  Base store: every day except Jan 21-23, which are appended one
# per step; every tenth turn of LATE_DAY arrives last, into an already
# rolled-up day.
FIRST_HELD_DAY, LAST_HELD_DAY = "2024-01-21", "2024-01-23"
LATE_DAY = "2024-01-10"
READ_KINDS = ("point_series", "fleet_daily", "gapfill_series",
              "holistic_hourly", "blocks_decode")
DRIVER_MEMORY = "1g"
# A unit of measured work (one append step, one read round) during
# which the machine lost more than this share of its CPU time to other
# guests (steal) is checked but not timed; it is run again instead.
STEAL_LIMIT = 0.05
# Seconds past --seconds after which every unit is timed, disturbed or
# not, so that a run on a busy host still ends with a result.
MEASURE_SLACK_S = 30


@dataclass
class Config:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str                 # scratch root inside the checkout
    convs: int = 200
    avg_turns: int = 500


class Bench:
    def __init__(self, cfg: Config, proc_t0: float):
        if cfg.workload not in WORKLOADS:
            raise ValueError(f"unknown workload {cfg.workload!r}; one of {WORKLOADS}")
        self.cfg = cfg
        self.proc_t0 = proc_t0
        self.tr = Tracer(cfg.trace)
        self.run_dir = os.path.join(cfg.work, "run")
        self.inputs = os.path.join(self.run_dir, "inputs")
        self.raw = os.path.join(self.run_dir, "raw")
        self.store = os.path.join(self.run_dir, "store")   # the store first built
        self.events = os.path.join(self.run_dir, "events")
        self.ops: list[dict] = []          # measured ops: append / read round
        self.unit_steal: list[float] = []  # steal share of each measured unit
        self.disturbed = False             # a unit over STEAL_LIMIT was timed
        self.checked: list[dict] = []      # every checked operation, gate included
        self.rollups: list[dict] = []      # one record per RollupPipeline.run
        self.errors: list[str] = []
        self.part_turns: dict[str, int] = {}   # input part -> turns
        self.part_bytes: dict[str, int] = {}
        self.base_days: set[str] = set()
        self.spark = None
        self._rollup = None                # record of the run() in progress

    # -- session + input ----------------------------------------------------
    def start(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (self.events, tmp):
            os.makedirs(d, exist_ok=True)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["TMPDIR"] = tmp
        # HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
        # says; turn it off so that every file stays inside the work dir
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)
        self.cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.cfg.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.events,
                "spark.eventLog.compress": "false",
            })
        with self.tr.span("session.start"):
            self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)

    def group(self, name: str) -> None:
        """Charge the Spark jobs that follow to ``name``."""
        self.spark.sparkContext.setJobGroup(name, name)
        self.tr.context["group"] = name

    def generate(self) -> None:
        """One seeded ``synth_transcripts`` call, written as the day plan's
        parts: ``base``, ``day-<date>`` per held-back day, ``late``."""
        self.group("setup:datagen")
        c = self.cfg
        with self.tr.span("datagen.gen"):
            df = synth_transcripts(self.spark, n_convs=c.convs,
                                   avg_turns=c.avg_turns, seed=c.seed)
            day = F.date_format("ts", "yyyy-MM-dd")
            part = (F.when((day == LATE_DAY) & (F.col("turn_idx") % 10 == 7), F.lit("late"))
                    .when((day >= FIRST_HELD_DAY) & (day <= LAST_HELD_DAY),
                          F.concat(F.lit("day-"), day))
                    .otherwise(F.lit("base")))
            df.withColumn("part", part).write.partitionBy("part").parquet(self.inputs)
        for r in (self.spark.read.parquet(self.inputs)
                  .groupBy("part", F.date_format("ts", "yyyy-MM-dd").alias("d"))
                  .agg(F.count(F.lit(1)).alias("n")).collect()):
            self.part_turns[r["part"]] = self.part_turns.get(r["part"], 0) + int(r["n"])
            if r["part"] == "base":
                self.base_days.add(r["d"])
        self.part_bytes = {
            p: du(os.path.join(self.inputs, f"part={p}")) for p in self.part_turns
        }
        rng = random.Random(c.seed)
        others = rng.sample(range(1, c.convs), min(SAMPLE_CONVS, c.convs - 1))
        self.sample = [HOT_CONV, *(f"conv-{r:08d}" for r in sorted(others))]
        # pandas copy of the raw turns the checks recompute from: the
        # sampled conversations, or every turn for the read mix
        self.group("setup:reference")
        df = self.spark.read.parquet(self.inputs)
        if c.workload != "tier_reads":
            df = df.filter(F.col("conv_id").isin(self.sample))
        self.raw_pd = df.toPandas()
        # Zipf(1.1) over conversation rank: the hot conversation is the
        # most likely pick of every read
        self.rng = rng
        self.zipf_cum = []
        acc = 0.0
        for r in range(c.convs):
            acc += 1.0 / (r + 1) ** 1.1
            self.zipf_cum.append(acc)

    def zipf_convs(self, n: int) -> list[str]:
        """``n`` distinct Zipf-drawn conversations, the hot one first."""
        picked = {0: None}
        while len(picked) < min(n, self.cfg.convs):
            r = self.rng.choices(range(self.cfg.convs), cum_weights=self.zipf_cum)[0]
            picked[r] = None
        return [f"conv-{r:08d}" for r in picked]

    # -- the rollup pipeline -----------------------------------------------
    def pipeline(self, base_dir: str) -> RollupPipeline:
        """A block-store pipeline over ``base_dir`` (new or copied)."""
        pipe = RollupPipeline(base_dir, layout="auto", compress=True)
        if self.cfg.trace:
            def on_save(rec, _):
                self._rollup["manifest_calls"] += 1

            def on_blocks(rec, codec):
                self._rollup["codec"] = codec

            pipe.manifest._save = self.tr.wrap(pipe.manifest._save, "manifest.save", on_save)
            pipe._write_blocks = self.tr.wrap(pipe._write_blocks, "blocks.write", on_blocks)
        return pipe

    def rollup(self, pipe: RollupPipeline, group: str, parts: list[str],
               incremental: bool) -> dict:
        """One ``RollupPipeline.run`` over the raw turns landed so far;
        returns its wall seconds (``s``)."""
        self.group(group)
        self._rollup = rec = {
            "group": group, "manifest_calls": 0, "codec": None,
            "raw_bytes_appended": sum(self.part_bytes.get(p, 0) for p in parts),
        }
        raw = self.spark.read.parquet(self.raw).drop("part")
        with self.tr.span("rollup.run") as span, stopwatch() as w:
            results = pipe.run(raw, incremental=incremental)
        rec["run_s"] = w["s"]
        rec["span"] = span
        rec["tiers"] = {}
        for res in results:
            entries = [e for e in pipe.manifest.metrics(res.name)
                       if e["part"] in set(res.days_written)]
            rec["tiers"][res.name] = {
                "write_s": res.duration_s, "days": len(res.days_written),
                "rows": res.rows_out,
                "files": sum(e["n_files"] for e in entries),
                "bytes": sum(e["bytes_out"] for e in entries),
            }
        rec["days_appended"] = len(self.days_in(parts))
        self.rollups.append(rec)
        return w

    def days_in(self, parts: list[str]) -> set[str]:
        """Raw days that landing ``parts`` adds turns to."""
        days = set()
        for p in parts:
            if p.startswith("day-"):
                days.add(p[4:])
            elif p == "late":
                days.add(LATE_DAY)
            else:
                days.update(self.base_days)
        return days

    def land(self, part: str, back: bool = False) -> None:
        """Move one input part into the raw landing directory (or, with
        ``back``, out of it again)."""
        src, dst = (self.raw, self.inputs) if back else (self.inputs, self.raw)
        os.makedirs(dst, exist_ok=True)
        os.rename(os.path.join(src, f"part={part}"), os.path.join(dst, f"part={part}"))

    # -- correctness gate ---------------------------------------------------
    def check_tiers(self, pipe: RollupPipeline, raw_sample, parts: list[str]) -> int:
        """Compare the sampled conversations' t1m/t1h/t1d rows with a
        pandas recompute from the raw turns landed so far."""
        self.group("gate:tiers")
        ref = raw_sample[raw_sample["part"].isin(parts)]
        cols = ["conv_id", "bucket_start", *C.INT_METRICS]
        frames = [
            pipe.read_tier(self.spark, t).filter(F.col("conv_id").isin(self.sample))
            .select(F.lit(t).alias("tier"), *cols)
            for t in C.TIER_FREQ
        ]
        union = frames[0]
        for f in frames[1:]:
            union = union.unionByName(f)
        with self.tr.span("read.gate_tiers") as rec:
            got = union.toPandas()
        if rec is not None:
            rec["rows"] = len(got)
        bad = 0
        for t in C.TIER_FREQ:
            bad += C.diff_rows(got[got["tier"] == t], C.reference_tier(ref, t),
                               C.INT_METRICS)
        return bad

    def final_gate(self, pipe: RollupPipeline, raw_sample, parts: list[str]) -> None:
        """Check the finished store's blocks on the sampled conversations.
        A traced run also gap-fills and aggregates the sample, checked, so
        that the gapfill and aggregate layers report figures on this
        workload; the read workload checks those queries on every call."""
        ref = Reference(raw_sample[raw_sample["part"].isin(parts)])
        q = ReadQueries(self, pipe, self.raw, ref)
        checks = [("blocks", lambda: q.blocks_roundtrip(self.sample))]
        if self.cfg.trace:
            checks += [("gapfill", lambda: q.gapfill_series(self.sample)),
                       ("holistic", lambda: q.holistic_hourly(self.sample))]
        for name, fn in checks:
            self.group(f"gate:{name}")
            self.attempt(f"gate_{name}", fn)

    def attempt(self, kind: str, fn) -> dict:
        """Run one checked operation and record it; an exception counts
        as a failure.  ``fn`` returns an :class:`Answer` timing its own
        Spark work, so the pandas check is not part of the latency."""
        try:
            ans = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            self.errors.append(f"{kind}: {type(e).__name__}: {e}"[:500])
            ans = Answer(0, 0, -1, float("nan"))
        if ans.mismatches:
            self.errors.append(f"{kind}: {ans.mismatches} mismatching rows")
        res = {"kind": kind, "s": ans.seconds, "turns": ans.turns,
               "ok": ans.mismatches == 0}
        self.checked.append(res)
        return res

    # -- workloads ------------------------------------------------------------
    def run(self) -> None:
        self.start()
        self.generate()
        getattr(self, self.cfg.workload)()

    def measure(self, unit, per_round: int = 1) -> None:
        """Call ``unit(redo)``, which runs and returns measured ops, until
        the timed calls add up to ``--seconds`` and to whole rounds of
        ``per_round`` calls.  ``redo`` tells a call that the previous one
        was disturbed by the host and is not timed."""
        self.setup_s = time.perf_counter() - self.proc_t0
        self.cpu_at_start = cpu_times()
        t0 = time.perf_counter()
        timed: list[list[dict]] = []
        clean, redo = 0.0, False
        while clean < self.cfg.seconds or len(timed) % per_round:
            before, u0 = cpu_times(), time.perf_counter()
            ops = unit(redo)
            steal = steal_share(before, cpu_times())
            self.unit_steal.append(steal)
            redo = (steal > STEAL_LIMIT
                    and time.perf_counter() - t0 < self.cfg.seconds + MEASURE_SLACK_S)
            if not redo:
                timed.append(ops)
                clean += time.perf_counter() - u0
                self.disturbed |= steal > STEAL_LIMIT
        self.ops = [op for ops in timed for op in ops]

    def append_blocks(self) -> None:
        held = sorted(p for p in self.part_turns if p.startswith("day-"))
        self.land("base")
        raw_sample = self.raw_pd
        pipe = self.pipeline(self.store)

        def build():
            w = self.rollup(pipe, "setup:build", ["base"], incremental=True)
            bad = self.check_tiers(pipe, raw_sample, ["base"])
            return Answer(0, self.part_turns["base"], bad, w["s"])
        # the base build, a full run(), is also the warm-up
        self.attempt("build", build)
        self.rollups.clear()
        # Every round appends the same held-back days, one per step, to a
        # fresh copy of the base store, and a disturbed step is undone and
        # run again: each timed step meets the same store age whatever the
        # code's speed.
        work = os.path.join(self.run_dir, "store-work")
        before = os.path.join(self.run_dir, "store-before-step")
        at = {"step": 0, "pipe": None}

        def step(redo: bool):
            if redo:
                shutil.rmtree(work)
                os.rename(before, work)
                at["step"] -= 1
                self.land(held[at["step"] % len(held)], back=True)
                self.rollups.pop()
                at["pipe"] = self.pipeline(work)
            i = at["step"] % len(held)
            if i == 0 and not redo:
                shutil.rmtree(work, ignore_errors=True)
                for part in held:
                    if os.path.isdir(os.path.join(self.raw, f"part={part}")):
                        self.land(part, back=True)
                shutil.copytree(self.store, work)
                at["pipe"] = self.pipeline(work)
            shutil.rmtree(before, ignore_errors=True)
            shutil.copytree(work, before)
            at["step"] += 1
            landed = ["base", *held[:i + 1]]

            def op():
                self.land(held[i])
                w = self.rollup(at["pipe"], "op:append", [held[i]], incremental=True)
                bad = self.check_tiers(at["pipe"], raw_sample, landed)
                return Answer(0, self.part_turns[held[i]], bad, w["s"])
            return [self.attempt("append", op)]
        self.measure(step, per_round=len(held))
        pipe, landed = at["pipe"], ["base", *held]
        if "late" in self.part_turns:
            # every tenth turn of a day that is already rolled up; checked
            # and reported in the detail line, not part of op_p50_s
            landed.append("late")

            def late():
                self.land("late")
                w = self.rollup(pipe, "op:append_late", ["late"], incremental=True)
                bad = self.check_tiers(pipe, raw_sample, landed)
                return Answer(0, self.part_turns["late"], bad, w["s"])
            self.attempt("append_late", late)
        self.final_gate(pipe, raw_sample, landed)
        self.final_store(pipe, sum(self.part_turns[p] for p in landed))

    def tier_reads(self) -> None:
        parts = sorted(self.part_turns)
        for p in parts:
            self.land(p)
        pipe = self.pipeline(self.store)
        self.rollup(pipe, "setup:build", parts, incremental=False)
        # every read below is checked against this reference
        q = ReadQueries(self, pipe, self.raw, Reference(self.raw_pd))
        month = ("2024-01-01", "2024-02-01")
        span = max(1, self.cfg.convs // 20)

        def next_query(kind: str):
            if kind == "point_series":
                conv = self.zipf_convs(1)[0] if self.rng.random() < 0.5 else HOT_CONV
                return lambda: q.point_series(conv)
            if kind == "fleet_daily":
                return q.fleet_daily
            if kind in ("gapfill_series", "holistic_hourly"):
                convs = self.zipf_convs(READ_CONVS)
                fn = q.gapfill_series if kind == "gapfill_series" else q.holistic_hourly
                return lambda: fn(convs)
            lo = self.rng.choices(range(self.cfg.convs), cum_weights=self.zipf_cum)[0]
            lo = min(lo, max(0, self.cfg.convs - span))
            return lambda: q.blocks_decode(f"conv-{lo:08d}", f"conv-{lo + span - 1:08d}",
                                           *month)

        # warm-up: two untimed rounds (after one, the next round still
        # runs ~15% slower than later ones)
        self.group("setup:warmup")
        for kind in READ_KINDS * 2:
            self.attempt(f"warmup_{kind}", next_query(kind))
        # one op is one round of the five reads, each with fresh
        # parameters; its latency is the sum of the five
        def round_(redo: bool):
            res = []
            for kind in READ_KINDS:
                fn = next_query(kind)
                self.group(f"op:{kind}")
                res.append(self.attempt(kind, fn))
            return [{
                "kind": "round", "s": sum(r["s"] for r in res),
                "turns": sum(r["turns"] for r in res), "ok": all(r["ok"] for r in res),
            }]
        self.measure(round_)
        self.final_store(pipe, sum(self.part_turns.values()))

    def final_store(self, pipe: RollupPipeline, n_turns: int) -> None:
        self.store_bytes = du(pipe.base_dir)
        self.store_turns = n_turns
        self.manifest_bytes = os.path.getsize(os.path.join(pipe.base_dir, "manifest.json"))

    # -- results ----------------------------------------------------------------
    def finish(self) -> dict:
        """Stop Spark (flushing the event log) and compute every metric."""
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.peak_rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
        self.env = {
            "nproc": self.cores, "ram_mb": mem_total_mb(),
            "driver_memory": DRIVER_MEMORY,
            "pyspark": __import__("pyspark").__version__,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        }
        self.close()
        # where the machine's CPU time went during the measured loop: a
        # high steal or iowait share marks a run disturbed from outside
        d = [b - a for a, b in zip(self.cpu_at_start, cpu_times())]
        self.env["cpu_share"] = {
            name: d[i] / max(1, sum(d))
            for i, name in ((0, "user"), (2, "system"), (3, "idle"), (4, "iowait"), (7, "steal"))
        }
        ok_ops = [o for o in self.ops if o["ok"]] or [{"s": float("nan"), "turns": 0}]
        failed = sum(not c["ok"] for c in self.checked)
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (statistics.median(o["s"] for o in ok_ops), "s"),
            "stored_bytes_per_turn": (self.store_bytes / self.store_turns, "B"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }
        detail = {
            "workload": self.cfg.workload, "seed": self.cfg.seed,
            "input": {"convs": self.cfg.convs, "avg_turns": self.cfg.avg_turns,
                      "turns": sum(self.part_turns.values())},
            "env": self.env,
            "failed_ratio": failed / max(1, len(self.checked)),
            "unit_steal": self.unit_steal,
            "disturbed": self.disturbed,
            "turns_per_s": sum(o["turns"] for o in ok_ops) / sum(o["s"] for o in ok_ops),
            "latency_s": self._latencies(),
            "errors": self.errors,
        }
        return {"e2e": e2e, "detail": detail, "attempted": max(1, len(self.checked)),
                "failed": failed, "correct": failed == 0 and not self.errors}

    def _latencies(self) -> dict:
        """Per-kind sample count and p50 of every checked operation; for
        the read mix also the pooled p90 and reads per second."""
        by_kind: dict[str, list[float]] = {}
        for c in self.checked:
            if c["ok"]:
                by_kind.setdefault(c["kind"], []).append(c["s"])
        out = {k: {"n": len(v), "p50": statistics.median(v)} for k, v in by_kind.items()}
        out["ops"] = [o["s"] for o in self.ops]
        reads = sorted(s for k in READ_KINDS for s in by_kind.get(k, []))
        if reads:
            out["reads"] = {
                "n": len(reads), "p50": statistics.median(reads),
                "p90": statistics.quantiles(reads, n=10)[-1] if len(reads) > 1 else reads[0],
                "reads_per_s": len(reads) / sum(reads),
            }
        return out

    def close(self) -> None:
        """Stop Spark and wait until its JVM, and with it the Python
        workers, has exited (the JVM quits when its stdin closes)."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
