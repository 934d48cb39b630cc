"""Per-layer metrics of a traced run, named after the package's modules.

Sources: the benchmark's spans (:class:`tracing.Tracer`), the records it
keeps of every ``RollupPipeline.run`` call, and the Spark event log
folded per job group.  Rollup figures are means per ``run`` call over
the measured calls (the store build for ``tier_reads``, which runs none
in its loop); query-layer figures are means per call over every
non-set-up call.  See README.md for which end-to-end metric each one is
expected to move.
"""

from __future__ import annotations

from tracing import GroupStats, Tracer, read_event_log

TIERS = ("t1m", "t1h", "t1d")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _merge(groups: dict[str, GroupStats], names) -> GroupStats:
    out = GroupStats()
    for name in set(names):
        g = groups.get(name)
        if g is None:
            continue
        for attr in ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes",
                     "spill_bytes", "cpu_ns", "run_ms", "gc_ms"):
            setattr(out, attr, getattr(out, attr) + getattr(g, attr))
        for kind, vals in g.scans.items():
            acc = out.scans[kind]
            for i, v in enumerate(vals):
                acc[i] += v
    return out


def scan_classifier(run_dir: str):
    """Scan location -> ``raw`` / ``blocks`` / ``tier`` (or None)."""
    def classify(location: str):
        if run_dir not in location:
            return None
        rel = location.split(run_dir, 1)[1]
        if "_blocks" in rel:
            return "blocks"
        if rel.startswith(("/raw", "/inputs")):
            return "raw"
        return "tier"
    return classify


def layer_metrics(b) -> dict[str, tuple[float, str]]:
    tr: Tracer = b.tr
    groups = read_event_log(b.events, scan_classifier(b.run_dir))
    measured = lambda s: not s.get("group", "").startswith("setup:")  # noqa: E731
    m: dict[str, tuple[float, str]] = {}

    m["session.start_s"] = (Tracer.seconds(tr.find("session.start")[0]), "s")
    m["datagen.gen_s"] = (Tracer.seconds(tr.find("datagen.gen")[0]), "s")

    # -- rollup + manifest: per RollupPipeline.run call ------------------
    runs = b.rollups
    run_idx = {id(r["span"]): tr.spans.index(r["span"]) for r in runs}

    def children(r, name):
        idx = run_idx[id(r["span"])]
        return tr.find(name, lambda s: s["parent"] == idx)

    for t in TIERS:
        m[f"rollup.{t}.write_s"] = (_mean(r["tiers"][t]["write_s"] for r in runs), "s")
    store_blocks = [s for r in runs for s in children(r, "blocks.write")]
    m["rollup.overhead_s"] = (_mean(
        r["run_s"] - sum(r["tiers"][t]["write_s"] for t in TIERS)
        - sum(Tracer.seconds(s) for s in children(r, "blocks.write"))
        for r in runs), "s")
    rg = _merge(groups, [r["group"] for r in runs])
    m["rollup.raw_bytes_scanned_per_byte_appended"] = (_ratio(
        rg.scans["raw"][1], sum(r["raw_bytes_appended"] for r in runs)), "ratio")
    m["rollup.days_rewritten_per_day_appended"] = (_ratio(
        sum(r["tiers"][t]["days"] for r in runs for t in TIERS),
        len(TIERS) * sum(r["days_appended"] for r in runs)), "ratio")
    for t in TIERS:
        m[f"rollup.{t}.files_out"] = (_mean(r["tiers"][t]["files"] for r in runs), "count")
        m[f"rollup.{t}.bytes_out"] = (_mean(r["tiers"][t]["bytes"] for r in runs), "B")
    n_runs = max(1, len(runs))
    m["rollup.shuffle_write_bytes"] = (rg.shuffle_write_bytes / n_runs, "B")
    m["rollup.spill_bytes"] = (rg.spill_bytes / n_runs, "B")
    m["rollup.executor_cpu_s"] = (rg.cpu_ns / 1e9 / n_runs, "s")
    m["rollup.gc_s"] = (rg.gc_ms / 1e3 / n_runs, "s")
    m["manifest.calls"] = (_mean(r["manifest_calls"] for r in runs), "count")
    m["manifest.s"] = (_mean(
        sum(Tracer.seconds(s) for s in children(r, "manifest.save")) for r in runs), "s")
    m["manifest.bytes"] = (b.manifest_bytes, "B")

    # -- blocks + compress: the store's block writes --------------------
    codecs = [r["codec"] for r in runs if r["codec"]]
    encoded = sum(c["n_points"] for c in codecs)
    appended = sum(r["tiers"]["t1m"]["rows"] for r in runs if r["codec"])
    ratio = codecs[-1]["ratio"] if codecs else 0.0
    m["blocks.write_s"] = (_mean(Tracer.seconds(s) for s in store_blocks), "s")
    m["blocks.points_encoded_per_point_appended"] = (_ratio(encoded, appended), "ratio")
    m["blocks.ratio"] = (ratio, "ratio")
    decodes = tr.find("blocks.decode", measured)
    m["blocks.decode_s"] = (_mean(Tracer.seconds(s) for s in decodes), "s")
    dg = _merge(groups, [s["group"] for s in decodes])
    # task time the JVM did not spend on its own CPU: waiting on the
    # Python workers that run the decode UDF (and on I/O)
    m["blocks.python_worker_s"] = (_ratio(
        max(0.0, dg.run_ms / 1e3 - dg.cpu_ns / 1e9), len(decodes)), "s")

    # -- aggregate + kernels, gapfill ---------------------------------------
    aggs = tr.find("aggregate.query", measured)
    m["aggregate.s"] = (_mean(Tracer.seconds(s) for s in aggs), "s")
    ag = _merge(groups, [s["group"] for s in aggs])
    m["aggregate.rows_scanned"] = (_ratio(ag.scans["raw"][2], len(aggs)), "count")
    fills = tr.find("gapfill.query", measured)
    m["gapfill.s"] = (_mean(Tracer.seconds(s) for s in fills), "s")
    m["gapfill.rows_out_per_row_in"] = (_ratio(
        sum(s["rows_out"] for s in fills), sum(s["rows_in"] for s in fills)), "ratio")

    # -- read (read_tier) ---------------------------------------------------
    reads = [s for name in ("read.point_series", "read.fleet_daily", "read.gate_tiers")
             for s in tr.find(name, measured)]
    rd = _merge(groups, [s["group"] for s in reads])
    m["read.files_opened"] = (_ratio(rd.scans["tier"][0], len(reads)), "count")
    m["read.rows_scanned_per_row_returned"] = (_ratio(
        rd.scans["tier"][2], sum(s["rows"] for s in reads)), "ratio")

    # -- spark: per measured operation (a read query, not a round) -----------
    og = _merge(groups, [g for g in groups if g.startswith("op:")])
    n_ops = max(1, sum(not c["kind"].startswith(("gate_", "warmup_", "build"))
                       for c in b.checked))
    m["spark.jobs_per_op"] = (og.jobs / n_ops, "count")
    m["spark.tasks"] = (og.tasks / n_ops, "count")
    m["spark.failed_tasks"] = (sum(g.failed_tasks for g in groups.values()), "count")
    return m
