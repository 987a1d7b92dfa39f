"""Turns the harness's raw records into the benchmark's metrics.

Lakehouse workloads: end-to-end metrics come from untraced rounds;
per-layer metrics from the traced round of a --trace 1 run, its untraced
twin (tracing overhead) and its single-thread round.  Catalog workload:
end-to-end metrics from the untraced passes, per-layer metrics from the
traced pass.  Names match BENCHMARK.json; README.md says which end-to-end
metric each per-layer metric should move.
"""

import datetime
import math

import stats

STAGES = ("ods", "dwd", "dim", "dws", "dm")
WATERMARK_MS = 30000  # DmVisitWindow's watermark delay


def _iso_ms(ts):
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000


class RoundView:
    """Derived numbers of one round: per-wave drain rates, per-event
    freshness at DWS and ODS, and per-window DM lag."""

    def __init__(self, r, manifest):
        self.r = r
        self.waves = [w for w in r["waves"] if w["measured"]]
        period = manifest["period_ms"]
        # when each drop counts as created: its release for a backlog (the
        # wave's facts, after its dim updates), the generator's creation
        # time (schedule start + offset) on the trickle
        trickle = manifest["workload"] == "lakehouse_trickle"
        release = {due: ms for w in self.waves for due, ms in zip(w["drop_due_ms"], w["drop_release_ms"])}
        t0, c0 = self.waves[0]["t0_ms"], self.waves[0]["created0_ms"]

        def created_at(c):
            if trickle:
                return t0 + c - c0
            return release[(c // period + 1) * period]
        self.windows = [(w["t0_ms"], w["served_ms"]) for w in self.waves]
        self.drain_s = sum(e - s for s, e in self.windows) / 1000
        # per wave: input records over the time from release until DWS served them
        self.rows_per_s = [w["records"] * 1000 / (w["served_ms"] - w["t0_ms"]) for w in self.waves]
        # events of the warm-up waves are not measured
        dws = [dict(f, created=[c for c in f["created"] if c >= c0]) for f in r["dws_files"]]
        ods = [dict(f, created=[c for c in f["created"] if c >= c0]) for f in r["ods_files"]]
        self.fresh = stats.freshness(dws, created_at)
        self.ods_lag = stats.freshness(ods, created_at)
        base, speed = manifest["event_base_ms"], manifest["speed"]
        if trickle:
            emittable = lambda end: t0 + (end + WATERMARK_MS - base) / speed - c0  # noqa: E731
        else:
            closers = sorted((ms, ev) for w in r["waves"]
                             for ms, ev in zip(w["drop_release_ms"], w["drop_max_event_ms"]))

            def emittable(end):
                return next((ms for ms, ev in closers if ev >= end + WATERMARK_MS), 0)
        # windows closable before the measured load began are warm-up's
        windows = [w for w in r["dm_windows"] if emittable(stats.utc_ms(w["window_end"])) >= t0]
        self.dm_lag = stats.dm_lags(windows, emittable)


def _pct(values, q, notes, name):
    v, n, valid = stats.percentile(values, q)
    if not valid:
        notes.append(f"{name}: p{round(q * 100)} of {n} samples has fewer than "
                     f"{stats.MIN_BEYOND} beyond it")
    return v


def end_to_end(raw, views, notes):
    fresh = [x for v in views for x in v.fresh]
    notes.append(f"samples: fresh={len(fresh)} waves={sum(len(v.waves) for v in views)}")
    return {
        "setup_s": (stats.median(raw["setups_s"]), "s"),
        "throughput_per_s": (stats.median([x for v in views for x in v.rows_per_s]), "1/s"),
        "latency_p50_ms": (_pct(fresh, 0.5, notes, "fresh"), "ms"),
    }


def per_layer(raw, view, untraced, local1, manifest, notes):
    r, tr = view.r, view.r["trace"]
    windows = view.windows

    def in_drain(ms):
        return any(lo <= ms <= hi for lo, hi in windows)
    m = {}
    busy = {}
    for s in STAGES:
        ps = [p for p in tr["progress"] if p["stage"] == s]
        d = lambda p, *ks: sum(p["durations"].get(k, 0) for k in ks)  # noqa: E731
        nonempty = [d(p, "triggerExecution") for p in ps if p["rows"] > 0]
        # time at least one of the stage's queries ran a batch, while draining
        batches = [(_iso_ms(p["timestamp"]), _iso_ms(p["timestamp"]) + d(p, "triggerExecution"))
                   for p in ps]
        busy[s] = sum(stats.union_ms([(max(a, lo), min(b, hi)) for a, b in batches
                                      if b > lo and a < hi]) for lo, hi in windows) / 1000
        m[f"{s}.rows_in"] = (sum(p["rows"] for p in ps), "count")
        m[f"{s}.batches"] = (len(nonempty), "count")
        m[f"{s}.busy_s"] = (busy[s], "s")
        m[f"{s}.batch_p50_ms"] = (stats.percentile(nonempty, 0.5)[0], "ms")
        m[f"{s}.batch_p99_ms"] = (stats.percentile(nonempty, 0.99)[0], "ms")
        m[f"{s}.source_ms"] = (sum(d(p, "latestOffset", "getBatch") for p in ps), "ms")
        m[f"{s}.plan_ms"] = (sum(d(p, "queryPlanning") for p in ps), "ms")
        m[f"{s}.commit_ms"] = (sum(d(p, "walCommit", "commitOffsets") for p in ps), "ms")
        m[f"{s}.sink_ms"] = (sum(d(p, "addBatch") for p in ps), "ms")
        m[f"{s}.restarts"] = (sum(1 for x in r["restarts"] if x["stage"] == s), "count")
    share = {s: busy[s] / view.drain_s for s in STAGES}
    neck = max(share, key=share.get)
    m["stages.bottleneck_busy_share"] = (share[neck], "ratio")
    notes.append("stage busy share of drain wall: " +
                 ", ".join(f"{s}={share[s]:.2f}" for s in STAGES) + f"; bottleneck={neck}")

    spans = tr["spans"]
    drain_spans = [x for x in spans if in_drain(x["start_ms"])]

    def total(layer, name, pred=lambda x: True, pool=drain_spans):
        return sum(x["dur_ms"] for x in pool if x["layer"] == layer and x["name"] == name and pred(x))
    m["sinks.dual_lake_ms"] = (total("sinks", "dual_lake"), "ms")
    m["sinks.dual_topic_ms"] = (total("sinks", "dual_topic"), "ms")
    m["storage.append_ms"] = (total("storage", "append"), "ms")
    m["storage.dim_read_ms"] = (total("storage", "read", lambda x: "/dims/" in x["detail"]), "ms")
    m["storage.upsert_ms"] = (total("storage", "upsert"), "ms")
    sched = tr["scheduler_stages"]

    # rows released but not yet read by ODS when the last release happened
    last = view.waves[-1]
    released_rows = sum(w["records"] for w in view.waves)
    ingested = sum(p["rows"] for p in tr["progress"]
                   if p["stage"] == "ods" and _iso_ms(p["timestamp"]) <= last["released_ms"])
    m["sources.lag_p99_ms"] = (stats.percentile(view.ods_lag, 0.99)[0], "ms")
    m["sources.backlog_rows_end"] = (released_rows - ingested, "count")
    m["gen.late_p99_ms"] = (stats.percentile([x for w in view.waves for x in w["gen_late_ms"]],
                                             0.99)[0], "ms")
    m["dm.state_rows"] = (r["dm_state_rows"], "count")
    m["dm.state_mb"] = (r["dm_state_bytes"] / 2 ** 20, "MB")
    m["dm.windows"] = (len({w["window_end"] for w in r["dm_windows"]}), "count")
    m["dm.lag_p50_ms"] = (stats.percentile(view.dm_lag, 0.5)[0], "ms")
    m["jvm.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")

    m["maintenance.compact_s"] = (total("storage", "compact", pool=spans) / 1000, "s")
    m["maintenance.expire_s"] = (total("storage", "expire", pool=spans) / 1000, "s")
    m["maintenance.files_before"] = (r["maintenance_files_before"], "count")
    m["maintenance.files_after"] = (r["maintenance_files_after"], "count")
    m["maintenance.bytes_rewritten"] = (r["maintenance_bytes_rewritten"], "bytes")
    m["points.scan_files"] = (r["points_scan_files"], "count")
    m["points.wall_s"] = (r["points_s"], "s")
    m["maintenance.wall_s"] = (r["maintenance_s"], "s")

    # engine: jobs started while the pipeline drained, and their stages
    jobs = [j for j in tr["jobs"] if in_drain(j["start_ms"]) and "end_ms" in j]
    job_stages = {s for j in jobs for s in j.get("stages", [])}
    st = [s for s in sched if s["stage"] in job_stages]
    # bytes the drain's jobs wrote per input byte the measured waves released
    out_bytes = sum(s["output"] for s in st)
    drop_bytes = {d["due_ms"]: d["bytes"] for d in manifest["drops"]}
    in_bytes = sum(drop_bytes[due] for w in view.waves for due in w["drop_due_ms"])
    m["storage.files_written"] = (r["files_before"], "count")
    m["storage.bytes_written"] = (out_bytes, "bytes")
    m["storage.write_amp"] = (out_bytes / in_bytes, "ratio")
    m.update(engine(tr, jobs, windows, view.drain_s, r["cores"]))

    # against the untraced twin that ran just before it
    m["trace.overhead_pct"] = ((view.drain_s / untraced.drain_s - 1) * 100, "%")
    m["trace.overhead_fresh_p50_pct"] = (
        (stats.median(view.fresh) / stats.median(untraced.fresh) - 1) * 100, "%")
    m["local1.rows_per_s"] = (stats.median(local1.rows_per_s), "1/s")
    m["local1.fresh_p50_ms"] = (stats.median(local1.fresh), "ms")
    m["dws.fresh_p99_ms"] = (stats.percentile(view.fresh, 0.99)[0], "ms")
    m["lakehouse.fresh_n"] = (len(view.fresh), "count")
    m["lakehouse.dm_lag_n"] = (len(view.dm_lag), "count")
    return m


def engine(tr, jobs, windows, wall_s, cores):
    """Scheduler totals of `jobs` and the stages they ran; `windows` are the
    measured wall intervals (ms), `wall_s` their total length."""
    iv = [(j["start_ms"], j["end_ms"]) for j in jobs]
    job_stages = {s for j in jobs for s in j.get("stages", [])}
    st = [s for s in tr["scheduler_stages"] if s["stage"] in job_stages]
    skews = [max(s["task_ms"]) / stats.median(s["task_ms"]) for s in st
             if len(s["task_ms"]) > 1 and stats.median(s["task_ms"]) > 0]
    cpu_s = sum(s["cpu_ns"] for s in st) / 1e9
    mb = 2 ** 20
    return {
        "engine.jobs": (len(jobs), "count"),
        "engine.stages": (len(st), "count"),
        "engine.tasks": (sum(s["tasks"] for s in st), "count"),
        "engine.driver_s": (sum(stats.self_time(w, iv) for w in windows) / 1000, "s"),
        "engine.job_gap_p50_ms": (stats.median(stats.gaps(iv)), "ms"),
        "engine.executor_run_s": (sum(s["run_ms"] for s in st) / 1000, "s"),
        "engine.executor_cpu_s": (cpu_s, "s"),
        "engine.gc_s": (sum(s["gc_ms"] for s in st) / 1000, "s"),
        "engine.shuffle_write_mb": (sum(s["shuffle_write"] for s in st) / mb, "MB"),
        "engine.shuffle_read_mb": (sum(s["shuffle_read"] for s in st) / mb, "MB"),
        "engine.spill_mb": (sum(s["spill"] for s in st) / mb, "MB"),
        "engine.input_mb": (sum(s["input"] for s in st) / mb, "MB"),
        "engine.peak_exec_mem_mb": (max([s["peak_mem"] for s in st] or [0]) / mb, "MB"),
        "engine.task_skew": (stats.median(skews), "ratio"),
        "engine.cpu_util": (cpu_s / (wall_s * cores), "ratio"),
    }


def catalog_medians(raw):
    """Median wall (ms) of each query over its untraced rotation runs."""
    walls = {}
    for r in raw["runs"]:
        if not r["traced"]:
            walls.setdefault(r["query"], []).append(r["wall_ms"])
    return {q: stats.median(ws) for q, ws in walls.items()}


def catalog_end_to_end(raw, notes):
    med = catalog_medians(raw)
    notes.append(f"samples: queries={len(med)} runs={sum(not r['traced'] for r in raw['runs'])}")
    notes.append("query median wall (ms): " + ", ".join(f"{q}={w:.0f}" for q, w in sorted(med.items())))
    return {
        "setup_s": (stats.median(raw["setups_s"]), "s"),
        # one query of each kind, at each query's median wall
        "throughput_per_s": (len(med) * 1000 / sum(med.values()), "1/s"),
        "latency_p50_ms": (stats.median(list(med.values())), "ms"),
    }


def catalog_per_layer(raw):
    tr = raw["trace"]
    traced = [r for r in raw["runs"] if r["traced"]]
    wall = {r["query"]: r["wall_ms"] for r in traced}
    group = {r["query"]: r["group"] for r in traced}
    jobs = [j for j in tr["jobs"] if "end_ms" in j and j["group"] in wall]
    per_query = {q: [j for j in jobs if j["group"] == q] for q in wall}
    pass_s = sum(wall.values()) / 1000
    window = [(min(r["start_ms"] for r in traced), max(r["start_ms"] + r["wall_ms"] for r in traced))]
    m = engine(tr, jobs, window, pass_s, raw["cores"])

    def group_s(g):
        return sum(w for q, w in wall.items() if group[q] == g) / 1000
    m["catalog.doors_s"] = (group_s("doors"), "s")
    m["catalog.doors_jobs"] = (sum(len(per_query[q]) for q in wall if group[q] == "doors"), "count")
    m["catalog.pruned_reads_s"] = (group_s("pruned_reads"), "s")
    m["catalog.text_kernels_s"] = (group_s("kernels"), "s")
    m["catalog.relational_s"] = (group_s("relational"), "s")
    m["catalog.jobs_per_query_p50"] = (stats.median([len(js) for js in per_query.values()]), "count")
    m["catalog.driver_share"] = (m["engine.driver_s"][0] / pass_s, "ratio")
    kernels = [q for q in wall if group[q] == "kernels"]
    for q in kernels:
        m[f"kernels.{q.split('_')[0]}_s"] = (wall[q] / 1000, "s")
    kjobs = [j for q in kernels for j in per_query[q]]
    m["kernels.cpu_util"] = engine(tr, kjobs, window, group_s("kernels"), raw["cores"])["engine.cpu_util"]
    base = sum(catalog_medians(raw).values()) / 1000
    m["trace.overhead_pct"] = ((pass_s / base - 1) * 100, "%")
    m["jvm.peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    return m


def catalog_compute(raw, trace):
    """Checks: every query of the correctness dump ran, the DuckDB oracle
    agrees with every dumped query that has oracle SQL, and every other
    dumped query returned rows. Every timed query run is an operation
    too; one that fails ends the run."""
    notes = []
    checks = [("dump:" + f["query"], False, f["cause"]) for f in raw["dump_failures"]]
    oracle = raw["oracle"]
    for ln in oracle["lines"]:
        name, _, verdict = ln.partition(": ")
        if name.startswith("q"):
            ok = verdict.startswith("PASS") or (verdict.startswith("ROWS-ONLY")
                                                and not verdict.startswith("ROWS-ONLY (0 rows)"))
            checks.append(("oracle:" + name, ok, verdict))
    if oracle["failures"] is None:
        checks.append(("oracle", False, oracle["stderr"]))
    failed = [{"name": n, "detail": d} for n, ok, d in checks if not ok]
    m = catalog_per_layer(raw) if trace else catalog_end_to_end(raw, notes)
    return _result(m, notes, len(checks) + len(raw["runs"]), failed, bool(checks) and not failed)


def _result(m, notes, attempted, failed, correct):
    # a layer the run never reached has nothing to measure: report 0
    for k, (v, u) in m.items():
        if not math.isfinite(v):
            notes.append(f"{k}: no samples, reported as 0")
            m[k] = (0.0, u)
    return {"correct": correct, "attempted": max(1, attempted), "failed": len(failed) or int(not correct),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
            "failed_checks": failed, "notes": notes}


def compute(raw, manifest, trace):
    """Checks and stage query deaths: every check is one operation, and so
    is every run of a stage query (each start and each restart after a
    death); a failed check and a death each count as failed."""
    if raw["workload"] == "catalog_sf0.1":
        return catalog_compute(raw, trace)
    checks = [c for r in raw["rounds"] for c in r["checks"]]
    failed = [c for c in checks if not c["ok"]]
    notes = []
    deaths = []
    for r in raw["rounds"]:
        per_stage = {s: sum(1 for x in r["restarts"] if x["stage"] == s) for s in STAGES}
        notes.append("stage query deaths (restarted): " +
                     ", ".join(f"{s}={n}" for s, n in per_stage.items()) +
                     (f"; first: {r['restarts'][0]['cause']}" if r["restarts"] else ""))
        deaths += [{"name": f"query_died:{x['stage']}", "detail": x["cause"]} for x in r["restarts"]]
    runs = sum(r["queries"] + len(r["restarts"]) for r in raw["rounds"])
    ok = [r for r in raw["rounds"] if not any(c["name"] == "round_completed" for c in r["checks"])]
    m = {}
    if len(ok) == len(raw["rounds"]):
        views = [RoundView(r, manifest) for r in ok if not r.get("local1")]
        if trace:
            traced = next(v for v in views if v.r["traced"])
            untraced = next(v for v in views if not v.r["traced"])
            local1 = RoundView(next(r for r in ok if r.get("local1")), manifest)
            m = per_layer(raw, traced, untraced, local1, manifest, notes)
        else:
            m = end_to_end(raw, views, notes)
    return _result(m, notes, len(checks) + runs, failed + deaths, bool(checks) and not failed)
