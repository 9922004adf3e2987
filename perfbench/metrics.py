"""Turns one run's observations into the metrics run.py prints.

The JVM side writes raw samples, scalars and (when traced) spans; every
percentile, rate and self time is derived here, so the sample-count rule
and the metric names are enforced in one place.
"""
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
MIN_BEYOND = 10


class ShortSample(ValueError):
    """A percentile was asked of too few samples to leave ten beyond it."""


def nearest_rank(values, q):
    """Nearest-rank percentile `q` (0 < q < 1) of `values`."""
    return sorted(values)[max(1, math.ceil(q * len(values))) - 1]


def percentile(values, q):
    """Nearest-rank percentile `q` of `values`, with the sample count.
    Raises ShortSample unless at least MIN_BEYOND samples lie beyond the
    chosen rank."""
    n = len(values)
    beyond = n - max(1, math.ceil(q * n))
    if beyond < MIN_BEYOND:
        raise ShortSample(f"p{round(q * 100)} of {n} samples leaves "
                          f"{beyond} beyond it, fewer than {MIN_BEYOND}")
    return nearest_rank(values, q), n


def median(values):
    return statistics.median(values)


def check_names(metrics):
    """Every metric name and unit must fit the benchmark's pattern."""
    for name, m in metrics.items():
        if not NAME.fullmatch(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT.fullmatch(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {name}")
    return metrics


def metric(value, unit):
    return {"value": float(value), "unit": unit}


# --- end-to-end ---------------------------------------------------------

def end_to_end(workload, res):
    """The gated metrics, common to every workload, plus the workload's own
    named figures (printed, with sample counts, but not gated)."""
    sc, sm = res["scalars"], res["samples"]
    lines = []
    # batch_s is a best time on both workloads: loads and passes still get
    # faster as the JIT warms, and the host's slow spells only ever lengthen
    # a time, so the least of a run's repetitions moves least between runs.
    if workload == "lake_serve":
        setup = sc["session_s"] + median(sm["setup_lake_s"])
        batch = min(sm["bulk_s"])
        ops = sc["serve_ops"] / sc["serve_s"]
        lines.append(("ingest_docs_per_s", sc["bulk_docs"] / batch, "1/s",
                      int(sc["bulk_docs"])))
        lines.append(("serve_rps", ops, "1/s", int(sc["serve_ops"])))
        for route in ("status", "list", "ingest"):
            for q in (0.5, 0.9):
                lines.append(percentile_line(f"{route}_p{round(q * 100)}_ms",
                                             sm[f"{route}_ms"], q))
        lines.append(("peak_rss_mb", sc["peak_rss_mb"], "MB", 1))
    else:
        # A pass with each query at its best time of the run. ops_per_s
        # restates batch_s here (queries per second at that pace), so it
        # gates the same time twice.
        queries = res["ledger_queries"]
        setup = sc["session_s"] + sc["warmup_s"]
        batch = sum(min(sm[f"query_ms.{q}"]) for q in queries) / 1000
        ops = len(queries) / batch
        lines.append(("sweep_s", median(sm["pass_s"]), "s", len(sm["pass_s"])))
        lines.append(("peak_rss_mb", sc["peak_rss_mb"], "MB", 1))
    out = {
        "setup_s": metric(setup, "s"),
        "peak_live_mb": metric(max(sm["live_mb"]), "MB"),
        "batch_s": metric(batch, "s"),
        "ops_per_s": metric(ops, "1/s"),
    }
    return check_names(out), lines


def percentile_line(name, values, q):
    """A printed percentile with its sample count; None in place of the
    value when the run left fewer than MIN_BEYOND samples beyond it."""
    try:
        return (name,) + percentile(values, q)[:1] + ("ms", len(values))
    except ShortSample:
        return (name, None, "ms", len(values))


# --- per layer (traced run) -----------------------------------------------

def self_times(spans):
    """Each span's duration minus the part of it its children cover, in
    microseconds. Children may overlap one another (parallel tasks, jobs of
    concurrent requests); the union of their intervals is subtracted."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, end = 0, s["start_us"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_us"]):
            lo = max(c["start_us"], end, s["start_us"])
            hi = min(c["end_us"], s["end_us"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s["id"]] = (s["end_us"] - s["start_us"]) - covered
    return out


def _jobs_under(spans):
    """Spark job spans grouped by the root span (trace) that caused them."""
    by_trace = {}
    for s in spans:
        if s["name"] == "spark.job":
            by_trace.setdefault(s["trace"], []).append(s)
    return by_trace


def _p(values, q):
    """A per-layer percentile; 0 when the layer did no such work."""
    return nearest_rank(values, q) if values else 0.0


LAKE_LAYER = [
    "lake.storage.exists_ms.p50", "lake.storage.exists_growth", "lake.manifest_files", "lake.data_files",
    "lake.storage.list_ms.p50", "lake.service.ingest_ms.p50",
    "lake.storage.save_ms.p50", "lake.service.bulk_ingest_ms",
    "lake.fetch_ms", "lake.fetch_calls", "lake.bytes_per_user_byte",
    "lake.http.status_overhead_ms.p50", "lake.http.list_overhead_ms.p50",
    "lake.http.ingest_overhead_ms.p50", "spark.jobs_per_status",
    "spark.jobs_per_list", "spark.jobs_per_ingest",
]
SPARK_LAYER = ["spark.jobs", "spark.tasks", "spark.task_ms",
               "spark.shuffle_write_bytes", "spark.spill_bytes",
               "spark.busy_ratio", "trace.overhead_pct"]
LEDGER_LAYER = ["ledger.build_ms", "ledger.action_ms", "ledger.jobs"]
# Layers whose summed self time (span time not covered by child spans)
# over traced operations is reported as `<layer>.self_ms`.
SELF_LAYERS = ["lake.http", "lake.service", "lake.storage", "lake.fetch",
               "ledger.build", "ledger.action", "spark.job"]


def per_layer(workload, res, spans, queries):
    """Every per-layer metric of the benchmark, for any workload: the layers
    a workload does not exercise read 0. Returns the metrics and the sample
    count of each percentile among them, plus printed-only percentile lines
    (as `end_to_end` gives them) for tails the run may have too few samples
    for."""
    sc, sm = res["scalars"], res["samples"]
    cpus = sc["cpus"]
    selfs = self_times(spans)
    jobs = [s for s in spans if s["name"] == "spark.job"]
    by_trace = _jobs_under(spans)
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)

    def dur_ms(s):
        return (s["end_us"] - s["start_us"]) / 1000

    vals = {k: 0.0 for k in LAKE_LAYER + SPARK_LAYER + LEDGER_LAYER}
    counts, lines = {}, []
    for layer in SELF_LAYERS:
        vals[f"{layer}.self_ms"] = sum(
            selfs[s["id"]] for s in spans if s["trace"] != 0 and (
                s["name"] == layer or s["name"].startswith(layer + "."))) / 1000
    for q in queries:
        for suffix in ("build_ms", "action_ms", "jobs"):
            vals[f"{q}.{suffix}"] = 0.0

    if workload == "lake_serve":
        ex = sorted(named.get("lake.storage.exists", []),
                    key=lambda s: s["start_us"])
        ex_ms = [dur_ms(s) for s in ex]
        vals["lake.storage.exists_ms.p50"] = _p(ex_ms, 0.5)
        counts["lake.storage.exists_ms.p50"] = len(ex_ms)
        lines.append(percentile_line("lake.storage.exists_ms.p90", ex_ms, 0.9))
        # direct exists calls on the served lake, after serving against
        # before: a lookup that grows with the lake's files reads above 1
        vals["lake.storage.exists_growth"] = (
            median(sm["exists_after_ms"]) / median(sm["exists_before_ms"]))
        counts["lake.storage.exists_growth"] = len(sm["exists_after_ms"])
        for key in ("lake.manifest_files", "lake.data_files",
                    "lake.bytes_per_user_byte"):
            vals[key] = sc[key]
        lists = named.get("lake.storage.list", [])
        vals["lake.storage.list_ms.p50"] = _p([dur_ms(s) for s in lists], 0.5)
        counts["lake.storage.list_ms.p50"] = len(lists)
        roots = {s["id"] for s in named.get("lake.http.ingest", [])}
        svc = named.get("lake.service.ingest", [])
        served = [dur_ms(s) for s in svc if s["parent"] in roots]
        vals["lake.service.ingest_ms.p50"] = _p(served, 0.5)
        counts["lake.service.ingest_ms.p50"] = len(served)
        bulk_root = {s["id"] for s in named.get("lake.bulk", [])}
        serve_svc = {s["id"] for s in svc if s["parent"] in roots}
        saves = [dur_ms(s) for s in named.get("lake.storage.save", [])
                 if s["parent"] in serve_svc]
        vals["lake.storage.save_ms.p50"] = _p(saves, 0.5)
        counts["lake.storage.save_ms.p50"] = len(saves)
        vals["lake.service.bulk_ingest_ms"] = sum(
            dur_ms(s) for s in svc if s["parent"] in bulk_root)
        fetch = [s for s in named.get("lake.fetch", [])
                 if s["trace"] in bulk_root]
        vals["lake.fetch_ms"] = sum(dur_ms(s) for s in fetch)
        vals["lake.fetch_calls"] = len(fetch)
        for route in ("status", "list", "ingest"):
            reqs = named.get(f"lake.http.{route}", [])
            vals[f"lake.http.{route}_overhead_ms.p50"] = _p(
                [selfs[s["id"]] / 1000 for s in reqs], 0.5)
            counts[f"lake.http.{route}_overhead_ms.p50"] = len(reqs)
            vals[f"spark.jobs_per_{route}"] = (
                sum(len(by_trace.get(s["id"], [])) for s in reqs) / len(reqs)
                if reqs else 0.0)
    else:
        builds = named.get("ledger.build", [])
        actions = named.get("ledger.action", [])
        vals["ledger.build_ms"] = sum(dur_ms(s) for s in builds)
        vals["ledger.action_ms"] = sum(dur_ms(s) for s in actions)
        vals["ledger.jobs"] = sum(
            len(by_trace.get(s["id"], [])) for q in queries
            for s in named.get(q, []))
        for q in queries:
            for s in named.get(q, []):
                b = [c for c in builds if c["parent"] == s["id"]]
                a = [c for c in actions if c["parent"] == s["id"]]
                vals[f"{q}.build_ms"] += sum(dur_ms(c) for c in b)
                vals[f"{q}.action_ms"] += sum(dur_ms(c) for c in a)
                vals[f"{q}.jobs"] += len(by_trace.get(s["id"], []))

    # Scheduler totals over the measured work: every job started while the
    # clients were serving, or every job of a traced ledger pass.
    if workload == "lake_serve":
        lo, hi = sc["serve_start_us"], sc["serve_end_us"]
        mj = [j for j in jobs if lo <= j["start_us"] <= hi]
        wall_ms = (hi - lo) / 1000
    else:
        measured = {s["id"] for q in queries for s in named.get(q, [])}
        mj = [j for j in jobs if j["trace"] in measured]
        # the jobs of a query run while its DataFrame is built and during
        # its action, so both count as its wall time
        wall_ms = vals["ledger.build_ms"] + vals["ledger.action_ms"]
    vals["spark.jobs"] = len(mj)
    vals["spark.tasks"] = sum(j["tasks"] for j in mj)
    vals["spark.task_ms"] = sum(j["task_ms"] for j in mj)
    vals["spark.shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for j in mj)
    vals["spark.spill_bytes"] = sum(j["spill_bytes"] for j in mj)
    vals["spark.busy_ratio"] = (
        vals["spark.task_ms"] / (wall_ms * cpus) if wall_ms else 0.0)
    # Traced against untraced operations of the same run: status requests
    # (median latency) on lake_serve, each query once traced and once not
    # (summed time) on ledger.
    traced, untraced = sm.get("traced_ms", []), sm.get("untraced_ms", [])
    if traced and untraced:
        avg = median if workload == "lake_serve" else sum
        vals["trace.overhead_pct"] = 100 * (avg(traced) / avg(untraced) - 1)

    units = {}
    for k in vals:
        if k.endswith(("_ms", ".p50", ".p90")) or "_ms." in k:
            units[k] = "ms"
        elif k.endswith("bytes"):
            units[k] = "bytes"
        elif k.endswith("_pct"):
            units[k] = "%"
        elif k.endswith(("ratio", "growth", "per_user_byte")):
            units[k] = "ratio"
        else:
            units[k] = "count"
    out = check_names({k: metric(v, units[k]) for k, v in vals.items()})
    return out, counts, lines
