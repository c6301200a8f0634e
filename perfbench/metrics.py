"""Metrics from a run's spans: the pure statistics (percentiles, interval
unions, self time) and the per-workload end-to-end and per-layer tables."""
import math
import statistics

MODULES = ["Relational", "Dedup", "TextAnalysis", "Similarity", "Curation",
           "Pipeline", "Temporal", "Multimodal", "WeatherQueries"]
STORES = ["docs", "bands", "winfps", "edges"]
PROGRESS = ["addBatch", "queryPlanning", "walCommit", "triggerExecution"]
ENDPOINTS = ["cities", "provinces", "geocode", "weather"]
MS = 1e6  # nanoseconds per millisecond

END_TO_END = [("setup_s", "s"), ("op_ms", "ms"), ("read_p50_ms", "ms")]

PER_LAYER = (
    [("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.sql_executions", "count"),
     ("spark.plan_ms", "ms"), ("spark.in_job_ms", "ms"), ("spark.outside_job_ms", "ms"),
     ("spark.task_ms", "ms"), ("spark.task_cpu_ms", "ms"),
     ("spark.shuffle_read_bytes", "bytes"), ("spark.shuffle_write_bytes", "bytes"),
     ("spark.spill_bytes", "bytes"),
     ("spark.job_p50_ms", "ms"), ("spark.job_tail_ms", "ms"),
     ("read.construct_ms", "ms"), ("read.exec_ms", "ms"), ("read.construct_jobs", "count"),
     ("trace_overhead", "share")]
    + [(f"queries.{m}.{k}", u) for m in MODULES
       for k, u in (("wall_share", "share"), ("outside_job_share", "share"), ("jobs", "count"))]
    + [(f"streaming.{p}_share", "share") for p in PROGRESS]
    + [("streaming.jobs_per_batch", "count"), ("streaming.growth", "ratio")]
    + [(f"streaming.state_{k}.{s}", u) for s in STORES for k, u in (("files", "count"), ("bytes", "bytes"))]
    + [("weather.fetch_window_share", "share"), ("weather.geocode_window_share", "share"),
       ("weather.geocode_requests_per_changed_row", "ratio"), ("weather.refresh_run_ratio", "ratio"),
       ("sources.http.inflight_max", "count"), ("sources.http.retries", "count")]
    + [(f"sources.http.requests.{e}", "count") for e in ENDPOINTS]
    + [("sources.tablestore.facts_files", "count"), ("sources.tablestore.facts_bytes", "bytes"),
       ("sources.tablestore.bytes_per_fact_row", "bytes"),
       ("sources.tablestore.snapshot_files", "count")])


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def tail_percentile(n, ladder=(99, 95, 90, 80, 75, 70, 60, 50)):
    """The highest percentile of the ladder with at least ten of n samples beyond it."""
    for p in ladder:
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals, each first clipped to [lo, hi]."""
    clipped = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                     for a, b in intervals)
    total, end = 0, None
    for a, b in clipped:
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


class Trace:
    """Spans indexed for attribution: each Spark job, SQL execution and plan
    span is assigned to the operation or read it ran under, through its
    linked span id when it has one, else by time (one client, closed loop)."""

    def __init__(self, spans):
        self.spans = spans
        self.by_id = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s)
        self.units = sorted((s for s in spans if s["name"] in ("op", "read")),
                            key=lambda s: s["start"])
        self.of = {}
        for s in spans:
            if s["name"] in ("spark.job", "spark.sql", "spark.plan", "streaming.progress"):
                u = self._unit(s)
                if u is not None:
                    self.of.setdefault(u["id"], []).append(s)

    def _unit(self, s):
        link = s["attrs"].get("linked", 0) or s["parent"]
        while link:
            x = self.by_id.get(link)
            if x is None:
                break
            if x["name"] in ("op", "read"):
                return x
            link = x["parent"]
        at = s["end"] if s["name"] == "spark.plan" else s["start"]
        for u in self.units:
            if u["start"] - MS <= at <= u["end"] + MS:
                return u
        return None

    def descendants(self, span):
        out, todo = [], list(self.children.get(span["id"], []))
        while todo:
            c = todo.pop()
            out.append(c)
            todo += self.children.get(c["id"], [])
        return out

    def layers(self, u):
        """Per-unit layer figures for one operation or read span."""
        wall = u["end"] - u["start"]
        attached = self.of.get(u["id"], [])
        jobs = [s for s in attached if s["name"] == "spark.job"]
        in_job = union_length([(j["start"], j["end"]) for j in jobs], u["start"], u["end"])
        desc = self.descendants(u)
        construct = [d for d in desc if d["attrs"].get("role") == "construct"]
        sum_attr = lambda k: sum(j["attrs"].get(k, 0) for j in jobs)
        return {
            "wall_ms": wall / MS,
            "spark.jobs": len(jobs),
            "spark.tasks": sum_attr("tasks"),
            "spark.sql_executions": sum(1 for s in attached if s["name"] == "spark.sql"),
            "spark.plan_ms": sum(s["attrs"]["optimize_ms"] + s["attrs"]["plan_ms"]
                                 for s in attached if s["name"] == "spark.plan"),
            "spark.in_job_ms": in_job / MS,
            "spark.outside_job_ms": (wall - in_job) / MS,
            "spark.task_ms": sum_attr("task_ms"),
            "spark.task_cpu_ms": sum_attr("task_cpu_ns") / MS,
            "spark.shuffle_read_bytes": sum_attr("shuffle_read_bytes"),
            "spark.shuffle_write_bytes": sum_attr("shuffle_write_bytes"),
            "spark.spill_bytes": sum_attr("spill_bytes"),
            "read.construct_ms": sum(d["end"] - d["start"] for d in construct) / MS,
            "read.exec_ms": sum(d["end"] - d["start"] for d in desc
                                if d["attrs"].get("role") == "exec") / MS,
            "read.construct_jobs": sum(1 for j in jobs if any(
                c["start"] - MS <= j["start"] <= c["end"] for c in construct)),
            "progress": [s["attrs"] for s in attached if s["name"] == "streaming.progress"],
        }


def wall_ms(s):
    return (s["end"] - s["start"]) / MS


def end_to_end(workload, raw):
    """The end-to-end metrics of an untraced run, from its operation and read spans."""
    spans = raw["spans"]
    ops = [s for s in spans if s["name"] == "op" and "error" not in s["attrs"]]
    reads = [s for s in spans if s["name"] == "read" and "error" not in s["attrs"]]
    if workload == "query_suite":
        # the first timed pass still warms up: left out, as in per_layer
        ops = [s for s in ops if s["attrs"]["pass"] > 0]
        reads = ops
        per_query = {}
        for s in ops:
            per_query.setdefault(s["attrs"]["query"], []).append(wall_ms(s))
        op_ms = sum(median(v) for v in per_query.values())
    else:
        # a scheduled run that refreshes the feed is a different operation;
        # its cost relative to a steady run is the per-layer refresh ratio
        op_ms = median([wall_ms(s) for s in ops if not s["attrs"].get("changed")])
    read_ms = [wall_ms(s) for s in reads]
    if workload == "weather_schedule":
        # a dashboard read is its three panels, read one after another
        per_read = {}
        for s in reads:
            k = (s["attrs"]["tick"], s["attrs"]["poll"])
            per_read[k] = per_read.get(k, 0) + wall_ms(s)
        read_ms = list(per_read.values())
    return {
        "setup_s": median(raw["setup_s"]),
        "op_ms": op_ms,
        "read_p50_ms": median(read_ms),
    }


def per_layer(workload, raw):
    """Per-layer metrics of a traced run: medians over its traced operations,
    plus the run-level counts of the layers the workload exercises."""
    tr = Trace(raw["spans"])
    out = {name: 0.0 for name, _ in PER_LAYER}
    ops = [u for u in tr.units if u["name"] == "op" and "error" not in u["attrs"]]
    traced = [u for u in ops if u["attrs"].get("traced")]
    plain = [u for u in ops if not u["attrs"].get("traced")]
    figs = [tr.layers(u) for u in traced]
    for k in out.keys() & (figs[0].keys() if figs else set()):
        out[k] = median([f[k] for f in figs])
    # the fixed floor every operation pays: how long one Spark job takes
    jobs = [wall_ms(s) for s in tr.spans if s["name"] == "spark.job"]
    tail = tail_percentile(len(jobs))
    out["spark.job_p50_ms"] = median(jobs)
    if tail:
        out["spark.job_tail_ms"] = percentile(jobs, tail)
    with_reads = [u for u in tr.units if u["attrs"].get("traced") and "error" not in u["attrs"]
                  and (u["name"] == "read" or workload == "query_suite")]
    rfigs = [tr.layers(u) for u in with_reads]
    for k in ("read.construct_ms", "read.exec_ms", "read.construct_jobs"):
        out[k] = median([f[k] for f in rfigs])
    if workload == "query_suite":
        # traced and untraced passes alternate; compare each query with
        # itself, leaving out the first pass (still warming up)
        by_q = {}
        for u in (u for u in ops if u["attrs"]["pass"] > 0):
            by_q.setdefault(u["attrs"]["query"], {}).setdefault(
                bool(u["attrs"].get("traced")), []).append(wall_ms(u))
        pairs = [(median(v[True]), median(v[False])) for v in by_q.values() if len(v) == 2]
        out["trace_overhead"] = (sum(a for a, _ in pairs) / sum(b for _, b in pairs) - 1
                                 if pairs else 0.0)
    else:
        steady = lambda us: [wall_ms(u) for u in us if not u["attrs"].get("changed")]
        out["trace_overhead"] = (median(steady(traced)) / median(steady(plain)) - 1
                                 if steady(traced) and steady(plain) else 0.0)

    if workload == "query_suite":
        per_q = {}
        for u, f in zip(traced, figs):
            per_q.setdefault((u["attrs"]["module"], u["attrs"]["query"]), []).append(f)
        total = sum(median([f["wall_ms"] for f in fs]) for fs in per_q.values())
        for m in MODULES:
            mine = [fs for (mod, _), fs in per_q.items() if mod == m]
            wall = sum(median([f["wall_ms"] for f in fs]) for fs in mine)
            outside = sum(median([f["spark.outside_job_ms"] for f in fs]) for fs in mine)
            out[f"queries.{m}.wall_share"] = wall / total if total else 0.0
            out[f"queries.{m}.outside_job_share"] = outside / wall if wall else 0.0
            out[f"queries.{m}.jobs"] = median([median([f["spark.jobs"] for f in fs]) for fs in mine])

    if workload == "doc_stream":
        for p in PROGRESS:
            out[f"streaming.{p}_share"] = median(
                [sum(g.get(f"{p}_ms", 0) for g in f["progress"]) / f["wall_ms"] for f in figs])
        out["streaming.jobs_per_batch"] = median([f["spark.jobs"] for f in figs])
        batches = [wall_ms(u) for u in ops]
        q = max(1, len(batches) // 4)
        out["streaming.growth"] = median(batches[-q:]) / median(batches[:q]) if batches else 0.0
        for s in STORES:
            st = raw["extra"]["state"][s]
            out[f"streaming.state_files.{s}"] = st["files"]
            out[f"streaming.state_bytes.{s}"] = st["bytes"]

    if workload == "weather_schedule":
        a = lambda u, k: u["attrs"].get(k, 0)
        changed = [u for u in ops if a(u, "changed")]
        steady = [u for u in ops if not a(u, "changed")]
        out["weather.fetch_window_share"] = median([a(u, "fetch_window_ms") / wall_ms(u) for u in ops])
        out["weather.geocode_window_share"] = median(
            [a(u, "geocode_window_ms") / wall_ms(u) for u in changed])
        rows = sum(a(u, "changed_rows") for u in changed)
        out["weather.geocode_requests_per_changed_row"] = (
            sum(a(u, "requests.geocode") for u in changed) / rows if rows else 0.0)
        out["weather.refresh_run_ratio"] = (
            median([wall_ms(u) for u in changed]) / median([wall_ms(u) for u in steady])
            if changed and steady else 0.0)
        out["sources.http.inflight_max"] = max(a(u, "inflight_max") for u in ops)
        out["sources.http.retries"] = sum(a(u, "retries") for u in ops)
        for e in ENDPOINTS:
            out[f"sources.http.requests.{e}"] = median([a(u, f"requests.{e}") for u in ops])
        ts = raw["extra"]["tablestore"]
        out["sources.tablestore.facts_files"] = ts["facts_files"]
        out["sources.tablestore.facts_bytes"] = ts["facts_bytes"]
        out["sources.tablestore.bytes_per_fact_row"] = ts["facts_bytes"] / max(1, ts["facts_rows"])
        out["sources.tablestore.snapshot_files"] = ts["snapshot_files"]
    return out


def with_self_times(spans):
    """The spans, each with its self time: its duration minus the part of
    it covered by the spans recorded as its children."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    return [dict(s, self=self_time(s, children.get(s["id"], []))) for s in spans]


def notes(workload, raw):
    """What the per-layer figures rest on, for the span file: the tail
    percentile the job count allowed, and how the layers of each traced
    operation add up to its wall time."""
    tr = Trace(raw["spans"])
    jobs = [s for s in tr.spans if s["name"] == "spark.job"]
    units = [u for u in tr.units if u["attrs"].get("traced") and "error" not in u["attrs"]]
    figs = [tr.layers(u) for u in units]
    wall = sum(f["wall_ms"] for f in figs)
    share = lambda *ks: sum(f[k] for f in figs for k in ks) / wall if wall else 0.0
    return {
        "traced_units": len(units),
        "jobs": len(jobs),
        "job_tail_percentile": tail_percentile(len(jobs)),
        "construct_plus_exec_over_wall": share("read.construct_ms", "read.exec_ms"),
        "in_plus_outside_job_over_wall": share("spark.in_job_ms", "spark.outside_job_ms"),
    }
