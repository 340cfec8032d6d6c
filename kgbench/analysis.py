"""Metric arithmetic for the knowledge-graph benchmark.

Pure functions over the raw record one benchmark JVM writes
(result.json, and spans/jobs/tasks/counters JSON lines when traced).
No Spark and no I/O besides reading those files, so the arithmetic is
unit-tested on its own (kgbench/tests/test_analysis.py).
"""

import json
import math
import os

# Which operations each workload times: its own operation, and the reads
# that follow writes (for dashboard_mix the calls are the reads).
PRIMARY = {"build_full": "build", "dashboard_mix": "query", "ingest_small": "ingest"}
READ = {"build_full": "read", "dashboard_mix": "query", "ingest_small": "read"}

# End-to-end metrics: name -> (unit, better). Every workload reports all.
END_TO_END = {
    "op_p50_ms": ("ms", "lower"),
    "read_p50_ms": ("ms", "lower"),
    "work_per_s": ("1/s", "higher"),
    "setup_s": ("s", "lower"),
    "peak_heap_mb": ("MB", "lower"),
}

# The names each workload's end-to-end metrics go by in the benchmark's
# documentation, for the human-readable table.
ALIASES = {
    "build_full": {"op_p50_ms": "build_p50_ms", "read_p50_ms": "readback_p50_ms",
                   "work_per_s": "triples_per_s"},
    "dashboard_mix": {"op_p50_ms": "query_p50_ms", "read_p50_ms": "query_p50_ms",
                      "work_per_s": "queries_per_s"},
    "ingest_small": {"op_p50_ms": "batch_p50_ms", "read_p50_ms": "fresh_query_p50_ms",
                     "work_per_s": "ingest_frames_per_s"},
}

LAYERS = [
    "corpus.gen", "extract.frames", "link.phase1", "materialize.mosaics",
    "materialize.upsert", "canon.standardize", "canon.knn_tele",
    "canon.knn_content", "canon.dbscan", "pipeline.write", "query.all",
]
SPAN_STATS = {
    "wall_s": "s", "task_s": "s", "gc_s": "s", "idle_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "task_skew": "ratio", "jobs": "count",
}
KNN_LAYERS = ["canon.knn_tele", "canon.knn_content"]
QUERY_KINDS = ["B%d" % k for k in range(1, 17)]


def per_layer_names():
    """Per-layer metric name -> unit, in report order."""
    names = {}
    for layer in LAYERS:
        for stat, unit in SPAN_STATS.items():
            names["%s.%s" % (layer, stat)] = unit
    for layer in KNN_LAYERS:
        names["%s.cands_per_edge" % layer] = "ratio"
    for kind in QUERY_KINDS:
        names["query.%s.p50_ms" % kind] = "ms"
    return names


class MissingSample(Exception):
    """A metric has nothing to be computed from: every operation it
    would time failed, or the run never reached it. The run then
    reports no result rather than a 0."""


def need(values, metric):
    if not values:
        raise MissingSample("no successful sample for %s" % metric)
    return values


# ---- order statistics -------------------------------------------------

def percentile(values, q):
    """The q-th percentile (0..100), linear between closest ranks."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def drift(walls):
    """(median of the first half, median of the second half) of a run's
    operation latencies in issue order; None with fewer than two."""
    if len(walls) < 2:
        return None
    half = len(walls) // 2
    return median(walls[:half]), median(walls[len(walls) - half:])


# ---- end-to-end -------------------------------------------------------

def end_to_end(result):
    """End-to-end metrics, attempted/failed counts and extra figures for
    the table, from one result.json. In a traced run only the untraced
    operations count toward latency and throughput."""
    workload = result["workload"]
    timed = [o for o in result["ops"] if not (result["trace"] and o["traced"])]
    primary = [o for o in timed if o["kind"] == PRIMARY[workload] and o["ok"]]
    reads = [o for o in timed if o["kind"] == READ[workload] and o["ok"]]
    p_walls = need([o["wall_s"] for o in primary], "op_p50_ms")
    r_walls = need([o["wall_s"] for o in reads], "read_p50_ms")
    metrics = {
        "op_p50_ms": median(p_walls) * 1e3,
        "read_p50_ms": median(r_walls) * 1e3,
        "work_per_s": sum(o["items"] for o in primary) / sum(p_walls),
        "setup_s": result["setup_s"],
        "peak_heap_mb": max(need(result["heap_mb"], "peak_heap_mb")),
    }
    attempted = len(result["ops"])
    failed = sum(1 for o in result["ops"] if not o["ok"])
    extra = {
        "samples": len(p_walls),
        "read_samples": len(r_walls),
        "op_p90_ms": percentile(p_walls, 90) * 1e3,
        "error_rate": failed / attempted if attempted else 0.0,
        "drift": drift(p_walls),
    }
    return metrics, attempted, failed, extra


def correct(result):
    """Outputs are correct when every run check passed and every
    operation completed with the right result: an operation that threw
    makes a run as incorrect as one that returned a wrong result."""
    return all(c["ok"] for c in result["checks"]) and all(o["ok"] for o in result["ops"])


# ---- trace ------------------------------------------------------------

def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


class Trace:
    """Spans with the Spark jobs and tasks attributed to them.

    A job belongs to the span its job group names, provided the job was
    submitted while that span was open; otherwise (pool threads inherit
    stale groups) to the innermost span open at its submission time. A
    stage belongs to the first job that lists it, a task to its stage.
    """

    def __init__(self, spans, jobs, tasks, counters):
        self.spans = {s["id"]: s for s in spans}
        self.children = {}
        for s in spans:
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.job_span = {}
        for j in jobs:
            sid = self._span_of(j["group"], j["time_ms"])
            if sid is not None:
                self.job_span[j["job"]] = sid
        stage_job = {}
        for j in sorted(jobs, key=lambda j: j["job"]):
            for st in j["stages"]:
                stage_job.setdefault(st, j["job"])
        self.tasks_by_span = {}
        self.stages_by_span = {}
        for t in tasks:
            sid = self.job_span.get(stage_job.get(t["stage"]))
            if sid is not None:
                self.tasks_by_span.setdefault(sid, []).append(t)
        self.jobs_by_span = {}
        for job, sid in self.job_span.items():
            self.jobs_by_span[sid] = self.jobs_by_span.get(sid, 0) + 1
        self.counters = {}
        for c in counters:
            self.counters[c["name"]] = self.counters.get(c["name"], 0) + c["value"]

    @classmethod
    def load(cls, directory):
        return cls(*(read_jsonl(os.path.join(directory, n)) for n in
                     ("spans.jsonl", "jobs.jsonl", "tasks.jsonl", "counters.jsonl")))

    def _open_at(self, sid, t):
        s = self.spans[sid]
        return s["start_ms"] - 1 <= t <= s["end_ms"] + 1

    def _span_of(self, group, t):
        if group is not None and group in self.spans and self._open_at(group, t):
            return group
        best = None
        for sid, s in self.spans.items():
            if s["start_ms"] <= t <= s["end_ms"] and (best is None or s["start_ms"] >= self.spans[best]["start_ms"]):
                best = sid
        return best

    def wall_ms(self, sid):
        s = self.spans[sid]
        return s["end_ms"] - s["start_ms"]

    def descendants(self, sid):
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children.get(cur, []))
        return out

    def self_ms(self, sid):
        s = self.spans[sid]
        kids = [(self.spans[c]["start_ms"], self.spans[c]["end_ms"]) for c in self.children.get(sid, [])]
        return self.wall_ms(sid) - union_length(clip(kids, s["start_ms"], s["end_ms"]))

    def root(self):
        roots = [sid for sid, s in self.spans.items() if s["name"] == "run"]
        return roots[0] if roots else None

    def phase(self, sid):
        """Name of the ancestor directly under the run span ("op" for
        the timed loop, "setup.*" for setup)."""
        run = self.root()
        cur = sid
        while self.spans[cur]["parent"] not in (run, -1):
            cur = self.spans[cur]["parent"]
        return self.spans[cur]["name"]

    def layer_spans(self, match):
        """Spans whose name satisfies `match`, from the timed loop when the
        loop has any, else from setup."""
        all_ = [sid for sid, s in self.spans.items() if match(s["name"])]
        loop = [sid for sid in all_ if self.phase(sid) == "op"]
        return loop or all_

    def stats(self, sids):
        """Per-layer statistics over a set of spans (each with its
        descendants' jobs and tasks)."""
        wall = task = gc = idle = shuffle = spill = 0.0
        jobs = 0
        skew = 1.0
        for sid in sids:
            s = self.spans[sid]
            tasks = [t for d in self.descendants(sid) for t in self.tasks_by_span.get(d, [])]
            jobs += sum(self.jobs_by_span.get(d, 0) for d in self.descendants(sid))
            wall += self.wall_ms(sid) / 1e3
            task += sum(t["run_ms"] for t in tasks) / 1e3
            gc += sum(t["gc_ms"] for t in tasks) / 1e3
            shuffle += sum(t["shuffle_write_bytes"] for t in tasks) / 1e6
            spill += sum(t["spill_bytes"] for t in tasks) / 1e6
            busy = union_length(clip([(t["launch_ms"], t["finish_ms"]) for t in tasks],
                                     s["start_ms"], s["end_ms"]))
            idle += (self.wall_ms(sid) - busy) / 1e3
            skew = max(skew, task_skew(tasks))
        return {"wall_s": wall, "task_s": task, "gc_s": gc, "idle_s": idle,
                "shuffle_mb": shuffle, "spill_mb": spill, "task_skew": skew, "jobs": jobs}


def task_skew(tasks):
    """Worst max/median task run time over the stages of `tasks` that ran
    at least two tasks; 1.0 when there is none."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    worst = 1.0
    for runs in by_stage.values():
        if len(runs) >= 2 and median(runs) > 0:
            worst = max(worst, max(runs) / median(runs))
    return worst


def per_layer(trace):
    """Every per-layer metric, by name."""
    out = {}
    for layer in LAYERS:
        if layer == "query.all":
            sids = trace.layer_spans(lambda n: n.startswith("query.B"))
        else:
            sids = trace.layer_spans(lambda n, layer=layer: n == layer)
        for stat, value in trace.stats(sids).items():
            out["%s.%s" % (layer, stat)] = value
    for layer in KNN_LAYERS:
        name = layer + ".cands_per_edge"
        edges = trace.counters.get(layer + ".edges", 0)
        if not edges:
            raise MissingSample("no kNN edges counted for %s" % name)
        out[name] = trace.counters.get(layer + ".candidates", 0) / edges
    for kind in QUERY_KINDS:
        name = "query.%s.p50_ms" % kind
        walls = [trace.wall_ms(sid) for sid in trace.layer_spans(lambda n, k=kind: n == "query." + k)]
        out[name] = median(need(walls, name))
    return out


def accounting(trace):
    """(traced wall, sum of span self times below the run span, the
    remainder no span covers) in seconds; the first equals the sum of the
    other two."""
    run = trace.root()
    if run is None:
        return None
    selfs = sum(trace.self_ms(sid) for sid in trace.spans if sid != run)
    return trace.wall_ms(run) / 1e3, selfs / 1e3, trace.self_ms(run) / 1e3


def tracing_overhead(result):
    """Median traced minus median untraced latency of the workload's own
    operation, in seconds; None unless the run had both."""
    kind = PRIMARY[result["workload"]]
    ops = [o for o in result["ops"] if o["kind"] == kind and o["ok"]]
    traced = [o["wall_s"] for o in ops if o["traced"]]
    plain = [o["wall_s"] for o in ops if not o["traced"]]
    if not traced or not plain:
        return None
    return median(traced) - median(plain), median(plain)
