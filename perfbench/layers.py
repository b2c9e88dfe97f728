"""Per-layer metrics of a traced run, from the raw spans and listener
records the JVM side writes (see Trace.scala).

Counts come from the first timed pass only, so two traced runs of the same
code report the same counts however many passes each fitted in.
"""
import os
import statistics
from collections import defaultdict
from pathlib import Path

import stats

MB = 1e6
STREAM_STAGES = {"prerating": "prerating", "cdr_ingest": "hardened_ingest",
                 "leg_assembly": "leg_assembly", "rating": "rating"}
STREAM_FIELDS = ["batches", "empty_batches", "plan_s", "commit_s", "list_s",
                 "add_batch_s", "state_rows", "state_mb", "state_commit_s",
                 "wait_s"]
PLAN_FACTS = ["exchanges", "scans", "smj", "bhj", "nlj",
              "single_partition_windows"]
# every per-layer metric with its unit, in BENCHMARK.json order
UNITS = {
    "core.session_s": "s", "core.scan_mb": "MB", "core.scan_rows": "count",
    "core.scan_tasks": "count",
    "queries.build_s": "s", "queries.run_s": "s",
    "queries.jobs": "count", "queries.stages": "count",
    "queries.tasks": "count", "queries.driver_gap_s": "s",
    "queries.task_cpu_s": "s", "queries.gc_s": "s",
    "queries.shuffle_read_mb": "MB", "queries.shuffle_write_mb": "MB",
    "queries.spill_mb": "MB", "queries.cuts": "count", "queries.cut_mb": "MB",
    **{f"queries.{f}": "count" for f in PLAN_FACTS},
    "pipelines.dedup_graph_s": "s", "pipelines.curation_s": "s",
    "pipelines.shard_write_s": "s",
    "pipelines.jobs": "count", "pipelines.stages": "count",
    "pipelines.driver_gap_s": "s", "pipelines.shuffle_mb": "MB",
    "pipelines.spill_mb": "MB", "pipelines.cuts": "count",
    "pipelines.cut_mb": "MB", "pipelines.written_mb": "MB",
    "pipelines.files_written": "count",
    **{f"streaming.{st}.{f}": ("count" if f in ("batches", "empty_batches", "state_rows")
                               else "MB" if f == "state_mb" else "s")
       for st in STREAM_STAGES.values() for f in STREAM_FIELDS},
    "streaming.files_written": "count", "streaming.written_mb": "MB",
    "streaming.redelivery_drop_s": "s", "streaming.restart_s": "s",
    "trace.pass_s": "s",
}


class Spans:
    """The span tree of one run, with listener records hung on it."""

    def __init__(self, tr):
        self.by_id = {s["id"]: s for s in tr.get("spans", [])}
        self.children = defaultdict(list)
        for s in self.by_id.values():
            self.children[s["parent"]].append(s["id"])
        self.jobs = defaultdict(list)
        for j in tr.get("jobs", []):
            self.jobs[j["span"]].append(j)
        self.stages = defaultdict(list)
        for st in tr.get("stages", []):
            self.stages[st["span"]].append(st)
        self.blocks = defaultdict(list)
        for b in tr.get("blocks", []):
            self.blocks[b["span"]].append(b)
        self.plans = defaultdict(list)
        for p in tr.get("plans", []):
            self.plans[p["span"]].append(p)

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x])
        return out

    def first_pass(self):
        """Ids of the spans directly under the first timed pass."""
        for sid, s in self.by_id.items():
            if s["layer"] == "pass" and s["name"] == "0":
                return s, [self.by_id[c] for c in sorted(self.children[sid])]
        return None, []

    def outermost(self, top, layer):
        """The spans of `layer` under `top` that no span of `layer` encloses."""
        if top is None:
            return []
        out, todo = [], list(self.children[top["id"]])
        while todo:
            s = self.by_id[todo.pop()]
            if s["layer"] == layer:
                out.append(s)
            else:
                todo.extend(self.children[s["id"]])
        return sorted(out, key=lambda s: s["id"])

    def duration(self, s):
        return (s["end_us"] - s["start_us"]) / 1e6

    def self_s(self, s):
        kids = [(self.by_id[c]["start_us"], self.by_id[c]["end_us"])
                for c in self.children[s["id"]]]
        return stats.self_time(s["start_us"], s["end_us"], kids) / 1e6

    def counters(self, s):
        """Listener counts of one span and everything under it."""
        ids = self.subtree(s["id"])
        jobs = [j for i in ids for j in self.jobs[i]]
        stages = [x for i in ids for x in self.stages[i]]
        blocks = [b for i in ids for b in self.blocks[i]]
        plans = [p for i in ids for p in self.plans[i]]
        intervals = [(j["start_us"], j["end_us"]) for j in jobs if j["end_us"] > 0]
        c = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(x["tasks"] for x in stages),
            "driver_gap_s": stats.driver_gap(s["start_us"], s["end_us"], intervals) / 1e6,
            "task_cpu_s": sum(x["cpu_ns"] for x in stages) / 1e9,
            "gc_s": sum(x["gc_ms"] for x in stages) / 1e3,
            "shuffle_read_mb": sum(x["shuffle_read_bytes"] for x in stages) / MB,
            "shuffle_write_mb": sum(x["shuffle_write_bytes"] for x in stages) / MB,
            "spill_mb": sum(x["spill_bytes"] for x in stages) / MB,
            "cuts": len({b["rdd"] for b in blocks}),
            "cut_mb": sum(b["bytes"] for b in blocks) / MB,
            "scan_mb": sum(x["input_bytes"] for x in stages) / MB,
            "scan_rows": sum(x["input_rows"] for x in stages),
            "scan_tasks": sum(x["tasks"] for x in stages if x["input_bytes"] > 0),
        }
        for f in PLAN_FACTS:
            c[f] = sum(p.get(f, 0) for p in plans)
        return c


def _files(root):
    """Data files (not markers, checksums or logs) under a directory."""
    n = size = 0
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("part-", "batch-")) or f.endswith(".parquet"):
                if not f.endswith(".crc"):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
    return n, size / MB


def compute(raw, work):
    """(metrics, detail): every per-layer metric, plus the per-query /
    per-stage breakdown the layer-diff script compares."""
    m = {k: 0 for k in UNITS}
    detail = {"units": {}, "self_s": {}}
    m["core.session_s"] = statistics.median(r["session_s"] for r in raw["setup_rounds"])
    sp = Spans(raw.get("trace_records") or {})
    pass0, ops = sp.first_pass()
    if pass0 is not None:
        m["trace.pass_s"] = sp.duration(pass0)
    self_by_layer = defaultdict(float)
    for s in sp.by_id.values():
        self_by_layer[s["layer"]] += sp.self_s(s)
    detail["self_s"] = dict(self_by_layer)
    wl = raw["workload"]
    for s in sp.outermost(pass0, "queries"):
        c = sp.counters(s)
        kids = {sp.by_id[k]["name"]: sp.duration(sp.by_id[k]) for k in sp.children[s["id"]]}
        row = {"build_s": kids.get("build", 0.0), "run_s": kids.get("run", 0.0),
               "self_s": sp.self_s(s), **c}
        for f in ("build_s", "run_s", "jobs", "stages", "tasks",
                  "driver_gap_s", "task_cpu_s", "gc_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "cuts", "cut_mb", *PLAN_FACTS):
            m[f"queries.{f}"] += row[f]
        detail["units"][s["name"]] = row
    for s in ops:
        c = sp.counters(s)
        for f in ("scan_mb", "scan_rows", "scan_tasks"):
            m[f"core.{f}"] += c[f]
        if s["layer"] == "pipelines":
            row = {"wall_s": sp.duration(s), "self_s": sp.self_s(s), **c}
            m[f"pipelines.{s['name']}_s"] += row["wall_s"]
            for f in ("jobs", "stages", "driver_gap_s", "spill_mb", "cuts", "cut_mb"):
                m[f"pipelines.{f}"] += c[f]
            m["pipelines.shuffle_mb"] += c["shuffle_read_mb"] + c["shuffle_write_mb"]
            detail["units"][s["name"]] = row
    if wl == "curation_sink":
        m["pipelines.files_written"], m["pipelines.written_mb"] = \
            _files(Path(work) / "curation")
    if wl == "rating_stream":
        _streaming(raw, m, detail)
    return m, detail


def _streaming(raw, m, detail):
    facts = raw.get("facts", {})
    timed = [o for o in raw["ops"] if o["kind"] == "wave" and o["pass"] == 0]
    waves = {o["wave"]: o for o in timed}
    prog = [p for p in facts.get("progress", []) if p["wave"] in waves]
    for stage, key in STREAM_STAGES.items():
        mine = [p for p in prog if p["stage"] == stage]
        d = lambda p, k: p["duration_ms"].get(k, 0) / 1e3
        row = {
            "batches": len(mine),
            "empty_batches": sum(1 for p in mine if p["rows"] == 0),
            "plan_s": sum(d(p, "queryPlanning") for p in mine),
            "commit_s": sum(d(p, "walCommit") + d(p, "commitOffsets") for p in mine),
            "list_s": sum(d(p, "latestOffset") + d(p, "getBatch") for p in mine),
            "add_batch_s": sum(d(p, "addBatch") for p in mine),
            "state_rows": max((p["state_rows"] for p in mine), default=0),
            "state_mb": max((p["state_bytes"] for p in mine), default=0) / MB,
            "state_commit_s": sum(p["state_commit_ms"] for p in mine) / 1e3,
            "wait_s": sum(w["s"] for w in waves.values())
            - sum(d(p, "triggerExecution") for p in mine),
        }
        for f in STREAM_FIELDS:
            m[f"streaming.{key}.{f}"] = row[f]
        detail["units"][key] = row
    out = facts.get("outputs")
    if out:
        n = size = 0
        for d_ in ("prerated", "legs", "calls", "rated"):
            a, b = _files(Path(out) / d_)
            n, size = n + a, size + b
        m["streaming.files_written"], m["streaming.written_mb"] = n, size
    m["streaming.redelivery_drop_s"] = facts.get("redelivery_drop_s", 0.0)
    m["streaming.restart_s"] = facts.get("restart_s", 0.0)
