"""Per-layer metrics, named after the library's modules.

Every traced run prints every name below; a layer a workload does not
exercise reads 0 there, which is the "idle on" prediction of README.md.
Timings come from the benchmark's spans, executor/Python/shuffle/byte
figures from the event log, streaming figures from
``StreamingQueryProgress``. Each value is the median over the timed reps
(maxima for the state-store sizes).
"""

from __future__ import annotations

import statistics

from spans import sum_events

OPERATORS = ("staypoints", "triplegs", "trips", "tours", "locations")
_OP_METRICS = (("call_s", "s"), ("action_s", "s"), ("jobs", "count"), ("executor_s", "s"),
               ("python_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``, in print order."""
    out = [("session.start_s", "s"), ("session.warmup_s", "s"),
           ("sources.bytes_read", "bytes"), ("sources.rows_read", "count")]
    for op in OPERATORS:
        out += [(f"operators.{op}.{m}", u) for m, u in _OP_METRICS]
    out += [(f"plans.{op}.eager_jobs", "count") for op in OPERATORS]
    out += [("plans.pinned_rdds", "count"),
            ("analysis.activity_flag.call_s", "s"), ("analysis.activity_flag.jobs", "count")]
    out += [(f"streaming.{m}", "s") for m in
            ("add_batch_s", "planning_s", "wal_commit_s", "state_commit_s", "state_update_s", "python_s")]
    out += [("streaming.state_rows_max", "count"), ("streaming.state_bytes_max", "bytes"),
            ("streaming.triggers", "count")]
    out += [("geogr.join.call_s", "s"), ("geogr.join.action_s", "s"), ("geogr.join.jobs", "count"),
            ("geogr.join.executor_s", "s"), ("geogr.join.python_s", "s"),
            ("geogr.join.python_bytes_sent", "bytes"), ("geogr.join.shuffle_bytes", "bytes"),
            ("geogr.join.pairs_out", "count"), ("geogr.join.pairs_refined", "count"),
            ("geogr.join.refine_hit_ratio", "ratio")]
    out += [("tracing.setup_s", "s"), ("tracing.rep_p50_s", "s")]
    return out


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def per_layer(spans: list, reps: list, pinned: list, e2e: dict) -> dict:
    """``spans`` carry their event-log figures (``Tracer.attach_events``)."""
    by_run: dict = {}
    for s in spans:
        by_run.setdefault(s["run"], {})[s["name"]] = s

    def per_rep(fn):
        vals = [fn(by_run[r["run"]], r) for r in reps if r["ok"]]
        return statistics.median(vals) if vals else 0.0

    v = {"session.start_s": _dur(by_run["setup"]["get_spark"]),
         "session.warmup_s": _dur(by_run["setup"]["warmup"])}
    v["sources.bytes_read"] = per_rep(lambda sp, r: sum_events(s["events"] for s in sp.values())["input_bytes"])
    v["sources.rows_read"] = per_rep(lambda sp, r: sum_events(s["events"] for s in sp.values())["input_rows"])

    def op_metric(sp, call, metric):
        """``call`` is the span of the library call; ``call.action``
        materialises its result."""
        if call not in sp:
            return 0.0
        c, a = sp[call], sp[call + ".action"]
        if metric == "call_s":
            return _dur(c)
        if metric == "action_s":
            return _dur(a)
        if metric == "eager_jobs":
            return c["events"]["jobs"]
        t = sum_events((c["events"], a["events"]))
        return {"jobs": t["jobs"], "executor_s": t["executor_s"], "python_s": t["python_s"],
                "shuffle_bytes": t["shuffle_write_bytes"], "spill_bytes": t["spill_bytes"],
                "python_bytes_sent": t["python_bytes_sent"], "pairs_refined": t["refine_rows"]}[metric]

    for op in OPERATORS:
        for m, _ in _OP_METRICS:
            v[f"operators.{op}.{m}"] = per_rep(lambda sp, r: op_metric(sp, f"generate_{op}", m))
        v[f"plans.{op}.eager_jobs"] = per_rep(lambda sp, r: op_metric(sp, f"generate_{op}", "eager_jobs"))
    v["plans.pinned_rdds"] = max(pinned) if pinned else 0
    v["analysis.activity_flag.call_s"] = per_rep(lambda sp, r: op_metric(sp, "create_activity_flag", "call_s"))
    v["analysis.activity_flag.jobs"] = per_rep(lambda sp, r: op_metric(sp, "create_activity_flag", "jobs"))

    progress = [p for r in reps if r["ok"] for p in r.get("progress", [])]

    def trig(key):
        return statistics.median(key(p) / 1e3 for p in progress) if progress else 0.0

    def state(p, key):
        return sum(so.get(key, 0) for so in p.get("stateOperators", []))

    v["streaming.add_batch_s"] = trig(lambda p: p["durationMs"].get("addBatch", 0))
    v["streaming.planning_s"] = trig(lambda p: p["durationMs"].get("queryPlanning", 0))
    v["streaming.wal_commit_s"] = trig(lambda p: p["durationMs"].get("walCommit", 0)
                                       + p["durationMs"].get("commitOffsets", 0))
    v["streaming.state_commit_s"] = trig(lambda p: state(p, "commitTimeMs"))
    v["streaming.state_update_s"] = trig(lambda p: state(p, "allUpdatesTimeMs"))
    v["streaming.python_s"] = per_rep(
        lambda sp, r: op_metric(sp, "trips_stream_exact", "python_s") / max(1, len(r.get("progress", []))))
    v["streaming.state_rows_max"] = max((state(p, "numRowsTotal") for p in progress), default=0)
    v["streaming.state_bytes_max"] = max((state(p, "memoryUsedBytes") for p in progress), default=0)
    v["streaming.triggers"] = per_rep(lambda sp, r: len(r.get("progress", [])))

    join = "trajectory_similarity_join"
    for m in ("call_s", "action_s", "jobs", "executor_s", "python_s", "python_bytes_sent", "shuffle_bytes",
              "pairs_refined"):
        v[f"geogr.join.{m}"] = per_rep(lambda sp, r: op_metric(sp, join, m))
    v["geogr.join.pairs_out"] = per_rep(lambda sp, r: r.get("pairs", 0))
    v["geogr.join.refine_hit_ratio"] = (v["geogr.join.pairs_out"] / v["geogr.join.pairs_refined"]
                                        if v["geogr.join.pairs_refined"] else 0.0)
    v["tracing.setup_s"] = e2e["setup_s"]
    v["tracing.rep_p50_s"] = e2e["rep_p50_s"]
    return {n: {"value": v[n], "unit": u} for n, u in names()}
