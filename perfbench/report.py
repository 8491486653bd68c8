"""Turn a finished run into its metrics record, save it, print it."""

from __future__ import annotations

import glob
import json
import os
import statistics

import stats
from harness import LAYERS
from spans import attribute, find_event_log, read_event_log, union_length

LAYER_METRICS = [("calls", "count"), ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                 ("task_cpu_s", "s"), ("python_cpu_s", "s"), ("shuffle_bytes", "bytes"),
                 ("spill_bytes", "bytes"), ("driver_s", "s"), ("failed", "count")]


def _m(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(ctx, setup_s: float) -> tuple[dict, dict]:
    """(gated end-to-end metrics, reported-only extras)."""
    lat = [o["latency_s"] * 1000 for o in ctx.ops]
    gated = {
        "setup_s": _m(setup_s, "s"),
        "wall_s": _m(statistics.median(r["wall_s"] for r in ctx.rounds), "s"),
        "cpu_s": _m(statistics.median(r["cpu_s"] for r in ctx.rounds), "s"),
        "op_geomean_ms": _m(statistics.geometric_mean(lat), "ms"),
    }
    extra = {"rounds": _m(len(ctx.rounds), "count"),
             "error_rate": _m(ctx.failed / max(ctx.attempted, 1), "ratio"),
             "peak_cached_mb": _m(ctx.cached_mb_peak, "MB")}
    for cls in ("upsert", "query", "weekly", None):
        xs = [o["latency_s"] * 1000 for o in ctx.ops if cls is None or o["cls"] == cls]
        if not xs:
            continue
        d = stats.describe(xs)
        name = cls or "op"
        extra[f"{name}_mean_ms"] = _m(d["mean"], "ms") | {"n": d["n"]}
        if "tail" in d:
            extra[f"{name}_p50_ms"] = _m(d["p50"], "ms") | {"n": d["n"]}
            extra[f"{name}_p{d['tail_p']:g}_ms"] = _m(d["tail"], "ms") | {"n": d["n"]}
    for sp in ctx.tracer.spans:
        if sp.name in ("session.start", "session.warm", "prepare") and sp.parent == 0:
            extra[sp.name.replace(".", "_") + "_s"] = _m(sp.end - sp.start, "s")
    for k in ("er_precision", "er_recall"):
        if k in ctx.extra:
            extra[k] = _m(ctx.extra[k], "ratio")
    return gated, extra


def per_layer(ctx) -> tuple[dict, dict]:
    """(per-layer metrics, per-operation job counts) from the spans and
    the Spark event log of a traced run."""
    spans = ctx.tracer.spans
    by_id = {s.id: s for s in spans}
    jobs = read_event_log(find_event_log(os.path.join(ctx.work_dir, "eventlog")))
    owner = attribute({j.job_id: j.submit for j in jobs}, spans)

    def op_of(sid):
        while sid is not None and by_id[sid].attrs.get("kind") != "op":
            sid = by_id[sid].parent
        return sid

    op_jobs: dict[int, list] = {}
    for j in jobs:
        op = op_of(owner[j.job_id])
        if op is not None:
            op_jobs.setdefault(op, []).append(j)
    out = {f"{layer}.{m}": _m(0, u) for layer in LAYERS for m, u in LAYER_METRICS}
    for o in ctx.ops:
        s, js = by_id[o["span"]], op_jobs.get(o["span"], [])
        p = o["layer"] + "."
        phase = {c.name: c.end - c.start for c in ctx.tracer.children(s.id)}
        busy = union_length([iv for j in js for iv in j.intervals], s.start, s.end)
        for k, v in (("calls", 1), ("build_s", phase.get("build", 0.0)),
                     ("exec_s", phase.get("exec", 0.0)), ("jobs", len(js)),
                     ("task_cpu_s", sum(j.task_cpu_s for j in js)),
                     ("python_cpu_s", s.attrs["py_cpu1"] - s.attrs["py_cpu0"]),
                     ("shuffle_bytes", sum(j.shuffle_bytes for j in js)),
                     ("spill_bytes", sum(j.spill_bytes for j in js)),
                     ("driver_s", (s.end - s.start) - busy),
                     ("failed", (not o["ok"]) + sum(j.retried for j in js))):
            out[p + k]["value"] += v
        o["jobs"] = len(js)
        o["output_bytes"] = sum(j.output_bytes for j in js)
    writes = [o for o in ctx.ops if o["cls"] == "upsert"]
    bytes_in = sum(w["bytes_in"] for w in ctx.writes)
    out["sources.writers.write_amp"] = _m(
        sum(o["output_bytes"] for o in writes) / bytes_in if bytes_in else 0.0, "ratio")
    out["sources.writers.table_files"] = _m(
        statistics.mean(w["files"] for w in ctx.writes) if ctx.writes else 0.0, "files")
    out["plans.persist_slots.cached_mb_peak"] = _m(ctx.cached_mb_peak, "MB")
    named = {s.name: s for s in spans if s.parent is None or by_id[s.parent].name == "setup"}
    for k in ("session.start", "session.warm"):
        out[k + "_s"] = _m(named[k].end - named[k].start, "s")
    timed = named["timed"]
    wall = timed.end - timed.start
    covered = union_length([(by_id[o["span"]].start, by_id[o["span"]].end) for o in ctx.ops],
                           timed.start, timed.end)
    pauses = union_length([(s.start, s.end) for s in spans if s.attrs.get("kind") == "pause"],
                          timed.start, timed.end)
    out["trace.wall_s"] = _m(statistics.median(r["wall_s"] for r in ctx.rounds), "s")
    out["trace.coverage"] = _m(covered / max(wall - pauses, 1e-9), "ratio")
    return out, {"jobs_per_op": [[o["name"], o["jobs"]] for o in ctx.ops]}


def build(ctx, setup_s: float) -> dict:
    gated, extra = end_to_end(ctx, setup_s)
    rec = {"workload": ctx.workload, "seed": ctx.seed, "traced": ctx.traced,
           "run_id": ctx.tracer.run_id, "seconds": ctx.seconds,
           "attempted": ctx.attempted, "failed": ctx.failed,
           "failures": ctx.failures, "end_to_end": gated, "extra": extra,
           "ops": [[o["name"], round(o["latency_s"], 4), o["ok"]] for o in ctx.ops]}
    if ctx.traced:
        rec["per_layer"], more = per_layer(ctx)
        rec.update(more)
    return rec


def save(rec: dict, records_dir: str) -> None:
    os.makedirs(records_dir, exist_ok=True)
    with open(os.path.join(records_dir, rec["run_id"] + ".json"), "w") as f:
        json.dump(rec, f, indent=1)


def earlier(records_dir: str, rec: dict, traced: bool) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(records_dir, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if (r["workload"], r["seed"], r["traced"]) == (rec["workload"], rec["seed"], traced) \
                and r["run_id"] != rec["run_id"]:
            out.append(r)
    return out


def jobs_repeat(a: list, b: list) -> str:
    """Compare per-operation job counts of two runs of one seed over
    the operations both ran."""
    for (na, ja), (nb, jb) in zip(a, b):
        if na != nb:
            return f"mismatch: op order differs at {na} vs {nb}"
        if ja != jb:
            return f"mismatch: {na} ran {ja} jobs vs {jb}"
    return f"ok ({min(len(a), len(b))} ops)"


def print_table(rec: dict, records_dir: str | None = None) -> None:
    print(f"workload {rec['workload']} seed {rec['seed']} "
          f"{'traced' if rec['traced'] else 'untraced'}: "
          f"{rec['attempted']} operations, {rec['failed']} failed")
    for why in rec["failures"]:
        print(f"  FAILED {why}")
    for k, v in {**rec["end_to_end"], **rec["extra"]}.items():
        n = f"  (n={v['n']})" if "n" in v else ""
        print(f"  {k:32s} {v['value']:14.4f} {v['unit']}{n}")
    if rec["traced"]:
        for k, v in rec["per_layer"].items():
            if v["value"]:
                print(f"  {k:44s} {v['value']:16.4f} {v['unit']}")
        if records_dir:
            plain = earlier(records_dir, rec, False)
            if plain:
                over = rec["per_layer"]["trace.wall_s"]["value"] - \
                    plain[-1]["end_to_end"]["wall_s"]["value"]
                print(f"  tracing overhead: {over:+.3f} s of wall_s "
                      f"(vs untraced {plain[-1]['run_id']})")
            prev = earlier(records_dir, rec, True)
            if prev:
                print(f"  jobs per op vs {prev[-1]['run_id']}: "
                      f"{jobs_repeat(prev[-1]['jobs_per_op'], rec['jobs_per_op'])}")
    verdict = "PASS" if rec["failed"] == 0 else "FAIL"
    print(f"output checks: {verdict}")
