"""Metrics from the harness's result file.

End-to-end metrics come from the untraced timed ops; per-layer metrics
from the traced passes of a `--trace 1` run. The names, units and
directions the benchmark reports are those of BENCHMARK.json at the
repository root; the report line adds every other metric of the
workload and the diagnostics.
"""
import json
import math
import os
import statistics

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the fixed percentile ladder of the tail metrics: the tail is the
# highest of these with at least ten samples beyond it
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

# a traced op reconciles when its layer self-times exceed its wall time
# by no more than this (listener timestamps have millisecond resolution)
RECONCILE_TOL_S = 0.010
RECONCILE_TOL_SHARE = 0.05

MEASURED = ("query", "commit", "read")
PHASES = ("analysis", "optimization", "planning")
LAYER_MEANS = [
    "operators.build_s", "operators.build_self_s", "operators.build_jobs", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "action.s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "scheduler.job_s", "scheduler.driver_gap_s", "scheduler.task_delay_s",
    "executor.task_cpu_s", "executor.gc_s", "shuffle.write_bytes",
    "shuffle.read_bytes", "shuffle.fetch_wait_s", "shuffle.spill_bytes",
    "sources.scan.bytes", "trace.other_s"]
DML = ("append", "merge", "delete", "update", "compact")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def unit(name):
    if name == "rows_per_s":
        return "rows/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_amp") or name == "error_rate":
        return "ratio"
    return "count"


def latencies(samples, window):
    """Op latencies; a failed op counts as missing every latency limit,
    so it takes the whole measured window."""
    return [window if s["error"] else s["wall_s"] for s in samples]


def tail(values):
    """(percentile, value, samples beyond it): the highest ladder
    percentile, by nearest rank, with at least ten samples beyond it;
    the median when there are too few samples for any."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in LADDER:
        k = math.ceil(p / 100.0 * n)
        if n - k >= 10:
            best = (p, xs[k - 1], n - k)
    return best or (50.0, statistics.median(xs), n // 2)


def latency_metrics(prefix, values):
    pct, value, beyond = tail(values)
    return ({f"{prefix}_p50_s": statistics.median(values), f"{prefix}_tail_s": value},
            {f"{prefix}_tail_pct": pct, f"{prefix}_tail_beyond": beyond,
             f"{prefix}_samples": len(values)})


def steps(timed):
    """The client's unit of work. Query workloads: one query. Lakehouse:
    one commit together with the read-back that follows it."""
    out = []
    for s in timed:
        if s["kind"] in ("query", "commit"):
            out.append([s])
        elif s["kind"] == "read" and out:
            out[-1].append(s)
    return out


def summarize(res, wrong, cores, trace):
    """(report, result): the report line and the benchmark's result."""
    window = res["window_s"]
    samples = res["samples"]
    timed = [s for s in samples if s["pass"] >= 0 and s["kind"] in MEASURED and not s["traced"]]
    failed = [s for s in samples if s["error"]]
    op_lat = [window if any(s["error"] for s in x) else sum(s["wall_s"] for s in x)
              for x in steps(timed)]
    values, tails = latency_metrics("op", op_lat)
    # the workload's ops differ in kind and cost, so the steady summary
    # of their latencies is the geometric mean: every op weighs the same
    values["op_geomean_s"] = math.exp(sum(math.log(x) for x in op_lat) / len(op_lat))
    values["setup_s"] = res["setup_s"]
    values["rows_per_s"] = (sum(s["extra"].get("input_rows", 0.0) for s in timed)
                            / max(1e-9, sum(s["wall_s"] for s in timed)))
    v, t = latency_metrics("query", latencies(
        [s for s in timed if s["kind"] in ("query", "read")], window))
    values.update(v)
    tails.update(t)
    commits = [s for s in timed if s["kind"] == "commit"]
    if commits:
        v, t = latency_metrics("commit", latencies(commits, window))
        values.update(v)
        tails.update(t)
        values["read_after_write_p50_s"] = values["query_p50_s"]
        user = sum(s["extra"]["user_bytes"] for s in commits)
        values["write_amp"] = sum(s["extra"]["bytes_written"] for s in commits) / max(1.0, user)
        values["space_amp"] = res["finish"]["space_amp"]
    values["peak_rss_mb"] = res["peak_rss_mb"]
    values["error_rate"] = len(failed) / len(samples)
    values["wrong_results"] = len(wrong)

    report = {"workload": res["workload"], "seed": res["seed"], "cores": cores,
              "passes": res["passes"], "window_s": window,
              "jvm_phases": res["phases"],
              "metrics": {k: {"value": x, "unit": unit(k)} for k, x in values.items()},
              "tails": tails, "finish": res["finish"],
              "failed_ops": [f"{s['name']}: {s['error']}" for s in failed],
              "op_wall_s": [[s["pass"], s["name"], s["wall_s"]] for s in timed],
              "wrong": wrong, "host": res["host"]}
    sp = spec()
    if trace:
        layers, report["reconcile"] = layer_metrics(res, cores)
        report["layers"] = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                            for m in sp["per_layer"]}
        values = layers
    wanted = sp["per_layer"] if trace else sp["end_to_end"]
    result = {
        "correct": not wrong and not failed,
        "attempted": len(samples),
        "failed": len(failed),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }
    return report, result


def union(ivs):
    """The disjoint, sorted union of [start, end) millisecond intervals."""
    out = []
    for a, b in sorted(iv for iv in ivs if iv[1] > iv[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def length(ivs):
    return sum(b - a for a, b in ivs)


def overlap(iv, disjoint):
    """Milliseconds of `iv` covered by the disjoint intervals."""
    return sum(max(0, min(iv[1], b) - max(iv[0], a)) for a, b in disjoint)


def op_layers(s):
    """One traced op's per-layer figures and their reconciliation, from
    its harness spans and the listener events attributed to it, taken
    as recorded (never clipped to the op's window).

    The op's wall time splits into layer self-times: the build span
    outside any job or Catalyst phase, each Catalyst phase outside any
    job, the union of the op's jobs, and a remainder of driver work
    with neither (`trace.other_s`). The split reconciles when every
    event lies inside the op's window and the parts do not exceed the
    wall time, and no two Catalyst phases overlap. An event attributed
    to the wrong op, or a phase counted twice, breaks one of these, and
    `trace.reconcile_err_s` says by how much."""
    ev = s["events"]
    w0, w1 = s["start_ms"], s["end_ms"]
    wall_ms = s["wall_s"] * 1000.0
    problems = []
    outside = 0.0

    def place(what, a, b):
        nonlocal outside
        # listener and harness clocks both tick in whole milliseconds
        out = max(0, w0 - 1 - a) + max(0, b - (w1 + 1))
        if out > 0:
            outside += out
            problems.append(f"{what} [{a}, {b}] outside the op window [{w0}, {w1}]")

    jobs = []
    for j in ev["jobs"]:
        end = j["end_ms"]
        if end < 0:
            problems.append(f"{j['phase']} job started at {j['start_ms']} never ended")
            outside += wall_ms
            end = max(w1, j["start_ms"])
        place(f"{j['phase']} job", j["start_ms"], end)
        jobs.append((j["start_ms"], end))
    J = union(jobs)
    phases = {k: [] for k in PHASES}
    for p in ev["plans"]:
        for k in PHASES:
            a, b = p[k]
            if b > 0:
                place(f"{k} phase", a, b)
                phases[k].append((a, b))
    catalyst = {k: sum((b - a) - overlap((a, b), J) for a, b in ivs)
                for k, ivs in phases.items()}
    planned = [iv for ivs in phases.values() for iv in ivs]
    twice = length(planned) - length(union(planned))
    if twice > 0:
        problems.append(f"Catalyst phases overlap by {twice} ms, so some time counts twice")
    build = (w0, w0 + s["build_s"] * 1000.0)
    build_self = (build[1] - build[0]) - overlap(build, union(jobs + planned))
    parts = build_self + sum(catalyst.values()) + length(J)
    err = max(0.0, parts - wall_ms) + outside + twice
    if parts - wall_ms > 0:
        problems.append(f"layer self-times {parts:.0f} ms exceed the wall time {wall_ms:.0f} ms")

    def tot(k):
        return sum(j[k] for j in ev["jobs"])
    job_s = length(J) / 1000.0
    layers = {
        "operators.build_s": s["build_s"],
        "operators.build_self_s": build_self / 1000.0,
        "operators.build_jobs": float(sum(j["phase"] == "build" for j in ev["jobs"])),
        "catalyst.analysis_s": catalyst["analysis"] / 1000.0,
        "catalyst.optimization_s": catalyst["optimization"] / 1000.0,
        "catalyst.planning_s": catalyst["planning"] / 1000.0,
        "action.s": s["action_s"],
        "scheduler.jobs": float(len(ev["jobs"])),
        "scheduler.stages": float(tot("stages")),
        "scheduler.tasks": float(tot("tasks")),
        "scheduler.job_s": job_s,
        "scheduler.driver_gap_s": max(0.0, s["wall_s"] - job_s),
        "scheduler.task_delay_s": tot("delay_ms") / 1000.0,
        "executor.task_cpu_s": tot("cpu_ns") / 1e9,
        "executor.gc_s": tot("gc_ms") / 1000.0,
        "shuffle.write_bytes": float(tot("shuffle_write_bytes")),
        "shuffle.read_bytes": float(tot("shuffle_read_bytes")),
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1000.0,
        "shuffle.spill_bytes": float(tot("spill_bytes")),
        "sources.scan.bytes": float(tot("in_bytes")),
        "sources.scan.rows": float(tot("in_rows")),
        "trace.wall_s": s["wall_s"],
        "trace.other_s": (wall_ms - parts) / 1000.0,
        "trace.reconcile_err_s": err / 1000.0,
    }
    return layers, problems


def reconciles(s):
    return s["layers"]["trace.reconcile_err_s"] <= max(RECONCILE_TOL_S, RECONCILE_TOL_SHARE * s["wall_s"])


def layer_metrics(res, cores):
    """Per-layer metrics (means per traced op, ratios of sums) and the
    reconciliation of each op's layer self-times with its wall time.
    Adds each traced op's `layers` and `problems` to its sample."""
    samples = res["samples"]
    ops = [s for s in samples if s["traced"] and s["kind"] in MEASURED]
    for s in samples:
        if s["traced"]:
            s["layers"], s["problems"] = op_layers(s)
    n = max(1, len(ops))
    L = [s["layers"] for s in ops]
    out = {k: sum(x[k] for x in L) / n for k in LAYER_MEANS}
    wall = sum(x["trace.wall_s"] for x in L)
    out["executor.cpu_util"] = sum(x["executor.task_cpu_s"] for x in L) / max(1e-9, wall * cores)
    out["sources.scan.rows_per_result_row"] = (
        sum(x["sources.scan.rows"] for x in L) / max(1, sum(s["rows"] for s in ops)))
    out["sources.scan.files_read"] = sum(s["extra"].get("files_read", 0.0) for s in ops) / n
    reads = [s for s in ops if s["kind"] == "read"]
    out["sources.scan.snapshot_s"] = sum(s["build_s"] for s in reads) / len(reads) if reads else 0.0
    commits = [s for s in ops if s["kind"] == "commit"]
    for k in DML:
        w = [s["wall_s"] for s in commits if s["name"].endswith("." + k)]
        out[f"sources.commit.{k}_s"] = sum(w) / len(w) if w else 0.0
    nc = max(1, len(commits))
    out["sources.commit.jobs"] = sum(s["layers"]["scheduler.jobs"] for s in commits) / nc
    out["sources.commit.files_written"] = sum(s["extra"]["files_written"] for s in commits) / nc
    out["sources.commit.log_bytes"] = sum(s["extra"]["log_bytes"] for s in commits) / nc
    # Delta checkpoints itself after each commit at a version divisible
    # by ten: those commits' time beyond traced commits of the same kind
    # at other versions
    delta = [s for s in commits if s["name"].startswith("delta.")]
    extra = []
    for c in (s for s in delta if s["extra"]["version"] % 10 == 0):
        rest = [s["wall_s"] for s in delta
                if s["name"] == c["name"] and s["extra"]["version"] % 10 != 0]
        if rest:
            extra.append(c["wall_s"] - statistics.mean(rest))
    out["sources.commit.checkpoint_extra_s"] = statistics.mean(extra) if extra else 0.0
    # traced minus untraced latency of the same op, median over ops
    traced_by, untraced_by = {}, {}
    for s in samples:
        if s["pass"] >= 0 and s["kind"] in MEASURED:
            (traced_by if s["traced"] else untraced_by).setdefault(s["name"], []).append(s["wall_s"])
    diffs = [statistics.median(traced_by[k]) - statistics.median(untraced_by[k])
             for k in traced_by if k in untraced_by]
    out["trace.overhead_s"] = statistics.median(diffs) if diffs else 0.0
    out["trace.reconcile_err_s"] = max((x["trace.reconcile_err_s"] for x in L), default=0.0)
    reconcile = {
        "ops": len(ops),
        "tolerance": f"max({RECONCILE_TOL_S}s, {RECONCILE_TOL_SHARE:.0%} of wall)",
        "unreconciled": [{"op": s["id"], "name": s["name"],
                          "err_s": s["layers"]["trace.reconcile_err_s"], "problems": s["problems"]}
                         for s in ops if not reconciles(s)],
        # the remainder no layer explains: driver work outside jobs and
        # Catalyst phases, per op
        "other_s_mean": out["trace.other_s"],
        "other_s_max": max((x["trace.other_s"] for x in L), default=0.0),
        "other_share": sum(x["trace.other_s"] for x in L) / max(1e-9, wall),
    }
    return out, reconcile
