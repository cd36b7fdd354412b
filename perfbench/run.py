#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload interactive|batch|lakehouse \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. It builds the harness and the library from
source with sbt (once per source state), generates the workload's inputs
from the seed, runs the JVM harness (`perfbench.Main`: cold set-up,
priming, a fixed number of timed passes in a closed loop), checks every
output (the oracle side is computed while the harness primes, so the
timed passes start after it), and prints:

  * a report line: every metric of the workload by name and unit, the
    failed ops by name, the checks, and host-noise diagnostics;
  * as the last line, the result: `correct`, `attempted`, `failed` and
    `metrics` -- the end-to-end metrics of BENCHMARK.json with
    `--trace 0`, its per-layer metrics with `--trace 1`.

Everything a run writes stays under `.perfbench/` in the checkout; the
per-run directory (inputs, Spark temp and local dirs, tables) is
deleted when the run ends. The exit code is non-zero when any output is
wrong or any op failed.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

DEADLINE_S = 170.0

# inputs per workload: scale of the base tables, batch scale-up copies,
# the tables the workload reads, and the nominal length of one timed
# pass, which fixes the number of timed passes for a given --seconds
WORKLOADS = {
    "interactive": {"scale": 0.01, "copies": 1, "tables": None, "pass_s": 6.5},
    "batch": {"scale": 0.04, "copies": 2, "tables": ["documents"], "pass_s": 4.5},
    "lakehouse": {"scale": 0.1, "copies": 1, "tables": ["documents"], "pass_s": 12.5},
}
# the scale of the smoke mode's inputs, and of the fixed tiny inputs of
# every run's warm-up
SMOKE_SCALE = 0.001

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the library and the harness with sbt unless this source
    state is already built; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the library sources are not in this checkout")
    stamp = source_stamp()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM sbt starts keeps its temp files inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
            "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building library and harness with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=880)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [ln.strip() for ln in p.stdout.splitlines()
             if "perfbench" in ln and ".jar" in ln and not ln.startswith("[")]
    if not lines:
        raise SystemExit("perfbench: no classpath in the sbt output")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1]


def sweep_stale_runs():
    """Deletes run directories left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for d in os.listdir(WORK):
        if d.startswith("run-"):
            pid = int(d.split("-")[1])
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


def timed_passes(a):
    """The fixed number of timed passes of an untraced run: set by
    --seconds and the workload's nominal pass length, never by how fast
    the passes run. (Traced runs add passes of their own; see the
    workloads' `tracePlan`.)"""
    return 1 if a.smoke else max(1, round(a.seconds / WORKLOADS[a.workload]["pass_s"]))


def run_jvm(classpath, run_dir, a, timeout, while_priming):
    """Runs the harness JVM; returns the result file it writes and what
    `while_priming()` returned. That runs once the JVM's set-up is done,
    beside its untimed priming; the timed passes wait until it ends."""
    cores = len(os.sched_getaffinity(0))
    out = os.path.join(run_dir, "out")
    for d in ("out", "tmp", "spark-local", "warehouse", "tables"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    heap = "3g" if a.workload == "batch" else "2g"
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dderby.system.home={run_dir}/derby",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--passes", str(timed_passes(a)),
        "--trace", str(a.trace), "--data", os.path.join(run_dir, "data"),
        "--warm", os.path.join(run_dir, "warm"),
        "--out", out, "--run", run_dir, "--cores", str(cores)]
    deadline = time.time() + timeout
    side = None
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            while (not os.path.exists(os.path.join(out, "setup.done")) and p.poll() is None
                   and time.time() < deadline):
                time.sleep(0.05)
            if p.poll() is None and time.time() < deadline:
                side = while_priming()
                open(os.path.join(out, "go"), "w").close()
            rc = p.wait(timeout=max(0.1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), side


def load_check():
    """tools/check.py, whose normalization the oracle comparison uses."""
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    return check


def digest(check, rel):
    """A query result in tools/check.py's normal form: its columns,
    their types and a hash of its normalized rows."""
    types = check.types_of(rel)
    cols, rows = check.table_repr(rel.columns, rel.fetchall())
    return {"cols": cols, "types": [types[c] for c in cols],
            "rows": hashlib.sha256("\n".join(rows).encode()).hexdigest(), "n": len(rows)}


def oracle_side(data_dir, out_dir):
    """The oracle side of the output check: every oracle SQL query the
    harness wrote, run through DuckDB on the run's inputs and digested.
    Cached per input bytes (so per seed). Returns {name: digest}."""
    import duckdb
    check = load_check()
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache_file = os.path.join(WORK, "oracle-cache.json")
    try:
        with open(cache_file) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    h = hashlib.sha256()
    for t in gen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            with open(p, "rb") as f:
                h.update(t.encode() + hashlib.sha256(f.read()).digest())
    key = h.hexdigest()
    want = {}
    for name, sql in oracle.items():
        ck = hashlib.sha256(f"{key}|{name}|{sql}".encode()).hexdigest()
        if ck not in cache:
            cache[ck] = digest(check, con.sql(sql))
        want[name] = cache[ck]
    if len(cache) > 5000:
        cache = dict(list(cache.items())[-2000:])
    tmp = cache_file + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(cache, f)
    os.replace(tmp, cache_file)
    return want


def oracle_check(res, out_dir, want):
    """Compares the primed outputs with the oracle side. Returns a list
    of mismatches."""
    import duckdb
    check = load_check()
    con = duckdb.connect()
    bad = []
    for name in sorted({s["name"] for s in res["samples"] if s["kind"] == "prime"}):
        if name not in want:
            bad.append(f"{name}: no oracle SQL")
            continue
        rdir = os.path.join(out_dir, "results", name)
        if not os.path.isdir(rdir):
            bad.append(f"{name}: no output")
            continue
        g, w = digest(check, con.sql(f"SELECT * FROM '{rdir}/*.parquet'")), want[name]
        if g != w:
            bad.append(f"{name}: {g['n']} rows vs oracle {w['n']}"
                       + ("" if g["cols"] == w["cols"] else f", columns {g['cols']} vs {w['cols']}")
                       + ("" if g["types"] == w["types"] else f", types {g['types']} vs {w['types']}"))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="scale 0.001 and one pass: shows every workload, metric and check runs")
    a = ap.parse_args()
    t_build = time.time()
    classpath = build()
    # the run's own deadline starts once the (cached) build is done
    t_start = time.time()
    sweep_stale_runs()
    spec = WORKLOADS[a.workload]
    scale = SMOKE_SCALE if a.smoke else spec["scale"]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    try:
        data_dir = os.path.join(run_dir, "data")
        counts = gen.write(data_dir, a.seed, scale, spec["copies"], spec["tables"])
        with open(os.path.join(data_dir, "counts.json"), "w") as f:
            json.dump(counts, f)
        gen.write(os.path.join(run_dir, "warm"), 0, SMOKE_SCALE)
        t_jvm = time.time()
        out_dir = os.path.join(run_dir, "out")
        res, want = run_jvm(classpath, run_dir, a, DEADLINE_S - (t_jvm - t_start),
                            lambda: oracle_side(data_dir, out_dir))
        t_check = time.time()
        wrong = list(res["wrong"])
        if a.workload != "lakehouse":
            wrong += oracle_check(res, out_dir, want)
        phases = {"build_s": t_start - t_build, "inputs_s": t_jvm - t_start,
                  "jvm_s": t_check - t_jvm,
                  "check_s": time.time() - t_check}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report, result = metrics.summarize(res, wrong, len(os.sched_getaffinity(0)), a.trace)
    if a.trace:
        # every traced op with its per-layer record, one JSON object a line
        path = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in res["samples"] if s["traced"])
        report["trace_file"] = os.path.relpath(path, ROOT)
    report["phases"] = phases
    report["total_s"] = time.time() - t_build
    print(json.dumps(report))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
