#!/usr/bin/env python3
"""Benchmark for the graft Spark query library.

Run from the repository root:

    python3 perfbench/run.py --workload pmp_reports --seed 1 --seconds 12 --trace 0

One run: build the library and the benchmark runner from source (once per
checkout; sbt, offline), generate the workload's inputs from the seed
(gen.py), start one Spark JVM (local[CORES]) that runs the workload's
query list as a closed loop with one client (Runner.scala), then compare
the check pass's results with the DuckDB oracle (tools/check_oracle.py,
unchanged). The last stdout line is one JSON object: correct, attempted,
failed and metrics, the end-to-end metrics with --trace 0 and the
per-layer metrics with --trace 1. Everything the run writes stays under
perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout clean

CORES = 4
HEAP = "3g"
BUILD_TIMEOUT_S = 600
# a run after the build: the JVM gets all but the last ORACLE_S seconds
RUN_LIMIT_S = 170
ORACLE_S = 30
# untimed noop passes after the check pass, before timing starts
WARMUP_PASSES = 1

# Each workload's query list.
WORKLOADS = {
    "pmp_reports": dict(queries=[
        "q_delinquent", "q_keepfirst", "q_join_anti", "q_fuzzy_join",
        "q_window_count", "q_dea_checksum", "q_csv_roundtrip",
        "q_partitioned_sink", "q_schema_merge",
    ]),
    "corpus_dedup": dict(queries=[
        "q_dedup_minhash", "q_incremental_minhash", "q_substr_dedup",
        "q_substr_apply", "q_paragraph_dedup",
    ]),
}

# Spark on JDK 17 outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: library and benchmark sources
    and build definitions."""
    h = hashlib.sha256()
    files = []
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
        files += [os.path.join(base, "build.sbt"),
                  os.path.join(base, "project", "build.properties")]
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state; return the runtime
    classpath and the seconds spent compiling (0 when cached)."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no library sources next to the benchmark")
    stamp_file = os.path.join(OUT, "build", "stamp")
    cp_file = os.path.join(OUT, "build", "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read(), 0.0
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log("building (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, time.time() - t0


def run_jvm(cp, workload, spec, data_dir, run_dir, seconds, trace, deadline):
    os.makedirs(os.path.join(run_dir, "check"), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Runner",
              f"data={data_dir}", f"out={run_dir}", f"queries={','.join(spec['queries'])}",
              f"seconds={seconds}", f"warmup={WARMUP_PASSES}", f"trace={trace}",
              f"cores={CORES}", f"workload={workload}"])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=deadline - ORACLE_S - time.time())
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("perfbench: JVM timed out")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def oracle_check(data_dir, run_dir, queries, check_errors, deadline):
    """Per-query PASS/FAIL from tools/check_oracle.py over the check
    pass's output. A query without an oracle passes when it ran."""
    with open(os.path.join(run_dir, "check", "oracle_sql.json")) as f:
        oracles = json.load(f)
    subset = [q for q in queries if q in oracles and q not in check_errors]
    verdict = {q: "no oracle" for q in queries if q not in oracles}
    verdict.update({q: f"FAIL {m}" for q, m in check_errors.items()})
    if subset:
        p = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
             data_dir, os.path.join(run_dir, "check"), ",".join(subset)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=max(5.0, deadline - time.time()))
        for line in p.stdout.splitlines():
            parts = line.split(" ", 1)
            if len(parts) == 2 and parts[0] in ("PASS", "FAIL"):
                name = parts[1].split(" ", 1)[0].rstrip(":")
                verdict[name] = line
        for q in subset:
            verdict.setdefault(q, "FAIL no verdict")
    return verdict


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p * len(s) + 0.5)) - 1))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    cp, compile_s = build()
    t_setup = time.time()
    deadline = t_setup + RUN_LIMIT_S
    import gen
    data_dir = os.path.join(OUT, "data", a.workload)
    run_dir = os.path.join(OUT, "run", a.workload)
    for d in (data_dir, run_dir):
        shutil.rmtree(d, ignore_errors=True)
    manifest = gen.generate(a.workload, a.seed, data_dir)
    t_gen = time.time()
    log("inputs " + json.dumps(manifest))
    res = run_jvm(cp, a.workload, spec, data_dir, run_dir, a.seconds, a.trace, deadline)
    # from process start to the first timed query; a compile (the first
    # run in a checkout) is left out
    setup_s = (res["timed_start_ms"] / 1000.0) - T_PROCESS - compile_s
    verdict = oracle_check(data_dir, run_dir, spec["queries"], res["check_errors"], deadline)

    timed = [e for e in res["execs"] if not e["traced"]]
    exec_errors = [e for e in res["execs"] if "error" in e]
    check_failed = [q for q, v in verdict.items() if v.startswith("FAIL")]
    attempted = len(res["execs"]) + len(spec["queries"])
    failed = len(exec_errors) + len(check_failed)
    for q in check_failed:
        log(f"check {q}: {verdict[q]}")
    for e in exec_errors[:5]:
        log(f"error {e['q']} pass {e['pass']}: {e['error']}")

    walls = [p["wall_ms"] for p in res["passes"] if not p["traced"]]
    by_query = {}
    for e in timed:
        by_query.setdefault(e["q"], []).append(e["ms"])
    per_query = [e["ms"] for e in timed]
    n = len(per_query)
    e2e = {
        "setup_s": (setup_s, "s"),
        # one pass, each query at its median, so a stall in one pass
        # moves one query's figure, not the pass total
        "wall_s": (sum(statistics.median(v) for v in by_query.values()) / 1000.0, "s"),
        "query_p50_ms": (statistics.median(per_query), "ms"),
        "query_p90_ms": (percentile(per_query, 0.9), "ms"),
        "heap_retained_mb": (statistics.median(res["heap_mb"]), "MB"),
    }
    print(f"workload {a.workload} seed {a.seed}: {len(walls)} complete timed passes of "
          f"{len(spec['queries'])} queries, {n} query samples")
    for k, (v, u) in e2e.items():
        print(f"{k} {v:.4f} {u}")
    beyond = sum(1 for x in per_query if x > e2e["query_p90_ms"][0])
    print(f"query_p50_ms and query_p90_ms over {n} samples; {beyond} beyond p90")
    print(f"error_rate {failed / attempted:.4f} ratio ({failed} of {attempted})")
    ms = lambda k: res[k] / 1000.0
    log(f"run took {time.time() - T_PROCESS:.1f} s: generate {t_gen - t_setup:.1f} s, "
        f"jvm start {ms('jvm_start_ms') - t_gen:.1f} s, session {ms('session_ready_ms') - ms('jvm_start_ms'):.1f} s, "
        f"check pass {ms('check_done_ms') - ms('session_ready_ms'):.1f} s, "
        f"timed {ms('timed_end_ms') - ms('timed_start_ms'):.1f} s, probe {ms('probe_done_ms') - ms('timed_end_ms'):.1f} s, "
        f"after {time.time() - ms('probe_done_ms'):.1f} s")

    # the result carries the metrics the repository's BENCHMARK.json
    # declares, with their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if a.trace:
        layer_names = sorted({k for p in res["layers"] for k in p if k != "pass"})
        values = {k: statistics.median(p[k] for p in res["layers"]) for k in layer_names}
        traced_walls = [p["wall_ms"] for p in res["passes"] if p["traced"]]
        values["trace.overhead_ms"] = statistics.median(traced_walls) - statistics.median(walls)
        values.update(res["probe"])
        traced_wall = statistics.median(traced_walls)
        print(f"traced pass {traced_wall:.1f} ms (sum of its query spans), "
              f"untraced pass {statistics.median(walls):.1f} ms")
        # where the pass's wall goes: fixed per-query cost (build, plan
        # phases) against the jobs the queries run (build-time jobs too)
        plans_ms = sum(values[f"plans.{p}_ms"] for p in ("analysis", "optimization", "planning"))
        print("share of the traced pass wall: "
              f"build {values['queries.build_ms'] / traced_wall:.2f}, "
              f"plans {plans_ms / traced_wall:.2f}, "
              f"jobs {values['exec.job_ms'] / traced_wall:.2f}, "
              f"task time {values['exec.task_ms'] / traced_wall:.2f} cores")
        units = {m["name"]: m["unit"] for m in declared}
        for k, v in sorted(values.items()):
            print(f"{k} {v:.4f} {units.get(k, 'count')}")
    else:
        values = {k: v for k, (v, _) in e2e.items()}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
