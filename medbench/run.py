#!/usr/bin/env python3
"""Medallion benchmark: one run of one workload.

    python3 medbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the platform and the
benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Each run then generates
its inputs from the seed (three times, to time set-up and to check the
generator is deterministic), starts one JVM on `local[nproc]` that runs the
workload in a closed loop on one client thread, and prints the metrics.

The last stdout line is the result: {"correct", "attempted", "failed",
"metrics"} with the BENCHMARK.json end-to-end metrics (`--trace 0`) or
per-layer metrics (`--trace 1`). The line before it lists the workload's own
named metrics with units, tail percentiles and sample counts. Full reports
go to `.bench_build/medbench/results/`. Exit status is non-zero when a
correctness check fails or the run cannot complete.
"""

import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import fixtures  # noqa: E402
import stats  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "medbench")
FIXTURE_REPS = 3
JVM_TIMEOUT_S = 165
DEADLINE_S = 175

# Work per run is fixed from --seconds at a nominal rate measured on a
# 4-core box, so a slower build of the platform does the same work (and
# takes longer) instead of doing less.
WORKLOADS = {
    "opralog_incremental": {"entries": 1500, "round_s": 10.0, "min_rounds": 1,
                            "setup_reps": 1},
    "append_commit_storm": {"rows_per_slice": 300, "appends_per_s": 3,
                            "warmup": 3, "small_file_bytes": 1 << 20, "setup_reps": 3},
    "lake_sql_reads": {"entries": 6000, "chunk_size": 3000, "queries_per_s": 15,
                       "instances": 20, "setup_reps": 1},
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def finite(x):
    """A metric value as JSON allows it: infinite (a failed operation) -> null."""
    return x if x is None or math.isfinite(x) else None


def fail(msg, code=2):
    print(f"medbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build -------------------------------------------------------------------


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; returns the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file) \
                and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
            "-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        lines = open(log).read().splitlines()
        cp = [ln for ln in lines if "scala-2.13/classes" in ln and ":" in ln
              and not ln.startswith("[")]
        if rc != 0 or not cp:
            fail(f"build failed (see {log})")
        with open(cp_file, "w") as f:
            f.write(cp[-1].strip())
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp[-1].strip()


# ---- inputs ------------------------------------------------------------------


def generate(workload, seed, seconds, out_dir):
    """Write one copy of the workload's inputs; returns the plan fields."""
    cfg = WORKLOADS[workload]
    if workload == "opralog_incremental":
        rounds = max(cfg["min_rounds"], round(seconds / cfg["round_s"]))
        fixtures.write_opralog_rounds(seed, out_dir, cfg["entries"], rounds)
        return {"fixtures": out_dir, "rounds": rounds}
    if workload == "append_commit_storm":
        appends = max(20, round(seconds * cfg["appends_per_s"]))
        fixtures.write_event_slices(seed, out_dir, appends, cfg["rows_per_slice"])
        return {"slices": out_dir, "appends": appends, "warmup": cfg["warmup"],
                "small_file_bytes": cfg["small_file_bytes"]}
    fixtures.write_opralog_rounds(seed, out_dir, cfg["entries"], 0)
    return {"source": os.path.join(out_dir, "opralog", "round_000"),
            "chunk_size": cfg["chunk_size"],
            "queries_timed": max(cfg["instances"], round(seconds * cfg["queries_per_s"])),
            "queries": read_queries(seed, cfg["entries"], cfg["instances"])}


def read_queries(seed, n_entries, instances):
    """Seeded lake SQL: point lookups, timestamp-range scans with an
    aggregate, and an entries-join-EAV aggregate, in passes through
    stats.READ_MIX. Each
    has the same query over the source parquet (`ref`) for the check."""
    rng = np.random.default_rng([seed, 4])
    lake = "lake.facility_ops_landing.accelerator_opralogweb."
    out = []
    for i in range(instances):
        kind = stats.READ_MIX[i % len(stats.READ_MIX)]
        if kind == "lookup":
            q = ("SELECT entry_id, entry_timestamp, last_changed_date, logically_deleted "
                 f"FROM {{e}} WHERE entry_id = {int(rng.integers(1, n_entries + 1))}")
        elif kind == "scan":
            a = int(rng.integers(fixtures.FIRST_ENTRY_US,
                                 fixtures.LAST_ENTRY_US - 60 * fixtures.DAY_US))
            lo, hi = (str(np.datetime64(x, "us").astype("datetime64[s]")).replace("T", " ")
                      for x in (a, a + 60 * fixtures.DAY_US))
            q = ("SELECT count(*) AS n, min(entry_id) AS lo, max(entry_id) AS hi, "
                 "sum(CASE WHEN logically_deleted = 'Y' THEN 1 ELSE 0 END) AS deleted "
                 f"FROM {{e}} WHERE entry_timestamp >= TIMESTAMP '{lo}' "
                 f"AND entry_timestamp < TIMESTAMP '{hi}'")
        else:
            width = max(1, n_entries // 50)
            a = int(rng.integers(1, n_entries - width + 1))
            q = ("SELECT m.additional_column_id, count(*) AS n, "
                 "round(sum(m.number_value), 3) AS lost FROM {e} e JOIN {m} m "
                 f"ON e.entry_id = m.entry_id WHERE e.entry_id BETWEEN {a} AND {a + width} "
                 "AND e.logically_deleted = 'N' GROUP BY m.additional_column_id ORDER BY 1")
        out.append({"kind": kind,
                    "lake": q.format(e=lake + "entries", m=lake + "more_entry_columns"),
                    "ref": q.format(e="src_entries", m="src_more_entry_columns")})
    return out


# ---- run ---------------------------------------------------------------------


def run_jvm(classpath, plan_path, log_path, budget_s):
    """Run the JVM; returns (exit status, peak RSS in MB) or raises TimeoutError."""
    mem = "2g"
    cmd = ["java", f"-Xmx{mem}", "-XX:+UseG1GC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", classpath, "medbench.Main", plan_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        deadline = time.monotonic() + budget_s
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                proc.returncode = os.waitstatus_to_exitcode(status)
                return proc.returncode, usage.ru_maxrss / 1024.0
            if time.monotonic() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                raise TimeoutError(f"workload did not finish within {budget_s:.0f} s")
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the repository root: the platform sources "
             "(src/main/scala/graft) are not here")
    classpath = build()
    t_start = time.monotonic()  # the run's time limit starts after the build

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    try:
        fixture_s, fields, copies = [], None, []
        for i in range(FIXTURE_REPS):
            t0 = time.perf_counter()
            fields = generate(args.workload, args.seed, args.seconds,
                              os.path.join(work, f"inputs_{i}"))
            fixture_s.append(time.perf_counter() - t0)
            copies.append(fixtures.tree_digest(os.path.join(work, f"inputs_{i}")))
        deterministic = all(c == copies[0] for c in copies)
        del copies
        plan = dict(fields, workload=args.workload, seed=args.seed, trace=args.trace,
                    setup_reps=WORKLOADS[args.workload]["setup_reps"], cpus=os.cpu_count() or 4,
                    work=os.path.join(work, "lake"), out=os.path.join(work, "raw.json"))
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        budget = min(JVM_TIMEOUT_S, DEADLINE_S - (time.monotonic() - t_start))
        t_jvm = time.monotonic()
        rc, rss_mb = run_jvm(classpath, plan_path, os.path.join(results, f"{tag}.log"),
                             budget)
        t_jvm = time.monotonic() - t_jvm
        if rc != 0 or not os.path.exists(plan["out"]):
            fail(f"workload JVM exited with {rc} (see {results}/{tag}.log)")
        with open(plan["out"]) as f:
            raw = json.load(f)
    except TimeoutError as e:
        fail(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = dict(raw["checks"], fixtures_deterministic=deterministic)
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    # a failed operation produced no output to check, so the run is not correct
    correct = raw["fatal"] is None and failed == 0 and all(v is True for v in checks.values())
    named = stats.workload_metrics(raw, fixture_s, rss_mb)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "correct": correct, "checks": checks, "fatal": raw["fatal"],
              "errors": sorted({o["error"] for o in raw["ops"] if o["error"]}),
              "setup_ms": raw["setup_ms"], "fixture_s": fixture_s,
              "jvm_s": t_jvm, "wall_s": time.monotonic() - t_start,
              "ops": [[o["kind"], o["phase"], round(o["ms"], 1)] for o in raw["ops"]],
              "metrics": {k: {"value": v[0], "unit": v[1], **(v[2] if len(v) > 2 else {})}
                          for k, v in named.items()}}
    if args.trace:
        layers = stats.per_layer(raw)
        metrics = {k: {"value": v, "unit": stats.unit_of(k)} for k, v in layers.items()}
        report["per_layer"] = metrics
        untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["op_p50_ms"]["value"]
            mine = stats.median(stats.primary_ops(raw))
            report["trace_overhead_vs_untraced"] = {
                "op_p50_ms_traced": mine, "op_p50_ms_untraced": base,
                "overhead_ms": mine - base}
        with open(os.path.join(results, f"{tag}-trace.json"), "w") as f:
            json.dump(raw["trace"], f)
    else:
        e2e = stats.end_to_end(raw, fixture_s)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        report["end_to_end"] = metrics
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)

    print(json.dumps({"workload": args.workload, "checks": checks, "named_metrics": {
        k: dict(v, value=finite(v["value"])) for k, v in report["metrics"].items()}}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": finite(v["value"]), "unit": v["unit"]}
                                  for k, v in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
