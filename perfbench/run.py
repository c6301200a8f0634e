#!/usr/bin/env python3
"""The benchmark: one command for the three things users of the pipeline
wait on. Run from the root of a checkout:

    python3 perfbench/run.py --workload query_suite|doc_stream|weather_schedule \
        --seed N --seconds S --trace 0|1

It builds the program from source (perfbench/build.py) on first use, runs
the workload in one JVM (perfbench/scala), checks the outputs, and prints
one JSON line: with --trace 0 every end-to-end metric, with --trace 1 every
per-layer metric. A traced run also writes its spans to
.bench_work/spans/<workload>-seed<N>.json.

The fixtures are read from the directory holding the program's benchmark
scale factors: the parent of $SPARK_GRAFT_SF_DIR, else of the default
that graft.Bench declares.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("query_suite", "doc_stream", "weather_schedule")
LIMIT_S = 175  # a run must end within 180 s once built


def fixtures_dir():
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf:
        bench = os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', open(bench).read())
        sf = m.group(1)
    root = os.path.dirname(os.path.abspath(sf))
    for s in ("sf0.001", "sf0.01"):
        if not os.path.isdir(os.path.join(root, s)):
            raise SystemExit(f"fixtures not found: {root}/{s}")
    return root


def heap():
    """Heap for the JVM: 40% of the machine's memory, between 2 and 4 GiB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(2, min(4, int(kb * 0.4 / 2**20)))}g"


def run_jvm(cp, args, work, timeout):
    # a heap sized up front: growing it while measuring slows the first operations
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}/tmp"] + build.ADD_OPENS +
           ["-cp", cp, "graftbench.Main"] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"workload did not finish within {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def oracle_failures(fixture_dir, verify_dir, known, timeout):
    """Queries whose rows differ from their DuckDB oracle twin, as
    tools/driver_check.py reports them, leaving out those in `known`
    (already counted as failed)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "driver_check.py"),
                        fixture_dir, verify_dir], capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.splitlines()
    if not lines or not lines[-1].startswith(("PASS:", "FAIL:")):
        return [f"tools/driver_check.py did not finish: {p.stderr.strip()[-200:]}"]
    return [l[len("FAIL "):] for l in lines
            if l.startswith("FAIL ") and l[len("FAIL "):].split(":", 1)[0] not in known]


def result_line(workload, trace, raw):
    """The printed result: a failed check or operation makes the run incorrect
    and counts as failed, never as more failures than operations attempted."""
    attempted = raw["attempted"]
    failed = min(raw["failed"], attempted)
    if trace:
        values, units = metrics.per_layer(workload, raw), dict(metrics.PER_LAYER)
    else:
        values, units = metrics.end_to_end(workload, raw), dict(metrics.END_TO_END)
    return {
        "correct": all(c["ok"] for c in raw["checks"]) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    started = time.monotonic()
    fixtures = fixtures_dir()
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "raw.json")
        code = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--work", work, "--fixtures", fixtures, "--out", out],
                       work, LIMIT_S - (time.monotonic() - started))
        if code != 0:
            print(f"workload exited with {code}", file=sys.stderr)
            sys.exit(1)
        raw = json.load(open(out))
        if a.workload == "query_suite":
            x = raw["extra"]
            bad = oracle_failures(x["fixture_dir"], x["verify_dir"], set(x["verify_failed"]),
                                  LIMIT_S - (time.monotonic() - started))
            raw["checks"].append({"name": "rows_match_oracle", "ok": not bad,
                                  "detail": "; ".join(bad)})
            raw["failed"] += len(bad)
        for c in raw["checks"]:
            if not c["ok"]:
                print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
        result = result_line(a.workload, a.trace, raw)
        if a.trace:
            spans_dir = os.path.join(ROOT, ".bench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            with open(os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "context": raw["context"],
                           "extra": raw["extra"], "per_layer": result["metrics"],
                           "notes": metrics.notes(a.workload, raw),
                           "spans": metrics.with_self_times(raw["spans"])}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
