#!/usr/bin/env python3
"""The feature-store benchmark: one run of one workload.

    python3 perfbench/run.py --workload offline_pit --seed 1 --seconds 10 --trace 0

Builds the engine from source if needed (perfbench/build.py), runs the
workload in one JVM (graft.perfbench.Main), checks its outputs, and prints
as the last line of standard output one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 its per_layer
metrics. The lines before it give every figure under the workload's own
names, and each failure with its class and message. The full report of the
run (and, traced, its spans) stays under .bench_out/; each result line is
also appended to .bench_out/results.jsonl for perfbench/compare.py.

--smoke runs tiny inputs (the benchmark's own test uses it).
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 165  # the JVM is stopped after this long
JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def oracle_failures(data_dir, dump_dir):
    """Run tools/check_oracle.py on the registry dump; return its FAIL
    lines and its summary line."""
    tool = os.path.join(ROOT, "tools", "check_oracle.py")
    r = subprocess.run([sys.executable, tool, data_dir, dump_dir],
                       capture_output=True, text=True, timeout=120, cwd=ROOT)
    lines = r.stdout.strip().splitlines()
    fails = [l[5:] for l in lines if l.startswith("FAIL ")]
    if r.returncode != 0 and not fails:
        fails = [f"check_oracle.py exited {r.returncode}: {r.stderr.strip()[-300:]}"]
    return fails, (lines[-1] if lines else "no output")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--results", default=os.path.join(ROOT, ".bench_out", "results.jsonl"))
    a = ap.parse_args()

    bench = spec()
    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

    out = os.path.join(ROOT, ".bench_out")
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(out, "work", tag)
    report = os.path.join(out, "reports", tag + ".json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", cp, "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--data", os.path.join(HERE, "data"),
        "--report", report] + (["--smoke"] if a.smoke else [])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:  # never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0 or not os.path.isfile(report):
        shutil.rmtree(work, ignore_errors=True)
        print(f"[perfbench] run failed ({code}); no result", file=sys.stderr)
        sys.exit(1)
    with open(report) as f:
        rep = json.load(f)

    failures = rep["failures"]
    failed = rep["failed"]
    attempted = rep["attempted"]
    if a.workload == "registry_cold":
        fails, summary = oracle_failures(os.path.join(HERE, "data", "sf0.001"),
                                         os.path.join(work, "oracle_dump"))
        print(f"{a.workload}  DuckDB oracle: {summary}")
        for msg in fails:
            failures.append({"op": "oracle " + msg.split(":")[0],
                             "class": "WrongResult", "message": msg})
            failed += 1
        rep["failures"], rep["failed"] = failures, failed
        with open(report, "w") as f:
            json.dump(rep, f)
    shutil.rmtree(work, ignore_errors=True)

    kind = "per_layer" if a.trace else "end_to_end"
    have = rep["layer"] if a.trace else rep["e2e"]
    metrics, correct = {}, failed == 0 and attempted > 0
    for m in bench[kind]:
        v = (have.get(m["name"]) or {}).get("value")
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            failures.append({"op": "report", "class": "MissingMetric",
                             "message": f"{m['name']} was not measured"})
            correct, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    for k, v in rep["named"].items():
        note = f"  ({v['note']})" if v["note"] else ""
        print(f"{a.workload}  {k} = {v['value']} {v['unit']}{note}")
    print(f"{a.workload}  fail_ratio = {failed / max(1, attempted)} "
          f"({failed} failed or wrong of {attempted} attempted)")
    for f in failures:
        print("failure " + json.dumps(f))
    print(f"report: {os.path.relpath(report, ROOT)}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    os.makedirs(os.path.dirname(os.path.abspath(a.results)), exist_ok=True)
    with open(a.results, "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed,
                            "trace": a.trace, "result": result}) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
