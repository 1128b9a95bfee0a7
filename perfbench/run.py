#!/usr/bin/env python3
"""graft benchmark: one seeded workload run, end to end or traced.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source (perfbench/build.py), runs the
workload in one JVM at local[4] with a fixed heap over the inputs in
perfbench/data, checks its outputs (training_data through the repository's
DuckDB oracle gate, tools/check_oracle.py) and prints every metric by name
and unit. The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"} holding the
BENCHMARK.json end-to-end metrics (--trace 0) or per-layer metrics
(--trace 1). The exit code is non-zero when any output check failed.
See perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["ingest_trickle", "training_data"]
DATA = "perfbench/data"
ORACLE = "tools/check_oracle.py"
# a reported metric named <layer>.<...> is a per-layer metric
LAYERS = ("core.", "write.", "services.", "read.", "llm.", "spark.")
HEAP = "2g"
YOUNG = "768m"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# units of the report fields beyond BENCHMARK.json's, by name suffix
SUFFIX_UNITS = [("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_frac", "fraction"),
                ("_pct", "percentile"), ("_n", "count"), ("space_amp", "ratio")]


def unit_of(name, declared):
    if name in declared:
        return declared[name]
    for suf, u in SUFFIX_UNITS:
        if name.endswith(suf):
            return u
    return ""


def oracle_failures(results):
    """One line per query whose result does not match its DuckDB oracle
    SQL over the same corpus; empty when all match."""
    p = subprocess.run([sys.executable, ORACLE, DATA, results], capture_output=True,
                       text=True, timeout=JVM_TIMEOUT_S)
    bad = [ln[5:] for ln in p.stdout.splitlines() if ln.startswith("FAIL ")]
    if p.returncode != 0 and not bad:
        bad = [f"{ORACLE} exited {p.returncode}: {(p.stderr or p.stdout)[-300:]}"]
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    spec = json.load(open("BENCHMARK.json"))
    classes = build.build()
    work = os.path.join(build.build_dir(), "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cp = classes + os.pathsep + os.path.join(build.SPARK_JARS, "*")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={work}/tmp",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data", os.path.abspath(DATA), "--work", work, "--out", out])
    log = os.path.join(work, "jvm.log")
    t0 = time.time()
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s; log in {log}")
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-6000:])
        raise SystemExit(f"run: JVM failed (exit {rc}); log in {log}")
    r = json.load(open(out))
    r["jvm_wall_s"] = time.time() - t0

    errors = list(r.pop("errors"))
    failed = r.pop("failed")
    attempted = r.pop("attempted")
    if a.workload == "training_data":
        bad = oracle_failures(os.path.join(work, "results"))
        failed += len(bad)
        errors += bad
    r["error_rate"] = failed / max(1, attempted)

    section = "per_layer" if a.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in spec[k]}
    if a.trace:
        per_layer = [m["name"] for m in spec["per_layer"]]
        undeclared = [k for k in r if k.startswith(LAYERS) and k not in per_layer]
        if undeclared:
            raise SystemExit(f"run: per-layer metrics not in BENCHMARK.json: {undeclared}")
        for n in per_layer:  # a layer this workload does not exercise
            r.setdefault(n, 0.0)
    missing = [m["name"] for m in spec[section] if r.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"run: metrics not reported: {missing}")
    if a.trace:
        spans_dir = os.path.join(build.build_dir(), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        shutil.copyfile(os.path.join(work, "spans.jsonl"),
                        os.path.join(spans_dir, f"{a.workload}-seed{a.seed}.jsonl"))

    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}")
    for k, v in r.items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            print(f"  {k:48s} {v:>18.6f} {unit_of(k, declared)}")
        else:
            print(f"  {k:48s} {v!s:>18s}")
    for e in errors:
        print(f"  FAILED: {e}")
    print(json.dumps({"report": r, "errors": errors}))
    shutil.rmtree(work, ignore_errors=True)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {m["name"]: {"value": r[m["name"]], "unit": m["unit"]} for m in spec[section]}}
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
