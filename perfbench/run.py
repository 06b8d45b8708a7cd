#!/usr/bin/env python3
"""graft benchmark: seeded pipeline workloads, run from outside graft.

    python3 perfbench/run.py --workload <name|all> [--seed N] [--seconds S] [--trace 0|1]

Builds graft and the benchmark from source (see build.py), then runs one
JVM per workload on ``local[N]`` with N = the core count. Inputs are
generated from ``--seed`` inside the JVM; the program only reads the
generated parquet. With ``--trace 0`` the last stdout line carries the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer
metrics of a stepwise traced run. Failures (exceptions, fingerprint or
invariant violations, a fingerprint that differs from the one recorded in
expected.json for the default seed) are listed on stderr by workload and
error class and make the exit code non-zero. ``--record`` stores the
default seed's fingerprints in expected.json.

Everything the run writes stays under perfbench/.work and perfbench/.build.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 42
WORKLOADS = ["qa_tabular", "curation_batch"]
# a workload JVM must end well inside the 180 s one run is allowed
JVM_TIMEOUT_S = 165

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_workload(cp, name, seed, seconds, trace):
    """Runs one workload JVM; returns its result dict (or None) and a
    failure description (or None)."""
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    run_dir = os.path.join(WORK, "run")
    result_file = os.path.join(results, f"{name}-s{seed}-t{trace}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", name, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--work", run_dir, "--result", result_file]
    sys.stdout.flush()
    try:
        proc = subprocess.run(cmd, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None, f"{name}: Timeout: JVM killed after {JVM_TIMEOUT_S} s"
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(result_file):
        return None, f"{name}: JvmExit: exit code {proc.returncode}"
    with open(result_file) as fh:
        return json.load(fh), None


def check_expected(res, seed, record):
    """Compares the run's fingerprints with the recorded default-seed ones;
    returns a failure description or None."""
    if seed != DEFAULT_SEED:
        return None
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    name = res["workload"]
    if record:
        expected[name] = {"seed": seed, "fingerprints": res["fingerprints"]}
        with open(EXPECTED, "w") as fh:
            json.dump(expected, fh, indent=2, sort_keys=True)
            fh.write("\n")
        return None
    want = expected.get(name, {}).get("fingerprints")
    if want is None:
        return f"{name}: NoRecordedFingerprint: expected.json has no entry"
    got = res["fingerprints"]
    diff = sorted(k for k in set(want) | set(got) if want.get(k) != got.get(k))
    if diff:
        return f"{name}: RecordedFingerprintMismatch: {', '.join(diff)}"
    return None


def summarize(res):
    m = res["metrics"]
    inp = res["inputs"]
    w = res["weather"]
    rates = ", ".join(f"{k}={v:g}" for k, v in sorted(inp["rates"].items()))
    print(f"== {res['workload']} seed={res['seed']} trace={int(res['trace'])}: "
          f"{inp['rows']} input rows, {inp['bytes']} bytes, sha256 {inp['sha256'][:16]}; "
          f"planted {rates}")
    print(f"   {res['samples']} warm samples, {res['attempted']} runs attempted, "
          f"{res['failed']} failed; weather: load {w['loadavg_before']} -> "
          f"{w['loadavg_after']}, steal {w['steal_ticks']} ticks, control probe "
          f"{w['control_probe_s']:.3f} s, {w['cores']} cores, {w['jvm']}, Spark {w['spark']}")
    if not res["trace"]:
        for k in ("run_s", "rows_per_s", "first_run_s", "setup_s", "peak_rss_mb"):
            v = m[k]["value"]
            shown = "n/a" if v is None else f"{v:.4f}"
            print(f"   {k:12s} {shown:>14} {m[k]['unit']}")
        frac = res["failed"] / res["attempted"]
        print(f"   {'failed_frac':12s} {frac:>14.4f} ratio")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store the default seed's fingerprints in expected.json")
    a = ap.parse_args()
    try:
        cp = build.classpath(build.build())
    except build.BuildError as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    attempted = failed = 0
    failures = []
    metrics = {}
    for name in names:
        res, err = run_workload(cp, name, a.seed, a.seconds, a.trace)
        if res is None:
            attempted += 1
            failed += 1
            failures.append(err)
            continue
        summarize(res)
        attempted += res["attempted"]
        failed += res["failed"]
        failures += [f"{f['workload']}: {f['error']}: {f['detail']}" for f in res["failures"]]
        err = check_expected(res, a.seed, a.record)
        if err:
            # every run reproduced the first run's fingerprints, so every
            # run disagrees with the recorded ones
            failed += res["attempted"] - res["failed"]
            failures.append(err)
        for k, v in res["metrics"].items():
            metrics[k if len(names) == 1 else f"{name}.{k}"] = v
    for f in failures:
        print(f"graftbench: FAILED {f}", file=sys.stderr)
    ok = not failures
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
