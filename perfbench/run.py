#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness (perfbench/build.py) and generates the registry input tables
(perfbench/gen_tables.py) under .bench_build/; later runs reuse both.

Prints every metric by name with its unit, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1 (a
layer the workload does not pass through reports 0). The full run record
(context, effective Spark config, trace artifact) is written once, at the
end, to .bench_build/records/. Exits 1 when any output check fails and 2
when the benchmark cannot run at all.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402  (the benchmark's build file)

DATA_SCALES, DATA_SEED = (0.1, 0.03), 42
RUN_TIMEOUT_S = 170
JVM_OPTS = ["-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"] + [
    opt for pkg in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                    "java.nio", "java.util", "java.util.concurrent",
                    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                    "sun.security.action", "sun.util.calendar"]
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return ""


def steal_s():
    """CPU time the hypervisor took from this host so far, summed over
    its CPUs (the steal column of /proc/stat), or None."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def ensure_data():
    """The registry input tables at every scale the workloads read,
    generated once per checkout; returns their parent directory."""
    root = os.path.join(BUILD, "data")
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as fh:
        code = fh.read()
    for sf in DATA_SCALES:
        out = os.path.join(root, f"sf{sf}")
        stamp = hashlib.sha256(code + f"{sf}/{DATA_SEED}".encode()).hexdigest()
        if build.read_stamp(out + ".stamp") != stamp:
            import gen_tables
            gen_tables.generate(out, sf, DATA_SEED)
            with open(out + ".stamp", "w") as fh:
                fh.write(stamp)
    return root


def oracle_check(jvm):
    """Compare each oracle-backed entry's check-pass output with its DuckDB
    oracle through tools/t2check.py. Returns {entry: failure or None}."""
    names = [n for n in jvm.get("oracle_entries", [])
             if os.path.isdir(os.path.join(jvm["outputs_dir"], n))]
    if not names:
        return {}
    res = subprocess.run([sys.executable, "-B", os.path.join(ROOT, "tools", "t2check.py"),
                          jvm["outputs_dir"], jvm["data_dir"], ",".join(names)],
                         cwd=ROOT, capture_output=True, text=True, timeout=120)
    verdict = {n: "no verdict from t2check" for n in names}
    for line in res.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name = rest.split(" ")[0].rstrip(":")
        if word == "PASS" and name in verdict:
            verdict[name] = None
        elif word == "FAIL" and name in verdict:
            verdict[name] = line
    return verdict


def untraced_baseline(workload, seed, digest):
    """The untraced record the trace overhead subtracts: of this workload,
    measuring the same program and harness sources, preferably with the
    same seed, the latest such. None when there is none."""
    rec_dir = os.path.join(BUILD, "records")
    best = None
    for f in sorted(os.listdir(rec_dir)) if os.path.isdir(rec_dir) else []:
        if f.startswith(workload + "-") and "-trace0-" in f:
            with open(os.path.join(rec_dir, f)) as fh:
                r = json.load(fh)
            if r.get("source_digest") != digest:
                continue
            rank = (r["seed"] == seed, r["finished_at"])
            if best is None or rank > best[0]:
                best = (rank, r)
    return best and best[1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        sys.exit(f"perfbench: cannot read BENCHMARK.json: {e}")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    load_before, steal_before = loadavg(), steal_s()
    try:
        classpath = build.build(BUILD)
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
    data = ensure_data()

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    subprocess.run(["rm", "-rf", run_dir], check=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "jvm.json")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Main", "run",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cpus", str(cpus), "--data", data,
           "--fixtures", os.path.join(ROOT, "fixtures", "wildweb"),
           "--work", run_dir, "--out", out]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                timeout=max(10.0, RUN_TIMEOUT_S - (time.time() - t_start))).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        print(f"perfbench: harness failed ({rc})", file=sys.stderr)
        sys.exit(2)
    with open(out) as fh:
        jvm = json.load(fh)

    oracle = oracle_check(jvm)
    failures = list(jvm["failures"])  # one per failed operation or check
    failed = len(failures)
    for name, problem in oracle.items():
        if problem:
            failures.append(f"oracle: {problem}")
            failed += len(jvm["entries"].get(name, {}).get("wall_s", [])) or 1
    attempted = jvm["attempted"]
    failed = min(failed, attempted)

    values = jvm["per_layer"] if a.trace else jvm["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in declared}
    extra = {"failed_ratio": {"value": failed / attempted, "unit": "ratio"}}
    digest, base = build.source_digest(), None
    if a.trace:
        base = untraced_baseline(a.workload, a.seed, digest)
        extra.update({f"trace_overhead.{k}": {
            "value": (v - base["end_to_end"][k]) if base else None,
            "unit": next(m["unit"] for m in spec["end_to_end"] if m["name"] == k)}
            for k, v in jvm["end_to_end"].items()})

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit(), "source_digest": digest,
        "nproc": cpus, "loadavg_before": load_before, "loadavg_after": loadavg(),
        "steal_s": None if steal_before is None else steal_s() - steal_before,
        "config": jvm.get("config"), "attempted": attempted, "failed": failed,
        "run_s": time.time() - t_start,
        "failures": failures, "oracle": oracle, "finished_at": time.time(),
        "end_to_end": jvm["end_to_end"], "per_layer": jvm["per_layer"],
        "extra_metrics": extra,
        "trace_baseline": base and {k: base[k] for k in ("seed", "finished_at")},
        **{k: v for k, v in jvm.items() if k not in (
            "end_to_end", "per_layer", "failures", "attempted", "config")},
    }
    rec_dir = os.path.join(BUILD, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                                    f"{int(t_start)}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    for f in failures:
        print(f"FAILED {f}")
    for name, m in {**metrics, **extra}.items():
        print(f"{name} {json.dumps(m['value'])} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
