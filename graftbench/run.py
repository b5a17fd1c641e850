#!/usr/bin/env python3
"""Benchmark entry point.

    python3 graftbench/run.py --workload report_jobs --seed 1 --seconds 6 --trace 0

Builds the program and the harness if needed (see build.py), runs the
named workload in one JVM with a fresh private warehouse and local
directory, checks its outputs and prints one JSON line as the last line of
standard output:

    {"correct": true, "attempted": 21, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. A line before it carries the run
context (load average, CPU steal, exact counts). The exit code is 0 only
when every output check passed.

``--record`` writes the digests of this run as the recorded ones
(``graftbench/expected/``); use it only on a commit whose outputs are known
to be right.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import checks  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("report_jobs", "catalog_fixed")
DEFAULT_SEED = 1
SETUPS = 3
MAX_THREADS = 4
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
EXPECTED_DIR = BENCH / "expected"
RUNS_DIR = ROOT / ".bench_runs"


def benchmark_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def read_cpu_times():
    """Aggregate CPU counters from /proc/stat: (steal, total) jiffies."""
    try:
        fields = pathlib.Path("/proc/stat").read_text().splitlines()[0].split()[1:]
        values = [int(x) for x in fields]
        return (values[7] if len(values) > 7 else 0), sum(values[:8])
    except (OSError, ValueError, IndexError):
        return None


def read_loadavg():
    try:
        return [float(x) for x in pathlib.Path("/proc/loadavg").read_text().split()[:3]]
    except (OSError, ValueError):
        return None


def run_harness(args, classpath, run_dir, deadline):
    out = run_dir / "result.json"
    threads = max(1, min(MAX_THREADS, os.cpu_count() or 1))
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # the throughput collector: the harness collects the heap between ops,
    # which it does faster than G1, and batch jobs set no pause goal
    cmd += ["-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath,
            "graftbench.Harness", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--workdir", str(run_dir / "work"), "--threads", str(threads),
            "--setups", str(SETUPS), "--out", str(out)]
    (run_dir / "tmp").mkdir(parents=True)
    with open(run_dir / "harness.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError("harness timed out")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0 or not out.exists():
        tail = (run_dir / "harness.log").read_text(errors="replace").splitlines()[-30:]
        raise RuntimeError(f"harness exited {proc.returncode}:\n" + "\n".join(tail))
    return json.loads(out.read_text())


def op_medians(untraced):
    """Each op's median time over the untraced passes that ran it."""
    samples = {}
    for p in untraced:
        for op, t in p["ops"].items():
            samples.setdefault(op, []).append(t)
    return {op: stats.median(ts) for op, ts in sorted(samples.items())}


def end_to_end(result):
    """End-to-end metrics from the untraced timed passes."""
    untraced = [p for p in result["passes"] if not p["traced"]]
    # percentiles over the ops' medians mean the same whatever the number
    # of passes
    op_times = list(op_medians(untraced).values())
    setup = stats.median(result["setup_reps_s"])
    return {
        # process start to the first timed pass, with the set-up counted
        # at its median over the repetitions
        "setup_s": result["startup_s"] + setup + result["first_pass_s"],
        "first_pass_s": result["first_pass_s"],
        "pass_s": stats.median([p["wall_s"] for p in untraced]),
        "op_p50_s": stats.percentile(op_times, 0.5),
        "op_p90_s": stats.percentile(op_times, 0.9),
        "heap_live_mb": max(result["heap_live_mb"]),
    }


def per_layer(result, names, context):
    """Per-layer metrics: medians over the traced passes; per-job and
    per-family wall times from the untraced passes of the same run; store
    counts of the set-up; the tracing overhead; the run context."""
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    values = {}
    for name in names:
        samples = [p["layers"].get(name, 0.0) for p in traced]
        values[name] = stats.median(samples) if samples else 0.0
    for group in set(result["families"].values()):
        values[f"{group}.wall_s"] = stats.median([
            sum(t for op, t in p["ops"].items() if result["families"][op] == group)
            for p in untraced])
    values["stores.builds"] = result["store_builds"]
    values["stores.build_s"] = stats.median(result["store_build_reps_s"])
    values["stores.bytes"] = result["store_bytes"]
    # each traced pass against the untraced pass after it: the JIT is
    # still warming over the passes, so the later pass is the faster one
    # and the ratio bounds the tracing cost from above
    passes = result["passes"]
    ratios = [p["wall_s"] / passes[i + 1]["wall_s"]
              for i, p in enumerate(passes[:-1]) if p["traced"]]
    if ratios:
        values["trace.overhead_pct"] = 100.0 * (stats.median(ratios) - 1.0)
    if context["loadavg_start"]:
        values["context.loadavg_1m"] = context["loadavg_start"][0]
    if context["cpu_steal_share"] is not None:
        values["context.cpu_steal_pct"] = 100.0 * context["cpu_steal_share"]
    return {n: values.get(n, 0.0) for n in names}


def output_failures(args, result):
    failures = [f"{e['op']} (pass {e['pass']}): {e['error']}" for e in result["errors"]]
    for i, p in enumerate(result["passes"]):
        if p["store_builds"]:
            failures.append(f"timed pass {i} built {p['store_builds']} warehouse stores")
    if result["first_pass_store_builds"]:
        failures.append(f"first pass built {result['first_pass_store_builds']} warehouse stores")
    expected_file = EXPECTED_DIR / f"{args.workload}.json"
    expected = json.loads(expected_file.read_text()) if expected_file.exists() else {}
    if not expected and not args.record:
        failures.append(f"no recorded outputs in {expected_file.relative_to(ROOT)}")
    if args.workload == "report_jobs":
        failures += checks.artifact_agreement_failures(result["first_pass_artifacts"], result["passes"])
        failures += checks.report_invariant_failures(result["artifact_dir"], result["allowlist"])
        artifacts = result["passes"][0]["artifacts"] if result["passes"] else {}
        if args.record:
            expected = {"seed": args.seed, "artifacts": artifacts}
        elif args.seed == expected.get("seed"):
            failures += checks.artifact_digest_failures(artifacts, expected.get("artifacts", {}))
    else:
        ops = sorted(result["families"])
        if args.record:
            expected = result["digests"]
        failures += checks.digest_failures(result["digests"], expected, ops)
    if args.record and not failures:
        EXPECTED_DIR.mkdir(exist_ok=True)
        expected_file.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return failures


def main():
    started = time.monotonic()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, default=DEFAULT_SEED)
    parser.add_argument("--seconds", type=float, default=None)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--record", action="store_true")
    args = parser.parse_args()
    try:
        spec = benchmark_spec()
        if args.seconds is None:
            args.seconds = spec["run_seconds"]
        built = time.monotonic()
        classpath = build.ensure_built()
        # the build (first run in a checkout) has its own allowance
        deadline = started + (time.monotonic() - built) + RUN_TIMEOUT_S
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        print(f"cannot set up the benchmark: {e}", file=sys.stderr)
        return 2

    cpu0, load0 = read_cpu_times(), read_loadavg()
    run_dir = RUNS_DIR / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        result = run_harness(args, classpath, run_dir, deadline)
        failures = output_failures(args, result)
    except (RuntimeError, OSError, ValueError, KeyError) as e:
        print(f"benchmark run failed: {e}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 3
    cpu1, load1 = read_cpu_times(), read_loadavg()

    untraced = [p for p in result["passes"] if not p["traced"]]
    context = {
        "loadavg_start": load0,
        "loadavg_end": load1,
        "cpu_steal_share": (None if not (cpu0 and cpu1) or cpu1[1] == cpu0[1]
                            else (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])),
        "passes": len(result["passes"]),
        # interquartile distance of the untraced pass walls over their
        # median; the JIT's warming over the passes shows here, and a
        # noisy box on top of it
        "pass_spread": (stats.relative_spread([p["wall_s"] for p in untraced])
                        if len(untraced) >= 2 else None),
        "op_samples": sum(len(p["ops"]) for p in untraced),
        "op_medians": op_medians(untraced),
        "codegen_compiles_per_pass": [p["compiles"] for p in result["passes"]],
        "first_pass_compiles": result["first_pass_compiles"],
        "first_pass_compile_s": result["first_pass_compile_s"],
        "store_builds_setup": result["store_builds"],
        "setup_reps_s": result["setup_reps_s"],
        "failures": failures,
    }
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        values = per_layer(result, names, context)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        trace_dir = RUNS_DIR / "traces"
        trace_dir.mkdir(exist_ok=True)
        (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(
            json.dumps({"spans": result.get("spans", []), "layers": values}))
    else:
        values = end_to_end(result)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    print(json.dumps({"context": context}))
    for f in failures:
        print(f"check failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": int(result["attempted"]),
        "failed": len(failures),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
