"""Benchmark of the join and tiling engine.

    python3 perfbench/run.py --workload grid_tiles --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all --seed 1        # every workload, one table

Run from the repository root. Builds the library and harness (build.py),
runs one JVM on local[nproc], checks every job's output and prints the
metrics: a readable table, then one JSON line as the last line of stdout.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["grid_tiles", "osm_join"]
XMX = "3g"
JVM_TIMEOUT_S = 165
# units of the workload figures in the table; the rest are counts
SUMMARY_UNITS = {"tile_bytes_ratio": "ratio", "poly_bytes": "bytes"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg1():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except (OSError, ValueError, IndexError):
        return -1.0


def run_jvm(root, classpath, workload, seed, seconds, trace, nproc):
    """Runs perfbench.Main; returns its raw JSON, or exits on failure."""
    base = build.build_root(root)
    work = base / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = base / "logs" / f"{workload}-seed{seed}-trace{trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    # a fixed heap: G1 otherwise shrinks it after each between-job full GC,
    # and job times drift while it regrows
    cmd = (["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
              "--nproc", str(nproc), "--work", str(work)])
    try:
        with open(log, "wb") as lf:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=lf,
                                  timeout=JVM_TIMEOUT_S, cwd=root)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} did not finish in {JVM_TIMEOUT_S} s; log in {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.decode(errors="replace").strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: {workload} JVM exited with {proc.returncode}; log in {log}")
    return json.loads(lines[-1])


def write_spans(root, raw):
    """Spans of the traced passes, one JSON object a line."""
    path = build.build_root(root) / "spans" / f"{raw['workload']}-seed{raw['seed']}.jsonl"
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        for t in raw["traced"]:
            for s in t["spans"]:
                f.write(json.dumps(s) + "\n")
    return path


def report(root, raw, trace, load):
    """Prints the readable table and returns the result object for the last line."""
    attempted, failed, messages = stats.outcome(raw)
    item = raw["item_name"]
    print(f"perfbench {raw['workload']} seed={raw['seed']} nproc={raw['nproc']} "
          f"xmx_mb={raw['xmx_mb']:.0f} loadavg1={load:.2f} jobs={len(raw['job_s'])}")
    print(f"  session {raw['session_s']:.2f} s, inputs "
          + " ".join(f"{x:.2f}" for x in raw["setup_reps_s"])
          + f" s, warm-up {raw['warmup_s']:.2f} s, jobs "
          + " ".join(f"{x:.3f}" for x in raw["job_s"]) + " s")
    for m in messages:
        print(f"  FAILED {m}")
    if trace:
        layers = stats.per_layer(raw)
        metrics = {n: {"value": layers[n], "unit": u} for n, u in stats.per_layer_names()}
        print(f"  spans: {write_spans(root, raw)}")
    else:
        e2e = stats.end_to_end(raw)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in stats.END_TO_END}
    for n, m in metrics.items():
        print(f"  {n:<32} {m['value']:>16.6g} {m['unit']}")
    if not trace:
        print(f"  {item + '_per_s':<32} {metrics['items_per_s']['value']:>16.6g} {item}/s")
        for n, v in sorted(raw["summary"].items()):
            print(f"  {n:<32} {v:>16.6g} {SUMMARY_UNITS.get(n, 'count')}")
    print(f"  {'failed_frac':<32} {stats.failed_frac(failed, attempted):>16.6g} "
          f"fraction ({failed}/{attempted})")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        print("perfbench: no library sources under src/main/scala "
              "(run from the repository root)", file=sys.stderr)
        return 2
    t0 = time.time()
    classpath = build.build(root)
    if time.time() - t0 > 1:
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    nproc = len(os.sched_getaffinity(0))
    results = []
    for w in (WORKLOADS if a.all else [a.workload]):
        load = loadavg1()
        raw = run_jvm(root, classpath, w, a.seed, a.seconds, a.trace, nproc)
        results.append(report(root, raw, a.trace, load))
    if not a.all:
        print(json.dumps(results[0]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
