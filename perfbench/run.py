"""graft's benchmark: one closed-loop client thread against local[4].

    python3 perfbench/run.py --workload interactive_rw --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft from source (build.py),
runs the workload in one JVM, checks every op's output, and prints as
its last stdout line one JSON object: {correct, attempted, failed,
metrics}. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. Other figures go to stderr and to the
artifact under .bench_build/artifacts/. README.md defines them all.
"""
import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

BENCH = Path(__file__).resolve().parent
DATA = BENCH / "data" / "sf0.001"
ORACLE = BENCH / "oracle" / "sf0.001.json"
WORKLOADS = ("interactive_rw", "graph_shuffle")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(root: Path, classes: Path, args: list, timeout: int = JVM_TIMEOUT_S) -> subprocess.CompletedProcess:
    """Runs the benchmark client; Spark's scratch space stays in the build dir."""
    scratch = build.build_dir(root) / "tmp"
    scratch.mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseSerialGC", "-XX:-UsePerfData", "-Dfile.encoding=UTF-8", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
            f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}", "graftbench.Main"] + args)
    return subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                          timeout=timeout)


def source_stamp(root: Path, digest: str) -> str:
    head = root / ".git" / "HEAD"
    if head.is_file():
        done = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        if done.returncode == 0:
            return f"git {done.stdout.strip()}; sources sha256 {digest}"
    return f"sources sha256 {digest}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd().resolve()
    if not ORACLE.is_file() or not DATA.is_dir():
        print("perfbench: oracle digests or data missing", file=sys.stderr)
        return 2
    classes, digest = build.build(root)
    artifacts = build.build_dir(root) / "artifacts"
    artifacts.mkdir(parents=True, exist_ok=True)
    out = artifacts / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time() * 1000)}.json"
    done = jvm(root, classes, ["--workload", args.workload, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace),
                               "--data", str(DATA), "--oracle", str(ORACLE), "--out", str(out),
                               "--source", source_stamp(root, digest)])
    if done.returncode != 0 or not out.is_file():
        sys.stderr.write(done.stderr[-4000:])
        print(f"perfbench: client exited with {done.returncode}", file=sys.stderr)
        return 1
    a = json.loads(out.read_text())
    rep = metrics.report(a)
    if args.trace:
        figures, detail = metrics.per_layer(a)
        rep["per_layer_detail"] = detail
    else:
        figures = metrics.end_to_end(a)
    a["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in figures.items()}
    a["report"] = rep
    out.write_text(json.dumps(a))
    summarize(a, args, artifacts)
    attempted = len(a["ops"])
    failed = sum(1 for o in a["ops"] if not o["ok"])
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": a["metrics"]}))
    return 0


def summarize(a, args, artifacts: Path) -> None:
    """Human-readable figures on stderr: the stamp, every metric, the
    tail and write latencies, failures by name, and (traced) the ops
    with the most driver-only time and the tracing overhead."""
    rep, err = a["report"], sys.stderr
    print(f"stamp: {json.dumps(a['stamp'])}", file=err)
    print(f"passes {a['passes']}, timed {a['timed_s']:.2f} s, {rep['samples']} latency samples", file=err)
    for k, m in a["metrics"].items():
        print(f"  {k:26s} {m['value']:.6g} {m['unit']}", file=err)
    for k in ("cpu_s_per_op", "op_p50_s", "op_p90_s", "write_p50_s", "write_p90_s"):
        v = rep[k]
        print(f"  {k:26s} {'%.6g s' % v if v is not None else 'not reported (too few samples)'}", file=err)
    print(f"  failed_frac {rep['failed_frac']:.4g}; failed ops: {rep['failed_ops'] or 'none'}", file=err)
    if rep["plan_nodes_by_session"]:
        print(f"  plan nodes after each write, first sessions: {rep['plan_nodes_by_session'][:2]}", file=err)
    if args.trace:
        ops = rep["per_layer_detail"]["ops"]
        for name, row in sorted(ops.items(), key=lambda kv: -kv[1]["wall_s"])[:5]:
            share = row["driver_only_s"] / row["wall_s"] if row["wall_s"] else 0.0
            print(f"  {name:24s} wall {row['wall_s']:.3f} s, driver-only {share:.1%}", file=err)
        untraced = sorted(artifacts.glob(f"{args.workload}-seed{args.seed}-trace0-*.json"))
        if untraced:
            base = json.loads(untraced[-1].read_text())["metrics"]["ops_per_s"]["value"]
            traced = a["metrics"]["trace.ops_per_s"]["value"]
            print(f"  tracing overhead: ops_per_s {base:.4g} untraced -> {traced:.4g} traced "
                  f"({(traced - base) / base:+.1%})", file=err)


if __name__ == "__main__":
    sys.exit(main())
