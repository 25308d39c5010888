"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 6 --trace 0

With ``--trace 0`` it prints every end-to-end metric of BENCHMARK.json,
with ``--trace 1`` every per-layer metric (layers a workload bypasses
read 0). Human-readable lines come first; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``. The exit code is 0 only when every output check
passed.

One process per workload, Spark at ``local[nproc]`` through the
engine's own ``session.get_spark`` with the driver heap sized from
MemTotal. Scratch files live under ``.bench_tmp/`` in the repository
root and are removed at exit; a traced run leaves its spans in
``.bench_traces/<workload>-seed<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path.cwd().resolve()
ENGINE = "web_crawler_search_engine_spark"


def _heap_mb() -> int:
    """A quarter of MemTotal, between 1 and 8 GiB."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(8192, total_mb // 4))
    return 2048


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _stop_spark(spark, children: list[int]) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait for every process it started."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in children):
        if time.monotonic() > deadline:
            for p in children:
                if _alive(p):
                    os.kill(p, 9)
            break
        time.sleep(0.1)


def _count_seen_keys(run, instr) -> None:
    """Traced crawl runs also record the Bloom probe's key counts: the
    batch, maybe and matched sets anti_join_via_bloom keeps cached for
    the round (its ProbeHandle) are counted as it returns."""
    from web_crawler_search_engine_spark.operators import seen

    inner = seen.anti_join_via_bloom

    def counted(*a, **kw):
        unseen, handle = inner(*a, **kw)
        dfs = handle._dfs
        run.tracer.seen_counts[run.tracer.trace] = {
            "probed": run.untraced_count(dfs[0]),
            "maybe": run.untraced_count(dfs[1]),
            "confirmed": run.untraced_count(dfs[2]) if len(dfs) > 2 else 0,
        }
        return unseen, handle

    instr.patch(seen, "anti_join_via_bloom", counted)


def run_workload(args, spec: dict, tmp: Path) -> tuple[dict, int]:
    import tracing
    import workloads

    t0 = time.monotonic()
    from web_crawler_search_engine_spark.session import get_spark

    spark = get_spark()
    session_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    children = tracing.descendants(os.getpid())

    tracer = instr = None
    if args.trace:
        tracer = tracing.Tracer(ROOT / ENGINE)
    run = workloads.Run(spark, args.seed, args.seconds, tmp, tracer)
    try:
        if tracer is not None:
            instr = tracing.Instrumentation(tracer)
            _count_seen_keys(run, instr)
        out = workloads.WORKLOADS[args.workload](run)
        peak = tracing.peak_rss_mb(jvm_pid)
    finally:
        if instr is not None:
            instr.restore()
            trace_file = ROOT / ".bench_traces" / f"{args.workload}-seed{args.seed}.jsonl"
            tracer.dump(trace_file)
            print(f"spans written to {trace_file.relative_to(ROOT)}")
        _stop_spark(spark, children + tracing.descendants(jvm_pid))

    walls = sorted(out["op_walls"])
    e2e = {
        "setup_s": session_s + out["setup_once"] + statistics.median(out["setup_reps"]),
        "op_p50_ms": 1000.0 * statistics.median(walls) if walls else 0.0,
        "restart_s": statistics.median(out["restarts"]),
    }
    samples = {"setup_s": len(out["setup_reps"]), "op_p50_ms": len(walls),
               "restart_s": len(out["restarts"])}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    e2e_names = [m["name"] for m in spec["end_to_end"]]
    print(f"workload {args.workload} seed {args.seed}: operation = {out['op_name']}")
    for name in e2e_names:
        print(f"  {name:<12} {e2e[name]:>12.4f} {units[name]:<6} n={samples[name]}")
    if len(walls) > 10:
        # the highest percentile with at least ten samples above it
        pct = 100.0 * (len(walls) - 10) / len(walls)
        print(f"  op_p{pct:.0f}_ms {1000.0 * walls[-11]:>12.4f} ms     n={len(walls)}")
    print(f"  peak_rss_mb  {peak:>12.4f} MB     (driver Python + JVM)")
    for name, v in out["extra"].items():
        print(f"  {name} {v:.4f}")
    ratio = run.failed / run.attempted if run.attempted else 0.0
    print(f"  failed_op_ratio {run.failed}/{run.attempted} = {ratio:.4f}")
    print(f"  setup: session start {session_s:.3f} s, one-off {out['setup_once']:.3f} s, "
          f"repeated {[round(x, 3) for x in out['setup_reps']]} s")

    if args.trace:
        layers = dict(out["layers"], **{"spark.peak_rss_mb": peak})
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in names}
        for n in names:
            print(f"  {n:<34} {metrics[n]['value']:>14.4f} {units[n]}")
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": units[n]} for n in e2e_names}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return result, (0 if run.failed == 0 else 1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / ENGINE / "__init__.py").is_file() or not spec_path.is_file():
        print(f"perfbench: {ROOT} holds no {ENGINE} package; run from the repository root",
              file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tmp = ROOT / ".bench_tmp" / f"{args.workload}-{os.getpid()}"
    (tmp / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp / "tmp")
    tempfile.tempdir = str(tmp / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = f"{_heap_mb()}m"
    # Spark's Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, str(ROOT))
    try:
        result, code = run_workload(args, spec, tmp)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            (ROOT / ".bench_tmp").rmdir()
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return code


if __name__ == "__main__":
    sys.exit(main())
