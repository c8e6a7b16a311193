"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload contract_loop --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

A run prepares the seed's inputs unless they are cached, then starts
the measuring process: a fresh interpreter with a fresh JVM that sets
up (import, SparkSession, open the inputs), warms up and times ops for
about ``--seconds``.

The last line of standard output is the result::

    {"correct": true, "attempted": 4, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``, with ``--trace 1`` its ``per_layer`` metrics. The
exit code is 0 only when every op's output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

from common import (
    BENCHMARK_JSON,
    RESULTS,
    ROOT,
    SIZES,
    WORKLOADS,
    child_env,
    read_json,
    use_checkout_package,
)

HERE = Path(__file__).resolve().parent
DEADLINE_S = 170.0


class RunFailed(Exception):
    pass


def call(argv: list, deadline: float) -> None:
    """Run a child process in its own process group; on time-out kill
    the whole group (the child and its JVM) and wait for it."""
    proc = subprocess.Popen(
        [sys.executable, *argv], cwd=ROOT, env=child_env(), stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # the JVM outlives nothing
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0:
        raise RunFailed(f"{argv[0]} {'timed out' if code is None else f'exited {code}'}")


def measure(workload: str, seed: int, size: int, seconds: float, trace: int, deadline: float,
            worker_args: tuple = ()) -> dict:
    """Prepare inputs, then run the measuring process."""
    call([str(HERE / "prep.py"), "--workload", workload, "--seed", str(seed), "--size", str(size)], deadline)
    out = RESULTS / f"{workload}-s{seed}-{os.getpid()}.json"
    out.unlink(missing_ok=True)
    call([str(HERE / "worker.py"), "--workload", workload, "--seed", str(seed), "--size", str(size),
          "--seconds", str(seconds), "--trace", str(trace), "--out", str(out), *worker_args,
          "--t0", repr(time.time())], deadline)
    result = read_json(out)
    out.unlink()
    return result


def metrics_from(result: dict, trace: int) -> dict:
    """Name -> value, for the end-to-end or the per-layer metrics."""
    setup = result["setup"]
    ops = [o for o in result["ops"] if not o["traced"]]
    if not trace:
        return {
            "setup_s": setup["setup_s"],
            "op_s_p50": statistics.median(o["wall_s"] for o in ops),
            "rows_per_s": result["rows"] * len(ops) / sum(o["wall_s"] for o in ops),
            "op_ok_ratio": sum(o["ok"] for o in result["ops"]) / len(result["ops"]),
        }
    timed = result["ops"]
    m = {f"setup.{k}": setup[k] for k in ("import_s", "session_s", "inputs_s")}
    m.update(
        {
            "jvm.first_op_s": result["warmup"][0]["wall_s"] if result["warmup"] else 0.0,
            "jvm.warmup_ops": len(result["warmup"]),
            "jvm.jit_ms": statistics.median(o["jit_ms"] for o in timed),
            "jvm.gc_ms": statistics.median(o["gc_ms"] for o in timed),
            "jvm.peak_rss_mb": result["jvm"]["peak_rss_mb"],
            "spark.codegen_compiles": statistics.median(o["codegen"] for o in timed),
            "host.probe_s": result["host"]["probe_s"],
            "host.loadavg_1m": result["host"]["loadavg_1m"],
            "trace.overhead_ratio": result["trace"]["overhead_ratio"],
            "trace.attributed_ratio": result["trace"]["attributed_ratio"],
        }
    )
    m.update({f"spark.{k}": v for k, v in result["trace"]["spark"].items()})
    m.update(result["layers"])
    return m


def report(result: dict, trace: int, declared: dict) -> dict:
    """The result line; layers a workload does not touch read 0."""
    values = metrics_from(result, trace)
    unknown = set(values) - set(declared)
    if unknown:
        raise RunFailed(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    timed = result["ops"]
    failed = sum(not o["ok"] for o in timed)
    return {
        "correct": not result["errors"] and all(o["ok"] for o in result["warmup"] + timed),
        "attempted": len(timed),
        "failed": failed,
        "metrics": {
            name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in declared.items()
        },
    }


def declared_metrics(trace: int) -> dict:
    spec = read_json(BENCHMARK_JSON)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=read_json(BENCHMARK_JSON)["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="one op of every workload at a tiny size")
    args = ap.parse_args()
    use_checkout_package()
    # a terminated run still kills and reaps its children (see call)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        import smoke

        return smoke.main()
    if args.workload is None:
        ap.error("--workload is required")
    deadline = time.time() + DEADLINE_S
    size = SIZES["full"][args.workload]
    try:
        result = measure(args.workload, args.seed, size, args.seconds, args.trace, deadline)
        line = report(result, args.trace, declared_metrics(args.trace))
    except RunFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    host = result["host"]
    print(
        f"perfbench: workload={args.workload} seed={args.seed} size={size} ops={len(result['ops'])} "
        f"warmup={len(result['warmup'])} nproc={host['nproc']} loadavg_1m={host['loadavg_1m']:.2f} "
        f"probe_s={host['probe_s']:.3f} op_s={[round(o['wall_s'], 3) for o in result['ops']]} "
        f"errors={result['errors'][:3]}"
    )
    if args.trace:
        print(f"perfbench: spans in {result['trace_file']}")
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
