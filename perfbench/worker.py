"""One measuring process: a fresh interpreter and a fresh JVM.

    python3 perfbench/worker.py --workload W --seed N --size ROWS \
        --seconds S --trace 0|1 --t0 EPOCH --out RESULT.json

``--t0`` is the wall-clock time at which the parent started this
process; ``setup_s`` runs from it to the moment the workload's inputs
are open. The process then warms up until the JIT has settled (see
``warm_up``), runs the host probe and times a fixed number of ops:
``--seconds`` divided by the workload's nominal op time, at least
``MIN_OPS``. The count depends on ``--seconds`` alone. Every op's
output is checked.

With ``--trace 1`` timed ops alternate between untraced and traced, so
one process yields both the per-layer breakdown and the tracing
overhead; the spans go to ``.perfbench_cache/traces/``.
"""

from __future__ import annotations

import argparse
import time

T_START = time.time()

MIN_OPS = 2
# Warm-up ends after the first op whose JIT compile time is at most
# JIT_SETTLED times its wall time (on average under one compiler thread
# busy), but runs at least MIN_WARMUP ops and at most the workload's cap.
MIN_WARMUP = 2
JIT_SETTLED = 1.0
PROBE_ROWS = 20_000_000


def host_probe(spark) -> float:
    """A fixed single-task CPU loop inside the JVM; diagnostic only."""
    t = time.perf_counter()
    spark.range(0, PROBE_ROWS, 1, 1).selectExpr("bit_xor(xxhash64(id))").collect()
    return time.perf_counter() - t


def warm_up(one_op, cap: int) -> list:
    """Warm-up ops until the JIT has settled, between MIN_WARMUP and cap."""
    warm = []
    while len(warm) < cap:
        warm.append(one_op())
        op = warm[-1]
        if len(warm) >= MIN_WARMUP and op["jit_ms"] <= JIT_SETTLED * 1000 * op["wall_s"]:
            break
    return warm


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=None, help="fixed warm-up op count (default: until settled)")
    ap.add_argument("--ops", type=int, default=None, help="timed ops (default: from --seconds)")
    ap.add_argument("--t0", type=float, default=T_START)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from common import TRACES, build_session, input_dir, use_checkout_package, write_json

    use_checkout_package()
    import pandera_forge_spark  # noqa: F401  (timed: the cold package import)

    from workloads import WORKLOADS

    t_import = time.time()
    spark = build_session()
    t_session = time.time()
    wl = WORKLOADS[args.workload](spark, input_dir(args.workload, args.seed, args.size))
    t_inputs = time.time()
    result = {
        "setup": {
            "import_s": t_import - args.t0,
            "session_s": t_session - t_import,
            "inputs_s": t_inputs - t_session,
            "setup_s": t_inputs - args.t0,
        }
    }
    try:
        result.update(run(spark, wl, args))
    finally:
        spark.stop()
    if args.trace:
        result["trace_file"] = str(TRACES / f"{args.workload}-s{args.seed}.json")
        result.pop("tracer").dump(result["trace_file"], dict(vars(args)))
    write_json(args.out, result)


def run(spark, wl, args) -> dict:
    import os
    import statistics

    from common import nproc
    from tracing import JvmCounters, NullTracer, Tracer, covered

    counters = JvmCounters(spark)
    tracer = Tracer(spark) if args.trace else None
    null = NullTracer()
    errors: list[str] = []

    def one_op(tr):
        before = counters.snapshot()
        t = time.perf_counter()
        if tr.enabled:
            with tr.span("op", jobs=True) as rec:
                out = wl.op(tr)
        else:
            rec, out = None, wl.op(tr)
        wall = time.perf_counter() - t
        after = counters.snapshot()
        problems = wl.check(out)
        errors.extend(problems)
        return {
            "wall_s": wall,
            "ok": not problems,
            "span": rec["id"] if rec else None,
            **{k: after[k] - before[k] for k in before},
        }

    n_ops = args.ops or max(MIN_OPS, round(args.seconds / wl.nominal_op_s))
    if tracer is not None:  # untraced/traced in ABBA order, so drifting op times even out
        n_ops = 4 * max(1, (n_ops + 3) // 4)
    if args.warmup is None:
        warm = warm_up(lambda: one_op(null), wl.max_warmup)
    else:
        warm = [one_op(null) for _ in range(args.warmup)]
    probe_s = host_probe(spark)
    ops = []
    for i in range(n_ops):
        traced = tracer is not None and i % 4 in (1, 2)
        ops.append(dict(one_op(tracer if traced else null), traced=traced))

    plain = [o for o in ops if not o["traced"]]
    out = {
        "warmup": warm,
        "ops": ops,
        "errors": errors[:20],
        "rows": wl.rows,
        "host": {"nproc": nproc(), "loadavg_1m": os.getloadavg()[0], "probe_s": probe_s},
        "jvm": {"peak_rss_mb": counters.peak_rss_mb()},
    }
    if tracer is not None:
        traced_ops = [o for o in ops if o["traced"]]
        spans = {s["id"]: s for s in tracer.spans}
        op_spans = [spans[o["span"]] for o in traced_ops]
        layers = wl.layer_metrics(tracer, op_spans)
        attributed = [
            covered([s for name in wl.layer_spans for s in tracer.descendants(op, name)])
            / (op["end"] - op["start"])
            for op in op_spans
        ]
        out["layers"] = layers
        out["trace"] = {
            "overhead_ratio": statistics.median(o["wall_s"] for o in traced_ops)
            / statistics.median(o["wall_s"] for o in plain),
            "attributed_ratio": statistics.median(attributed),
            "spark": {
                k: statistics.median(tracer.subtree(op, k) for op in op_spans)
                for k in ("jobs", "stages", "tasks")
            },
        }
        out["tracer"] = tracer
    return out


if __name__ == "__main__":
    main()
