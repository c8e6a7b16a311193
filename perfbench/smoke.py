"""Harness self-test: ``python3 perfbench/run.py --smoke``.

Runs every workload at its smoke size with one untraced and one traced
measuring process (no warm-up, the fewest ops), and checks that each
prints every metric of ``BENCHMARK.json`` with its unit and passes its
output checks.
"""

from __future__ import annotations

import sys
import time

from common import SIZES, WORKLOADS


def check_line(line: dict, declared: dict) -> list[str]:
    errors = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(line)}")
    if not line["correct"] or line["failed"] or line["attempted"] < 1:
        errors.append(f"correct={line['correct']} attempted={line['attempted']} failed={line['failed']}")
    units = {name: m["unit"] for name, m in line["metrics"].items()}
    if units != declared:
        errors.append(f"metrics/units {units} != declared {declared}")
    return errors


def main() -> int:
    from run import DEADLINE_S, RunFailed, declared_metrics, measure, report

    failures = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            size = SIZES["smoke"][workload]
            try:
                result = measure(
                    workload, 1, size, 0, trace, time.time() + DEADLINE_S,
                    worker_args=("--warmup", "0", "--ops", "1"),
                )
                declared = declared_metrics(trace)
                errors = check_line(report(result, trace, declared), declared) + result["errors"]
            except RunFailed as e:
                errors = [str(e)]
            print(f"perfbench smoke: {workload} trace={trace}: {'ok' if not errors else errors}")
            failures += errors
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
