"""Paths, sizes and the Spark session shared by every benchmark process.

Everything the benchmark writes lives under ``.perfbench_cache/`` at
the checkout root: fixtures, Spark scratch space, the JVM's temporary
directory, per-process result files and trace files.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / ".perfbench_cache"
INPUTS = CACHE / "inputs"
RESULTS = CACHE / "results"
TRACES = CACHE / "traces"
WORK = CACHE / "work"
TMP = CACHE / "tmp"
BENCHMARK_JSON = ROOT / "BENCHMARK.json"

WORKLOADS = ("contract_loop", "docs_verdicts", "runner_resume")

# Input size per workload: lineitem rows for the two table workloads,
# documents for docs_verdicts. "smoke" sizes only exercise the harness.
SIZES = {
    "full": {"contract_loop": 60_000, "docs_verdicts": 20_000, "runner_resume": 60_000},
    "smoke": {"contract_loop": 40_000, "docs_verdicts": 5_000, "runner_resume": 40_000},
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, clamped to [1 GiB, 4 GiB]: enough
    for the full-size inputs, small enough to share the machine."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                break
        else:  # pragma: no cover - every Linux has MemTotal
            total_mb = 4096
    return max(1024, min(4096, total_mb // 4))


def use_checkout_package() -> None:
    """Import ``pandera_forge_spark`` from this checkout, or exit with an error."""
    if not (ROOT / "pandera_forge_spark" / "__init__.py").is_file():
        sys.exit(f"perfbench: no pandera_forge_spark package under {ROOT}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def child_env() -> dict:
    """Environment for benchmark subprocesses: temp files stay inside
    the cache and no inherited Spark submit arguments leak in."""
    TMP.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env.update(TMPDIR=str(TMP), SPARK_LOCAL_DIRS=str(CACHE / "spark-local"))
    return env


def session_conf() -> dict:
    n = nproc()
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.default.parallelism": str(n),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": f"{driver_memory_mb()}m",
        # the JVM writes no hsperfdata and keeps temp files in the cache
        "spark.driver.extraJavaOptions": (
            f"-XX:ReservedCodeCacheSize=512m -XX:-UsePerfData -Djava.io.tmpdir={TMP}"
        ),
        "spark.local.dir": str(CACHE / "spark-local"),
        "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
    }


def build_session():
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def input_dir(workload: str, seed: int, size: int) -> Path:
    return INPUTS / f"{workload}-s{seed}-n{size}"


def read_json(path: Path):
    return json.loads(Path(path).read_text())


def write_json(path: Path, obj) -> None:
    """Write atomically, so a reader never sees half a file."""
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(path.suffix + ".part")
    tmp.write_text(json.dumps(obj, indent=1, sort_keys=True, default=str))
    tmp.replace(path)
