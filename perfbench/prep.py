"""Fixture preparation: materialise one workload's inputs and expected
answers for a (seed, size), once, before any timed process starts.

    python3 perfbench/prep.py --workload contract_loop --seed 1 --size 600000

Outputs go to ``.perfbench_cache/inputs/<workload>-s<seed>-n<size>/``;
a ``_DONE`` marker is written last, so an interrupted prep is redone.

- ``contract_loop``: ``reference.parquet`` (a seeded lineitem-shaped
  table) and ``batch.parquet`` (the same rows with planted violations).
- ``runner_resume``: ``batch_by_quarter/`` (the batch, hive-partitioned
  by ship quarter) and ``schema.json`` (``TableSchema.to_json`` of the
  schema inferred from the reference).
- ``docs_verdicts``: ``actual.parquet`` and ``expected.parquet``, the
  rows of ``fixtures.mutate_documents`` and ``fixtures.make_documents``,
  generated by the package with Spark.

``expected.json`` holds the answers each op is checked against: the
planted violation counts from direct filters on the generated arrays,
the document totals from the per-operator composition of the pipeline
tests (``spans`` predicates, ``span_sequence_mismatches``,
``duplicate_keys``), run on the files as written.

Every reference table of one size holds each column's domain extremes,
so the inferred schema depends on the size alone; ``runner_resume``
infers it once per size, with Spark, and stores it.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import shutil

import numpy as np

from common import INPUTS, input_dir, use_checkout_package, write_json

SHIP_EPOCH = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-03: 83 ship months
KEEP_INPUT_SETS = 6  # a few seeds of every workload; older sets are deleted
# Spark gives each parquet row group to one task; one group per file would
# scan every input in a single task, so files hold this many groups.
ROW_GROUPS = 8
DRIFT_GROUP = "O"  # the l_linestatus group whose prices are shifted
BAD_STATUS = "X"


def lineitem_columns(seed: int, rows: int) -> dict:
    """A seeded table with the column names, types and value domains of
    the TPC-H sf0.1 ``lineitem`` used in the repository's tests."""
    rng = np.random.default_rng(seed)
    n_parts = max(rows // 30, 10)
    draws = {
        "l_orderkey": (0, max(rows // 4, 10)),
        "l_partkey": (0, n_parts),
        "l_suppkey": (0, max(rows // 600, 10)),
        "l_linenumber": (1, 8),
        "quantity": (1, 51),
        "discount": (0, 11),
        "tax": (0, 9),
        "ship_day": (0, SHIP_DAYS),
    }
    cols = {k: rng.integers(lo, hi, rows) for k, (lo, hi) in draws.items()}
    # rows 0 and 1 hold every column's minimum and maximum
    for k, (lo, hi) in draws.items():
        cols[k][0], cols[k][1] = lo, hi - 1
    retail = lambda pk: 90_000 + (pk // 10) % 20_001 + 100 * (pk % 1000)  # noqa: E731
    cols["l_partkey"][1] = np.argmax(retail(np.arange(n_parts)))
    partkey, quantity = cols["l_partkey"], cols.pop("quantity")
    return dict(
        cols,
        l_linenumber=cols["l_linenumber"].astype(np.int32),
        l_quantity=quantity.astype(np.float64),
        price_cents=quantity * retail(partkey),
        l_discount=cols.pop("discount") / 100.0,
        l_tax=cols.pop("tax") / 100.0,
        l_returnflag=np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, rows)],
        l_linestatus=np.array(["F", "O"], dtype=object)[rng.integers(0, 2, rows)],
        l_shipdate=np.datetime64(SHIP_EPOCH, "us") + cols.pop("ship_day").astype("timedelta64[D]"),
    )


def corrupt(cols: dict, seed: int) -> tuple[dict, dict]:
    """The batch: a copy of the reference with planted violations on
    disjoint seeded row sets, plus the counts a direct filter gives.

    - 0.5% of rows: ``l_quantity`` negated (breaks its lower bound);
    - 0.5%: ``l_returnflag`` NULL (breaks not-null);
    - 2%: ``l_linestatus`` = "X" (breaks its value set);
    - every row of the ``O`` group: ``l_extendedprice`` mirrored inside
      the reference's [min, max], so the group's distribution drifts
      while every bound still holds.
    """
    rng = np.random.default_rng(seed + 1_000_003)
    r = rng.integers(0, 1000, len(cols["l_quantity"]))
    out = dict(cols)
    out["l_quantity"] = np.where(r < 5, -cols["l_quantity"], cols["l_quantity"])
    out["l_returnflag"] = np.where((r >= 5) & (r < 10), None, cols["l_returnflag"])
    out["l_linestatus"] = np.where((r >= 10) & (r < 30), BAD_STATUS, cols["l_linestatus"])
    cents = cols["price_cents"]
    mirrored = cents.min() + cents.max() - cents
    out["price_cents"] = np.where(out["l_linestatus"] == DRIFT_GROUP, mirrored, cents)
    planted = {
        "l_quantity__ge": int((out["l_quantity"] < 0).sum()),
        "l_returnflag__not_null": int(sum(v is None for v in out["l_returnflag"])),
        "l_linestatus__isin": int((out["l_linestatus"] == BAD_STATUS).sum()),
    }
    return out, planted


def to_arrow(cols: dict, with_quarter: bool = False):
    import pyarrow as pa

    names = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate",
    ]
    data = dict(cols, l_extendedprice=cols["price_cents"] / 100.0)
    arrays = [pa.array(data[n]) for n in names]
    if with_quarter:
        month = cols["l_shipdate"].astype("datetime64[M]").astype(np.int64)
        quarter = [f"{1970 + m // 12}-Q{m % 12 // 3 + 1}" for m in month]
        names.append("l_shipquarter")
        arrays.append(pa.array(quarter))
    return pa.table(arrays, names=names)


def lineitem_pair(seed: int, rows: int):
    ref = lineitem_columns(seed, rows)
    batch, planted = corrupt(ref, seed)
    expected = {
        "rows": rows,
        "planted": planted,
        "violations": sum(planted.values()),
        "drifted": [DRIFT_GROUP],
    }
    return ref, batch, expected


def write_parquet(table, path) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path, row_group_size=-(-table.num_rows // ROW_GROUPS))


def prep_contract_loop(out, seed: int, rows: int) -> dict:
    ref, batch, expected = lineitem_pair(seed, rows)
    write_parquet(to_arrow(ref), out / "reference.parquet")
    write_parquet(to_arrow(batch), out / "batch.parquet")
    return expected


def prep_runner_resume(out, seed: int, rows: int) -> dict:
    import pyarrow.dataset as ds

    ref, batch, expected = lineitem_pair(seed, rows)
    table = to_arrow(batch, with_quarter=True)
    ds.write_dataset(
        table,
        out / "batch_by_quarter",
        format="parquet",
        partitioning=["l_shipquarter"],
        partitioning_flavor="hive",
        basename_template="part-{i}.parquet",
    )
    expected["partitions"] = len(set(table.column("l_shipquarter").to_pylist()))
    stored = INPUTS / f"lineitem-schema-n{rows}.json"
    if not stored.exists():
        write_json(stored, json.loads(infer_lineitem_schema(ref, out)))
    shutil.copyfile(stored, out / "schema.json")
    return expected


def infer_lineitem_schema(ref: dict, out) -> str:
    """``TableSchema.to_json`` of the schema inferred from ``ref``."""
    from common import build_session
    from pandera_forge_spark.inference import infer_schema

    path = out / "reference.parquet"
    write_parquet(to_arrow(ref), path)
    spark = build_session()
    try:
        return infer_schema(spark.read.parquet(str(path)), "lineitem").to_json()
    finally:
        spark.stop()
        path.unlink()


def prep_docs_verdicts(out, seed: int, docs: int) -> dict:
    from pyspark.sql import functions as F

    from common import build_session
    from pandera_forge_spark.fixtures import make_documents, mutate_documents
    from pandera_forge_spark.spans import kind_consistency_ok, offsets_nondecreasing, span_sequence_mismatches
    from pandera_forge_spark.validator import duplicate_keys

    spark = build_session()
    try:
        clean = make_documents(spark, docs, seed=seed)
        for name, df in (("expected", clean), ("actual", mutate_documents(clean, seed=seed))):
            write_parquet(df.toArrow(), out / f"{name}.parquet")
        clean = spark.read.parquet(str(out / "expected.parquet"))
        actual = spark.read.parquet(str(out / "actual.parquet"))
        spans = F.col("spans")
        # the pipeline tests' per-operator composition, collected in one action
        parts = [
            actual.agg(
                F.count("*").alias("docs"),
                F.count_if(~offsets_nondecreasing(spans)).alias("order_violations"),
                F.count_if(~kind_consistency_ok(spans)).alias("consistency_violations"),
            ),
            span_sequence_mismatches(actual.dropDuplicates(["doc_id"]), clean).agg(
                F.count("*").alias("sequence_mismatches")
            ),
            duplicate_keys(actual, ["doc_id"]).agg(F.count("*").alias("duplicate_ids")),
            clean.agg(F.count_distinct("bucket").alias("buckets")),
        ]
        totals = parts[0]
        for part in parts[1:]:
            totals = totals.crossJoin(part)
        return totals.collect()[0].asDict()
    finally:
        spark.stop()


PREP = {
    "contract_loop": prep_contract_loop,
    "runner_resume": prep_runner_resume,
    "docs_verdicts": prep_docs_verdicts,
}


def prepare(workload: str, seed: int, size: int) -> None:
    out = input_dir(workload, seed, size)
    if (out / "_DONE").exists():
        (out / "_DONE").touch()  # recently used: kept by prune
        return
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    expected = PREP[workload](out, seed, size)
    expected.update(workload=workload, seed=seed, size=size)
    write_json(out / "expected.json", expected)
    (out / "_DONE").touch()


def prune(keep: int) -> None:
    """Delete all but the ``keep`` most recently used input sets."""
    done = sorted(INPUTS.glob("*/_DONE"), key=lambda p: p.stat().st_mtime, reverse=True)
    for marker in done[keep:]:
        shutil.rmtree(marker.parent, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PREP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", type=int, required=True)
    args = ap.parse_args()
    use_checkout_package()
    prepare(args.workload, args.seed, args.size)
    prune(KEEP_INPUT_SETS)


if __name__ == "__main__":
    main()
