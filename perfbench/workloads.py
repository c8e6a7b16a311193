"""The three workloads: how each opens its inputs, runs one op, checks
the op's output and turns a traced op's spans into per-layer metrics.

An op calls the package exactly as a user would; with a ``Tracer`` it
wraps each call into a layer in a span named ``<module>.<function>``.

Each workload fixes its nominal op time, which turns ``--seconds`` into
a timed-op count, its warm-up cap, and ``layer_spans``: the spans whose
union ``trace.attributed_ratio`` compares with the op's wall time.
"""

from __future__ import annotations

import os
import shutil
import statistics

from common import WORK, read_json


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _median(values):
    return statistics.median(values) if values else 0.0


class ContractLoop:
    """profile -> infer -> codegen -> validate -> drift on lineitem."""

    name = "contract_loop"
    nominal_op_s = 4.0
    max_warmup = 4
    layer_spans = (
        "sources.read_parquet", "profiler.profile_table", "inference.schema_from_profiles",
        "codegen.render_model", "codegen.validate_model_code", "validator.validate_table",
        "drift.baseline_summary", "drift.drift_verdicts",
    )

    def __init__(self, spark, inputs):
        self.spark = spark
        self.ref_path = str(inputs / "reference.parquet")
        self.batch_path = str(inputs / "batch.parquet")
        self.expected = read_json(inputs / "expected.json")
        self.rows = self.expected["rows"]
        # opening the inputs: resolve both files' schemas once
        spark.read.parquet(self.ref_path).schema
        spark.read.parquet(self.batch_path).schema

    def op(self, tr):
        from pandera_forge_spark.codegen import render_model, validate_model_code
        from pandera_forge_spark.drift import baseline_summary, drift_verdicts
        from pandera_forge_spark.inference import schema_from_profiles
        from pandera_forge_spark.profiler import profile_table
        from pandera_forge_spark.validator import validate_table

        with tr.span("sources.read_parquet", jobs=True):
            ref = self.spark.read.parquet(self.ref_path)
            batch = self.spark.read.parquet(self.batch_path)
        with tr.span("profiler.profile_table", jobs=True):
            profiles = profile_table(ref)
        with tr.span("inference.schema_from_profiles"):
            schema = schema_from_profiles("lineitem", profiles)
        with tr.span("codegen.render_model"):
            code = render_model(schema)
        with tr.span("codegen.validate_model_code"):
            code_ok, _ = validate_model_code(code, schema.name)
        with tr.span("validator.validate_table", jobs=True):
            res = validate_table(batch, schema, partition_cols=["l_returnflag"])
        with tr.span("drift.baseline_summary", jobs=True):
            base = baseline_summary(ref, "l_extendedprice")
        with tr.span("drift.drift_verdicts", jobs=True):
            verdicts = drift_verdicts(batch, "l_extendedprice", ["l_linestatus"], base).collect()
        return {
            "code_ok": code_ok,
            "counts": res.counts,
            "total_rows": res.total_rows,
            "drifted": sorted(r["l_linestatus"] for r in verdicts if r["drifted"]),
        }

    def check(self, out) -> list[str]:
        exp = self.expected
        errors = []
        if not out["code_ok"]:
            errors.append("validate_model_code failed")
        if out["total_rows"] != exp["rows"]:
            errors.append(f"rows {out['total_rows']} != {exp['rows']}")
        want = {name: exp["planted"].get(name, 0) for name in out["counts"]}
        missing = set(exp["planted"]) - set(out["counts"])
        if missing or out["counts"] != want:
            errors.append(f"violation counts {out['counts']} != planted {exp['planted']}")
        if out["drifted"] != exp["drifted"]:
            errors.append(f"drifted {out['drifted']} != {exp['drifted']}")
        return errors

    def layer_metrics(self, tr, op_spans) -> dict:
        m = {
            f"{layer}_s": _median([_dur(tr.descendants(op, layer)) for op in op_spans])
            for layer in self.layer_spans
        }
        for module in ("profiler", "validator", "drift"):
            m[f"{module}.jobs"] = _median(
                [
                    sum(
                        tr.subtree(s, "jobs")
                        for layer in self.layer_spans
                        if layer.startswith(module + ".")
                        for s in tr.descendants(op, layer)
                    )
                    for op in op_spans
                ]
            )
        return m


class DocsVerdicts:
    """``pipeline.interleaved_verdicts`` over the mutated documents."""

    name = "docs_verdicts"
    nominal_op_s = 1.5
    max_warmup = 3
    layer_spans = ("sources.read_parquet", "pipeline.interleaved_verdicts")

    def __init__(self, spark, inputs):
        self.spark = spark
        self.actual_path = str(inputs / "actual.parquet")
        self.expected_path = str(inputs / "expected.parquet")
        self.expected = read_json(inputs / "expected.json")
        self.rows = self.expected["docs"]
        spark.read.parquet(self.actual_path).schema
        spark.read.parquet(self.expected_path).schema

    def op(self, tr):
        from pandera_forge_spark.pipeline import interleaved_verdicts

        with tr.span("sources.read_parquet", jobs=True):
            actual = self.spark.read.parquet(self.actual_path)
            expected = self.spark.read.parquet(self.expected_path)
        with tr.span("pipeline.interleaved_verdicts", jobs=True):
            rows = interleaved_verdicts(actual, expected).collect()
        return [r.asDict() for r in rows]

    FIELDS = ("docs", "order_violations", "consistency_violations", "sequence_mismatches", "duplicate_ids")

    def check(self, rows) -> list[str]:
        got = {f: sum(r[f] for r in rows) for f in self.FIELDS}
        got["buckets"] = len(rows)
        want = {f: self.expected[f] for f in (*self.FIELDS, "buckets")}
        return [] if got == want else [f"bucket totals {got} != expected {want}"]

    def layer_metrics(self, tr, op_spans) -> dict:
        m = {}
        for layer in self.layer_spans:
            m[f"{layer}_s"] = _median([_dur(tr.descendants(op, layer)) for op in op_spans])
        for key in ("jobs", "stages", "tasks"):
            m[f"pipeline.{key}"] = _median(
                [
                    sum(tr.subtree(s, key) for s in tr.descendants(op, "pipeline.interleaved_verdicts"))
                    for op in op_spans
                ]
            )
        return m


class RunnerResume:
    """``run_partitions`` over the quarter-partitioned batch into a fresh
    audit dir, then a second call that must resume past every partition."""

    name = "runner_resume"
    nominal_op_s = 4.0
    max_warmup = 2
    layer_spans = (
        "runner.list_partitions", "runner.completed_partitions", "runner.read_partitions",
        "runner.process_batch", "runner.commit",
    )
    partition_col = "l_shipquarter"
    batch_size = 8

    def __init__(self, spark, inputs):
        from pandera_forge_spark.runner import HivePartitionedParquet
        from pandera_forge_spark.schema import TableSchema

        self.spark = spark
        self.root = str(inputs / "batch_by_quarter")
        self.expected = read_json(inputs / "expected.json")
        self.rows = self.expected["rows"]
        self.schema = TableSchema.from_json((inputs / "schema.json").read_text())
        HivePartitionedParquet(spark, self.root, self.partition_col)._read().schema
        self.work = WORK / f"runner-{os.getpid()}"
        shutil.rmtree(self.work, ignore_errors=True)
        self.n_ops = 0
        self.audit_bytes: list[int] = []

    def op(self, tr):
        import pandera_forge_spark.validator as validator
        from pandera_forge_spark.runner import (
            AuditLog,
            HivePartitionedParquet,
            run_partitions,
            validation_process_batch,
        )
        from tracing import Proxy, traced_call

        self.n_ops += 1
        audit_root = str(self.work / f"audit-{self.n_ops}")
        table = HivePartitionedParquet(self.spark, self.root, self.partition_col)
        audit = AuditLog(self.spark, audit_root)
        if tr.enabled:
            table = Proxy(table, tr, "runner", {"list_partitions": False, "read_partitions": True})
            audit = Proxy(audit, tr, "runner", {"completed_partitions": False, "commit": False})
            # validation_process_batch binds validator.validate_table when
            # it is called, so the batch callable picks up the traced one
            plain = validator.validate_table
            validator.validate_table = traced_call(tr, "validator.validate_table", plain)
            try:
                process = validation_process_batch(self.schema, self.partition_col)
            finally:
                validator.validate_table = plain
            process = traced_call(tr, "runner.process_batch", process)
        else:
            process = validation_process_batch(self.schema, self.partition_col)
        with tr.span("runner.run_partitions", jobs=True):
            first = run_partitions(table, audit, process_batch=process, batch_size=self.batch_size)
        with tr.span("runner.resume_pass", jobs=True):
            second = run_partitions(table, audit, process_batch=process, batch_size=self.batch_size)
        return {"audit_root": audit_root, "first": first, "second": second}

    def check(self, out) -> list[str]:
        import pyarrow.parquet as pq

        from pandera_forge_spark.runner import AuditLog

        exp = self.expected
        first, second = out["first"], out["second"]
        errors = []
        committed = sorted(AuditLog(self.spark, out["audit_root"]).completed_partitions())
        if len(first.processed) != exp["partitions"] or first.failed_partitions:
            errors.append(f"first pass processed {len(first.processed)} of {exp['partitions']}")
        if committed != sorted(first.processed):
            errors.append("audit commits differ from the manifest")
        if second.processed or second.failed_partitions or len(second.skipped) != exp["partitions"]:
            errors.append(f"resume pass processed {len(second.processed)}, skipped {len(second.skipped)}")
        rows = violations = 0
        for part in committed:
            audit = pq.read_table(f"{out['audit_root']}/partition={part}/part-00000.parquet")
            rows += sum(audit.column("rows").to_pylist())
            violations += sum(audit.column("violations").to_pylist())
        if (rows, violations) != (exp["rows"], exp["violations"]):
            errors.append(f"audit rows/violations {rows}/{violations} != {exp['rows']}/{exp['violations']}")
        self.audit_bytes.append(
            sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out["audit_root"]) for f in fs)
        )
        shutil.rmtree(out["audit_root"], ignore_errors=True)
        return errors

    def layer_metrics(self, tr, op_spans) -> dict:
        def per_op(name):
            return [_dur(tr.descendants(op, name)) for op in op_spans]

        def per_call(name):
            return [s["end"] - s["start"] for op in op_spans for s in tr.descendants(op, name)]

        def jobs_in(name):
            return [sum(tr.subtree(s, "jobs") for s in tr.descendants(op, name)) for op in op_spans]

        jobs = jobs_in("runner.process_batch")
        n_batches = [len(tr.descendants(op, "runner.process_batch")) for op in op_spans]
        return {
            "runner.list_partitions_s": _median(per_op("runner.list_partitions")),
            "runner.completed_partitions_s": _median(per_op("runner.completed_partitions")),
            "runner.read_partitions_s": _median(per_op("runner.read_partitions")),
            "runner.read_partitions_s_p50": _median(per_call("runner.read_partitions")),
            "validator.validate_table_s": _median(per_op("validator.validate_table")),
            "validator.jobs": _median(jobs_in("validator.validate_table")),
            "runner.process_batch_s_p50": _median(per_call("runner.process_batch")),
            "runner.commit_s": _median(per_op("runner.commit")),
            "runner.commit_s_p50": _median(per_call("runner.commit")),
            "runner.commits": _median([len(tr.descendants(op, "runner.commit")) for op in op_spans]),
            "runner.batches": _median(n_batches),
            "runner.jobs_per_batch": _median([j / n for j, n in zip(jobs, n_batches) if n]),
            "runner.audit_bytes": _median(self.audit_bytes),
            "runner.resume_pass_s": _median(per_op("runner.resume_pass")),
        }


WORKLOADS = {w.name: w for w in (ContractLoop, DocsVerdicts, RunnerResume)}
