"""Physical-plan regression tests: the performance contract, asserted.

These lock in the plan shapes the engine was tuned to (SURVEY.md §4):
no Expand in fused profiling, predicate pushdown + column pruning for
violation extraction, broadcast for small RI parents, no Python UDFs
anywhere in the hot paths.
"""

import pytest
from pyspark.sql import functions as F

from pandera_forge_spark.fixtures import make_documents, mutate_documents
from pandera_forge_spark.pipeline import interleaved_verdicts
from pandera_forge_spark.plans import (
    executed_plan,
    has_broadcast_hash_join,
    has_expand,
    has_python_udf,
    plan_summary,
    pushed_filters,
    scan_read_schema,
)
from pandera_forge_spark.plans.inspect import optimized_plan
from pandera_forge_spark.profiler import profile_by_group, profile_table, stat_exprs
from pandera_forge_spark.schema import ColumnSpec, TableSchema
from pandera_forge_spark.validator import orphan_rows, violation_rows

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_fused_profile_agg_has_no_expand_and_no_udf(spark, lineitem):
    df = lineitem.agg(*stat_exprs(lineitem, lineitem.columns, False, True))
    assert not has_expand(df)
    assert not has_python_udf(df)


def test_stat_exprs_round_trips_per_aggregate(lineitem, py4j_commands):
    """The fused JOB-1 aggregate list of lineitem (16 columns, 17 pattern
    ratios per string column) costs at most 5 py4j commands per
    aggregate: each is one ``F.expr`` over SQL text. Built node by node
    with the Column API it cost ~29 per aggregate."""
    with py4j_commands() as sent:
        exprs = stat_exprs(lineitem, lineitem.columns, False, True)
    assert len(exprs) > 100
    assert len(sent) <= 5 * len(exprs), (len(sent), len(exprs))


def _collected_plans(spark, monkeypatch, df):
    """The executed plan of every DataFrame ``profile_table(df)``
    collects, in order, lower-cased."""
    cls = type(df)
    frames = []
    real = cls.collect
    monkeypatch.setattr(cls, "collect", lambda self: frames.append(self) or real(self))
    profile_table(df)
    monkeypatch.undo()
    return [(executed_plan(f).lower(), f) for f in frames]


def test_plan_text_keeps_fields_past_25(spark):
    """Plan text cuts every expression list after
    ``spark.sql.debug.maxToStringFields`` (25) fields; executed_plan and
    optimized_plan render it uncut, so a predicate finds field 36 of a
    40-wide aggregate, and the setting is restored afterwards."""
    key = "spark.sql.debug.maxToStringFields"
    aggs = [F.sum(F.col("id") + i).alias(f"s{i}") for i in range(40)]
    aggs[35] = F.expr("max(CAST(id AS STRING) RLIKE 'needle') AS hit")
    df = spark.range(10).agg(*aggs)
    assert spark.conf.get(key, None) is None
    assert "needle" not in df._jdf.queryExecution().executedPlan().toString()

    assert "needle" in executed_plan(df) and "needle" in optimized_plan(df)
    assert spark.conf.get(key, None) is None  # unset again, not set to 25
    spark.conf.set(key, "30")
    try:
        assert "needle" in executed_plan(df)
        assert spark.conf.get(key) == "30"
    finally:
        spark.conf.unset(key)


def test_profile_job1_has_no_regex_when_strings_are_small(spark, lineitem, monkeypatch):
    """lineitem's two string columns are small-domain: JOB 1 runs no
    RLIKE, the melt carries all 17 pattern counts, and no per-row sweep
    runs."""
    plans = [p for p, _ in _collected_plans(spark, monkeypatch, lineitem)]
    assert "l_linestatus" in plans[0] and "rlike" not in plans[0]
    regex = [p for p in plans[1:] if "rlike" in p]
    assert len(regex) == 1 and "generate" in regex[0]


def test_profile_pattern_sweep_reads_only_high_cardinality_strings(spark, tmp_path, monkeypatch):
    """In auto mode the per-row sweep is its own aggregate after JOB 1,
    and its scan reads only the string columns whose HLL estimate is
    above AUTO_SMALL_DOMAIN."""
    path = str(tmp_path / "t.parquet")
    spark.range(3000).selectExpr(
        "id",
        "id * 0.5 AS x",
        "concat('k', id % 7) AS small",
        "concat('u', id, '@x.io') AS hi1",
        "sha1(CAST(id AS STRING)) AS hi2",
    ).write.parquet(path)
    df = spark.read.parquet(path)
    plans = _collected_plans(spark, monkeypatch, df)
    assert "hi2" in plans[0][0] and "rlike" not in plans[0][0]
    sweeps = [f for p, f in plans if "rlike" in p and "generate" not in p]
    assert len(sweeps) == 1
    schemas = scan_read_schema(sweeps[0])
    assert set(schemas) == {"struct<hi1:string,hi2:string>"}, schemas


def test_per_group_profile_has_no_expand(spark, lineitem):
    df = profile_by_group(lineitem, ["l_returnflag"])
    assert not has_expand(df)
    assert not has_python_udf(df)


def _le_schema():
    return TableSchema(
        name="T",
        columns=[
            ColumnSpec(
                name="l_quantity", sanitized_name="l_quantity", name_was_valid=True,
                spark_type="double", pandera_type="Float64", nullable=True, le=49.0,
            )
        ],
    )


def test_violation_rows_pushes_filter_and_prunes_columns(spark, lineitem):
    df = violation_rows(lineitem, _le_schema(), ["l_orderkey"])
    pushed = pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed
    schemas = scan_read_schema(df)
    # column pruning: the scan must read only the id + checked column
    assert schemas and all(
        "l_quantity" in s and "l_comment" not in s and "l_shipdate" not in s
        for s in schemas
    ), schemas


def test_orphan_rows_broadcasts_small_parent(spark, lineitem):
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    df = orphan_rows(lineitem, orders, "l_orderkey", "o_orderkey", broadcast_parent=True)
    assert has_broadcast_hash_join(df)


def test_flagship_pipeline_plan_is_narrow(spark):
    clean = make_documents(spark, 200)
    actual = mutate_documents(clean)
    df = interleaved_verdicts(actual, clean)
    s = plan_summary(df)
    assert not s["python_udf"]
    assert not s["expand"]
    # one groupBy(doc_id), the equality join, the final bucket rollup —
    # anything beyond ~4 exchanges means a regression re-shuffled spans
    assert s["shuffles"] <= 4, s


def test_span_flags_projection_stays_codegen(spark):
    from pandera_forge_spark.spans import kind_consistency_ok, offsets_nondecreasing

    docs = make_documents(spark, 100)
    df = docs.select(
        (~offsets_nondecreasing(F.col("spans"))).alias("a"),
        (~kind_consistency_ok(F.col("spans"))).alias("b"),
    )
    assert not has_python_udf(df)
    assert plan_summary(df)["shuffles"] == 0


def test_batched_read_prunes_partitions(spark, tmp_path):
    """The batched runner's isin read must resolve as PartitionFilters
    at the scan (planning-time pruning), not a post-scan Filter."""
    from pandera_forge_spark.fixtures import make_documents
    from pandera_forge_spark.plans.inspect import executed_plan
    from pandera_forge_spark.runner import HivePartitionedParquet

    docs = make_documents(spark, 200, seed=3, n_buckets=8)
    table = HivePartitionedParquet(spark, str(tmp_path / "pp"), "bucket")
    table.write(docs)
    df = table.read_partitions(table.list_partitions()[:3])
    plan = executed_plan(df)
    assert "PartitionFilters: [" in plan and "bucket" in plan.split("PartitionFilters: [", 1)[1][:120]


def test_embedding_neardup_plan_no_cartesian_no_udf(spark):
    """The capped embedding LSH self-join must stay a keyed join on the
    bucket (never a cartesian/BNL over the corpus) and pure JVM."""
    from pandera_forge_spark.operators.similarity import near_duplicates_embedding
    from pandera_forge_spark.plans.inspect import executed_plan, has_python_udf

    df = spark.range(200).selectExpr(
        "id as vec_id",
        "array(cast(id % 7 as double), cast(id % 5 as double), 1.0d) as embedding",
    )
    out = near_duplicates_embedding(df, threshold=0.99, bits=8, max_bucket=20)
    plan = executed_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not has_python_udf(out)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on doc_id with equal bucket counts: the
    doc_id join — the flagship's one big shuffle — must plan with ZERO
    Exchange operators; an unbucketed control join must show them."""
    from pyspark.sql import functions as F

    from pandera_forge_spark.plans.inspect import executed_plan
    from pandera_forge_spark.sources.bucketing import (
        co_located_join,
        write_bucketed,
    )

    docs = spark.range(5000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 97).alias("payload"),
    )
    expected = docs.withColumn("payload", F.col("payload") + 1)
    write_bucketed(docs, "bk_actual", "doc_id", 8)
    write_bucketed(expected, "bk_expected", "doc_id", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # at bench size Spark would just broadcast; the at-scale plan
        # (both sides too big to broadcast) is the one bucketing serves
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = co_located_join(spark, "bk_actual", "bk_expected", on="doc_id")
        assert joined.count() == 5000
        plan = executed_plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan

        control = docs.join(expected, on="doc_id")
        assert "Exchange" in executed_plan(control)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_actual")
        spark.sql("DROP TABLE IF EXISTS bk_expected")


def test_contamination_broadcasts_and_stays_jvm(spark):
    """The eval-set shingle probe must be a BroadcastHashJoin (no
    shuffle of the corpus for the join) with zero Python UDFs."""
    from pandera_forge_spark.operators.text import contamination

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    out = contamination(corpus, bench, "text", "doc_id")
    assert has_broadcast_hash_join(out)
    assert not has_python_udf(out)


def test_tfidf_no_udf_no_expand(spark):
    from pandera_forge_spark.operators.text import tfidf_top_terms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = tfidf_top_terms(docs, "text", "doc_id", k=3)
    assert not has_python_udf(out)
    assert not has_expand(out)


def test_pack_concat_split_single_shuffle(spark):
    """The concat-split manifest is ONE exchange (the per-shard window
    partitioning) and no UDF; pack_greedy is the declared Arrow path."""
    from pandera_forge_spark.operators.sampling import (
        pack_concat_split,
        pack_greedy,
    )
    from pandera_forge_spark.plans import executed_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    m = pack_concat_split(docs, "doc_id", "n_chars", 2048, n_shards=4)
    plan = executed_plan(m)
    assert plan.count("Exchange") == 1
    assert not has_python_udf(m)
    g = pack_greedy(docs, "doc_id", "n_chars", 2048, n_shards=4)
    assert "FlatMapGroupsInPandas" in executed_plan(g)


def test_centroid_drift_no_explode(spark):
    """Centroids come from algebraic per-dimension averages — the plan
    must contain no Generate (explode) and no UDF."""
    from pandera_forge_spark.operators.similarity import centroid_drift
    from pandera_forge_spark.plans import executed_plan

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = centroid_drift(emb, "embedding", "label", 64)
    plan = executed_plan(out)
    assert "Generate" not in plan
    assert not has_python_udf(out)
    assert has_broadcast_hash_join(out) or "BroadcastNestedLoopJoin" in plan


def test_outlier_rows_pushes_fence_predicates(spark, lineitem):
    from pandera_forge_spark.validator import outlier_rows

    df = outlier_rows(lineitem, ["l_quantity"], ["l_orderkey"], exact=False)
    pushed = pushed_filters(df)
    # the Tukey fences are literals, so the OR-of-ranges reaches the
    # parquet scan — row groups whose min/max stats prove them clean
    # are never read
    assert any("l_quantity" in p for p in pushed), pushed
    assert not has_python_udf(df)


def test_chunk_documents_has_no_shuffle(spark):
    from pandera_forge_spark.operators.text import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = chunk_documents(docs, "text", ["doc_id"], size=64, overlap=16)
    plan = executed_plan(df)
    assert "Exchange" not in plan, plan  # narrow map stage only
    assert not has_python_udf(df)


def test_correlation_matrix_single_aggregate_no_udf(spark, lineitem):
    from pandera_forge_spark.profiler import correlation_matrix

    df = correlation_matrix(lineitem, ["l_quantity", "l_extendedprice", "l_tax"])
    plan = executed_plan(df)
    # ONE aggregate pair (partial+final) over one scan — no per-pair
    # scans, no Expand
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1, plan
    assert not has_expand(df)
    assert not has_python_udf(df)


def test_weighted_take_global_is_take_ordered(spark):
    from pandera_forge_spark.operators.sampling import weighted_take

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = weighted_take(docs, 10, "doc_id", "n_chars")
    plan = executed_plan(df)
    # global top-n must compile to TakeOrdered (per-partition heaps +
    # driver merge of n rows), never a single-partition Window sort
    assert "TakeOrdered" in plan, plan
    assert "Window" not in plan, plan


def test_embedding_health_single_scan_no_shuffle_agg(spark):
    from pandera_forge_spark.operators.similarity import embedding_health

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = embedding_health(emb, "embedding", expected_dim=64)
    plan = executed_plan(df)
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1, plan
    assert not has_python_udf(df)


def test_aqe_splits_planted_skewed_join(spark):
    """Scale evidence for the skew story: when a sort-merge join key is
    pathologically hot (half the left side on one key), AQE's runtime
    skew-join must SPLIT that reduce partition instead of letting one
    task own half the data — the executed adaptive plan reports an
    AQEShuffleRead marked 'skewed'. This is the engine's documented
    alternative to manual salting (validator.duplicate_keys_salted)
    for joins where the key set is not known in advance."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # scale the skew thresholds down to test size; adaptive +
        # skewJoin themselves are on by default
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        left = (
            spark.range(200000)
            .select((F.col("id") % 1000).alias("k"), F.col("id").alias("v"))
            .withColumn(
                "k", F.when(F.col("v") % 2 == 0, 7).otherwise(F.col("k"))
            )  # half of all rows land on key 7
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 200000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skewed" in plan, plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
