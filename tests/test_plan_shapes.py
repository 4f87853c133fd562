"""Physical-plan shape assertions — the `.explain` discipline as tests.

At 100 TB the plan IS the product: these tests pin the properties that make
the engine scale (filter/column pushdown to the parquet scan, exactly one
exchange in the ingest batch path, broadcast for the replicated-dim salted
join, no row-at-a-time Python anywhere) so a regression shows up as a test
failure, not as a 10x slowdown on the cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_parquet_filter_and_column_pushdown(spark):
    df = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("event_type") == "error")
        .select("event_id")
    )
    plan = optimized_formatted(df)
    assert "PushedFilters" in plan
    assert "EqualTo(event_type,error)" in plan.replace(" ", "").replace(
        "EqualTo(event_type,'error')", "EqualTo(event_type,error)"
    ) or "event_type" in plan.split("PushedFilters")[1].split("]")[0]
    # column pruning: the scan must read only the referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in read_schema and "event_type" in read_schema
    assert "props" not in read_schema and "value" not in read_schema


def test_ingest_batch_path_shuffle_shape(spark, tmp_path):
    """parse -> bucket -> LWW hash-agg -> repartition(bucket): the full-width
    feed must cross the wire exactly once and PRE-REDUCED — the plan shows a
    partial max_by aggregation BELOW the first exchange (map-side combine),
    a final aggregation above it, and one further exchange that moves only
    the deduped winners onto the bucket key for the per-bucket write."""
    from airbyte_module_spark import model
    from airbyte_module_spark.lake.table import bucket_expr, dedup_lww
    from airbyte_module_spark.sources.feed import parse_envelopes_once
    from airbyte_module_spark.sources.generator import FeedSpec, generate_feed

    generate_feed(FeedSpec(seed=5, n_events=200), str(tmp_path / "feed"))
    raw = spark.read.text(str(tmp_path / "feed"))
    parsed = parse_envelopes_once(raw).withColumn(
        model.BUCKET_COLUMN, bucket_expr(32, ["repo", "path"])
    )
    winners = dedup_lww(parsed, [model.BUCKET_COLUMN, "repo", "path"]).repartition(
        32, F.col(model.BUCKET_COLUMN)
    )
    plan = physical(winners)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges == 2, f"expected agg + bucket shuffles, got {n_exchanges}:\n{plan}"
    # map-side combine: the partial max_by sits BELOW the first exchange
    # (printed after it, deeper in the tree), so conflicting events collapse
    # before any bytes cross the wire. (max_by with a struct buffer plans as
    # SortAggregate — local sorts per aggregation stage — but the partial
    # phase is what bounds shuffle volume.)
    assert "partial_max_by" in plan, f"map-side combine missing:\n{plan}"
    assert plan.index("partial_max_by") > plan.index("Exchange"), plan
    assert "Window" not in plan, f"window/row_number crept back in:\n{plan}"


def test_salted_join_broadcasts_replicated_dim(spark):
    from airbyte_module_spark import queries as Q

    plan = physical(Q.salted_join(spark, SF))
    assert "Broadcast" in plan, plan


def test_no_row_python_in_any_query(spark):
    """Every oracle-checked query must stay JVM-side or Arrow-batched —
    BatchEvalPython (row-at-a-time UDF execution) must never appear."""
    import __spark_entry__ as entry_mod

    for name, fn in entry_mod.queries().items():
        plan = physical(fn(spark, SF))
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time python"


def test_near_dup_lsh_no_nested_loop(spark):
    """The scale-path embedding near-dup must plan as a (band, bucket)
    exchange into one Arrow pair kernel — no join at all, and never the
    O(N²) BroadcastNestedLoopJoin or CartesianProduct of an all-pairs
    form."""
    from airbyte_module_spark.operators.similarity import near_dup_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = physical(near_dup_pairs_lsh(emb))
    assert "Join" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_dot_product_is_codegen(spark):
    """int_dot must stay inside whole-stage codegen: no higher-order-function
    (interpreted) expressions in the scoring projection."""
    from airbyte_module_spark.operators.similarity import with_quantized

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = physical(with_quantized(emb).select("norm2"))
    # aggregate()/zip_with() would appear as 'aggregate(' / 'zip_with(' nodes
    assert "zip_with" not in plan and "aggregate(" not in plan, plan


@pytest.mark.parametrize("search", ["ann_brute_force", "ann_lsh", "ann_ivf"])
def test_ann_bruteforce_is_mapside_topk(spark, search):
    """r4 shape, shared by all three ANN searches: queries ride a
    TorrentBroadcast into a mapInPandas kernel that emits per-batch top-k
    only — the plan has NO join of any kind (the r1-r3 crossJoin form
    shuffled every scored pair into the rank window; the r5 LSH/IVF forms
    joined on bucket/cell) and the window's input is the candidate stream,
    not the corpus."""
    from airbyte_module_spark.operators import similarity

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = physical(getattr(similarity, search)(emb, n_queries=5, k=3))
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_pipeline_transform_vectorized(spark, tmp_path):
    """The normalize+sha transform is pure codegen (expression form, zero
    Python)."""
    from airbyte_module_spark import Engine

    eng = Engine(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("r", "p", "c", "py", "x\r\ny ")],
        ["repo", "path", "commit", "lang", "content"],
    )
    out = eng.pipeline.transform(df)
    assert "Python" not in physical(out)


def test_minimal_parse_ingest_plan_single_parse_no_probe_rider(spark, tmp_path):
    """The r3 keyed ingest hot path must parse each feed line exactly ONCE
    (one from_json with the minimal key/cursor schema). The r2 design let
    the evolution probe ride the scan as get_json_object+json_object_keys —
    a second and third JSON parse of every line; that must not reappear
    below the aggregate. Partial max_by still sits below the only
    full-width exchange (map-side combine)."""
    from airbyte_module_spark import model
    from airbyte_module_spark.lake.table import bucket_expr
    from airbyte_module_spark.sources.feed import parse_envelopes_minimal
    from airbyte_module_spark.sources.generator import FeedSpec, generate_feed

    generate_feed(FeedSpec(seed=6, n_events=200), str(tmp_path / "feed"))
    raw = spark.read.text(str(tmp_path / "feed"))
    minimal = parse_envelopes_minimal(raw, ["repo", "path"]).withColumn(
        model.BUCKET_COLUMN, bucket_expr(32, ["repo", "path"])
    )
    order_key = F.struct(F.col(model.META_EMITTED), F.col(model.META_SEQ))
    grouped = minimal.groupBy(model.BUCKET_COLUMN, "repo", "path").agg(
        F.max_by(
            F.struct("value", model.META_EMITTED, model.META_SEQ, model.META_OP),
            order_key,
        ).alias("_w"),
        F.count("*").alias("_n"),
    )
    plan = physical(grouped)
    # the parse must NOT be pushed into scan-level filters: everything at or
    # below the FileScan must be from_json-free (pushed predicates re-parse
    # every line — measured 2.5x the single-parse cost)
    scan_section = plan[plan.index("FileScan"):]
    assert "from_json" not in scan_section, f"parse pushed into scan filters:\n{plan}"
    assert "get_json_object" not in plan, f"probe parse rider reappeared:\n{plan}"
    assert "json_object_keys" not in plan, f"probe parse rider reappeared:\n{plan}"
    assert "partial_max_by" in plan and plan.index("partial_max_by") > plan.index(
        "Exchange"
    ), f"map-side combine missing:\n{plan}"


def test_replays_of_one_feed_shape_compile_nothing_new(spark, tmp_path):
    """The ingest plan's generated code depends on the feed's shape, not
    on the micro-batch: once two replays of one shape have run, a third
    (fresh table, four triggers) compiles no class. An unseeded ``rand()``
    pushdown barrier compiled one fresh class per trigger."""
    from airbyte_module_spark import Engine
    from airbyte_module_spark.sources.generator import FeedSpec, generate_feed
    from tests.util import codegen_compiles

    feed = str(tmp_path / "feed")
    generate_feed(FeedSpec(seed=8, n_events=200, n_shards=4), feed)
    added = []
    for i in range(3):
        before = codegen_compiles(spark)
        Engine(spark, str(tmp_path / f"t{i}"), n_buckets=4).replay(feed, max_files_per_trigger=1)
        added.append(codegen_compiles(spark) - before)
    assert added[2] == 0, added
