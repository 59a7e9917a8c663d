"""Scale-property tests: skew defusal, column pruning, plan shape.

These don't measure wall-clock (bench.py does); they assert the
*structural* properties that make the job survive 100x scale-up:
balanced partitions under a hot domain, pruned scans, broadcasted
dims."""

import pytest
from pyspark.sql import functions as F


def test_salting_defuses_hot_domain(spark):
    """One host owning ~30% of urls must not own ~30% of partitions'
    work: salting on full-url hash spreads it (BASELINE.md skew row)."""
    from indu_doc_transformer_spark.operators.extraction import salt_by_url

    n = 400
    rows = [
        (f"https://hot.example/page/{i}",) if i % 10 < 3 else (f"https://host{i%37}.example/p/{i}",)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "url string")
    out = salt_by_url(df, 16).withColumn("pid", F.spark_partition_id())
    sizes = [r.c for r in out.groupBy("pid").agg(F.count("*").alias("c")).collect()]
    assert max(sizes) < (n / 16) * 2.0  # no partition > 2x mean


def test_extraction_input_pruned_to_needed_columns(spark, tmp_path):
    """The kernel stage must not read the `text` column — the parquet
    scan ReadSchema should carry only url/warc_ts/html/lang."""
    from indu_doc_transformer_spark.operators import extraction as ex
    from indu_doc_transformer_spark.sources.corpus import corpus_df

    p = str(tmp_path / "docs")
    corpus_df(spark, 20, partitions=2).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = ex.extract(docs)._sc is not None and ex.extract(docs)._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "ReadSchema" in l or "Scan parquet" in l]
    txt = "\n".join(scan)
    assert "text" not in txt.replace("extracted_text", "")
    assert "html" in txt


def test_small_dims_broadcast(spark, sf_dir="/root/testdata/sf0.001"):
    """Join of lineitem to the small dimension chain must pick
    BroadcastHashJoin, not sort-merge."""
    import __spark_entry__ as entry

    plan = (
        entry.q_region_volume(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark, sf_dir="/root/testdata/sf0.001"):
    df = spark.read.parquet(f"{sf_dir}/customer.parquet").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_whole_stage_codegen_in_relational_layer(spark, sf_dir="/root/testdata/sf0.001"):
    import __spark_entry__ as entry

    df = entry.q_pricing_summary(spark, sf_dir)
    df.collect()  # AQE finalizes the physical plan only on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen stages in the plan string
    assert "*(" in plan


def test_decontamination_broadcasts_bench_grams(spark, sf_dir="/root/testdata/sf0.001"):
    """The benchmark gram set must broadcast — the training-side gram
    explosion (the 100-TB side) must never shuffle into a sort-merge
    join."""
    import __spark_entry__ as entry

    df = entry.q_decontaminate(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hot_key_dedup_paths_plan_without_windows(spark):
    """One line / fingerprint / source owning ~30% of all rows must not
    funnel through a window partitioned by that key: AQE splits skewed
    JOINS, never window partitions, so a hot-key window serializes the
    hot group in ONE task at 100 TB. line_dedup, curate's dedup stage,
    and source_caps are required to plan as aggregates + joins — zero
    Window nodes in their executed plans (the skew-safe rewrites of
    the round-3 verdict)."""
    from indu_doc_transformer_spark.operators import curation as cur
    from indu_doc_transformer_spark.operators import dedup as dd
    from indu_doc_transformer_spark.operators import sampling as sp

    n = 300
    hot_text = "subscribe to our newsletter\nall rights reserved body"
    rows = [
        (
            i,
            "hotsrc" if i % 10 < 3 else f"src{i % 7}",
            hot_text if i % 10 < 3 else f"unique line {i}\nbody {i} words here",
        )
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    bench = docs.limit(5)

    def executed(df):
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    plans = {
        "line_dedup": executed(dd.line_dedup(docs, "doc_id", "text")),
        "source_caps": executed(sp.source_caps(docs, "doc_id", "source", 5)),
        "curate": executed(cur.curate(docs, bench, "doc_id", "text", contam_n=4)),
    }
    for name, plan in plans.items():
        assert "Window" not in plan, f"{name} plans a window on a skew-prone key"


def test_text_quality_layer_stays_jvm_side(spark, sf_dir="/root/testdata/sf0.001"):
    """Gopher/C4/PII queries must compile to pure JVM expressions
    (zero Python evaluation nodes); the repetition query is allowed
    its Arrow-vectorized gram-stats kernel (a deliberate zero-shuffle
    map-only pass) but never row-at-a-time Python, and its plan must
    carry no shuffle before the join of the two stat families."""
    import __spark_entry__ as entry

    for q in ("q_gopher_rules", "q_c4_rules", "q_pii_scrub"):
        plan = (
            entry.queries()[q](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q
    qe = entry.queries()["q_repetition_full"](spark, sf_dir)._jdf.queryExecution()
    rep = qe.executedPlan().toString()
    assert "BatchEvalPython" not in rep and "ArrowEvalPython" not in rep
    # count kernels in the OPTIMIZED LOGICAL plan: the AQE physical
    # string can print a query-stage subtree twice, while a real
    # filter-pushdown duplication of the kernel would show up here
    logical = qe.optimizedPlan().toString()
    assert logical.count("MapInPandas") == 2  # exactly one per stat family


def test_token_packing_never_runs_single_task(spark, tmp_path):
    """Token-shard packing, its release manifest and sequence packing
    run the distributed prefix sum: no job they run (the checkpointed
    per-partition windows, the subtotal collect, the final query) may
    plan an ``Exchange SinglePartition`` — a global window funnels the
    whole corpus through one task."""
    import __spark_entry__ as entry

    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(40 + i % 90))) for i in range(300)],
        "doc_id long, text string",
    ).write.parquet(f"{sf_dir}/documents.parquet")

    jsc = spark.sparkContext._jsc.sc()
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()

    def executed_plans():
        jsc.listenerBus().waitUntilEmpty()
        return {
            e.executionId(): e.physicalPlanDescription()
            for e in conv.asJava(store.executionsList())
        }

    for q in ("q_token_shards", "q_shard_manifest", "q_sequence_pack"):
        before = set(executed_plans())
        df = entry.queries()[q](spark, sf_dir)
        df.collect()
        plans = [p for i, p in executed_plans().items() if i not in before]
        assert plans, q  # the status store saw this query's executions
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        for plan in plans:
            assert "SinglePartition" not in plan, q
