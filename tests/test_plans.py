"""Physical-plan assertions: the optimizations we claim must be visible
in the plans Catalyst actually produces (SURVEY.md §4)."""

import pytest
from pyspark.sql import functions as F

from spinebasedrecordlinkage_jl_spark.config import ApproxMatch, LinkageCriteria
from spinebasedrecordlinkage_jl_spark.operators.linkage import criteria_pass


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


@pytest.fixture()
def spine(spark):
    return spark.createDataFrame(
        [(1, 1, "a", "b")], "EntityId long, spine_seq long, firstname string, lastname string"
    )


@pytest.fixture()
def events(spark):
    return spark.createDataFrame([(1, "a", "b")], "EventId long, firstname string, lastname string")


def test_spine_side_is_broadcast(spark, spine, events):
    crit = LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname"})
    plan = _plan(criteria_pass(events, spine, crit))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_exact_pass_has_no_python_eval(spark, spine, events):
    """Exact criteria must never leave the JVM (no ArrowEvalPython /
    BatchEvalPython in the plan)."""
    crit = LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname"})
    plan = _plan(criteria_pass(events, spine, crit))
    assert "EvalPython" not in plan, plan


def test_levenshtein_pass_stays_jvm(spark, spine, events):
    crit = LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"firstname": "firstname"},
        approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
    )
    plan = _plan(criteria_pass(events, spine, crit))
    assert "EvalPython" not in plan, plan
    assert "levenshtein" in plan.lower()


def test_jarowinkler_uses_arrow_kernel(spark, spine, events):
    """Jaro-Winkler scoring is Arrow-vectorized (ArrowEvalPython), never
    the row-at-a-time BatchEvalPython path."""
    crit = LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"firstname": "firstname"},
        approxmatch=(ApproxMatch("lastname", "lastname", "jarowinkler", 0.3),),
    )
    plan = _plan(criteria_pass(events, spine, crit))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_pandas_metric_dedup_scoring_plan(spark, spine, events):
    """dameraulevenshtein (a pandas metric) with dedup=True scores the
    distinct-pair frame and broadcasts scores back."""
    from pyspark.sql import functions as F

    from spinebasedrecordlinkage_jl_spark.functions.distances import attach_distance

    df = events.crossJoin(spine.select(F.col("lastname").alias("sp_last")))
    out = attach_distance(df, "dameraulevenshtein", "lastname", "sp_last", "_d", dedup=True)
    plan = _plan(out)
    assert "ArrowEvalPython" in plan or "EvalPython" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_parquet_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "o_custkey")
    )
    plan = _plan(df)
    # (no IsNotNull: constraint propagation is disabled — session.py)
    assert "GreaterThan(o_totalprice,100000.0)" in plan.split("PushedFilters")[1].split("\n")[0], plan
    assert "o_orderdate" not in plan.split("ReadSchema")[1].split("\n")[0], plan


def test_records_aggregation_single_shuffle(spark):
    """conversation_records must shuffle exactly once (the groupBy) —
    sort_array replaces a window+sort second exchange."""
    from spinebasedrecordlinkage_jl_spark.operators.records import conversation_records
    from spinebasedrecordlinkage_jl_spark.sources.transcripts import synthesize_transcripts

    t, _ = synthesize_transcripts(spark, n_entities=5)
    plan = _plan(conversation_records(t))
    assert plan.count("Exchange") <= 2, plan  # hashpartitioning + (AQE reads)


def test_match_pairs_scores_signatures_not_records(spark):
    """Value-node entity formation: the pairwise-scored join must read
    from the DISTINCT signature relation (HashAggregate dedup), never
    self-join the raw records — O(unique-values²) not O(block²)."""
    from spinebasedrecordlinkage_jl_spark.operators.spine import match_pairs

    records = spark.createDataFrame(
        [(i, "john", "smith", "1990-01-01") for i in range(100)],
        "EventId long, firstname string, lastname string, birthdate string",
    )
    crit = LinkageCriteria(
        id=2,
        tablename="t",
        exactmatch={"birthdate": "birthdate"},
        approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
    )
    edges = match_pairs(records, crit)
    # 100 identical records -> 100 record->representative edges (the
    # representative's own (0, 0) SELF-LOOP is the participation marker
    # form_entities reads) + 0 vv edges
    rows = edges.collect()
    assert len(rows) == 100
    assert {r["dst"] for r in rows} == {0}  # min EventId representative
    assert sum(1 for r in rows if r["src"] == r["dst"]) == 1  # the marker
    # each scored join input carries an Aggregate (the signature distinct)
    plan = _plan(edges)
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan, plan


def test_match_pairs_nodes_stay_primitive_long(spark):
    """Graph node ids must stay primitive longs (the collision-audited
    64-bit scheme): struct keys measured ~60% slower per CC round."""
    from pyspark.sql.types import LongType

    from spinebasedrecordlinkage_jl_spark.operators.spine import (
        exact_key_edges,
        match_pairs,
    )

    records = spark.createDataFrame(
        [(1, "a", "b"), (2, "a", "c")], "EventId long, k string, v string"
    )
    fuzzy = LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"k": "k"},
        approxmatch=(ApproxMatch("v", "v", "levenshtein", 0.5),),
    )
    exact = LinkageCriteria(id=2, tablename="t", exactmatch={"k": "k"})
    for edges in (match_pairs(records, fuzzy), exact_key_edges(records, exact)):
        assert isinstance(edges.schema["src"].dataType, LongType), edges.schema
        assert isinstance(edges.schema["dst"].dataType, LongType), edges.schema


def test_form_entities_spine_has_no_record_window(spark, monkeypatch):
    """The new-spine representative is a two-level min(struct) in
    signature space — a row_number window over the full record relation
    (shuffle + sort of every record on a struct key) must never reappear
    in the spine plan; the per-signature pass must be a partial-
    aggregatable HashAggregate. (Global path: the block-local cap is
    forced to 0.)"""
    from spinebasedrecordlinkage_jl_spark.operators import spine as spine_mod
    from spinebasedrecordlinkage_jl_spark.operators.spine import form_entities

    monkeypatch.setattr(spine_mod, "_BLOCK_LOCAL_MAX_SIGNATURES", 0)

    records = spark.createDataFrame(
        [(1, "c1", "ada", "l"), (2, "c2", "adda", "l"), (3, "c3", "bob", "m")],
        "EventId long, conv_id string, firstname string, lastname string",
    )
    crits = [
        LinkageCriteria(
            id=1,
            tablename="t",
            exactmatch={"lastname": "lastname"},
            approxmatch=(ApproxMatch("firstname", "firstname", "levenshtein", 0.5),),
        )
    ]
    new_spine, _links = form_entities(
        records,
        crits,
        construct_entityid_from=["firstname", "lastname"],
        spine_columns=["EntityId", "firstname", "lastname"],
        tablename="t",
        order_col="conv_id",
    )
    plan = _plan(new_spine)
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan, plan


def test_block_local_spine_plan_is_one_python_map(spark):
    """Block-local formation: one repartition by the common exact key and
    ONE Python map stage over it — no Window, no per-group Python call."""
    from spinebasedrecordlinkage_jl_spark.operators.spine import _block_local_rows

    records = spark.createDataFrame(
        [(1, "c1", "ada", "l"), (2, "c2", "adda", "l"), (3, "c3", "bob", "m")],
        "EventId long, conv_id string, firstname string, lastname string",
    )
    crits = [
        LinkageCriteria(
            id=1,
            tablename="t",
            exactmatch={"lastname": "lastname"},
            approxmatch=(ApproxMatch("firstname", "firstname", "levenshtein", 0.5),),
        )
    ]
    rows = _block_local_rows(
        records, crits, ["lastname"], ["lastname", "firstname"], ["firstname", "lastname"],
        "conv_id", 10_000, 4,
    )
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange hashpartitioning(lastname") == 1, plan
