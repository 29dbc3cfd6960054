"""Criteria-pass semantics (SURVEY.md §2.4/§2.5 normative rules), pinned
one rule per test against tiny handcrafted frames."""

import pytest
from pyspark.sql import functions as F

from spinebasedrecordlinkage_jl_spark.config import ApproxMatch, LinkageCriteria
from spinebasedrecordlinkage_jl_spark.operators.linkage import (
    criteria_pass,
    dedup_events,
    link_table,
    valid_events,
)


def _spine(spark, rows):
    """rows: (EntityId, spine_seq, firstname, lastname)"""
    return spark.createDataFrame(
        rows, "EntityId long, spine_seq long, firstname string, lastname string"
    )


def _events(spark, rows):
    """rows: (EventId, firstname, lastname)"""
    return spark.createDataFrame(rows, "EventId long, firstname string, lastname string")


def test_exact_only_links_single_candidate(spark):
    spine = _spine(spark, [(10, 1, "john", "smith"), (20, 2, "jane", "brown")])
    ev = _events(spark, [(1, "john", "smith")])
    crit = LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname", "lastname": "lastname"})
    out = criteria_pass(ev, spine, crit).collect()
    assert len(out) == 1 and out[0]["EntityId"] == 10


def test_exact_only_ambiguity_rejection(spark):
    # runlinkage.jl:250-252: >1 candidates => NO link
    spine = _spine(spark, [(10, 1, "john", "smith"), (20, 2, "john", "smith")])
    ev = _events(spark, [(1, "john", "smith")])
    crit = LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname", "lastname": "lastname"})
    assert criteria_pass(ev, spine, crit).count() == 0


def test_missing_key_skips_criterion(spark):
    # runlinkage.jl:378-385: missing event key value => criterion skipped
    spine = _spine(spark, [(10, 1, "john", None)])
    ev = _events(spark, [(1, "john", None)])
    crit = LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname", "lastname": "lastname"})
    assert criteria_pass(ev, spine, crit).count() == 0  # NULL = NULL never matches


def test_approx_threshold_filter(spark):
    spine = _spine(spark, [(10, 1, "john", "smith")])
    crit = LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"firstname": "firstname"},
        approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
    )
    # "smithh" (1/6 <= 0.3) links; "smythee" (3/7 > 0.3) does not
    ev = _events(spark, [(1, "john", "smithh"), (2, "john", "smythee")])
    out = criteria_pass(ev, spine, crit).collect()
    assert {r["EventId"] for r in out} == {1}


def test_best_candidate_min_total_distance(spark):
    # runlinkage.jl:262,271-273: argmin of sum of distances
    spine = _spine(spark, [(10, 1, "john", "smithh"), (20, 2, "john", "smith")])
    ev = _events(spark, [(1, "john", "smith")])
    crit = LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"firstname": "firstname"},
        approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.5),),
    )
    out = criteria_pass(ev, spine, crit).collect()
    assert len(out) == 1 and out[0]["EntityId"] == 20  # exact (d=0) beats d=1/6


def test_tie_breaks_to_earliest_spine_row(spark):
    # strict >= rejection at runlinkage.jl:271 => first inserted wins
    spine = _spine(spark, [(20, 2, "john", "smyth"), (10, 1, "john", "smith")])
    ev = _events(spark, [(1, "john", "smite")])  # distance 1/5 to both
    crit = LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"firstname": "firstname"},
        approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.5),),
    )
    out = criteria_pass(ev, spine, crit).collect()
    assert len(out) == 1 and out[0]["EntityId"] == 10  # spine_seq 1 < 2


def test_total_distance_must_be_below_one(spark):
    # runlinkage.jl:255,271: total >= 1.0 never links even when every
    # per-column threshold passes
    spine = spark.createDataFrame(
        [(10, 1, "abcd", "abcd")],
        "EntityId long, spine_seq long, c1 string, c2 string",
    ).withColumn("k", F.lit("x"))
    ev = spark.createDataFrame(
        [(1, "abxy", "abxy")], "EventId long, c1 string, c2 string"
    ).withColumn("k", F.lit("x"))
    # each distance 0.5 <= 0.6 passes, but total 1.0 is not < 1.0 => reject
    crit = LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"k": "k"},
        approxmatch=(
            ApproxMatch("c1", "c1", "levenshtein", 0.6),
            ApproxMatch("c2", "c2", "levenshtein", 0.6),
        ),
    )
    assert criteria_pass(ev, spine, crit).count() == 0


def test_first_criteria_wins(spark):
    # runlinkage.jl:216,240: linkable by criteria 1 and 2 => CriteriaId 1
    spine = _spine(spark, [(10, 1, "john", "smith")])
    ev = _events(spark, [(1, "john", "smith")])
    crits = [
        LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname", "lastname": "lastname"}),
        LinkageCriteria(
            id=2,
            tablename="t",
            exactmatch={"firstname": "firstname"},
            approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
        ),
    ]
    out = link_table(ev, spine, crits, "t").collect()
    assert len(out) == 1 and out[0]["CriteriaId"] == 1 and out[0]["TableName"] == "t"


def test_later_criterion_links_when_first_fails(spark):
    spine = _spine(spark, [(10, 1, "john", "smith")])
    ev = _events(spark, [(1, "john", "smithh")])  # exact fails, fuzzy passes
    crits = [
        LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname", "lastname": "lastname"}),
        LinkageCriteria(
            id=2,
            tablename="t",
            exactmatch={"firstname": "firstname"},
            approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
        ),
    ]
    out = link_table(ev, spine, crits, "t").collect()
    assert len(out) == 1 and out[0]["CriteriaId"] == 2


def test_valid_events_and_dedup(spark):
    ev = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "x"), (2, None, "y")],
        "EventId long, conv_id string, firstname string",
    )
    v = valid_events(ev, pk_cols=["conv_id"])
    assert v.count() == 2  # null pk dropped
    d = dedup_events(v, order_col="conv_id")
    assert d.count() == 1


def test_approx_only_criteria_rejected(spark):
    crit = LinkageCriteria(
        id=1,
        tablename="t",
        approxmatch=(ApproxMatch("a", "a", "jaro", 0.3),),
    )
    spine = _spine(spark, [(10, 1, "j", "s")])
    ev = _events(spark, [(1, "j", "s")])
    with pytest.raises(ValueError, match="cross join"):
        criteria_pass(ev, spine, crit)


def test_duplicate_criteria_ids_rejected(spark, tmp_path):
    """link_table groups candidates by (EventId, CriteriaId): criteria
    sharing an id would pool their candidate sets, so both the config and
    link_table refuse them."""
    from spinebasedrecordlinkage_jl_spark.config import LinkageConfig, TableConfig

    crits = [
        LinkageCriteria(id=1, tablename="t", exactmatch={"firstname": "firstname"}),
        LinkageCriteria(id=1, tablename="t", exactmatch={"lastname": "lastname"}),
    ]
    spine = _spine(spark, [(10, 1, "john", "smith")])
    with pytest.raises(ValueError, match="duplicate criteria ids"):
        link_table(_events(spark, [(1, "john", "smith")]), spine, crits, "t")
    with pytest.raises(ValueError, match="duplicate criteria ids"):
        LinkageConfig(
            projectname="p",
            output_directory=str(tmp_path),
            spine_datafile=None,
            spine_columns=("EntityId", "firstname", "lastname"),
            append_to_spine=False,
            construct_entityid_from=(),
            tables={"t": TableConfig(name="t", datafile="", primarykey=("EventId",))},
            criteria=tuple(crits),
        )
