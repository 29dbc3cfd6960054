"""Block-local entity formation against the global Spark path.

``form_entities`` solves every exact-key block in one Python pass when
the criteria share an exact key (operators/spine.py). Its output must be
the global path's, row for row: the global path runs here with the
block-local cap forced to 0. Inputs are seeded and small, drawn from
tiny alphabets so names collide and near-match, with nulls in key and
approx columns.
"""

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from spinebasedrecordlinkage_jl_spark.config import ApproxMatch, LinkageCriteria
from spinebasedrecordlinkage_jl_spark.operators import spine as spine_mod
from spinebasedrecordlinkage_jl_spark.operators.spine import form_entities

SCHEMA = "EventId long, conv_id string, birthdate string, firstname string, lastname string"
COLS = ["EntityId", "birthdate", "firstname", "lastname"]

SHARED_KEY = [
    LinkageCriteria(id=1, tablename="t", exactmatch={"birthdate": "birthdate", "lastname": "lastname"}),
    LinkageCriteria(
        id=2,
        tablename="t",
        exactmatch={"birthdate": "birthdate"},
        approxmatch=(ApproxMatch("firstname", "firstname", "levenshtein", 0.5),),
    ),
    LinkageCriteria(
        id=3,
        tablename="t",
        exactmatch={"birthdate": "birthdate"},
        # thresholds sum past 1.0: the total < 1.0 rule decides some pairs
        approxmatch=(
            ApproxMatch("firstname", "firstname", "levenshtein", 0.67),
            ApproxMatch("lastname", "lastname", "levenshtein", 0.67),
        ),
    ),
]

#: exact pairs across different columns: the event role's firstname
#: against the spine role's lastname (and the reverse, scored)
CROSSED = [
    LinkageCriteria(id=1, tablename="t", exactmatch={"birthdate": "birthdate", "firstname": "lastname"}),
    LinkageCriteria(
        id=2,
        tablename="t",
        exactmatch={"birthdate": "birthdate", "lastname": "firstname"},
        approxmatch=(ApproxMatch("firstname", "lastname", "jarowinkler", 0.3),),
    ),
]

#: CROSSED shares birthdate; dropping it from the second criterion
#: leaves no column every criterion maps to itself
NO_KEY = [
    CROSSED[0],
    LinkageCriteria(id=2, tablename="t", exactmatch={"lastname": "lastname"}),
]


def _rows(seed: int, n: int = 120, n_dates: int = 3):
    rnd = random.Random(seed)
    names = ["ann", "anne", "ana", "bob", "rob", "bo", None]
    dates = [str(d) for d in range(n_dates)] + [None]
    rows = []
    for i in range(n):
        conv = None if rnd.random() < 0.1 else f"c{rnd.randrange(40):02d}"
        rows.append((i * 7919 + 13, conv, rnd.choice(dates), rnd.choice(names), rnd.choice(names)))
    return rows


def _digest(new_spine, links):
    return (
        Counter(tuple(r) for r in new_spine.collect()),
        Counter(tuple(r) for r in links.collect()),
    )


def _form(records, crits, cap, monkeypatch, **kw):
    """form_entities under a given block-local cap -> (digest, took the
    global path)."""
    calls = []
    real_cc = spine_mod.connected_components

    def spy_cc(*a, **k):
        calls.append(1)
        return real_cc(*a, **k)

    with monkeypatch.context() as m:
        if cap is not None:
            m.setattr(spine_mod, "_BLOCK_LOCAL_MAX_SIGNATURES", cap)
        m.setattr(spine_mod, "connected_components", spy_cc)
        out = form_entities(
            records,
            crits,
            construct_entityid_from=["firstname", "lastname", "birthdate"],
            spine_columns=COLS,
            tablename="t",
            **kw,
        )
        return _digest(*out), bool(calls)


#: name -> (criteria, rows, form_entities kwargs; a callable because
#: Column expressions need the session). The purge case has ~3 records
#: per birthdate block, so some blocks hold one (birthdate, firstname)
#: signature of criterion 2 but several global signatures: the purge
#: must count the former. The null-vs-NUL case holds two records of one
#: birthdate whose firstname (approx) and lastname (exact key of
#: criterion 1) are a null and a "\x00" crosswise: they match under no
#: criterion, so they must stay two entities.
CASES = {
    "shared_key": (SHARED_KEY, _rows(1, n_dates=40), lambda: {"order_col": "conv_id"}),
    "purge_no_order_custom_id": (
        SHARED_KEY,
        _rows(2, n_dates=40),
        lambda: {
            "max_block_signatures": 1,
            "entity_id_expr": F.md5(F.concat_ws("|", "firstname", "lastname", "birthdate")),
        },
    ),
    "crossed_columns": (
        CROSSED,
        _rows(3),
        lambda: {"order_col": "conv_id", "max_block_signatures": 3},
    ),
    "null_vs_nul": (
        SHARED_KEY,
        _rows(5, n_dates=40) + [(1, "c1", "1", None, "\x00"), (2, "c2", "1", "\x00", None)],
        lambda: {"order_col": "conv_id"},
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_block_local_matches_global(spark, monkeypatch, case):
    crits, rows, make_kw = CASES[case]
    kw = make_kw()
    records = spark.createDataFrame(rows, SCHEMA)
    want, global_path = _form(records, crits, 0, monkeypatch, **kw)
    got, got_global = _form(records, crits, None, monkeypatch, **kw)
    assert global_path and not got_global
    assert got == want
    assert want[0] and want[1]  # the case formed entities and links


def test_empty_input_matches_global(spark, monkeypatch):
    records = spark.createDataFrame([], SCHEMA)
    want, _ = _form(records, SHARED_KEY, 0, monkeypatch)
    got, got_global = _form(records, SHARED_KEY, None, monkeypatch)
    assert not got_global
    assert got == want == (Counter(), Counter())


def test_no_common_key_or_oversized_block_takes_global_path(spark, monkeypatch):
    records = spark.createDataFrame(_rows(4, n=30), SCHEMA)
    assert spine_mod._common_key(NO_KEY, records.schema) == []
    _, took_global = _form(records, NO_KEY, None, monkeypatch)
    assert took_global
    # every birthdate block of 30 records holds more than 2 signatures
    _, took_global = _form(records, SHARED_KEY, 2, monkeypatch)
    assert took_global


def test_partition_count_grows_with_input(spark, monkeypatch):
    """Past ``_BLOCK_LOCAL_TASK_ROWS`` records per default partition,
    the block-local pass spreads over more partitions, same output."""
    crits, rows, make_kw = CASES["shared_key"]
    records = spark.createDataFrame(rows, SCHEMA)
    want, _ = _form(records, crits, None, monkeypatch, **make_kw())
    parts = []
    real = spine_mod._block_local_rows

    def spy(*a):
        parts.append(a[-1])
        return real(*a)

    with monkeypatch.context() as m:
        m.setattr(spine_mod, "_BLOCK_LOCAL_TASK_ROWS", 10)
        m.setattr(spine_mod, "_block_local_rows", spy)
        got, took_global = _form(records, crits, None, monkeypatch, **make_kw())
    eligible = records.filter(F.col("birthdate").isNotNull()).count()
    assert not took_global and parts == [-(-eligible // 10)]
    assert got == want


#: duplicates inside one exact-key block, and across two blocks (their
#: birthdates differ, so no entity could ever join them), under criteria
#: with and without a common exact key
@pytest.mark.parametrize("other_date", ["1", "2"])
@pytest.mark.parametrize("cap", [0, None])
def test_duplicate_event_ids_raise(spark, monkeypatch, cap, other_date):
    records = spark.createDataFrame(
        [(1, "c1", "1", "ann", "x"), (1, "c2", other_date, "bob", "y")], SCHEMA
    )
    for crits in (SHARED_KEY, NO_KEY):
        with pytest.raises(ValueError, match="duplicate EventId"):
            _form(records, crits, cap, monkeypatch)


def test_string_event_id_raises(spark, monkeypatch):
    """The global path keys graph nodes by EventId, so it must be integral."""
    records = spark.createDataFrame(
        [("1", "c1", "1", "ann", "x")], SCHEMA.replace("EventId long", "EventId string")
    )
    with pytest.raises(ValueError, match="EventId must be an integral type"):
        _form(records, SHARED_KEY, None, monkeypatch)
