"""The config-exposed scale knob max_block_signatures: validation, TOML
round-trip, and the thread-through from run_linkage into form_entities'
global path."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from spinebasedrecordlinkage_jl_spark.config import (
    ApproxMatch,
    LinkageConfig,
    LinkageCriteria,
    TableConfig,
    load_config,
    write_config,
)
from spinebasedrecordlinkage_jl_spark.plans.run_linkage import run_linkage

FUZZY = (
    LinkageCriteria(
        id=1,
        tablename="t",
        exactmatch={"firstname": "firstname"},
        approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
    ),
)


def _cfg(tmp_path, **knobs):
    return LinkageConfig(
        projectname="knobs",
        output_directory=str(tmp_path / "run"),
        spine_datafile=None,
        spine_columns=("EntityId", "firstname", "lastname"),
        append_to_spine=True,
        construct_entityid_from=("firstname", "lastname"),
        tables={"t": TableConfig(name="t", datafile="", primarykey=("conv_id",))},
        criteria=(
            LinkageCriteria(
                id=1,
                tablename="t",
                exactmatch={"firstname": "firstname", "lastname": "lastname"},
            ),
        ),
        **knobs,
    )


def _spy_spine(monkeypatch):
    """Wrap connected_components + match_pairs to record that the global
    path ran and the purge cap form_entities passes down. Forces the
    global formation path (block-local cap 0): FUZZY's criteria share an
    exact key, and only the global path reaches these two functions."""
    from spinebasedrecordlinkage_jl_spark.operators import spine as spine_mod

    monkeypatch.setattr(spine_mod, "_BLOCK_LOCAL_MAX_SIGNATURES", 0)
    seen = {}
    real_cc = spine_mod.connected_components
    real_mp = spine_mod.match_pairs

    def spy_cc(edges):
        seen["cc"] = True
        return real_cc(edges)

    def spy_mp(records, crit, max_block_signatures=10_000, **kw):
        seen["max_block_signatures"] = max_block_signatures
        return real_mp(records, crit, max_block_signatures=max_block_signatures, **kw)

    monkeypatch.setattr(spine_mod, "connected_components", spy_cc)
    monkeypatch.setattr(spine_mod, "match_pairs", spy_mp)
    return seen


def _records(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, firstname string, lastname string"
    ).withColumn("EventId", F.xxhash64(F.col("conv_id")))


def test_knob_validation(tmp_path):
    with pytest.raises(ValueError, match="max_block_signatures"):
        _cfg(tmp_path, max_block_signatures=-1)


def test_knobs_round_trip_toml(tmp_path):
    cfg = _cfg(tmp_path, max_block_signatures=123)
    p = tmp_path / "knobs.toml"
    write_config(p, cfg)
    got = load_config(p, check_files=False)
    assert got == cfg
    assert got.max_block_signatures == 123


def test_run_linkage_threads_knobs_into_cc(spark, tmp_path, monkeypatch):
    """run_linkage must pass the TOML purge cap all the way down to
    match_pairs on the global path — a 100x operator tunes config, not
    code."""
    seen = _spy_spine(monkeypatch)
    cfg = dataclasses.replace(
        _cfg(tmp_path, max_block_signatures=77),
        criteria=FUZZY,
    )
    recs = _records(
        spark, [("c1", "john", "smith"), ("c2", "john", "smith"), ("c3", "mary", "green")]
    )
    run = run_linkage(spark, cfg, {"t": recs})
    assert seen == {"cc": True, "max_block_signatures": 77}
    assert run.spine.count() == 2  # john smith (x2) + mary green


def test_zero_means_unlimited(spark, tmp_path, monkeypatch):
    """max_block_signatures = 0 in TOML disables the purge (None)."""
    seen = _spy_spine(monkeypatch)
    cfg = dataclasses.replace(_cfg(tmp_path, max_block_signatures=0), criteria=FUZZY)
    run_linkage(spark, cfg, {"t": _records(spark, [("c1", "john", "smith")])})
    assert seen["max_block_signatures"] is None
