"""Schemata.jl-style per-column validation (operators/schema_check.py)
+ TOML schema-declaration parsing (config.ColumnSchema)."""

import pytest

from spinebasedrecordlinkage_jl_spark.config import (
    ColumnSchema,
    TableConfig,
    load_config,
)
from spinebasedrecordlinkage_jl_spark.operators.schema_check import (
    enforce_schema,
    schema_violations,
)


def _tcfg(*schema):
    return TableConfig(name="t", datafile="", primarykey=("id",), schema=schema)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("1", "john", "1960-12-13", "3000"),
            ("2", "mary", "1990-02-04", "3004"),
            ("3", None, "not-a-date", "4200"),
            ("3", "kate", "1988-04-29", None),
        ],
        "id string, firstname string, birthdate string, postcode string",
    )


def test_conforming_table_passes(spark, df):
    good = df.filter("id < '3'")
    tcfg = _tcfg(
        ColumnSchema("id", datatype="Int", isrequired=True, isunique=True),
        ColumnSchema("firstname", isrequired=True),
        ColumnSchema("birthdate", datatype="Date"),
        ColumnSchema("postcode", datatype="Int", validvalues="3000:3999"),
    )
    assert schema_violations(good, tcfg) == []
    assert enforce_schema(good, tcfg) is good


def test_each_rule_counts_violations(spark, df):
    tcfg = _tcfg(
        ColumnSchema("id", datatype="Int", isrequired=True, isunique=True),
        ColumnSchema("firstname", isrequired=True),
        ColumnSchema("birthdate", datatype="Date"),
        ColumnSchema("postcode", datatype="Int", validvalues="3000:3999"),
    )
    got = dict(((c, r), n) for c, r, n in schema_violations(df, tcfg))
    assert got == {
        ("id", "unique"): 1,  # "3" twice
        ("firstname", "required"): 1,
        ("birthdate", "datatype"): 1,  # not-a-date
        ("postcode", "validvalues"): 1,  # 4200
    }
    with pytest.raises(ValueError, match="fails schema validation"):
        enforce_schema(df, tcfg)


def test_explicit_validvalues_and_missing_column(spark, df):
    tcfg = _tcfg(
        ColumnSchema("firstname", validvalues=("john", "mary")),
        ColumnSchema("nope", isrequired=True),
    )
    got = dict(((c, r), n) for c, r, n in schema_violations(df, tcfg))
    assert got == {("firstname", "validvalues"): 1, ("nope", "missing_column"): -1}


def test_unknown_datatype_rejected():
    with pytest.raises(ValueError, match="unknown datatype"):
        ColumnSchema("x", datatype="Complex")


def test_timestamp_colon_range_rejected():
    """A ':' range for Timestamp would mis-split on the time-of-day
    colons and lexicographically validate garbage; it must be rejected
    at declaration time in favour of 'lo..hi'."""
    with pytest.raises(ValueError, match="lo\\.\\.hi"):
        ColumnSchema(
            "ts",
            datatype="Timestamp",
            validvalues="2020-01-01 00:00:00:2021-01-01 00:00:00",
        )


def test_timestamp_dotdot_range_validates(spark):
    df = spark.createDataFrame(
        [("1", "2020-06-01 12:30:00"), ("2", "2022-01-01 00:00:01"), ("3", None)],
        "id string, ts string",
    )
    tcfg = _tcfg(
        ColumnSchema(
            "ts",
            datatype="Timestamp",
            validvalues="2020-01-01 00:00:00..2021-01-01 00:00:00",
        )
    )
    got = dict(((c, r), n) for c, r, n in schema_violations(df, tcfg))
    assert got == {("ts", "validvalues"): 1}  # only the 2022 row


def test_toml_schema_declarations(tmp_path):
    cfg = tmp_path / "c.toml"
    cfg.write_text(
        """
projectname = "p"
output_directory = "o"
append_to_spine = false
[spine]
datafile = ""
columns = ["EntityId"]
[[tables]]
name = "t"
datafile = ""
primarykey = ["id"]
columns = [
  {name = "id", datatype = "Int", isrequired = true, isunique = true},
  {name = "postcode", datatype = "Int", validvalues = "3000:3999"},
  "free_text",
]
[[criteria]]
tablename = "t"
[criteria.exactmatch]
id = "id"
"""
    )
    lc = load_config(cfg, check_files=False)
    t = lc.tables["t"]
    assert t.columns == ("id", "postcode", "free_text")
    assert [c.name for c in t.schema] == ["id", "postcode"]
    assert t.schema[0].isunique and t.schema[0].isrequired
    assert t.schema[1].validvalues == "3000:3999"


def test_write_config_round_trips(tmp_path):
    """write_config -> load_config reproduces the config exactly
    (reference write_config parity, testset1.jl:8-9)."""
    from spinebasedrecordlinkage_jl_spark.config import (
        ApproxMatch,
        LinkageConfig,
        LinkageCriteria,
        write_config,
    )

    cfg = LinkageConfig(
        projectname="rt",
        description='with "quotes" and specials',
        output_directory=str(tmp_path / "out"),
        spine_datafile=None,
        spine_columns=("EntityId", "firstname", "lastname"),
        append_to_spine=True,
        construct_entityid_from=("firstname", "lastname"),
        tables={
            "t": TableConfig(
                name="t",
                datafile="",
                primarykey=("id",),
                columns=("id", "postcode", "free_text"),
                schema=(
                    ColumnSchema("id", datatype="Int", isrequired=True, isunique=True),
                    ColumnSchema("postcode", datatype="Int", validvalues="3000:3999"),
                ),
            )
        },
        criteria=(
            LinkageCriteria(id=1, tablename="t", exactmatch={"id": "id"}),
            LinkageCriteria(
                id=2,
                tablename="t",
                exactmatch={"postcode": "postcode"},
                approxmatch=(ApproxMatch("free_text", "free_text", "jarowinkler", 0.25),),
            ),
        ),
        broadcast_spine=False,
        checkpoint_dir=str(tmp_path / "ck"),
    )
    p = tmp_path / "rt.toml"
    write_config(p, cfg)
    got = load_config(p, check_files=False)
    assert got == cfg


def test_write_config_non_ascii_key_round_trips(tmp_path):
    """TOML bare keys are ASCII-only; a non-ASCII exactmatch column must
    be serialized quoted or the round-trip produces invalid TOML."""
    from spinebasedrecordlinkage_jl_spark.config import (
        LinkageConfig,
        LinkageCriteria,
        write_config,
    )

    cfg = LinkageConfig(
        projectname="rt",
        output_directory=str(tmp_path / "out"),
        spine_datafile=None,
        spine_columns=("EntityId", "prénom"),
        append_to_spine=False,
        construct_entityid_from=(),
        tables={"t": TableConfig(name="t", datafile="", primarykey=("id",))},
        criteria=(LinkageCriteria(id=1, tablename="t", exactmatch={"prénom": "prénom"}),),
    )
    p = tmp_path / "nonascii.toml"
    write_config(p, cfg)
    got = load_config(p, check_files=False)
    assert got == cfg
