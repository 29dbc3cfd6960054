"""Linkage configuration: TOML -> validated dataclasses.

Mirrors the reference's config layer (O1/O2 in SURVEY.md §2):
``LinkageConfig`` / ``LinkageCriteria`` / ``ApproxMatch`` structs built by
``/root/reference/src/unexported/config.jl:137-170`` with validation at
``config.jl:61-77`` (threshold strictly inside (0,1), closed metric set,
input files must exist).

Differences from the reference (deliberate, Spark-first):
- ``distancemetric`` additionally admits ``jarowinkler`` (the north star
  asks for Jaro-Winkler alongside Levenshtein).
- schema declarations are plain column lists (the engine compares strings
  only, exactly like the reference — ``runlinkage.jl:56``).
- extra optional knobs for the distributed execution: ``block_salt_buckets``
  (skew salting), ``broadcast_spine`` and ``checkpoint_dir`` (resume).
"""

from __future__ import annotations

import re
import tomllib
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

#: TOML bare keys are ASCII-only ([A-Za-z0-9_-]); str.isalnum() would
#: accept non-ASCII letters and serialize an invalid unquoted key.
_TOML_BARE_KEY = re.compile(r"^[A-Za-z0-9_-]+$")

#: Closed metric set: the reference whitelists these four
#: (config.jl:62-66); jarowinkler is our single addition.
VALID_METRICS = frozenset(
    {"jaro", "jarowinkler", "levenshtein", "dameraulevenshtein", "ratcliffobershelp"}
)


@dataclass(frozen=True)
class ApproxMatch:
    """One fuzzy criterion: compare event column to spine column.

    Reference struct: config.jl:54-69; threshold must satisfy
    0 < threshold < 1 (config.jl:61) and the metric must be known
    (config.jl:62-66).
    """

    datacolumn: str
    spinecolumn: str
    distancemetric: str
    threshold: float

    def __post_init__(self) -> None:
        if not (0.0 < self.threshold < 1.0):
            raise ValueError(
                f"ApproxMatch threshold must be in (0, 1) exclusive, got {self.threshold}"
            )
        if self.distancemetric not in VALID_METRICS:
            raise ValueError(
                f"Unknown distance metric {self.distancemetric!r}; "
                f"valid: {sorted(VALID_METRICS)}"
            )


@dataclass(frozen=True)
class LinkageCriteria:
    """One criteria-set: all exact matches AND all approx matches must hold.

    Reference struct: config.jl:91-96. ``id`` is globally sequential in
    config order; criteria are grouped by tablename preserving
    first-appearance order (config.jl:156-168).
    """

    id: int
    tablename: str
    exactmatch: dict[str, str] = field(default_factory=dict)  # datacol -> spinecol
    approxmatch: tuple[ApproxMatch, ...] = ()

    def __post_init__(self) -> None:
        if not self.exactmatch and not self.approxmatch:
            raise ValueError(f"Criteria {self.id}: needs exactmatch or approxmatch")


#: datatypes accepted by per-column schema declarations (the reference's
#: Schemata.jl set — test/schema/*.toml use String/Int/UInt/Date;
#: Float/Timestamp/Bool added for parity with Spark's primitive types)
SCHEMA_DATATYPES = frozenset(
    {"String", "Int", "UInt", "Float", "Date", "Timestamp", "Bool"}
)


@dataclass(frozen=True)
class ColumnSchema:
    """Per-column validation rules, mirroring the Schemata.jl properties
    the reference declares (``datatype``/``isrequired``/``isunique``/
    ``validvalues`` — /root/reference/src/unexported/config.jl:32,
    test/schema/spine.toml:4-11). The engine still compares strings only
    (runlinkage.jl:56); these rules validate inputs up front so a ported
    reference config fails fast the same way.

    ``validvalues``: either an explicit tuple of allowed values, or a
    single ``"lo:hi"`` / ``"lo..hi"`` inclusive range string (numeric
    compare for Int/UInt/Float, lexicographic for Date/String — ISO
    dates order correctly). Timestamp ranges MUST use the ``"lo..hi"``
    form (timestamp values contain ``:``). A bare datatype name
    (``"Int"``, ``"Date"``...) means unconstrained, as in the reference
    schemas.
    """

    name: str
    datatype: str = "String"
    isrequired: bool = False
    isunique: bool = False
    validvalues: tuple[str, ...] | str | None = None

    def __post_init__(self) -> None:
        if self.datatype not in SCHEMA_DATATYPES:
            raise ValueError(
                f"column {self.name}: unknown datatype {self.datatype!r}; "
                f"valid: {sorted(SCHEMA_DATATYPES)}"
            )
        if (
            self.datatype == "Timestamp"
            and isinstance(self.validvalues, str)
            and ".." not in self.validvalues
        ):
            raise ValueError(
                f"column {self.name}: Timestamp ranges must be written "
                "'lo..hi' — timestamp values contain ':' so a ':' range "
                "is ambiguous"
            )


@dataclass(frozen=True)
class TableConfig:
    """An input event table: name, data location, primary-key columns.

    The reference reads a Schemata.jl TOML per table but consumes only
    (name, primarykey, columnorder) — runlinkage.jl:48,100,123-125. We
    declare those directly; ``schema`` optionally carries the per-column
    validation rules (enforced by operators.schema_check at load time).
    """

    name: str
    datafile: str
    primarykey: tuple[str, ...]
    columns: tuple[str, ...] = ()
    schema: tuple[ColumnSchema, ...] = ()


@dataclass(frozen=True)
class LinkageConfig:
    """Full run configuration. Reference struct: config.jl:19-29."""

    projectname: str
    output_directory: str
    spine_datafile: str | None  # None => start from an empty spine (runlinkage.jl:46-53)
    spine_columns: tuple[str, ...]
    append_to_spine: bool
    construct_entityid_from: tuple[str, ...]
    tables: dict[str, TableConfig]
    criteria: tuple[LinkageCriteria, ...]
    description: str = ""
    # --- distributed-execution knobs (no reference analogue) ---
    block_salt_buckets: int = 8  # salting factor for hot blocks
    broadcast_spine: bool = True  # force broadcast of the spine side
    checkpoint_dir: str | None = None  # resume state; default <outdir>/checkpoints
    # entity-formation scale knobs (threaded into spine.form_entities /
    # connected_components — the two that matter most at 100x):
    # blocks with more DISTINCT match signatures than this are purged
    # from fuzzy edge generation (0 = unlimited; see spine.match_pairs)
    max_block_signatures: int = 10_000
    # connected-components knobs: they act only on form_entities' global
    # path (no common exact key, or a block over its block-local cap)
    cc_convergence: str = "checksum"  # "checksum" | "star"
    cc_max_iter: int = 30

    def __post_init__(self) -> None:
        if self.cc_convergence not in ("checksum", "star"):
            raise ValueError(
                f"cc_convergence must be 'checksum' or 'star', got {self.cc_convergence!r}"
            )
        if self.cc_max_iter < 1:
            raise ValueError(f"cc_max_iter must be >= 1, got {self.cc_max_iter}")
        if self.max_block_signatures < 0:
            raise ValueError(
                f"max_block_signatures must be >= 0 (0 = unlimited), "
                f"got {self.max_block_signatures}"
            )
        if self.append_to_spine and not self.construct_entityid_from:
            raise ValueError("append_to_spine requires construct_entityid_from columns")
        if "EntityId" not in self.spine_columns:
            # Mirrors runlinkage.jl:49: spine schema must contain EntityId.
            raise ValueError("spine_columns must include EntityId")
        ids = [c.id for c in self.criteria]
        if len(set(ids)) != len(ids):
            # link_table groups candidates by (EventId, CriteriaId): two
            # criteria under one id would pool their candidate sets
            raise ValueError(f"duplicate criteria ids: {sorted(ids)}")
        for crit in self.criteria:
            if crit.tablename not in self.tables:
                raise ValueError(
                    f"Criteria {crit.id} references unknown table {crit.tablename!r}"
                )

    @property
    def criteria_by_table(self) -> list[tuple[str, list[LinkageCriteria]]]:
        """Criteria grouped by table, preserving first-appearance order.

        Reproduces config.jl:156-168: global sequential ids, grouped, and
        run_linkage iterates the groups in that order (runlinkage.jl:70-84).
        """
        order: list[str] = []
        groups: dict[str, list[LinkageCriteria]] = {}
        for c in self.criteria:
            if c.tablename not in groups:
                groups[c.tablename] = []
                order.append(c.tablename)
            groups[c.tablename].append(c)
        return [(t, groups[t]) for t in order]


def _approx_list(raw: Any) -> tuple[ApproxMatch, ...]:
    if not raw:
        return ()
    return tuple(
        ApproxMatch(
            datacolumn=d["datacolumn"],
            spinecolumn=d["spinecolumn"],
            distancemetric=d["distancemetric"],
            threshold=float(d["threshold"]),
        )
        for d in raw
    )


def _toml_str(v: str) -> str:
    return '"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'


def write_config(path: str | Path, config: LinkageConfig) -> None:
    """Serialize a LinkageConfig back to TOML — the reference's
    ``write_config`` (/root/reference/src/unexported/config.jl:178-199,
    exercised by test/testset1.jl:8-9). ``load_config(write_config(c))``
    round-trips to an equal config (schema declarations included)."""
    out = [
        f"projectname = {_toml_str(config.projectname)}",
        f"description = {_toml_str(config.description)}",
        f"output_directory = {_toml_str(config.output_directory)}",
        f"append_to_spine = {'true' if config.append_to_spine else 'false'}",
        "construct_entityid_from = ["
        + ", ".join(_toml_str(c) for c in config.construct_entityid_from)
        + "]",
        f"block_salt_buckets = {config.block_salt_buckets}",
        f"broadcast_spine = {'true' if config.broadcast_spine else 'false'}",
        f"max_block_signatures = {config.max_block_signatures}",
        f"cc_convergence = {_toml_str(config.cc_convergence)}",
        f"cc_max_iter = {config.cc_max_iter}",
    ]
    if config.checkpoint_dir:
        out.append(f"checkpoint_dir = {_toml_str(config.checkpoint_dir)}")
    out += [
        "",
        "[spine]",
        f"datafile = {_toml_str(config.spine_datafile or '')}",
        "columns = [" + ", ".join(_toml_str(c) for c in config.spine_columns) + "]",
    ]
    for t in config.tables.values():
        out += [
            "",
            "[[tables]]",
            f"name = {_toml_str(t.name)}",
            f"datafile = {_toml_str(t.datafile)}",
            "primarykey = [" + ", ".join(_toml_str(c) for c in t.primarykey) + "]",
        ]
        if t.columns:
            schema_by_name = {cs.name: cs for cs in t.schema}
            cols = []
            for name in t.columns:
                cs = schema_by_name.get(name)
                if cs is None:
                    cols.append(_toml_str(name))
                else:
                    entry = (
                        f"{{name = {_toml_str(cs.name)}, datatype = {_toml_str(cs.datatype)}, "
                        f"isrequired = {'true' if cs.isrequired else 'false'}, "
                        f"isunique = {'true' if cs.isunique else 'false'}"
                    )
                    if isinstance(cs.validvalues, str):
                        entry += f", validvalues = {_toml_str(cs.validvalues)}"
                    elif cs.validvalues is not None:
                        entry += (
                            ", validvalues = ["
                            + ", ".join(_toml_str(v) for v in cs.validvalues)
                            + "]"
                        )
                    cols.append(entry + "}")
            out.append("columns = [\n  " + ",\n  ".join(cols) + ",\n]")
    for c in config.criteria:
        out += ["", "[[criteria]]", f"tablename = {_toml_str(c.tablename)}"]
        if c.exactmatch:
            out.append("[criteria.exactmatch]")
            out += [
                f"{k if _TOML_BARE_KEY.match(k) else _toml_str(k)}"
                f" = {_toml_str(v)}"
                for k, v in c.exactmatch.items()
            ]
        for am in c.approxmatch:
            out += [
                "[[criteria.approxmatch]]",
                f"datacolumn = {_toml_str(am.datacolumn)}",
                f"spinecolumn = {_toml_str(am.spinecolumn)}",
                f"distancemetric = {_toml_str(am.distancemetric)}",
                f"threshold = {am.threshold!r}",
            ]
    Path(path).write_text("\n".join(out) + "\n")


def load_config(path: str | Path, check_files: bool = True) -> LinkageConfig:
    """Parse a TOML config file into a validated LinkageConfig.

    TOML layout mirrors the reference's (e.g.
    /root/reference/test/config/link_all_health_service_events.toml):

        projectname = "..."
        output_directory = "..."
        append_to_spine = true
        construct_entityid_from = ["firstname", "lastname", "birthdate"]
        max_block_signatures = 10000  # optional, 0 = unlimited
        cc_convergence = "checksum"   # optional; global formation path only
        cc_max_iter = 30              # optional; global formation path only
        [spine]
        datafile = ""              # empty => start empty
        columns = ["EntityId", "firstname", ...]
        [[tables]]
        name = "influenza_cases"
        datafile = "..."
        primarykey = ["personid"]
        [[criteria]]
        tablename = "influenza_cases"
        [criteria.exactmatch]
        firstname = "firstname"
        [[criteria.approxmatch]]
        datacolumn = "lastname"
        spinecolumn = "lastname"
        distancemetric = "levenshtein"
        threshold = 0.3
    """
    path = Path(path)
    with open(path, "rb") as f:
        raw = tomllib.load(f)

    tables: dict[str, TableConfig] = {}
    for t in raw.get("tables", []):
        # `columns` entries are either bare names or schema tables
        # ({name, datatype, isrequired, isunique, validvalues}) in the
        # reference's test/schema/*.toml style; both may be mixed.
        names: list[str] = []
        schema: list[ColumnSchema] = []
        for c in t.get("columns", ()):
            if isinstance(c, str):
                names.append(c)
            else:
                vv = c.get("validvalues")
                if isinstance(vv, list):
                    vv = tuple(str(v) for v in vv)
                cs = ColumnSchema(
                    name=c["name"],
                    datatype=c.get("datatype", "String"),
                    isrequired=bool(c.get("isrequired", False)),
                    isunique=bool(c.get("isunique", False)),
                    validvalues=vv,
                )
                names.append(cs.name)
                schema.append(cs)
        tc = TableConfig(
            name=t["name"],
            datafile=t["datafile"],
            primarykey=tuple(t["primarykey"]),
            columns=tuple(names),
            schema=tuple(schema),
        )
        if check_files and tc.datafile and not Path(tc.datafile).exists():
            # Fail fast like config.jl:25-26.
            raise FileNotFoundError(f"table {tc.name}: datafile not found: {tc.datafile}")
        tables[tc.name] = tc

    criteria = tuple(
        LinkageCriteria(
            id=i + 1,  # global sequential ids, 1-based like the reference
            tablename=c["tablename"],
            exactmatch=dict(c.get("exactmatch", {})),
            approxmatch=_approx_list(c.get("approxmatch")),
        )
        for i, c in enumerate(raw.get("criteria", []))
    )

    spine = raw.get("spine", {})
    spine_datafile = spine.get("datafile") or None
    if check_files and spine_datafile and not Path(spine_datafile).exists():
        raise FileNotFoundError(f"spine datafile not found: {spine_datafile}")

    return LinkageConfig(
        projectname=raw["projectname"],
        description=raw.get("description", ""),
        output_directory=raw["output_directory"],
        spine_datafile=spine_datafile,
        spine_columns=tuple(spine.get("columns", ())),
        append_to_spine=bool(raw.get("append_to_spine", False)),
        construct_entityid_from=tuple(raw.get("construct_entityid_from", ())),
        tables=tables,
        criteria=criteria,
        block_salt_buckets=int(raw.get("block_salt_buckets", 8)),
        broadcast_spine=bool(raw.get("broadcast_spine", True)),
        checkpoint_dir=raw.get("checkpoint_dir") or None,
        max_block_signatures=int(raw.get("max_block_signatures", 10_000)),
        cc_convergence=str(raw.get("cc_convergence", "checksum")),
        cc_max_iter=int(raw.get("cc_max_iter", 30)),
    )
