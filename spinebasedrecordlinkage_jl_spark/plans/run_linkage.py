"""run_linkage: the main pipeline (reference lifecycle SURVEY.md §3.1).

Reference flow (/root/reference/src/runlinkage.jl:21-91): parse config ->
init spine -> per table-group: build indexes, stream events, link or
append -> write spine/links/criteria. Our flow keeps the same stage
ORDER (entities created while linking table 1 are matchable by tables
2..n — the cross-stage invariant of SURVEY §3.1) but each stage is a
declarative Spark plan:

  per table group (config order):
    1. records -> validity filter (O6) -> EventId dedup (O7)
    2. link to the FROZEN current spine: all criteria as one DAG,
       first-criteria-wins window (linkage.link_table)
    3. if append_to_spine: unlinked eligible records -> match-pair graph
       -> connected components -> new spine rows + self-links
       (spine.form_entities)
    4. checkpoint spine + accumulated links + manifest entry (resume
       point, per-stage lineage + match metrics)

The spine is explicitly broadcast into every linkage join; the event
table is never shuffled during linkage (only the final first-criteria
window partitions by EventId). Entity formation is one repartition by the
criteria's common exact key plus one Python pass when they share one,
else one shuffle per criteria key + the CC rounds.

Each relation consumed more than once is materialized once with
``localCheckpoint(eager=True)`` and unpersisted when its consumers are
done: a table's records (its events and the final ``events_<table>``
sink), the validated, deduplicated events, the spine-probe links and the
unlinked remainder.
``localCheckpoint`` keeps blocks on the executors that computed them: it
is cheap, but not fault tolerant — a lost executor fails the run, which
then resumes from the last stage checkpoint.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..checkpoint import RunManifest, StageRecord, read_table, stage_metrics, write_table
from ..config import LinkageConfig
from ..operators.linkage import dedup_events, link_table, valid_events
from ..operators.spine import form_entities


@dataclass
class LinkageRun:
    spine: DataFrame
    links: DataFrame
    output_directory: str
    manifest: RunManifest


def _empty_spine(spark: SparkSession, config: LinkageConfig) -> DataFrame:
    """O4: empty spine with the declared columns (runlinkage.jl:46-53);
    EntityId:long + spine_seq:long + string linkage columns."""
    fields = [StructField("EntityId", LongType()), StructField("spine_seq", LongType())]
    for c in config.spine_columns:
        if c != "EntityId":
            fields.append(StructField(c, StringType()))
    return spark.createDataFrame([], StructType(fields))


def _empty_links(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [],
        StructType(
            [
                StructField("TableName", StringType()),
                StructField("EventId", LongType()),
                StructField("EntityId", LongType()),
                StructField("CriteriaId", IntegerType()),
            ]
        ),
    )


def criteria_table(spark: SparkSession, config: LinkageConfig) -> DataFrame:
    """O16: the criteria rendered as data (runlinkage.jl:337-349)."""
    rows = [
        (
            c.id,
            c.tablename,
            dict(c.exactmatch),
            [
                {
                    "datacolumn": a.datacolumn,
                    "spinecolumn": a.spinecolumn,
                    "distancemetric": a.distancemetric,
                    "threshold": a.threshold,
                }
                for a in c.approxmatch
            ],
        )
        for c in config.criteria
    ]
    return spark.createDataFrame(
        rows, "CriteriaId int, TableName string, ExactMatches map<string,string>, "
        "ApproxMatches array<struct<datacolumn:string,spinecolumn:string,"
        "distancemetric:string,threshold:double>>"
    )


def run_linkage(
    spark: SparkSession,
    config: LinkageConfig,
    records_by_table: dict[str, DataFrame],
    resume: bool = False,
) -> LinkageRun:
    """Execute the full linkage pipeline; resumable per table stage.

    ``records_by_table`` maps table name -> record DataFrame (already
    aggregated, e.g. by operators.records.conversation_records). Each
    must carry EventId plus every criteria column.
    """
    outdir = Path(config.output_directory)
    ckdir = config.checkpoint_dir or str(outdir / "checkpoints")
    manifest = RunManifest(ckdir)
    if not resume:
        manifest.stages = []
        manifest._flush()

    spine = None
    links = _empty_links(spark)
    if config.spine_datafile:
        spine = read_table(spark, config.spine_datafile)
        if "EntityId" not in spine.columns:
            raise ValueError("spine datafile lacks EntityId column")  # runlinkage.jl:49
        if "spine_seq" not in spine.columns:
            spine = spine.withColumn("spine_seq", F.col("EntityId"))
    else:
        spine = _empty_spine(spark, config)

    groups = config.criteria_by_table
    start_stage = 0
    if resume:
        last = manifest.last_stage()
        if last is not None:
            spine = read_table(spark, last.spine_path)
            links = read_table(spark, last.links_path)
            start_stage = last.stage + 1

    # records materialized by the stages below, reused by the final
    # events_<table> sinks
    materialized: dict[str, DataFrame] = {}
    for stage, (tablename, crits) in enumerate(groups):
        if stage < start_stage:
            continue
        records = materialized[tablename] = records_by_table[tablename].localCheckpoint(
            eager=True
        )
        tcfg = config.tables[tablename]
        ev = valid_events(
            records,
            pk_cols=list(tcfg.primarykey),
            entityid_cols=list(config.construct_entityid_from)
            if config.append_to_spine
            else None,
        )
        ev = dedup_events(ev, order_col=tcfg.primarykey[0]).localCheckpoint(eager=True)

        # 2. link against the frozen spine
        spine_cached = spine.localCheckpoint(eager=True)
        new_links = link_table(
            ev, spine_cached, crits, tablename, broadcast_spine=config.broadcast_spine
        ).localCheckpoint(eager=True)
        stage_frames = [ev, new_links, spine_cached]

        # 3. entity formation among unlinked eligible records, then a
        # RE-PROBE of those records against the grown spine — the exact
        # analogue of the reference's append-then-relink
        # (runlinkage.jl:168-176): each formerly-unlinked record links via
        # the first criterion a normal probe satisfies, so CriteriaId
        # provenance matches the sequential engine, and pathological
        # cases (exact ambiguity against the grown spine) stay unlinked
        # exactly as they would there.
        if config.append_to_spine:
            # read by form_entities (its block measure and its solve) and
            # by the relink
            unlinked = ev.join(
                new_links.select("EventId"), "EventId", "left_anti"
            ).localCheckpoint(eager=True)
            stage_frames.append(unlinked)
            new_spine, _component_links = form_entities(
                unlinked,
                crits,
                construct_entityid_from=list(config.construct_entityid_from),
                spine_columns=list(config.spine_columns),
                tablename=tablename,
                # 0 = unlimited in TOML (None internally)
                max_block_signatures=config.max_block_signatures or None,
                order_col=tcfg.primarykey[0],
            )
            spine = spine_cached.unionByName(
                new_spine, allowMissingColumns=True
            ).localCheckpoint(eager=True)
            stage_frames.append(spine)
            relink = link_table(
                unlinked, spine, crits, tablename, broadcast_spine=config.broadcast_spine
            )
            new_links = new_links.unionByName(relink)
        else:
            spine = spine_cached

        links = links.unionByName(new_links)

        # 4. checkpoint + manifest (the resume point)
        spine_path = str(Path(ckdir) / f"stage_{stage}" / "spine")
        links_path = str(Path(ckdir) / f"stage_{stage}" / "links")
        write_table(spine, spine_path)
        write_table(links, links_path)
        spine = read_table(spark, spine_path)
        links = read_table(spark, links_path)
        for df in stage_frames:
            df.unpersist()
        manifest.record(
            StageRecord(
                stage=stage,
                table=tablename,
                spine_path=spine_path,
                links_path=links_path,
                **stage_metrics(spine, links),
            )
        )

    # provenance sinks (O16, runlinkage.jl:30-43,299-318): criteria as
    # data, software versions, and the resolved config snapshot
    indir = outdir / "input"
    indir.mkdir(parents=True, exist_ok=True)
    import json as _json
    import sys as _sys

    import pyspark as _pyspark

    (indir / "SoftwareVersions.json").write_text(
        _json.dumps(
            {"python": _sys.version.split()[0], "pyspark": _pyspark.__version__,
             "spinelink": "0.1.0"},
            indent=2,
        )
    )
    from dataclasses import asdict as _asdict

    from ..config import write_config as _write_config

    # the reference writes the parsed config back out (write_config,
    # config.jl:178-199, testset1.jl:8-9); JSON twin below for tooling
    _write_config(indir / "config_resolved.toml", config)
    (indir / "config_resolved.json").write_text(
        _json.dumps(
            {
                "projectname": config.projectname,
                "append_to_spine": config.append_to_spine,
                "construct_entityid_from": list(config.construct_entityid_from),
                "spine_columns": list(config.spine_columns),
                "tables": {k: _asdict(v) for k, v in config.tables.items()},
                "criteria": [
                    {
                        "id": c.id,
                        "tablename": c.tablename,
                        "exactmatch": dict(c.exactmatch),
                        "approxmatch": [_asdict(a) for a in c.approxmatch],
                    }
                    for c in config.criteria
                ],
            },
            indent=2,
        )
    )

    # final sinks (reference writes spine/links/criteria under output/)
    out = outdir / "output"
    write_table(spine, str(out / "spine"))
    write_table(links, str(out / "links"))
    write_table(criteria_table(spark, config), str(out / "criteria"))
    for tablename, _ in groups:
        tcfg = config.tables[tablename]
        pk = [F.col(c) for c in tcfg.primarykey]
        records = materialized.get(tablename, records_by_table[tablename])
        write_table(records.select("EventId", *pk).distinct(), str(out / f"events_{tablename}"))
    for records in materialized.values():
        records.unpersist()

    return LinkageRun(spine=spine, links=links, output_directory=str(outdir), manifest=manifest)
