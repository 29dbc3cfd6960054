"""One run of a workload through the package's production entry points.

- batch workloads (``bootstrap``, ``incremental``) call
  ``cli.main(["run", <config.toml>])``: the path a user runs, with the
  CLI's own defaults (records aggregation, validity filter, EventId
  dedup, checksum CC, stage checkpoints and the final ``output/``
  sinks);
- ``stream`` calls ``streaming.linkage.stream_link_and_form`` over the
  record files with ``maxFilesPerTrigger=1`` and ``availableNow``.

Each ``run`` writes into a fresh directory and returns its wall time;
``outputs`` reads back what it committed, for the digest and the F1.
"""

from __future__ import annotations

import contextlib
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from .check import CRITERIA, SPINE_COLUMNS, frame_digest
from .workloads import IDENTITY, TABLE

#: a micro-batch query that has not drained its files by then has failed
STREAM_TIMEOUT_S = 150


@dataclass
class Run:
    run_s: float
    #: per commit unit: the micro-batches of a stream run, the run itself
    #: for a batch run
    batch_s: list[float] = field(default_factory=list)


def _toml_list(xs) -> str:
    return "[" + ", ".join(f'"{x}"' for x in xs) + "]"


def _config_toml(inputs, out: Path) -> str:
    lines = [
        f'projectname = "perfbench-{inputs.workload}"',
        f'output_directory = "{out}"',
        "append_to_spine = true",
        f"construct_entityid_from = {_toml_list(IDENTITY)}",
        "",
        "[spine]",
        f'datafile = "{inputs.spine or ""}"',
        f"columns = {_toml_list(SPINE_COLUMNS)}",
        "",
        "[[tables]]",
        f'name = "{TABLE}"',
        f'datafile = "{inputs.transcripts}"',
        'primarykey = ["conv_id"]',
    ]
    for c in CRITERIA:
        lines += ["", "[[criteria]]", f'tablename = "{c.tablename}"', "[criteria.exactmatch]"]
        lines += [f'{k} = "{v}"' for k, v in c.exactmatch.items()]
        for am in c.approxmatch:
            lines += [
                "[[criteria.approxmatch]]",
                f'datacolumn = "{am.datacolumn}"',
                f'spinecolumn = "{am.spinecolumn}"',
                f'distancemetric = "{am.distancemetric}"',
                f"threshold = {am.threshold!r}",
            ]
    return "\n".join(lines) + "\n"


class BatchRunner:
    """``cli run`` on a generated config."""

    def __init__(self, inputs):
        self.inputs = inputs

    def load(self, spark) -> None:
        """Input load: scan every input once."""
        spark.read.parquet(self.inputs.transcripts).count()
        if self.inputs.spine:
            spark.read.parquet(self.inputs.spine).count()

    def run(self, spark, out: Path) -> Run:
        from spinebasedrecordlinkage_jl_spark import cli

        out.mkdir(parents=True)
        cfg = out / "config.toml"
        cfg.write_text(_config_toml(self.inputs, out / "run"))
        t0 = time.perf_counter()
        # the CLI prints the output directory; keep stdout for the result
        with contextlib.redirect_stdout(sys.stderr):
            rc = cli.main(["run", str(cfg)])
        run_s = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"cli run exited with {rc}")
        return Run(run_s, [run_s])

    def outputs(self, spark, out: Path) -> tuple[str, dict[str, int]]:
        """(output digest, conv_id -> EntityId)."""
        base = out / "run" / "output"
        links = spark.read.parquet(str(base / "links"))
        spine = spark.read.parquet(str(base / "spine"))
        events = spark.read.parquet(str(base / f"events_{TABLE}"))
        digest = f"links={frame_digest(links)} spine={frame_digest(spine)}"
        got = {
            r["conv_id"]: r["EntityId"]
            for r in links.join(events, "EventId").select("conv_id", "EntityId").collect()
        }
        return digest, got


class StreamRunner:
    """``stream_link_and_form`` over the record files, one file per
    micro-batch; links and new spine rows are written per epoch."""

    SCHEMA = "EventId long, conv_id string, firstname string, lastname string, birthdate string"

    def __init__(self, inputs):
        self.inputs = inputs
        #: wraps the benchmark-side sinks (in spans, when tracing)
        self.wrap_sink = lambda fn: fn

    def load(self, spark) -> None:
        spark.read.schema(self.SCHEMA).parquet(self.inputs.stream_dir).count()
        spark.read.parquet(self.inputs.spine).count()

    def run(self, spark, out: Path) -> Run:
        from spinebasedrecordlinkage_jl_spark.streaming.linkage import stream_link_and_form

        out.mkdir(parents=True)

        def sink(kind):
            def write(df, epoch_id):
                df.write.mode("overwrite").parquet(str(out / kind / f"epoch={epoch_id}"))

            return self.wrap_sink(write)

        t0 = time.perf_counter()
        spine = spark.read.parquet(self.inputs.spine)
        records = (
            spark.readStream.schema(self.SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.inputs.stream_dir)
        )
        q = stream_link_and_form(
            records,
            spine,
            list(CRITERIA),
            TABLE,
            sink("links"),
            sink("spine"),
            checkpoint_dir=str(out / "checkpoint"),
            construct_entityid_from=list(IDENTITY),
            spine_columns=list(SPINE_COLUMNS),
            order_col="conv_id",
            trigger={"availableNow": True},
        )
        try:
            done = q.awaitTermination(STREAM_TIMEOUT_S)
        finally:
            if q.isActive:
                q.stop()
        run_s = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if not done:
            raise RuntimeError(f"stream did not finish within {STREAM_TIMEOUT_S}s")
        batches = [
            p.durationMs["triggerExecution"] / 1000
            for p in q.recentProgress
            if p.numInputRows > 0
        ]
        return Run(run_s, batches)

    def outputs(self, spark, out: Path) -> tuple[str, dict[str, int]]:
        links = spark.read.parquet(str(out / "links")).drop("epoch")
        new_rows = spark.read.parquet(str(out / "spine")).drop("epoch")
        records = spark.read.schema(self.SCHEMA).parquet(self.inputs.stream_dir)
        digest = f"links={frame_digest(links)} spine={frame_digest(new_rows)}"
        got = {
            r["conv_id"]: r["EntityId"]
            for r in links.join(records.select("EventId", "conv_id"), "EventId")
            .select("conv_id", "EntityId")
            .collect()
        }
        return digest, got


def make_runner(inputs):
    return StreamRunner(inputs) if inputs.workload == "stream" else BatchRunner(inputs)
