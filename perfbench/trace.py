"""The traced run: layer spans recorded from outside the package.

The traced run calls the same entry point as the timed runs. Only the
module attributes that ``cli``, ``plans.run_linkage`` and
``streaming.linkage`` look up at call time are replaced, for the length
of the run, by wrappers defined here:

    cli.conversation_records                      -> records
    run_linkage.valid_events / dedup_events       -> linkage.dedup
    run_linkage.link_table (1st per stage)        -> linkage.probe
    run_linkage.link_table (after form_entities)  -> linkage.relink
    run_linkage.form_entities                     -> spine.form
    run_linkage.write_table / read_table          -> checkpoint.stage_* (under
                                                     checkpoints/) or
                                                     checkpoint.output_write
    run_linkage.stage_metrics                     -> checkpoint.metrics
    streaming.linkage.link_table                  -> linkage.probe
    streaming.linkage.form_entities               -> spine.form
    the benchmark's own micro-batch sinks         -> streaming.sink

Each wrapper opens a span, sets a Spark job group named after it, calls
the package function and materializes the output its caller consumes
(``localCheckpoint``), so the layer's jobs run inside its span and carry
its group. The event log then gives each layer's engine counters.
Materializing once changes the plan the caller sees: an output that the
untraced run recomputes is read from the checkpoint here. That is part
of ``trace_overhead_s``, which can therefore be negative.
"""

from __future__ import annotations

import contextlib
import importlib
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from .eventlog import Totals, find_log, read_jobs

PKG = "spinebasedrecordlinkage_jl_spark"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
#: job group of the benchmark's own counting jobs, excluded everywhere
BENCH_GROUP = "pbx:bench"
MB = 1e6


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in memory, one Spark job group per span."""

    def __init__(self, spark, relink_after_form: bool):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.relink_after_form = relink_after_form
        self.next_link = "probe"

    def _swap_group(self, group: str | None, desc: str | None) -> tuple:
        prev = tuple(self.sc.getLocalProperty(k) for k in _GROUP_PROPS)
        for k, v in zip(_GROUP_PROPS, (group, desc, "false" if group else None)):
            self.sc.setLocalProperty(k, v)
        return prev

    def _restore(self, prev: tuple) -> None:
        for k, v in zip(_GROUP_PROPS, prev):
            self.sc.setLocalProperty(k, v)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, f"pb:{name}#{len(self.spans)}", time.perf_counter())
        prev = self._swap_group(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.spans.append(s)
            self._restore(prev)

    def count(self, df) -> int:
        """A row count taken by the benchmark, outside every layer."""
        prev = self._swap_group(BENCH_GROUP, "benchmark count")
        try:
            return df.count()
        finally:
            self._restore(prev)

    # -- wrappers ------------------------------------------------------

    def records(self, orig):
        def wrapped(*args, **kwargs):
            with self.span("records") as s:
                out = orig(*args, **kwargs).localCheckpoint(eager=True)
            s.counts["rows_out"] = self.count(out)
            return out

        return wrapped

    def valid_events(self, orig):
        def wrapped(*args, **kwargs):
            with self.span("linkage.dedup"):
                return orig(*args, **kwargs)

        return wrapped

    def dedup_events(self, orig):
        def wrapped(*args, **kwargs):
            self.next_link = "probe"
            with self.span("linkage.dedup"):
                return orig(*args, **kwargs).localCheckpoint(eager=True)

        return wrapped

    def link_table(self, orig):
        def wrapped(events, *args, **kwargs):
            with self.span(f"linkage.{self.next_link}") as s:
                out = orig(events, *args, **kwargs).localCheckpoint(eager=True)
            s.counts["links"] = self.count(out)
            s.counts["events"] = self.count(events)
            return out

        return wrapped

    def form_entities(self, orig, links_consumed: bool):
        def wrapped(*args, **kwargs):
            with self.span("spine.form") as s:
                new_spine, links = orig(*args, **kwargs)
                new_spine = new_spine.localCheckpoint(eager=True)
                if links_consumed:
                    links = links.localCheckpoint(eager=True)
            s.counts["new_entities"] = self.count(new_spine)
            if self.relink_after_form:
                self.next_link = "relink"
            return new_spine, links

        return wrapped

    def write_table(self, orig):
        def wrapped(df, path, *args, **kwargs):
            kind = "stage_write" if "checkpoints" in Path(path).parts else "output_write"
            with self.span(f"checkpoint.{kind}") as s:
                orig(df, path, *args, **kwargs)
            s.counts["bytes"] = sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())

        return wrapped

    def read_table(self, orig):
        def wrapped(spark, path, *args, **kwargs):
            kind = "stage_read" if "checkpoints" in Path(path).parts else "input_read"
            with self.span(f"checkpoint.{kind}"):
                return orig(spark, path, *args, **kwargs)

        return wrapped

    def stage_metrics(self, orig):
        def wrapped(*args, **kwargs):
            with self.span("checkpoint.metrics"):
                return orig(*args, **kwargs)

        return wrapped

    def sink(self, fn):
        def wrapped(df, epoch_id):
            with self.span("streaming.sink"):
                fn(df, epoch_id)

        return wrapped


@contextlib.contextmanager
def patched(tracer: Tracer, stream: bool):
    """Install the wrappers for one run; restore the originals after."""
    if stream:
        mod = importlib.import_module(f"{PKG}.streaming.linkage")
        targets = [
            (mod, "link_table", tracer.link_table),
            (mod, "form_entities", lambda f: tracer.form_entities(f, links_consumed=True)),
        ]
    else:
        cli = importlib.import_module(f"{PKG}.cli")
        rl = importlib.import_module(f"{PKG}.plans.run_linkage")
        targets = [(cli, "conversation_records", tracer.records)] + [
            (rl, name, getattr(tracer, name))
            for name in (
                "valid_events",
                "dedup_events",
                "link_table",
                "write_table",
                "read_table",
                "stage_metrics",
            )
        ]
        targets.append((rl, "form_entities", lambda f: tracer.form_entities(f, links_consumed=False)))
    originals = [(mod, name, getattr(mod, name)) for mod, name, _ in targets]
    try:
        for mod, name, wrap in targets:
            setattr(mod, name, wrap(getattr(mod, name)))
        yield
    finally:
        for mod, name, orig in originals:
            setattr(mod, name, orig)


def _engine(jobs, prefix: str) -> Totals:
    t = Totals()
    for j in jobs:
        if j.group.startswith(prefix):
            t.add(j.totals)
    return t


def layer_metrics(spans, jobs, window, run_s, untraced_run_s, cpus) -> dict:
    """Per-layer metrics of one traced run, as {name: (value, unit)}."""
    by = defaultdict(list)
    for s in spans:
        by[s.name].append(s)

    def wall(*names):
        return sum(s.wall for n in names for s in by[n])

    def counted(name, key):
        return sum(s.counts.get(key, 0) for s in by[name])

    def eng(name):
        return _engine(jobs, f"pb:{name}#")

    probe_events = counted("linkage.probe", "events")
    m = {
        "records.wall_s": (wall("records"), "s"),
        "records.busy_s": (eng("records").run_ms / 1e3, "s"),
        "records.shuffle_mb": (eng("records").shuffle_write / MB, "MB"),
        "records.rows_out": (counted("records", "rows_out"), "count"),
        "linkage.dedup_wall_s": (wall("linkage.dedup"), "s"),
        "linkage.dedup_shuffle_mb": (eng("linkage.dedup").shuffle_write / MB, "MB"),
        "linkage.probe_wall_s": (wall("linkage.probe"), "s"),
        "linkage.probe_busy_s": (eng("linkage.probe").run_ms / 1e3, "s"),
        "linkage.probe_shuffle_mb": (eng("linkage.probe").shuffle_write / MB, "MB"),
        "linkage.probe_links": (counted("linkage.probe", "links"), "count"),
        "linkage.probe_hit_frac": (
            counted("linkage.probe", "links") / probe_events if probe_events else 0.0,
            "ratio",
        ),
        "linkage.relink_wall_s": (wall("linkage.relink"), "s"),
        "linkage.relink_busy_s": (eng("linkage.relink").run_ms / 1e3, "s"),
        "linkage.relink_links": (counted("linkage.relink", "links"), "count"),
        "spine.form_wall_s": (wall("spine.form"), "s"),
        "spine.form_busy_s": (eng("spine.form").run_ms / 1e3, "s"),
        "spine.form_jobs": (eng("spine.form").jobs, "count"),
        "spine.form_shuffle_mb": (eng("spine.form").shuffle_write / MB, "MB"),
        "spine.new_entities": (counted("spine.form", "new_entities"), "count"),
        "spine.form_calls": (len(by["spine.form"]), "count"),
        "checkpoint.stage_write_s": (wall("checkpoint.stage_write", "checkpoint.stage_read"), "s"),
        "checkpoint.stage_mb": (counted("checkpoint.stage_write", "bytes") / MB, "MB"),
        "checkpoint.metrics_s": (wall("checkpoint.metrics"), "s"),
        "checkpoint.output_write_s": (wall("checkpoint.output_write"), "s"),
        "checkpoint.output_mb": (counted("checkpoint.output_write", "bytes") / MB, "MB"),
    }

    # micro-batches: each starts at its probe; link, form and sink spans
    # up to the next probe belong to it
    batches: list[dict] = []
    for s in sorted(spans, key=lambda s: s.start):
        if s.name == "linkage.probe" and by["streaming.sink"]:
            batches.append(defaultdict(float))
        if batches:
            key = {"linkage.probe": "link", "spine.form": "form", "streaming.sink": "sink"}.get(s.name)
            if key:
                batches[-1][key] += s.wall

    def per_batch(key):
        return statistics.median(b[key] for b in batches) if batches else 0.0

    m.update(
        {
            "streaming.batches": (len(batches), "count"),
            "streaming.batch_link_s": (per_batch("link"), "s"),
            "streaming.batch_form_s": (per_batch("form"), "s"),
            "streaming.batch_sink_s": (per_batch("sink"), "s"),
        }
    )

    # whole run: every job submitted inside the run's window, except the
    # benchmark's own counts
    t0, t1 = window
    run_jobs = [
        j for j in jobs if t0 <= j.submitted / 1e3 <= t1 and not j.group.startswith(BENCH_GROUP)
    ]
    total = _engine(run_jobs, "")
    busy = total.run_ms / 1e3
    m.update(
        {
            "spark.jobs": (total.jobs, "count"),
            "spark.stages": (total.stages, "count"),
            "spark.tasks": (total.tasks, "count"),
            "spark.busy_s": (busy, "s"),
            "spark.cpu_s": (total.cpu_ns / 1e9, "s"),
            "spark.util": (busy / (run_s * cpus), "ratio"),
            "spark.gc_s": (total.gc_ms / 1e3, "s"),
            "spark.shuffle_mb": (total.shuffle_write / MB, "MB"),
            "spark.spill_mb": (total.spill / MB, "MB"),
            "trace_overhead_s": (run_s - untraced_run_s, "s"),
        }
    )
    return m


def run_traced(spark, runner, out: Path):
    """One run with every layer wrapped: (tracer, run, wall-clock window)."""
    stream = runner.inputs.workload == "stream"
    tracer = Tracer(spark, relink_after_form=not stream)
    if stream:
        runner.wrap_sink = tracer.sink
    t0 = time.time()
    try:
        with patched(tracer, stream):
            r = runner.run(spark, out)
    finally:
        if stream:
            runner.wrap_sink = lambda fn: fn
    return tracer, r, (t0, time.time())


def traced_run(spark, runner, out: Path, reference: str, untraced_run_s: float, run_dir: Path, cpus: int) -> dict:
    """One traced run; checks its output digest against the untraced
    runs', then stops the context and rolls up the event log."""
    tracer, r, window = run_traced(spark, runner, out)
    digest, _ = runner.outputs(spark, out)
    if digest != reference:
        raise RuntimeError(f"traced output {digest} differs from untraced {reference}")
    # stopping the context completes and closes the event log
    spark.stop()
    jobs = read_jobs(find_log(run_dir / "eventlog"))
    return layer_metrics(tracer.spans, jobs, window, r.run_s, untraced_run_s, cpus)
