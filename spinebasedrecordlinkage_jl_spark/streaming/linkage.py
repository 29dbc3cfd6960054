"""Streaming linkage: link arriving conversation records to the frozen
spine, micro-batch by micro-batch.

The steady-state production shape of the north star: the spine already
exists (entity formation is the batch bootstrap — spine.form_entities),
and new transcripts arrive continuously. Each micro-batch runs the SAME
criteria passes as the batch engine (operators/linkage.link_table — the
spine side broadcast, event side never shuffled), so streaming and batch
linkage cannot drift: one implementation, two drivers.

``foreachBatch`` rather than a stateful operator because linkage against
a FROZEN spine is stateless per record — exactly-once delivery to the
links sink comes from Structured Streaming's batch-id-keyed idempotent
writes (epoch id passed to the sink).

``stream_link_and_form`` adds streaming ENTITY FORMATION on top: the
unlinked remainder of each micro-batch is clustered with the batch
``form_entities`` (connected components bounded by the batch), new spine
rows append to the stream's spine state, and later batches match them —
the reference's append-and-relink loop at micro-batch granularity.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..config import LinkageCriteria
from ..operators.linkage import link_table
from ..operators.spine import form_entities


def stream_link_to_spine(
    records: DataFrame,
    spine: DataFrame,
    criteria: list[LinkageCriteria],
    tablename: str,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    spine_refresh: Callable[[], DataFrame] | None = None,
    refresh_every_n_epochs: int = 1,
) -> StreamingQuery:
    """Start a streaming query linking ``records`` (a streaming frame of
    conversation records) against the frozen ``spine``.

    ``sink(links_df, epoch_id)`` receives each micro-batch's links frame
    (TableName, EventId, EntityId, CriteriaId); write idempotently keyed
    on ``epoch_id`` for exactly-once (e.g. Iceberg overwrite-by-filter
    on a batch-id column, or a transactional append).

    ``spine_refresh``: optional zero-arg callable returning the CURRENT
    spine (e.g. ``lambda: spark.read.parquet(spine_path)`` — or the
    Iceberg table, whose snapshot isolation makes the re-read atomic).
    When set, the spine is re-read every ``refresh_every_n_epochs``
    micro-batches, so entities formed by the periodic batch
    entity-formation job (spine.form_entities) become matchable WITHOUT
    restarting the query. Records arriving between a batch append and
    the next refresh link against the previous snapshot — the same
    frozen-spine-per-pass semantics as the batch engine's table stages.
    With the default ``spine_refresh=None`` the query links against the
    one frozen ``spine`` frame forever (the round-2 behavior).
    """
    if refresh_every_n_epochs < 1:
        raise ValueError(f"refresh_every_n_epochs must be >= 1, got {refresh_every_n_epochs}")
    if spine is None and spine_refresh is None:
        # spine=None is sanctioned ONLY with a refresh callable (the
        # first micro-batch then loads the current spine); without one
        # the query would fail deep inside the first micro-batch's
        # link_table with an opaque AttributeError.
        raise ValueError("stream_link_to_spine: spine=None requires spine_refresh")
    state = {"spine": spine, "batches_seen": 0}

    def _link_batch(batch: DataFrame, epoch_id: int) -> None:
        # epoch_id is monotone across restarts but not contiguous per
        # run; count batches actually processed by THIS query instead.
        if spine_refresh is not None and state["batches_seen"] % refresh_every_n_epochs == 0:
            state["spine"] = spine_refresh()
        state["batches_seen"] += 1
        links = link_table(batch, state["spine"], criteria, tablename)
        sink(links, epoch_id)

    writer = records.writeStream.foreachBatch(_link_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


def stream_link_and_form(
    records: DataFrame,
    spine: DataFrame | None,
    criteria: list[LinkageCriteria],
    tablename: str,
    links_sink: Callable[[DataFrame, int], None],
    spine_sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    construct_entityid_from: list[str],
    spine_columns: list[str],
    order_col: str | None = None,
    trigger: dict | None = None,
    spine_refresh: Callable[[], DataFrame] | None = None,
    refresh_every_n_epochs: int | None = None,
) -> StreamingQuery:
    """Streaming entity formation: per micro-batch, link arriving records
    against the current spine, then FORM NEW ENTITIES from the records
    that did not link — the streaming equivalent of the reference's
    append-and-relink loop (runlinkage.jl:168-176), at micro-batch
    instead of per-row granularity.

    Each micro-batch:

    1. links the batch against the current spine (same ``link_table``
       passes as the batch engine — no drift);
    2. clusters the unlinked remainder with the batch
       ``form_entities`` (match-pair graph + connected components INSIDE
       the batch — the iterative work is bounded by the micro-batch,
       never the corpus);
    3. emits the new spine rows to ``spine_sink(new_rows, epoch_id)``
       and ALL the batch's links (spine hits + new-entity self-links,
       one schema) to ``links_sink(links, epoch_id)`` — write both
       idempotently keyed on ``epoch_id`` for exactly-once;
    4. unions the new rows into the in-memory spine, so the NEXT batch
       matches entities formed in this one without waiting for an
       external refresh. The union is ``localCheckpoint``-ed (bounded
       plan) and the previous in-memory copy unpersisted, so state stays
       one spine snapshot regardless of run length.

    The micro-batch, its spine links and its unlinked remainder are each
    ``localCheckpoint``-ed once and unpersisted at batch end.
    ``localCheckpoint`` blocks live on the executors that computed them
    and are not fault tolerant: a lost executor fails the micro-batch and
    the query; a restart replays that batch from ``checkpoint_dir``.

    Ordering semantics: within a batch, cross-record transitivity is the
    batch engine's deterministic connected components; ACROSS batches,
    arrival order decides (a fuzzy near-dup arriving after its twin's
    batch links to the twin's entity; two near-dups split across batches
    that only match each other transitively form separate entities) —
    exactly the reference's sequential order-dependence, batch-grained.

    ``spine_refresh`` (optional, every ``refresh_every_n_epochs``
    batches): re-read the DURABLE spine and REPLACE the in-memory state
    — the long-run re-sync against a spine other writers (the periodic
    batch consolidation job) may have compacted. With refresh, restarts
    also recover state without replay. ``spine=None`` requires it.
    """
    if spine is None and spine_refresh is None:
        raise ValueError("stream_link_and_form: spine=None requires spine_refresh")
    if refresh_every_n_epochs is not None and refresh_every_n_epochs < 1:
        raise ValueError(
            f"refresh_every_n_epochs must be >= 1, got {refresh_every_n_epochs}"
        )
    state: dict = {"spine": spine, "owned": None, "batches_seen": 0}

    def _swap_spine(new: DataFrame, owned: bool) -> None:
        prev = state["owned"]
        state["spine"] = new
        state["owned"] = new if owned else None
        if prev is not None:
            # drop the previous batch's checkpoint blocks; only frames WE
            # created are unpersisted, never the caller's spine
            prev.unpersist()

    def _batch(batch: DataFrame, epoch_id: int) -> None:
        if (
            spine_refresh is not None
            and refresh_every_n_epochs is not None
            and state["batches_seen"] % refresh_every_n_epochs == 0
        ) or state["spine"] is None:
            _swap_spine(spine_refresh(), owned=False)
        state["batches_seen"] += 1
        # one materialization of the micro-batch: linked + anti-join +
        # entity formation all read it (same pattern as the batch plan);
        # likewise the links, read by the anti-join and the links sink
        batch_c = batch.localCheckpoint(eager=True)
        cur = state["spine"]
        linked = link_table(batch_c, cur, criteria, tablename).localCheckpoint(eager=True)
        unlinked = batch_c.join(linked.select("EventId"), "EventId", "left_anti").localCheckpoint(
            eager=True
        )
        new_spine, self_links = form_entities(
            unlinked,
            criteria,
            construct_entityid_from=construct_entityid_from,
            spine_columns=spine_columns,
            tablename=tablename,
            order_col=order_col,
        )
        new_spine = new_spine.localCheckpoint(eager=True)
        spine_sink(new_spine, epoch_id)
        links_sink(linked.unionByName(self_links), epoch_id)
        grown = cur.unionByName(
            new_spine.select(*cur.columns), allowMissingColumns=False
        ).localCheckpoint(eager=True)
        _swap_spine(grown, owned=True)
        for df in (batch_c, linked, unlinked):
            df.unpersist()

    writer = records.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
