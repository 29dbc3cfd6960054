"""Streaming exact dedup: first-occurrence-wins over an unbounded
stream, as a custom stateful operator (``applyInPandasWithState``).

The batch analogue is O7 (first-occurrence-wins dedup,
/root/reference/src/runlinkage.jl:146-154 via operators/linkage.py:
dedup_events); on a stream "first" is arrival order and the seen-set
must persist across micro-batches. A watermarked streaming aggregation
cannot express "emit exactly the first row, immediately" (append mode
waits for the watermark), so this is the genuine
custom-stateful-operator case: state = one boolean per key, partitioned
by the content hash, with a processing-time timeout to bound state for
keys that stop arriving.

Scale shape: state is keyed by the groupBy hash — the shuffle key — so
a 1000-executor cluster holds 1/1000th of the seen-set per executor;
Arrow batches cross the Python boundary per (key-group x micro-batch),
never per row.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

#: state: has this key been emitted already?
_STATE_SCHEMA = StructType([StructField("seen", LongType())])

_OUT_SCHEMA = StructType(
    [
        StructField("content_hash", StringType()),
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _first_wins(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        # key went quiet past the timeout: drop its state; a later
        # duplicate would be re-emitted (documented at-least-once
        # trade-off of bounding state)
        state.remove()
        return
    already = state.exists
    if not already:
        first = None
        for pdf in pdfs:
            # arrival order within the micro-batch: doc_id is the
            # deterministic tie-break (parquet row order is not stable
            # across retries)
            cand = pdf.sort_values("doc_id").iloc[0]
            if first is None or cand["doc_id"] < first["doc_id"]:
                first = cand
        state.update((1,))
        state.setTimeoutDuration(3_600_000)  # 1 h idle -> evict
        yield pd.DataFrame(
            {
                "content_hash": [key[0]],
                "doc_id": [int(first["doc_id"])],
                "text": [first["text"]],
            }
        )
    else:
        for _ in pdfs:  # drain; duplicates of an emitted key
            pass
        state.setTimeoutDuration(3_600_000)


def stream_exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """First occurrence per content hash over a streaming docs frame.

    Output: (content_hash, doc_id, text) — exactly one row per distinct
    text ever seen (within the state-timeout horizon).

    Under ``trigger(availableNow=True)`` or ``once``, set
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` before
    ``start()``: the state's processing-time timeout otherwise makes the
    engine run state-cleanup micro-batches without data, and the query
    never terminates.
    """
    keyed = docs.select(
        F.md5(F.col(text_col)).alias("content_hash"),
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).alias("text"),
    )
    return keyed.groupBy("content_hash").applyInPandasWithState(
        _first_wins,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_dedup_incremental(
    docs: DataFrame,
    sink,
    checkpoint_dir: str,
    index_refresh,
    refresh_every_n_epochs: int = 1,
    trigger: dict | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    **index_kwargs,
):
    """Flag an incoming document stream against the persisted dedup
    index in-flight: each micro-batch runs the batch
    ``operators.dedup.dedup_incremental`` (exact content-hash layer +
    LSH band-candidate layer) against the CURRENT index and hands
    ``sink(flags_df, epoch_id)`` the verdict frame — the streaming half
    of the crawl-vs-history loop, same foreachBatch shape (and the same
    idempotent-sink contract) as ``streaming.linkage.stream_link_to_spine``.

    ``index_refresh``: zero-arg callable returning the current
    ``(history_hashes, history_bands)`` frames (e.g. two parquet/Iceberg
    reads); re-invoked every ``refresh_every_n_epochs`` micro-batches so
    the periodic batch index refresh (``build_dedup_index`` over newly
    accepted docs, union+distinct) becomes visible without restarting
    the query. Documents arriving between refreshes are judged against
    the previous snapshot — exactly the batch engine's
    frozen-index-per-pass semantics.

    State lives in the INDEX tables, not the streaming engine: no
    watermark, no stateful operator, so a 100 TB history costs the
    stream two joins per micro-batch and nothing in executor state.
    """
    from ..operators.dedup import dedup_incremental

    if refresh_every_n_epochs < 1:
        raise ValueError(
            f"refresh_every_n_epochs must be >= 1, got {refresh_every_n_epochs}"
        )
    state = {"index": None, "batches_seen": 0}

    def _batch(batch: DataFrame, epoch_id: int) -> None:
        if state["index"] is None or state["batches_seen"] % refresh_every_n_epochs == 0:
            state["index"] = index_refresh()
        state["batches_seen"] += 1
        hashes, bands = state["index"]
        sink(
            dedup_incremental(
                batch, hashes, bands, text_col=text_col, id_col=id_col, **index_kwargs
            ),
            epoch_id,
        )

    writer = docs.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
