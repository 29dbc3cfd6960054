"""Streaming near-duplicate detection: banded SimHash over an unbounded
document stream, as a custom stateful operator.

Batch twin: ``operators/dedup.py:simhash_dedup`` (banded Hamming-LSH
self-join). On a stream the "join" becomes state: each (band_idx,
band_val) bucket remembers the fingerprints it has seen, and a newly
arriving document emits a pair for every stored member within
``max_hamming`` — so a near-dup is flagged the micro-batch it arrives,
against everything that ever preceded it (within the state horizon).

Scale shape, mirroring the batch operator's contracts:

- state is keyed on the band bucket — the shuffle key — so a
  1000-executor cluster holds 1/1000th of the buckets per executor;
- the fingerprint is the JVM-codegen ``simhash`` column (no Python in
  the per-row path); Python sees one Arrow batch per (bucket x
  micro-batch) and compares against stored members with a vectorized
  SWAR popcount;
- **hot-bucket degradation is explicit**: a bucket that accumulates
  more than ``max_band_population`` members goes quiet — it stops
  emitting and stops growing (a permanently-hot band is duplicate mass
  the exact-dedup stage should have removed; emitting its O(d^2) pairs
  would stall the stream). Same contract as the batch operator's purge,
  expressed as a tombstone because a stream cannot retro-purge;
- an idle-timeout evicts buckets that stop arriving, bounding total
  state (documented at-least-once trade-off: a near-dup arriving after
  its bucket was evicted is missed).

A pair whose documents agree on several bands emits once per agreeing
band (the batch op's ``.distinct()`` has no streaming equivalent across
keys); output carries ``band_idx`` so consumers can de-duplicate per
micro-batch in ``foreachBatch`` if exactly-once pairs matter.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..operators.dedup import simhash

#: per-bucket state: member ids + fingerprints (parallel arrays,
#: capped at max_band_population) and the hot tombstone
_STATE_SCHEMA = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("shs", ArrayType(LongType())),
        StructField("hot", LongType()),
    ]
)

_OUT_SCHEMA = StructType(
    [
        StructField("id_1", LongType()),
        StructField("id_2", LongType()),
        StructField("hamming", IntegerType()),
        StructField("band_idx", IntegerType()),
    ]
)


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit SWAR popcount (numpy < 2.0 has no bitwise_count)."""
    x = x.astype(np.uint64)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(np.int64)


def _make_bucket_fn(max_hamming: int, max_band_population: int, timeout_ms: int):
    def _bucket(
        key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        band_idx = int(key[0])
        if state.exists:
            ids_t, shs_t, hot = state.get
            ids = list(ids_t)
            shs = list(shs_t)
        else:
            ids, shs, hot = [], [], 0
        if hot:
            for _ in pdfs:  # tombstoned bucket: drain, emit nothing
                pass
            state.setTimeoutDuration(timeout_ms)
            return

        out_1: list[int] = []
        out_2: list[int] = []
        out_h: list[int] = []
        arr = np.array(shs, dtype=np.int64)
        for pdf in pdfs:
            # doc_id order: deterministic pair orientation across retries
            pdf = pdf.sort_values("doc_id")
            for doc_id, sh in zip(pdf["doc_id"], pdf["sh"]):
                doc_id, sh = int(doc_id), int(sh)
                if len(ids) > 0:
                    d = _popcount64(arr ^ np.int64(sh))
                    for j in np.nonzero(d <= max_hamming)[0]:
                        a, b = ids[int(j)], doc_id
                        out_1.append(min(a, b))
                        out_2.append(max(a, b))
                        out_h.append(int(d[int(j)]))
                if len(ids) >= max_band_population:
                    hot = 1
                    break
                ids.append(doc_id)
                shs.append(sh)
                arr = np.append(arr, np.int64(sh))
            if hot:
                for _ in pdfs:
                    pass
                break

        if hot:
            # tombstone: drop the member arrays (the cap's worth of
            # state), keep only the flag so the bucket stays quiet
            state.update(([], [], 1))
        else:
            state.update((ids, shs, 0))
        state.setTimeoutDuration(timeout_ms)
        if out_1:
            yield pd.DataFrame(
                {
                    "id_1": out_1,
                    "id_2": out_2,
                    "hamming": out_h,
                    "band_idx": [band_idx] * len(out_1),
                }
            )

    return _bucket


def stream_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    band_bits: int = 16,
    max_hamming: int = 6,
    max_band_population: int = 10_000,
    state_timeout_ms: int = 3_600_000,
) -> DataFrame:
    """Near-dup pairs over a streaming docs frame.

    Output: (id_1, id_2, hamming, band_idx) — id_1 < id_2, emitted the
    micro-batch the later document arrives. Pairs agreeing on k bands
    emit k rows (distinct band_idx); dedup downstream if needed.

    Under ``trigger(availableNow=True)`` or ``once``, set
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` before
    ``start()``: the state's processing-time timeout otherwise makes the
    engine run state-cleanup micro-batches without data, and the query
    never terminates.
    """
    if bits % band_bits != 0:
        raise ValueError(f"band_bits {band_bits} must divide bits {bits}")
    n_bands = bits // band_bits
    sh = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        simhash(F.col(text_col), bits=bits).alias("sh"),
    )
    bands = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("band_idx"),
                        F.shiftright(F.col("sh"), i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "sh", "b.band_idx", "b.band_val")
    return bands.groupBy("band_idx", "band_val").applyInPandasWithState(
        _make_bucket_fn(max_hamming, max_band_population, state_timeout_ms),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
