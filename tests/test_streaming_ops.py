"""Streaming custom stateful dedup (applyInPandasWithState) + streaming
linkage via foreachBatch — availableNow end-to-end over parquet dirs."""

from pyspark.sql import functions as F

import pytest

from spinebasedrecordlinkage_jl_spark.config import ApproxMatch, LinkageCriteria
from spinebasedrecordlinkage_jl_spark.streaming.dedup import stream_exact_dedup
from spinebasedrecordlinkage_jl_spark.streaming.linkage import (
    stream_link_and_form,
    stream_link_to_spine,
)

DOC_SCHEMA = "doc_id long, text string"


def _order_batches(in_dir):
    """Spark's file source orders micro-batches by file MODIFICATION
    TIME; under load two appends can land in the same timestamp and the
    batch order flips. Call the returned function after EACH append to
    pin that batch's files strictly later than the previous batch."""
    import os
    from pathlib import Path

    seen: set = set()
    counter = [0]

    def next_batch():
        t = 1_600_000_000 + counter[0] * 600
        for f in sorted(Path(in_dir).glob("*.parquet")):
            if f.name not in seen:
                os.utime(f, (t, t))
                seen.add(f.name)
        counter[0] += 1

    return next_batch


def _run_available_now(spark, start):
    """Start an ``availableNow`` query via ``start()`` and wait until it
    finishes by itself. No-data micro-batches are disabled for it: the
    ``applyInPandasWithState`` operators' processing-time timeouts
    otherwise keep the query running state-cleanup batches forever. The
    query is stopped whatever happens, so none outlives its test."""
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        q = start()
        try:
            assert q.awaitTermination(120), "streaming query did not finish"
        finally:
            q.stop()
    finally:
        spark.conf.set(key, prev)


def test_stream_exact_dedup_first_wins(spark, tmp_path):
    in_dir = str(tmp_path / "docs")
    stamp = _order_batches(in_dir)
    # two batches of files with duplicates within and across batches
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma")], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stamp()
    spark.createDataFrame(
        [(5, "beta"), (6, "delta"), (7, "alpha")], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stamp()

    stream = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(in_dir)
    out_dir = str(tmp_path / "out")
    _run_available_now(
        spark,
        lambda: stream_exact_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
    )

    got = {r["text"]: r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    # one row per distinct text, lowest doc_id wins
    assert got == {"alpha": 1, "beta": 2, "gamma": 4, "delta": 6}


def test_stream_link_to_spine(spark, tmp_path):
    spine = spark.createDataFrame(
        [(100, 100, "john", "smith"), (200, 200, "mary", "jones")],
        "EntityId long, spine_seq long, firstname string, lastname string",
    )
    crits = [
        LinkageCriteria(
            id=1, tablename="t", exactmatch={"firstname": "firstname", "lastname": "lastname"}
        ),
        LinkageCriteria(
            id=2,
            tablename="t",
            exactmatch={"firstname": "firstname"},
            approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.35),),
        ),
    ]
    in_dir = str(tmp_path / "records")
    spark.createDataFrame(
        [
            (1, "john", "smith"),   # exact -> crit 1
            (2, "mary", "jonez"),   # fuzzy -> crit 2
            (3, "paul", "brown"),   # no match
        ],
        "EventId long, firstname string, lastname string",
    ).coalesce(1).write.mode("append").parquet(in_dir)

    stream = spark.readStream.schema(
        "EventId long, firstname string, lastname string"
    ).parquet(in_dir)

    batches = []

    def sink(links, epoch_id):
        batches.append((epoch_id, {tuple(r) for r in links.collect()}))

    q = stream_link_to_spine(
        stream, spine, crits, "t", sink,
        checkpoint_dir=str(tmp_path / "ck2"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    all_links = set().union(*(s for _, s in batches))
    assert all_links == {
        ("t", 1, 100, 1),
        ("t", 2, 200, 2),
    }


def test_stream_spine_refresh_links_new_entities(spark, tmp_path):
    """A record unlinked in run 1 links in run 2 after the batch
    entity-formation job grows the spine parquet — spine_refresh re-reads
    it per micro-batch, so the streaming query picks up new entities
    without being rebuilt against a new frozen frame."""
    spine_dir = str(tmp_path / "spine")
    spark.createDataFrame(
        [(100, 100, "john", "smith")],
        "EntityId long, spine_seq long, firstname string, lastname string",
    ).write.mode("overwrite").parquet(spine_dir)

    crits = [
        LinkageCriteria(
            id=1, tablename="t", exactmatch={"firstname": "firstname", "lastname": "lastname"}
        ),
    ]
    in_dir = str(tmp_path / "records")
    schema = "EventId long, firstname string, lastname string"
    spark.createDataFrame(
        [(1, "john", "smith"), (2, "ada", "lovelace")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    results: dict[int, set] = {}

    def sink(links, epoch_id):
        results.setdefault(epoch_id, set()).update(tuple(r) for r in links.collect())

    def start():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = stream_link_to_spine(
            stream, None, crits, "t", sink,
            checkpoint_dir=str(tmp_path / "ck"),
            trigger={"availableNow": True},
            spine_refresh=lambda: spark.read.parquet(spine_dir),
        )
        q.awaitTermination(120)

    start()
    linked_ids = {e for s in results.values() for (_, e, *_rest) in s}
    assert linked_ids == {1}  # ada has no entity yet

    # the periodic batch entity-formation job appends ada's entity...
    spark.createDataFrame(
        [(100, 100, "john", "smith"), (200, 200, "ada", "lovelace")],
        "EntityId long, spine_seq long, firstname string, lastname string",
    ).write.mode("overwrite").parquet(spine_dir)
    # ...and new records arrive
    spark.createDataFrame(
        [(3, "ada", "lovelace")], schema
    ).coalesce(1).write.mode("append").parquet(in_dir)

    results.clear()
    start()  # same checkpoint dir: only the new file is processed
    all_links = {lk for s in results.values() for lk in s}
    assert all_links == {("t", 3, 200, 1)}


def test_stream_link_and_form_entities_across_batches(spark, tmp_path):
    """Batch 1: john links to the existing spine; ada+adda (fuzzy twins)
    form ONE new entity inside the batch. Batch 2: another ada record
    links to the entity formed in batch 1 without any external refresh."""
    spine = spark.createDataFrame(
        [(100, 100, "john", "smith")],
        "EntityId long, spine_seq long, firstname string, lastname string",
    )
    crits = [
        LinkageCriteria(
            id=1, tablename="t", exactmatch={"lastname": "lastname"},
            approxmatch=(ApproxMatch("firstname", "firstname", "levenshtein", 0.35),),
        ),
    ]
    schema = "EventId long, firstname string, lastname string"
    in_dir = str(tmp_path / "records")
    stamp = _order_batches(in_dir)
    # batch 1 (one file): a spine hit + two fuzzy twins with no entity
    spark.createDataFrame(
        [(1, "john", "smith"), (2, "ada", "lovelace"), (3, "adda", "lovelace")],
        schema,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stamp()
    # batch 2 (second file): matches the entity batch 1 must have formed
    spark.createDataFrame([(4, "ada", "lovelace")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stamp()

    links: dict[int, set] = {}
    spine_rows: dict[int, list] = {}

    def links_sink(df, epoch_id):
        links.setdefault(epoch_id, set()).update(tuple(r) for r in df.collect())

    def spine_sink(df, epoch_id):
        spine_rows.setdefault(epoch_id, []).extend(df.collect())

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    q = stream_link_and_form(
        stream, spine, crits, "t", links_sink, spine_sink,
        checkpoint_dir=str(tmp_path / "ck"),
        construct_entityid_from=["firstname", "lastname"],
        spine_columns=["EntityId", "firstname", "lastname"],
        order_col="EventId",
        trigger={"availableNow": True},
    )
    q.awaitTermination(180)

    all_links = {lk for s in links.values() for lk in s}
    by_event = {e: ent for (_, e, ent, _) in all_links}
    assert by_event[1] == 100  # spine hit
    # the fuzzy twins share one NEW entity, formed inside batch 1
    assert by_event[2] == by_event[3] != 100
    # batch 2's record linked to that same entity — state carried across
    assert by_event[4] == by_event[2]
    # exactly one new spine row was emitted, in the first batch
    new_rows = [r for rows in spine_rows.values() for r in rows]
    assert len(new_rows) == 1 and new_rows[0]["EntityId"] == by_event[2]
    # representative = first record in order_col order (ada, EventId 2)
    assert new_rows[0]["firstname"] == "ada"


def test_stream_link_and_form_requires_spine_or_refresh(spark, tmp_path):
    with pytest.raises(ValueError, match="spine_refresh"):
        stream_link_and_form(
            None, None, [], "t", lambda d, e: None, lambda d, e: None,
            checkpoint_dir=str(tmp_path / "ck"),
            construct_entityid_from=["a"], spine_columns=["EntityId", "a"],
        )


def test_stream_neardup_pairs_across_batches(spark, tmp_path):
    from spinebasedrecordlinkage_jl_spark.streaming.neardup import stream_neardup_pairs

    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    near = base.replace("yard", "yurd")  # few-shingle perturbation
    far = "completely unrelated text about spark structured streaming state stores"
    in_dir = str(tmp_path / "docs")
    stamp = _order_batches(in_dir)
    spark.createDataFrame([(1, base), (2, far)], DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stamp()
    spark.createDataFrame([(3, near), (4, base)], DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stamp()

    stream = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(in_dir)
    out_dir = str(tmp_path / "out")
    _run_available_now(
        spark,
        lambda: stream_neardup_pairs(stream, max_hamming=10)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
    )

    rows = spark.read.parquet(out_dir).collect()
    pairs = {(r["id_1"], r["id_2"]) for r in rows}
    # near-dups found across AND within micro-batches; the unrelated doc
    # never pairs
    assert (1, 3) in pairs and (1, 4) in pairs and (3, 4) in pairs
    assert not any(2 in p for p in pairs)
    # identical docs: hamming 0, and every band agrees (4 bands at 64/16)
    exact = [r for r in rows if (r["id_1"], r["id_2"]) == (1, 4)]
    assert {r["hamming"] for r in exact} == {0}
    assert len({r["band_idx"] for r in exact}) == 4


def test_stream_neardup_hot_bucket_tombstone(spark, tmp_path):
    from spinebasedrecordlinkage_jl_spark.streaming.neardup import stream_neardup_pairs

    text = "identical duplicate heavy text that lands in one bucket every time"
    in_dir = str(tmp_path / "docs")
    stamp = _order_batches(in_dir)
    spark.createDataFrame(
        [(i, text) for i in range(1, 6)], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stamp()
    # second batch arrives after the bucket went hot (cap=3)
    spark.createDataFrame([(10, text), (11, text)], DOC_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    stamp()

    stream = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(in_dir)
    out_dir = str(tmp_path / "out")
    _run_available_now(
        spark,
        lambda: stream_neardup_pairs(stream, max_hamming=3, max_band_population=3)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start(),
    )

    rows = spark.read.parquet(out_dir).collect()
    # population hits the cap at doc 4: docs 1-3 stored, pairs for doc 4
    # emitted against them, then the bucket tombstones — docs 5, 10, 11
    # emit nothing (bounded state instead of O(d^2) pair mass)
    pairs = {(r["id_1"], r["id_2"]) for r in rows if r["band_idx"] == 0}
    assert pairs == {(1, 2), (1, 3), (2, 3), (1, 4), (2, 4), (3, 4)}
    assert not any(r["id_1"] in (5, 10, 11) or r["id_2"] in (5, 10, 11) for r in rows)


def test_stream_transcripts_json_tail_matches_parquet(spark, tmp_path):
    """Tailing JSONL log drops produces the same session-window records
    as the parquet landing-table path — same declared schema, no
    streaming inference."""
    from spinebasedrecordlinkage_jl_spark.sources import synthesize_transcripts
    from spinebasedrecordlinkage_jl_spark.streaming.records import (
        stream_conversation_records,
        stream_transcripts,
    )

    turns, _ = synthesize_transcripts(spark, n_entities=12, seed=3)
    pq_dir = str(tmp_path / "pq")
    jl_dir = str(tmp_path / "jl")
    turns.coalesce(2).write.parquet(pq_dir)
    spark.read.parquet(pq_dir).coalesce(2).write.json(jl_dir)

    def run(fmt, in_dir, tag):
        out = str(tmp_path / f"out_{tag}")
        q = (
            stream_conversation_records(stream_transcripts(spark, in_dir, fmt=fmt))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(
            (r["conv_id"], r["n_turns"], r["first_text"], r["norm_text"])
            for r in spark.read.parquet(out).collect()
        )

    assert run("json", jl_dir, "j") == run("parquet", pq_dir, "p") != []


def test_stream_transcripts_rejects_unknown_fmt(spark, tmp_path):
    from spinebasedrecordlinkage_jl_spark.streaming.records import stream_transcripts

    with pytest.raises(ValueError, match="unsupported fmt"):
        stream_transcripts(spark, str(tmp_path), fmt="xml")


def test_stream_dedup_incremental_with_index_refresh(spark, tmp_path):
    """Two micro-batches against a history index that is refreshed
    between them: batch-2 sees batch-1's accepted content as history."""
    from spinebasedrecordlinkage_jl_spark.operators.dedup import build_dedup_index
    from spinebasedrecordlinkage_jl_spark.streaming.dedup import (
        stream_dedup_incremental,
    )

    hist_dir = str(tmp_path / "hist")
    in_dir = str(tmp_path / "in")
    out: dict[int, dict] = {}

    hist0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")], DOC_SCHEMA
    )
    hist0.coalesce(1).write.parquet(hist_dir)

    stamp = _order_batches(in_dir)
    # batch 1: one exact dup of history, one novel
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),
         (11, "completely fresh text about telescopes and lenses")],
        DOC_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stamp()
    # batch 2: exact dup of batch-1's NOVEL doc -> only caught if the
    # index refresh picked it up
    spark.createDataFrame(
        [(20, "completely fresh text about telescopes and lenses")], DOC_SCHEMA
    ).coalesce(1).write.mode("append").parquet(in_dir)
    stamp()

    def index_refresh():
        return build_dedup_index(spark.read.parquet(hist_dir))

    def sink(flags, epoch_id):
        rows = {r["doc_id"]: r for r in flags.collect()}
        out[len(out)] = rows
        # accept the batch's novel docs into history (the production
        # append step this operator's refresh contract exists for)
        novel_ids = [d for d, r in rows.items() if r["novel"] == 1]
        if novel_ids:
            batch_docs = spark.read.parquet(in_dir).filter(
                F.col("doc_id").isin(novel_ids)
            )
            batch_docs.coalesce(1).write.mode("append").parquet(hist_dir)

    stream = (
        spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = stream_dedup_incremental(
        stream, sink, str(tmp_path / "ck"), index_refresh,
        trigger={"availableNow": True},
    )
    # Generous deadline + assert on the RETURN VALUE: under full-suite
    # contention a fixed short wait can expire before batch 2, making the
    # batch-count assertion below flake. availableNow terminates the query
    # once the start-time snapshot is drained, so a True return means both
    # stamped files were processed.
    terminated = q.awaitTermination(480)
    if not terminated:
        q.stop()
    assert terminated, "availableNow stream did not drain within 480s"

    assert len(out) == 2
    b1, b2 = out[0], out[1]
    assert b1[10]["exact_dup"] == 1 and b1[11]["novel"] == 1
    # batch 2's doc matches batch-1's accepted novel content via refresh
    assert b2[20]["exact_dup"] == 1 and b2[20]["novel"] == 0
