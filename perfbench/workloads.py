"""Seeded inputs for the three workloads, generated once and cached.

Every input is derived from ``--seed`` by the package's deterministic
transcript generator (``sources.synthesize_transcripts``: pure xxhash
expressions, so the same seed gives the same rows). The benchmark then
cuts it into the shapes each workload hands to the program:

- ``bootstrap``: the whole corpus as a transcripts table, empty spine.
- ``incremental``: a given spine made of the canonical rows of 9 in 10
  entities, and the rest of the corpus (every conversation except those
  canonical ones) as the transcripts table.
- ``stream``: the same spine and arrivals as ``incremental``, delivered
  as pre-aggregated record files (one micro-batch each, in conv_id
  order).

The identity fields the oracle needs are parsed here, by the benchmark,
from the generator's identity sentence, so the oracle never depends on
the package's own record extraction.

Inputs live under ``.perfbench/cache/<family>-n<N>-b<batches>-s<seed>/`` in the
checkout; ``meta.json`` is written last and carries the input digest
that keys the oracle cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

#: entities generated per workload family (incremental and stream share
#: one family: the same spine and arrivals)
ENTITIES = {"bootstrap": 4000, "steady": 4000}
FAMILY = {"bootstrap": "bootstrap", "incremental": "steady", "stream": "steady"}
#: spine entities out of every 10 (steady family)
SPINE_TENTHS = 9
#: record files (= micro-batches) of the stream workload
STREAM_BATCHES = 2

TABLE = "transcripts"
IDENTITY = ("firstname", "lastname", "birthdate")
SPINE_COLUMNS = ("EntityId", "spine_seq", *IDENTITY)


@dataclass(frozen=True)
class Inputs:
    workload: str
    dir: Path
    digest: str
    #: conversation records handed to the program
    n_records: int

    @property
    def transcripts(self) -> str:
        return str(self.dir / "transcripts")

    @property
    def spine(self) -> str | None:
        p = self.dir / "spine"
        return str(p) if p.exists() else None

    @property
    def stream_dir(self) -> str:
        return str(self.dir / "records")

    def oracle_records(self) -> tuple[list[dict], list[dict]]:
        """(arriving records, given spine rows) as plain dicts."""
        raw = json.loads((self.dir / "identity.json").read_text())
        return raw["records"], raw["spine"]


def _parse_identity(text: str) -> tuple[str, str, str | None]:
    # "hello my name is <firstname> <lastname> <birthdate|unknown>"
    toks = text.split(" ")
    dob = toks[6]
    return toks[4], toks[5], None if dob == "unknown" else dob


def _write_stream_files(spark, records: list[dict], out: Path) -> None:
    """Arrivals as STREAM_BATCHES parquet files in conv_id order, with
    strictly increasing modification times (the file source orders
    micro-batches by mtime)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    ordered = sorted(records, key=lambda r: r["conv_id"])
    df = spark.createDataFrame(
        [tuple(r[c] for c in ("conv_id", *IDENTITY)) for r in ordered],
        "conv_id string, firstname string, lastname string, birthdate string",
    )
    # the package's surrogate key: xxhash64(tablename, primary key)
    ids = {
        r["conv_id"]: r["EventId"]
        for r in df.select("conv_id", F.xxhash64(F.lit(TABLE), "conv_id").alias("EventId"))
        .collect()
    }
    out.mkdir(parents=True)
    size = -(-len(ordered) // STREAM_BATCHES)
    for i in range(STREAM_BATCHES):
        chunk = ordered[i * size : (i + 1) * size]
        cols = {"EventId": pa.array([ids[r["conv_id"]] for r in chunk], pa.int64())}
        for c in ("conv_id", *IDENTITY):
            cols[c] = pa.array([r[c] for r in chunk], pa.string())
        path = out / f"batch_{i:03d}.parquet"
        pq.write_table(pa.table(cols), path)
        t = 1_600_000_000 + 600 * i
        os.utime(path, (t, t))


def generate(spark, family: str, seed: int, n_entities: int, out: Path) -> None:
    """Write one family's inputs under ``out``."""
    from pyspark.sql import functions as F

    from spinebasedrecordlinkage_jl_spark.sources import synthesize_transcripts

    transcripts, _ = synthesize_transcripts(spark, n_entities=n_entities, seed=seed)
    entity = F.substring("conv_id", 2, 7).cast("long")
    if family == "steady":
        in_spine = F.pmod(F.xxhash64(F.lit(seed), F.lit("spine"), entity), F.lit(10)) < SPINE_TENTHS
        canonical = in_spine & F.col("conv_id").endswith("_0")
    else:
        canonical = F.lit(False)
    transcripts = transcripts.withColumn("_spine", canonical)

    records, spine = [], []
    for r in (
        transcripts.filter(F.col("turn_idx") == 0)
        .select("conv_id", "text", "_spine", entity.alias("entity"))
        .collect()
    ):
        first, last, dob = _parse_identity(r["text"])
        if r["_spine"]:
            eid = int(r["entity"]) + 1
            spine.append(
                {"EntityId": eid, "spine_seq": eid, "firstname": first,
                 "lastname": last, "birthdate": dob}
            )
        else:
            records.append(
                {"conv_id": r["conv_id"], "firstname": first, "lastname": last, "birthdate": dob}
            )
    records.sort(key=lambda r: r["conv_id"])
    spine.sort(key=lambda r: r["EntityId"])

    table = transcripts.filter(~F.col("_spine")).drop("_spine")
    table.write.parquet(str(out / "transcripts"))
    if spine:
        import pyarrow as pa
        import pyarrow.parquet as pq

        (out / "spine").mkdir()
        pq.write_table(
            pa.table(
                {
                    c: pa.array([r[c] for r in spine], pa.int64() if c in ("EntityId", "spine_seq") else pa.string())
                    for c in SPINE_COLUMNS
                }
            ),
            out / "spine" / "part-0.parquet",
        )
        _write_stream_files(spark, records, out / "records")

    (xor, n_turns) = table.select(
        F.bit_xor(F.xxhash64(*table.columns)), F.count(F.lit(1))
    ).first()
    identity = {"records": records, "spine": spine}
    (out / "identity.json").write_text(json.dumps(identity))
    h = hashlib.sha256(f"{family}:{seed}:{xor}:{n_turns}:".encode())
    h.update((out / "identity.json").read_bytes())
    (out / "meta.json").write_text(
        json.dumps({"digest": h.hexdigest()[:16], "n_records": len(records), "n_turns": n_turns})
    )


def load(workload: str, out: Path) -> Inputs:
    meta = json.loads((out / "meta.json").read_text())
    return Inputs(workload, out, meta["digest"], meta["n_records"])


def inputs_dir(cache: Path, workload: str, seed: int) -> Path:
    family = FAMILY[workload]
    return cache / f"{family}-n{ENTITIES[family]}-b{STREAM_BATCHES}-s{seed}"


def ensure_inputs(spark, cache: Path, workload: str, seed: int) -> Inputs:
    """Return the workload's inputs, generating them on the first call
    for this (family, size, seed)."""
    family = FAMILY[workload]
    out = inputs_dir(cache, workload, seed)
    if not (out / "meta.json").exists():
        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        generate(spark, family, seed, ENTITIES[family], out)
    return load(workload, out)
