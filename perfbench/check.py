"""Correctness checks: the per-birthdate-block oracle, pairwise F1,
linked fraction and output digests.

The oracle is ``tests/oracle.py``'s ``sequential_linkage`` (the
reference algorithm, one record at a time), run once per birthdate
block in conv_id order, starting from that block's rows of the given
spine. Every criterion of the benchmark's config matches ``birthdate``
exactly, so a record can only ever probe, or create, spine rows of its
own block: the per-block run is exactly the global run, at a fraction
of its quadratic cost. ``selftest.py`` checks that equality.
"""

from __future__ import annotations

import hashlib
import json
from collections import defaultdict
from pathlib import Path

from spinebasedrecordlinkage_jl_spark.config import ApproxMatch, LinkageCriteria

from .workloads import IDENTITY, TABLE

#: the F1-gate criteria (tests/test_pipeline_f1.py): every criterion
#: blocks exactly on birthdate
CRITERIA = (
    LinkageCriteria(
        id=1,
        tablename=TABLE,
        exactmatch={"firstname": "firstname", "lastname": "lastname", "birthdate": "birthdate"},
    ),
    LinkageCriteria(
        id=2,
        tablename=TABLE,
        exactmatch={"firstname": "firstname", "birthdate": "birthdate"},
        approxmatch=(ApproxMatch("lastname", "lastname", "levenshtein", 0.3),),
    ),
    LinkageCriteria(
        id=3,
        tablename=TABLE,
        exactmatch={"lastname": "lastname", "birthdate": "birthdate"},
        approxmatch=(ApproxMatch("firstname", "firstname", "jarowinkler", 0.35),),
    ),
)
SPINE_COLUMNS = ["EntityId", *IDENTITY]
MIN_F1 = 0.99


def global_oracle(records: list[dict], spine: list[dict]) -> dict[str, object]:
    """conv_id -> entity label from one sequential pass over everything."""
    from tests.oracle import sequential_linkage

    sp = [dict(r, _entity=("s", r["EntityId"])) for r in spine]
    res = sequential_linkage(records, list(CRITERIA), True, list(IDENTITY), SPINE_COLUMNS, spine=sp)
    return {k: ent for k, (ent, _) in res.links.items()}


def block_oracle(records: list[dict], spine: list[dict]) -> dict[str, object]:
    """conv_id -> entity label, one sequential pass per birthdate block.
    Records without a birthdate are dropped by the reference (a
    construct_entityid_from column is missing), so they have no block."""
    from tests.oracle import sequential_linkage

    recs, rows = defaultdict(list), defaultdict(list)
    for r in records:
        if r["birthdate"] is not None:
            recs[r["birthdate"]].append(r)
    for r in spine:
        rows[r["birthdate"]].append(dict(r, _entity=("s", r["EntityId"])))
    labels: dict[str, object] = {}
    for dob in sorted(recs):
        block = sorted(recs[dob], key=lambda r: r["conv_id"])
        res = sequential_linkage(block, list(CRITERIA), True, list(IDENTITY), SPINE_COLUMNS, spine=rows[dob])
        for conv, (ent, _) in res.links.items():
            # new entities are numbered per block; qualify them
            labels[conv] = ent if isinstance(ent, tuple) else ("n", dob, ent)
    return labels


def cached_oracle(inputs) -> dict:
    """Oracle labels plus the eligible-record count, cached next to the
    inputs and keyed by their digest."""
    path = inputs.dir / "oracle.json"
    if path.exists():
        cached = json.loads(path.read_text())
        if cached["digest"] == inputs.digest:
            return cached
    records, spine = inputs.oracle_records()
    labels = block_oracle(records, spine)
    eligible = sum(all(r[c] is not None for c in IDENTITY) for r in records)
    out = {
        "digest": inputs.digest,
        "labels": {k: json.dumps(v) for k, v in labels.items()},
        "eligible": eligible,
    }
    path.write_text(json.dumps(out))
    return out


def score(oracle: dict, got: dict[str, int]) -> dict[str, float]:
    """F1 against the oracle, our linked fraction, and the oracle's."""
    from tests.oracle import pairwise_f1

    eligible = max(oracle["eligible"], 1)
    return {
        "pairwise_f1": pairwise_f1(oracle["labels"], got),
        "linked_frac": len(got) / eligible,
        "oracle_linked_frac": len(oracle["labels"]) / eligible,
    }


def passes(s: dict[str, float]) -> bool:
    """The gate: F1 >= 0.99 and a linked fraction within 1% of the
    oracle's (pairwise F1 alone ignores records only one side linked)."""
    return s["pairwise_f1"] >= MIN_F1 and abs(s["linked_frac"] - s["oracle_linked_frac"]) <= 0.01


def frame_digest(df) -> str:
    """Order-free digest of a frame: bit_xor of a row hash, plus the
    row count."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    xor, n = df.select(F.bit_xor(F.xxhash64(*cols)), F.count(F.lit(1))).first()
    return f"{(xor or 0) & 0xFFFFFFFFFFFFFFFF:016x}/{n}"


def code_digest(package: Path) -> str:
    """Hash of the package sources: outputs of the same code and inputs
    must repeat across runs."""
    h = hashlib.sha256()
    for p in sorted(package.rglob("*.py")):
        h.update(p.relative_to(package).as_posix().encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def repeats_across_runs(inputs, workload: str, code: str, digest: str) -> bool:
    """Record this run's output digest for (workload, inputs, code); false
    when an earlier run of the same code on the same inputs disagreed."""
    path = inputs.dir / f"output-{workload}-{code}.txt"
    if path.exists():
        return path.read_text() == digest
    path.write_text(digest)
    return True
