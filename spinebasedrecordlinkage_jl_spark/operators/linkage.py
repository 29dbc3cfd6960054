"""Criteria passes: link event records to the spine (operators O9-O12).

Reference semantics being reproduced (SURVEY.md §2.4/§2.5, all from
/root/reference/src/runlinkage.jl):

- O9  exact probe: string equality on every (datacolumn -> spinecolumn)
  pair; any missing event-side key value skips the criterion for that row
  (runlinkage.jl:378-385). SQL ``=`` inside an inner equi-join is
  null-rejecting, which implements the skip exactly.
- O10 approx scoring: every ApproxMatch must individually satisfy
  ``d <= threshold`` (runlinkage.jl:259-268).
- O11 best candidate: argmin of the SUM of distances; ties -> earliest
  spine row (strict ``>=`` rejection at runlinkage.jl:271); total distance
  must additionally be < 1.0 (initialization artifact,
  runlinkage.jl:255,271). Exact-only criteria: link iff EXACTLY ONE
  candidate (ambiguity rejection, runlinkage.jl:250-252).
- O12 first-criteria-wins: criteria are tried in config order and the
  first satisfied one wins (runlinkage.jl:216,240).

Execution strategy (Spark-first, not a port): because the spine is FROZEN
during a table's link step (entity creation is a separate stage — see
spine.py), every criteria pass depends only on (events, spine). So all
passes are built as ONE lazy DAG — per-criteria broadcast-hash-joins
unioned together — and first-criteria-wins becomes a single window
``row_number() over (partition by EventId order by CriteriaId) = 1``.
Catalyst schedules the per-criteria joins concurrently; there is no
driver-side barrier between criteria. The spine side is explicitly
broadcast (it is orders of magnitude smaller than the event table), so
the event table is never shuffled at all during linkage — the only wide
exchange is the final window, partitioned by the high-cardinality
EventId.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import LinkageCriteria
from ..functions.distances import attach_distance

LINK_COLUMNS = ("TableName", "EventId", "EntityId", "CriteriaId")


def _spine_alias(spine: DataFrame, broadcast: bool | None) -> DataFrame:
    """broadcast=True forces the hint, False/None leave the join strategy
    to Catalyst/AQE (right when spine size is comparable to the event
    side, e.g. the bootstrap relink against a fresh full-corpus spine —
    a forced broadcast there serializes N driver-side hash-table builds)."""
    return F.broadcast(spine) if broadcast else spine


def _criteria_candidates(
    events: DataFrame,
    spine: DataFrame,
    crit: LinkageCriteria,
    broadcast_spine: bool | None,
) -> DataFrame:
    """The candidate relation of one criteria-set, threshold-filtered:
    one row per surviving (event, spine) candidate with the selection
    keys ``(EventId, EntityId, _total, _seq)``. ``_total`` is 0.0 and
    ``_seq`` a constant for exact-only criteria (the ambiguity-rejection
    COUNT, not an ordering, decides those — and a spine without
    ``spine_seq`` keeps working for exact-only passes, as before r6)."""
    ev = events.alias("ev")
    sp = _spine_alias(spine, broadcast_spine).alias("sp")

    if not crit.exactmatch:
        raise ValueError(
            f"criteria {crit.id}: approx-only criteria would require a full "
            "cross join of events x spine; the reference always blocks on at "
            "least one exact key and so do we"
        )

    cond = None
    for dc, sc in crit.exactmatch.items():
        c = F.col(f"ev.{dc}") == F.col(f"sp.{sc}")
        cond = c if cond is None else (cond & c)

    cand = ev.join(sp, cond, "inner")

    if crit.approxmatch:
        total = F.lit(0.0)
        for i, am in enumerate(crit.approxmatch):
            # levenshtein scores inline (JVM codegen); pandas metrics
            # score directly through the Arrow kernel, whose
            # worker-lifetime memo absorbs the massive value repetition
            # of linkage columns (attach_distance's dedup=True distinct-
            # pair path is deliberately NOT used here: it evaluates the
            # candidate join twice, which costs more than the memoized
            # direct pass).
            cand = attach_distance(
                cand,
                am.distancemetric,
                f"ev.{am.datacolumn}",
                f"sp.{am.spinecolumn}",
                f"_d{i}",
            )
            total = total + F.col(f"_d{i}")
        cand = cand.withColumn("_total", total)
        # per-column thresholds (all must pass) + the <1.0 total rule
        for i, am in enumerate(crit.approxmatch):
            cand = cand.filter(F.col(f"_d{i}") <= F.lit(am.threshold))
        cand = cand.filter(F.col("_total") < 1.0)
        seq = F.col("sp.spine_seq")
    else:
        cand = cand.withColumn("_total", F.lit(0.0))
        seq = F.lit(0).cast("long")

    return cand.select(
        F.col("ev.EventId").alias("EventId"),
        F.col("sp.EntityId").alias("EntityId"),
        F.col("_total").alias("_total"),
        seq.alias("_seq"),
    )


def criteria_pass(
    events: DataFrame,
    spine: DataFrame,
    crit: LinkageCriteria,
    broadcast_spine: bool | None = True,
) -> DataFrame:
    """One criteria-set -> candidate links ``(EventId, EntityId, CriteriaId)``.

    ``events`` needs ``EventId`` + the criteria's data columns; ``spine``
    needs ``EntityId``, ``spine_seq`` (deterministic creation-order
    surrogate used for tie-breaking) + the criteria's spine columns.

    Selection is ONE map-side-combinable hash aggregation per event (r6,
    guide §2.3 "aggregate before you shuffle") instead of the previous
    Exchange+Sort+Window:

    - fuzzy: best candidate = ``min(struct(_total, spine_seq, EntityId))``
      — struct comparison is lexicographic and field-wise identical to
      the old window's ``ORDER BY _total ASC, spine_seq ASC, EntityId
      ASC`` ``row_number()=1`` pick (all three fields are non-null here;
      NaN ordering is the same in both paths), so the selected row is
      identical while the shuffle carries one partially-aggregated row
      per (event, candidate-batch) instead of every candidate;
    - exact-only: ambiguity rejection = ``count(*)==1`` per event (the
      old COUNT window), with ``min(EntityId)`` trivially the unique
      candidate's id.
    """
    cand = _criteria_candidates(events, spine, crit, broadcast_spine)
    agg = cand.groupBy("EventId").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(F.struct("_total", "_seq", "EntityId")).alias("_b"),
    )
    if not crit.approxmatch:
        agg = agg.filter(F.col("_n") == 1)
    return agg.select(
        "EventId",
        F.col("_b.EntityId").alias("EntityId"),
        F.lit(crit.id).alias("CriteriaId"),
    )


def link_table(
    events: DataFrame,
    spine: DataFrame,
    criteria: list[LinkageCriteria],
    tablename: str,
    broadcast_spine: bool | None = True,
) -> DataFrame:
    """All criteria passes for one table, first-criteria-wins (O12).

    Returns the links frame ``(TableName, EventId, EntityId, CriteriaId)``
    (/root/reference/src/runlinkage.jl:61 shape). Built as a single lazy
    plan: the per-criteria candidate relations (all map-side — the spine
    side is broadcast) are unioned and selected by TWO hash aggregations
    (r6, guide §2.3/§2.4): per (EventId, CriteriaId) the criterion's own
    pick (fuzzy argmin / exact-only ambiguity count), then per EventId
    the lowest surviving CriteriaId. Replaces one Exchange+Sort+Window
    per fuzzy criterion plus the final first-criteria-wins window (3
    exchanges, 3 sorts for the 2-criteria config) with 2 exchanges and
    no sorts, both with partial map-side aggregation; the second
    exchange carries exactly one row per (event, criterion).
    """
    if not criteria:
        raise ValueError(f"no criteria for table {tablename}")
    ids = [c.id for c in criteria]
    if len(set(ids)) != len(ids):
        # the selection groups by (EventId, CriteriaId): a shared id
        # would pool two criteria's candidate sets
        raise ValueError(f"duplicate criteria ids for table {tablename}: {sorted(ids)}")
    allc = None
    for c in criteria:
        cand = _criteria_candidates(events, spine, c, broadcast_spine).select(
            "EventId",
            F.lit(c.id).alias("CriteriaId"),
            "EntityId",
            "_total",
            "_seq",
            F.lit(bool(c.approxmatch)).alias("_fuzzy"),
        )
        allc = cand if allc is None else allc.unionByName(cand)

    per_crit = (
        allc.groupBy("EventId", "CriteriaId")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("_total", "_seq", "EntityId")).alias("_b"),
            F.first("_fuzzy").alias("_fuzzy"),
        )
        # fuzzy: argmin always links; exact-only: only an unambiguous
        # (single-candidate) event links — identical to the old per-
        # criterion window filters
        .filter(F.col("_fuzzy") | (F.col("_n") == 1))
    )
    sel = per_crit.groupBy("EventId").agg(
        F.min(F.struct("CriteriaId", F.col("_b.EntityId").alias("EntityId"))).alias("_s")
    )
    return sel.select(
        F.lit(tablename).alias("TableName"),
        "EventId",
        F.col("_s.EntityId").alias("EntityId"),
        F.col("_s.CriteriaId").alias("CriteriaId"),
    )


def valid_events(
    events: DataFrame,
    pk_cols: list[str],
    entityid_cols: list[str] | None = None,
) -> DataFrame:
    """Row-validity filter (O6, runlinkage.jl:136-154): drop rows missing
    any primary-key column, and — when entity creation is enabled — rows
    missing any construct_entityid_from column are still *linkable* but
    not *spine-appendable*; the caller applies the second filter only at
    entity-formation time."""
    out = events
    for c in pk_cols:
        out = out.filter(F.col(c).isNotNull())
    if entityid_cols:
        for c in entityid_cols:
            out = out.filter(F.col(c).isNotNull())
    return out


def dedup_events(events: DataFrame, order_col: str = "conv_id") -> DataFrame:
    """O7: first occurrence of each EventId wins. The reference's "file
    order" does not exist in a distributed scan, so order is defined by a
    deterministic column (default: the natural key)."""
    w = Window.partitionBy("EventId").orderBy(F.col(order_col).asc())
    return events.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
