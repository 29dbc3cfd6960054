"""Entity formation: connected components -> spine rows (operator O13).

The reference creates entities *sequentially*: an unlinked event row is
appended to the in-memory spine, the hash indexes are updated, and the
row is re-linked (guaranteed self-link) — /root/reference/src/
runlinkage.jl:168-176,283-294. Later rows can then link to the entity it
just created, which makes entity membership TRANSITIVE across fuzzy
matches ("a~b" appended first, then "c~b" links to it).

That algorithm is inherently order-dependent and single-threaded. The
Spark-native equivalent is order-free: build the match-pair graph among
unlinked records (same criteria semantics), run connected components, and
make one spine row per component with a deterministic representative
(minimum EventId). BASELINE.json's pairwise-F1 >= 0.99 tolerance exists
exactly for this order-dependence gap; deterministic tie-breaking keeps
the remaining divergence to pathological chains.

``form_entities`` takes one of two paths, both with the same output:

- **Block-local** (the common case). Let K be the exact columns that
  every criterion maps to the same-named spine column (``birthdate``
  for the reference goldens and the F1 gate, ``n_turns`` for
  ``q_linkage_full``). Every match edge joins two records with equal,
  non-null K, so no entity spans two K blocks. One aggregation action
  measures the largest K block in distinct signatures, counts the
  eligible records and checks that EventIds are unique; when the largest
  block holds at most ``_BLOCK_LOCAL_MAX_SIGNATURES`` signatures, the
  records are repartitioned by K and ONE Python call per partition
  (``mapInArrow``) contracts signatures, scores each criterion's pairs
  with the engine's predicate, runs union-find and emits one row per
  record carrying its representative. The spine rows and membership
  links are then two projections of that one checkpointed relation:
  about 5 Spark jobs per call instead of 30-60.
- **Global** (no common key, a block over the cap, or a key column
  type the solver does not compare like Spark): the Spark edge build
  below plus distributed connected components. ``cc_convergence`` and
  ``cc_max_iter`` act only here.

Connected components uses the alternating large-star/small-star
contraction of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14) — O(log^2 n) rounds worst-case, 2-3 rounds on typical
linkage graphs whose components are small and dense. Each round is two
shuffles (groupBy min + join); lineage is cut per round with
localCheckpoint so the plan does not grow exponentially.
``localCheckpoint`` keeps its blocks on the executors that computed
them: it cuts lineage cheaply but is not fault tolerant (a lost
executor fails the job instead of recomputing).
"""

from __future__ import annotations

import os as _os
import time as _time

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from ..config import LinkageCriteria
from ..functions.distances import attach_distance, py_distance

#: Block-local formation scores a block's signature pairs in pure Python,
#: so its cost follows the block's distinct signatures S, not its rows:
#: at most S^2 pairs per criterion. Timed on one block, local[4], 4 shuffle
#: partitions, block-local (with its block measure) vs global, median s of
#: two series: with a criterion keyed on the block key alone and random
#: 5-8 letter names (~20 us per scored pair), 255 signatures 2.3 vs 4.5;
#: 302: 3.5 vs 4.3 and 2.7 vs 4.2; 399: 3.4 vs 3.4 and 4.2 vs 3.2; 497:
#: 6.0 vs 4.6 and 4.7 vs 2.9; 2012: 87 vs 7.6. The cap is the largest size
#: at which block-local won every series. With the benchmark's criteria on
#: generator names (finer exact keys, few pairs) block-local stays ahead
#: far beyond it (20k records / 615 signatures: 0.8 vs 3.3), which the cap
#: gives up. Above it the global Spark path (JVM scoring, distributed CC)
#: runs instead; 0 disables the block-local path.
_BLOCK_LOCAL_MAX_SIGNATURES = 300

#: Records one block-local Python task holds on average: the pass runs on
#: ``max(spark.sql.shuffle.partitions, ceil(eligible records / this))``
#: partitions. The solver's Python heap measured ~1.5 KB per record
#: (tracemalloc, 5k-38k generator records), so ~150 MB per task.
_BLOCK_LOCAL_TASK_ROWS = 100_000

_DUPLICATE_EVENT_ID = (
    "form_entities: duplicate EventId; deduplicate records (dedup_events) "
    "before entity formation"
)

# ---------------------------------------------------------------------------
# Graph node ids: 64-bit ids, 128-bit collision SAFETY
# ---------------------------------------------------------------------------
#
# At the documented 10^12-turn / ~10^9-unique-signature design point a
# 64-bit node-id space has a few-percent birthday probability of at
# least one collision — which would silently merge unrelated records
# into one entity, bypassing all match logic. Running the whole graph on
# 128-bit struct ids closes that, but measured ~60% slower connected
# components (struct keys miss the primitive-key fast paths in every
# groupBy/join of every round). So instead:
#
# - the ONLY hashed node ids in the graph are the global-signature
#   (gsig) ids minted by form_entities; the edge generators themselves
#   (exact_key_edges / match_pairs) are star-contracted onto MIN-EventId
#   representatives computed from the raw columns, so they introduce no
#   hashed ids at all;
# - every gsig node carries TWO independent 64-bit hashes (h1, h2);
#   h1 is the node id;
# - before edge building, form_entities groups the signature relation by
#   h1 and collects the h1 values shared by distinct (h1, h2) pairs
#   (one linear aggregation — no pairwise work). Expected size at 10^9
#   signatures: ~0.03 entries (n^2/2^65) — virtually always empty;
# - colliding nodes (only) are deterministically remapped to
#   xxhash64(h1, h2), restoring uniqueness; everyone else keeps h1, so
#   the hot path pays nothing.
#
# The result is exact: the ids actually used are verified unique over
# the actual node population — including the remapped ids themselves,
# which are re-checked against the population whenever the collision set
# is non-empty (_assert_ids_unique) — so the record->component join-back
# can never silently merge, while CC, the unions, and the distincts all
# run on primitive longs.


def _node_hashes(tag: str, cols: list[Column]) -> tuple[Column, Column]:
    """Two independent 64-bit hashes identifying a synthetic node."""
    return (
        F.xxhash64(F.lit(tag + "#a"), *cols),
        F.xxhash64(F.lit(tag + "#b"), *cols),
    )


def _assert_ids_unique(pop: DataFrame, collide: frozenset[int]) -> None:
    """Verify the FINAL node ids (h1, or xxhash64(h1, h2) for audited
    collisions) are unique over the distinct (h1, h2) node population
    (callers pass an already-distinct relation); raise if a remapped id
    aliases any other node's id."""
    final_id = F.when(
        F.col("h1").isin(*collide), F.xxhash64(F.col("h1"), F.col("h2"))
    ).otherwise(F.col("h1"))
    dups = pop.select(final_id.alias("id")).groupBy("id").agg(
        F.count("*").alias("_n")
    ).filter(F.col("_n") > 1)
    if not dups.isEmpty():
        raise RuntimeError(
            "node-id collision remap produced a non-unique id; "
            "rerun with different criteria tags or report this input"
        )


def _node64(tag: str, cols: list[Column], collide: frozenset[int] = frozenset()) -> Column:
    """Collision-checked 64-bit node id: h1, unless h1 is in the
    (verified, almost always empty) collision set — then xxhash64(h1, h2)."""
    h1, h2 = _node_hashes(tag, cols)
    if not collide:
        return h1
    return F.when(h1.isin(*collide), F.xxhash64(h1, h2)).otherwise(h1)


# ---------------------------------------------------------------------------
# Connected components (large-star / small-star)
# ---------------------------------------------------------------------------


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: for every node u, connect all strictly-larger
    neighbors to min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn"))
    m = F.least(F.col("src"), F.col("_mn")).alias("_m")
    # no distinct here: small_star (always applied next) deduplicates;
    # dropping it saves one full shuffle per round at the cost of carrying
    # ~2x rows into small_star's aggregation
    out = (
        sym.join(mins, "src")
        .select("src", "dst", m)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return out


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: orient edges toward smaller ids; connect each node's
    smaller neighbors (and itself) to the minimum of that set."""
    # no distinct on the oriented edges: duplicates do not change the
    # per-src minimum, and the final distinct below dedupes the output —
    # dropping it saves one full shuffle per CC round
    oriented = edges.filter(F.col("src") != F.col("dst")).select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("_m"))
    e1 = (
        oriented.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    e2 = mins.select(F.col("src"), F.col("_m").alias("dst"))
    return e1.union(e2).filter(F.col("src") != F.col("dst")).distinct()


#: "auto" convergence picks star below this many edges (env
#: SPINELINK_CC_AUTO_STAR_EDGES). Rationale in connected_components.
_CC_AUTO_STAR_EDGES = int(_os.environ.get("SPINELINK_CC_AUTO_STAR_EDGES", "2000000"))

#: "auto" runs the whole graph through ONE single-task union-find stage
#: below this many measured edges (env SPINELINK_CC_SINGLE_TASK_EDGES).
#: Micro-bench (this box): 100k edges = 0.14s, 1M = 2.2s in one Python
#: task, vs >= 0.5s of fixed stage latency PER iterative round (typical
#: graphs need 1-4 rounds) — the crossover sits around a few hundred
#: thousand edges, on a cluster as here (round latency is dominated by
#: scheduling, not shuffle bytes, at these sizes). Above the cap the
#: iterative contraction keeps its distributed guarantees.
_CC_SINGLE_TASK_EDGES = int(_os.environ.get("SPINELINK_CC_SINGLE_TASK_EDGES", "200000"))


def connected_components(
    edges: DataFrame, max_iter: int = 30, convergence: str = "auto"
) -> DataFrame:
    """edges(src, dst) -> components(id, component).

    Node ids may be any orderable type (long is the fast path — struct
    keys measured ~60% slower per round) as long as src and dst agree.
    ``component`` is the minimum node id of each component. Nodes that
    only appear as isolated vertices are the caller's concern (left-join
    + coalesce with their own id).

    ``convergence`` (all sound — the mode only decides WHEN to stop, the
    fixpoint edge set is identical):
    - ``"auto"`` (default, r6): derive the mode from the measured edge
      count at bootstrap — ``star`` when the materialized edge relation
      is small (<= SPINELINK_CC_AUTO_STAR_EDGES, default 2M: there the
      per-round cost is stage latency, not shuffle bytes, and star's
      one-round-earlier stop wins), ``checksum`` when it is large (the
      r5 measurement: a star default cost +36%/+56% on the 26M-turn
      bootstrap because its per-round check shuffles the full edge
      relation while checksum's is a shuffle-free aggregate). The count
      is one cheap job over the already-cached bootstrap RDD — a
      scale-adaptive decision instead of a constant tuned for either
      regime (optimization guide §2).
    - ``"checksum"``/``"star"`` force a mode:
    - ``"checksum"``: stop when (count, bit_xor hash) repeats — a
      shuffle-free single-stage aggregate per round, but always runs one
      confirming round past the fixpoint.
    - ``"star"``: small_star's output orients every edge src > dst, so
      the edge set is a fixpoint iff it is a star forest (no node on
      both sides AND one dst per src). Testing THIS round's output (one
      groupBy over the node roles) stops one full contraction round
      earlier than checksum equality at the cost of a full shuffle per
      check — fewest driver-coordinated rounds, for regimes where round
      count dominates shuffle cost (very long chains, tiny edge sets).
    """
    import os
    import time

    debug = os.environ.get("SPINELINK_CC_DEBUG") == "1"
    t0 = time.time()
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if not isinstance(e.schema["src"].dataType, StructType):
        e = e.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    e = e.localCheckpoint(eager=True)
    if convergence == "auto":
        n_edges = e.count()  # cached RDD — one cheap scan, no shuffle
        if (
            n_edges <= _CC_SINGLE_TASK_EDGES
            and not isinstance(e.schema["src"].dataType, StructType)
        ):
            # r6 tiny-graph tier (guide §2 "scale-adaptive decisions"):
            # the MEASURED edge relation is small enough that one Python
            # union-find task beats any number of iterative rounds of
            # fixed stage latency. Same output contract (one row per
            # node of a non-self-loop edge, component = min node id —
            # union-by-min makes every root the component minimum);
            # equivalence is pinned by test_single_task_matches_iterative.
            if debug:
                print(
                    f"[cc] bootstrap (edge materialization): {time.time() - t0:.2f}s"
                    f" mode=single-task n_edges={n_edges}",
                    flush=True,
                )
            # lazy checkpoint: callers (form_entities) consume the
            # component map in several plan branches; without it every
            # branch would re-run the union-find stage (the iterative
            # path's output is a cheap projection of the per-round
            # checkpointed edges, this one is real work). eager=False
            # costs nothing until first materialized.
            return (
                e.groupBy(F.lit(0).alias("_g"))
                .applyInPandas(_union_find_pdf, "id long, component long")
                .localCheckpoint(eager=False)
            )
        convergence = "star" if n_edges <= _CC_AUTO_STAR_EDGES else "checksum"
    if debug:
        print(
            f"[cc] bootstrap (edge materialization): {time.time() - t0:.2f}s"
            f" mode={convergence}",
            flush=True,
        )

    def _checksum(df: DataFrame) -> tuple[int, int]:
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["c"]), int(row["h"])

    def _has_chains(df: DataFrame) -> bool:
        # Star-forest test, one shuffle. The edge set (small_star output:
        # distinct, src > dst) is a star forest iff BOTH hold:
        #   1. no node appears as src AND dst (no chains), and
        #   2. every src has exactly one dst — a src pointing at two
        #      roots (e.g. {(5,3),(5,1),(7,3)}) passes test 1 but is not
        #      a star forest, and extracting it would emit node 5 into
        #      two components.
        roles = df.select(
            F.col("src").alias("n"), F.lit(1).alias("s"), F.lit(0).alias("d")
        ).union(df.select(F.col("dst").alias("n"), F.lit(0).alias("s"), F.lit(1).alias("d")))
        bad = (
            roles.groupBy("n")
            .agg(F.sum("s").alias("ns"), F.sum("d").alias("nd"))
            .filter(((F.col("ns") > 0) & (F.col("nd") > 0)) | (F.col("ns") > 1))
        )
        return not bad.isEmpty()

    prev = None
    for _round in range(max_iter):
        t0 = time.time()
        e = _large_star(e)
        e = _small_star(e)
        # lazy checkpoint: the convergence action below materializes it,
        # so each round costs exactly one job (plus its shuffles)
        e = e.localCheckpoint(eager=False)
        if convergence == "star":
            done = not _has_chains(e)
        else:
            cur = _checksum(e)
            done = cur == prev
            prev = cur
        if debug:
            print(f"[cc] round {_round}: {time.time() - t0:.2f}s done={done}", flush=True)
        if done:
            break
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")

    # Fixpoint edges form stars (node -> component min). The roots
    # themselves are members of their own component.
    members = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("id"), F.col("dst").alias("component")).distinct()
    return members.union(roots).distinct()


def _union_find_pdf(pdf):
    """Union-find (union-by-min, path-halving) over one pandas edge
    group -> one (id, component) row per node, component = the minimum
    node id (union-by-min keeps the smaller root, so every tree's final
    root IS its component minimum). Shared by :func:`blocked_components`
    (one group per block) and :func:`connected_components`' measured
    tiny-graph tier (a single group)."""
    import pandas as _pd

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in zip(pdf["src"], pdf["dst"]):
        s = int(s)
        d = int(d)
        if s == d:
            continue
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            if rs < rd:
                parent[rd] = rs
            else:
                parent[rs] = rd
    return _pd.DataFrame({"id": list(parent), "component": [find(x) for x in parent]})


def blocked_components(edges: DataFrame, block_col: str) -> DataFrame:
    """Connected components of a graph whose EVERY edge lies within one
    block (src and dst always share ``block_col``, and every node
    belongs to exactly one block — the caller's structural guarantee):
    components can never span blocks, so instead of iterative global
    large-star/small-star rounds, group the edges by block and run
    union-find per block in ONE Arrow stage (r6, guide §8 "use what you
    know that the optimizer does not").

    Output contract matches :func:`connected_components`: one row per
    node that appears in a (non-self-loop) edge, ``component`` = the
    minimum node id of its component. Self-loop edges are dropped, like
    CC's bootstrap filter.

    Scale contract: per-group state is the block's node set, which the
    callers bound by construction (``max_cell_population`` purge for
    quantizer cells, hash-composed block keys for text blocks), and the
    single shuffle is keyed by the block — the same key the pair join
    upstream already used, so AQE's skew handling applies unchanged.
    Graphs whose edges can cross blocks (banded LSH, multi-criteria
    entity formation) must keep :func:`connected_components`.
    """
    e = edges.select(
        F.col(block_col).alias("_blk"),
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    return e.groupBy("_blk").applyInPandas(_union_find_pdf, "id long, component long")


# ---------------------------------------------------------------------------
# Match-pair graph among unlinked records
# ---------------------------------------------------------------------------


def exact_key_edges(
    records: DataFrame, crit: LinkageCriteria, records_distinct_on_key: bool = False
) -> DataFrame:
    """Linear-cost edges for an EXACT-ONLY criterion: every record with a
    complete key connects to the MINIMUM EventId of its key block (one
    groupBy + join back on the raw key columns). Connected components are
    identical to the pairwise version, but edge count is O(n) instead of
    O(sum block^2) — hot blocks (the skew case) cost the same as cold
    ones. This is what makes entity formation survive million-record
    blocks at corpus scale; no purging needed on this path.

    Star-contracted on purpose: an earlier design connected records to a
    synthetic ``xxhash64(key)`` node, which (a) doubled every path length
    through the bipartite record<->keynode graph — measurably more
    large-star/small-star rounds — and (b) required auditing the key-node
    hash population for 64-bit collisions. Grouping on the RAW key
    columns and pointing at the min member removes both: the graph stays
    in record-id space (depth-1 stars per key) and there is no hashed
    node id to collide.

    (Sequential-reference parity: records sharing a complete exact key
    always end in one entity — the first appends, the rest self-link as
    single candidates — so key-grouping is the exact set semantics.)
    """
    keycols = list(crit.exactmatch.keys())
    out = records
    for dc in keycols:
        out = out.filter(F.col(dc).isNotNull())
    if records_distinct_on_key:
        # r6 fast path (caller GUARANTEES records are distinct on the key
        # columns — form_entities' contracted signature relation when the
        # criterion reads every global signature column): each key block
        # has exactly one record, so min(EventId) per block IS the
        # record's own EventId and the groupBy + join-back collapses to
        # the self-loop marker relation — zero shuffles (plan: 2 Exchange
        # -> 0).
        return out.select(F.col("EventId").alias("src"), F.col("EventId").alias("dst"))
    mins = out.groupBy(*keycols).agg(F.min("EventId").alias("dst"))
    # the representative's own (m, m) SELF-LOOP is kept deliberately: it
    # marks the node as participating under this criterion even when its
    # block has a single member — form_entities reads self-loops as
    # "records sharing this node's signature merge" (connected_components
    # itself drops them; standalone callers get pure star edges plus the
    # markers)
    return out.join(mins, keycols).select(F.col("EventId").alias("src"), F.col("dst"))


def match_pairs(
    records: DataFrame,
    crit: LinkageCriteria,
    max_block_signatures: int | None = 10_000,
    records_distinct_on_sig: bool = False,
) -> DataFrame:
    """Match edges among records under one criteria-set, star-contracted:
    ``(src, dst)`` where every node is an EventId (each signature is
    represented by the MINIMUM EventId of its records).

    Semantics being reproduced: record r1 (event role, datacolumn side)
    matches r2 (appended-spine role, spinecolumn side — matching
    append_row_to_spine! column copying, /root/reference/src/
    runlinkage.jl:283-294) iff every exactmatch pair is string-equal and
    every approx distance passes its threshold with total < 1.0.

    Whether a pair matches depends ONLY on the two records' *match
    signatures* — the tuple of every column the criterion reads. So
    instead of scoring record pairs (quadratic in block size: a
    100-conversation entity is ~10^4 pairs, a duplicate-heavy 10^12-turn
    corpus is ~10^9+ and OOMs), score DISTINCT SIGNATURE PAIRS:

    - the signature relation is a groupBy over the raw signature columns
      carrying each signature's MIN EventId ``_m`` (its representative
      node — injective, because records partition by signature);
    - signature pairs within a block are scored once (quadratic only in
      UNIQUE values per block); matched pairs become ``(_m_a, _m_b)``
      edges;
    - a signature that matches ITSELF (the diagonal of the signature
      join) connects all its records through its representative — the
      analogue of exact-duplicate record pairs;
    - records of a PARTICIPATING signature (any surviving self- or
      cross-match edge) each point at their signature's ``_m`` (a
      null-safe equi-join back on the raw columns); records of
      non-participating signatures get no edge, so two records sharing a
      non-self-matching signature (e.g. null approx columns: missing has
      distance 1.0, distances.jl:15-16) are NOT spuriously merged.

    Connected components over this graph are identical to the record-pair
    formulation's components: r1~r2 pairwise iff sig(r1) [self- or
    cross-] matches sig(r2), and every representative lies on a path only
    between records whose signatures match.

    Star-contracted on purpose (same reasoning as exact_key_edges): an
    earlier design used synthetic ``xxhash64(signature)`` nodes, which
    doubled path lengths through the bipartite graph (more CC rounds)
    and required a hash-collision audit over the signature-node
    population. Min-member representatives keep the graph in record-id
    space with nothing new to collide.

    Blocking = the criteria's own exactmatch key. Blocks with more than
    ``max_block_signatures`` DISTINCT signatures are purged from the
    event role — note the unit: unique signatures, not record rows (the
    quadratic driver is unique values; a hot block of one repeated value
    costs O(rows) and needs no purge). Callers tuning thresholds against
    record-count purging (blocking.candidate_pairs' ``max_block_size``)
    should recalibrate: 10_000 signatures is a far larger block than
    10_000 rows.
    """
    if not crit.exactmatch:
        raise ValueError(f"criteria {crit.id}: entity formation requires an exact key")

    exact_dc = list(crit.exactmatch.keys())
    exact_sc = list(crit.exactmatch.values())
    approx_dc = [am.datacolumn for am in crit.approxmatch]
    approx_sc = [am.spinecolumn for am in crit.approxmatch]
    sig_cols = list(dict.fromkeys(exact_dc + exact_sc + approx_dc + approx_sc))

    # one row per distinct signature + its min-EventId representative
    # (GROUP BY groups nulls like the old null-sentinel hashing did).
    # r6 fast path: when the caller GUARANTEES records are already
    # distinct on sig_cols (form_entities' contracted signature relation
    # whenever the criterion reads every global signature column), the
    # groupBy is an identity aggregation — skip its shuffle, and the
    # record->representative join-back at the bottom degenerates to the
    # participating representatives' own self-loops (each signature's
    # only record IS its min). Two exchanges + one record-level null-safe
    # join removed per criterion; the scored candidate join itself is
    # unchanged, so edges are identical.
    if records_distinct_on_sig:
        sigs = records.select(*sig_cols, F.col("EventId").alias("_m"))
    else:
        sigs = records.groupBy(*sig_cols).agg(F.min("EventId").alias("_m"))

    a = sigs.alias("a")
    b = sigs.alias("b")
    for dc in exact_dc:
        a = a.filter(F.col(dc).isNotNull())
    for sc in exact_sc:
        b = b.filter(F.col(sc).isNotNull())

    # block purge on the event-role key, by distinct-signature count
    if max_block_signatures is not None:
        sizes = sigs.groupBy(*exact_dc).agg(F.count("*").alias("_bs"))
        big = sizes.filter(F.col("_bs") > max_block_signatures).select(*exact_dc)
        a = a.join(F.broadcast(big), exact_dc, "left_anti")

    cond = None
    for dc, sc in crit.exactmatch.items():
        c = F.col(f"a.{dc}") == F.col(f"b.{sc}")
        cond = c if cond is None else (cond & c)

    cand = a.join(b, cond, "inner")
    for i, am in enumerate(crit.approxmatch):
        cand = attach_distance(
            cand, am.distancemetric, f"a.{am.datacolumn}", f"b.{am.spinecolumn}", f"_d{i}"
        )
        cand = cand.filter(F.col(f"_d{i}") <= F.lit(am.threshold))
    if crit.approxmatch:
        total = sum((F.col(f"_d{i}") for i in range(len(crit.approxmatch))), F.lit(0.0))
        cand = cand.filter(total < 1.0)

    matched = cand.select(F.col("a._m").alias("x"), F.col("b._m").alias("y"))
    vv = (
        matched.filter(F.col("x") != F.col("y"))
        .select(
            F.least(F.col("x"), F.col("y")).alias("src"),
            F.greatest(F.col("x"), F.col("y")).alias("dst"),
        )
        .distinct()
    )
    # signatures with any surviving edge (self-match or cross-match)
    participating = (
        matched.select(F.col("x").alias("_m"))
        .union(matched.select(F.col("y").alias("_m")))
        .distinct()
    )
    if records_distinct_on_sig:
        # every participating signature has exactly one record — its
        # representative — so the join-back is the identity and the
        # record edges are the participating self-loops themselves
        rec_edges = participating.select(
            F.col("_m").alias("src"), F.col("_m").alias("dst")
        )
        return rec_edges.select("src", "dst").union(vv.select("src", "dst"))
    psigs = sigs.join(participating, "_m", "left_semi").alias("s")
    r = records.alias("r")
    jcond = None
    for c in sig_cols:
        # null-safe: a signature tuple may contain nulls
        eq = F.col(f"r.{c}").eqNullSafe(F.col(f"s.{c}"))
        jcond = eq if jcond is None else (jcond & eq)
    # the representative's own (m, m) SELF-LOOP is kept deliberately: it
    # marks the signature as participating (self-matching) even when it
    # has a single record — form_entities reads self-loops as "records
    # sharing this signature merge"; connected_components drops them
    rec_edges = r.join(psigs, jcond, "inner").select(
        F.col("r.EventId").alias("src"), F.col("s._m").alias("dst")
    )
    return rec_edges.select("src", "dst").union(vv.select("src", "dst"))


def _exact_complete_cond(crit: LinkageCriteria):
    """All exact-key event-side columns non-null — the reference's
    n_hasmissing bookkeeping counts a criterion as 'skipped' only when its
    exact KEY has a missing value (constructkey! early return,
    runlinkage.jl:378-385,220-223)."""
    cond = F.lit(True)
    for c in crit.exactmatch.keys():
        cond = cond & F.col(c).isNotNull()
    return cond


def _full_complete_cond(crit: LinkageCriteria):
    """Exact key AND approx data columns non-null. A freshly appended
    spine row self-links only via a criterion whose approx columns are
    present on both sides (missing vs missing has distance 1.0,
    distances.jl:15-16, which fails any threshold < 1)."""
    cond = _exact_complete_cond(crit)
    for am in crit.approxmatch:
        cond = cond & F.col(am.datacolumn).isNotNull()
    return cond


# ---------------------------------------------------------------------------
# Block-local formation: one Python pass per partition
# ---------------------------------------------------------------------------


def _common_key(criteria: list[LinkageCriteria], schema: StructType) -> list[str]:
    """K: the exact columns every criterion maps to the same-named spine
    column, or [] when there is none or when some compared column would
    not compare in Python as it does in Spark (exact pairs of different
    types, approx columns that are not strings)."""
    if not criteria:
        return []
    key = [
        dc
        for dc, sc in criteria[0].exactmatch.items()
        if dc == sc and all(c.exactmatch.get(dc) == dc for c in criteria[1:])
    ]
    types = {f.name: f.dataType for f in schema.fields}
    for c in criteria:
        if any(types[dc] != types[sc] for dc, sc in c.exactmatch.items()):
            return []
        for am in c.approxmatch:
            if not (
                isinstance(types[am.datacolumn], StringType)
                and isinstance(types[am.spinecolumn], StringType)
            ):
                return []
    return key


def _solve_blocks(batches, spec: dict):
    """mapInArrow body: entity formation over every exact-key block of
    one partition, with the global path's semantics step for step.

    1. records contract to global signatures; each keeps its first
       record by ``(order nulls first, EventId)``;
    2. per criterion: exact-only criteria join every signature with a
       complete data key to the others of that key; fuzzy criteria
       contract to criterion signatures, purge event-role key blocks
       with more than ``max_block_signatures`` of them, and match event
       role ``a`` to spine role ``b`` when the exact pairs are equal and
       every distance passes its threshold with total < 1.0 — matched
       criterion signatures join (and make participating) all their
       global signatures;
    3. union-find; a participating signature's records take the first
       record of its component, every other record is its own entity.

    Yields one row per record: its EventId, its representative's
    EventId and carried columns, whether it IS the representative, and
    its self-link CriteriaId (first criterion by id whose exact and
    approx data columns are all present)."""
    import pyarrow as pa

    cols: dict[str, list] = {c: [] for c in spec["in_cols"]}
    for b in batches:
        for c in cols:
            cols[c].extend(b.column(c).to_pylist())
    eids = cols["EventId"]
    n = len(eids)
    if not n:
        return
    order = cols[spec["order_col"]] if spec["order_col"] else None
    rank = (
        eids
        if order is None
        else [(o is not None, o, e) for o, e in zip(order, eids)]
    )

    # 1. global signature contraction
    gid_of: dict[tuple, int] = {}
    rec_g = [
        gid_of.setdefault(t, len(gid_of))
        for t in zip(*[cols[c] for c in spec["global_cols"]])
    ]
    gsigs = list(gid_of)
    first = [-1] * len(gsigs)
    for i, g in enumerate(rec_g):
        j = first[g]
        if j < 0 or rank[i] < rank[j]:
            first[g] = i

    parent = list(range(len(gsigs)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x: int, y: int) -> None:
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    part = [False] * len(gsigs)
    pos = {c: i for i, c in enumerate(spec["global_cols"])}
    memo: dict[tuple, float] = {}
    max_sigs = spec["max_block_signatures"]

    # 2. edges, criterion by criterion
    for exact, approx in spec["criteria"]:
        a_key = [pos[dc] for dc, _ in exact]
        if not approx:
            head: dict[tuple, int] = {}
            for g, sig in enumerate(gsigs):
                k = tuple(sig[p] for p in a_key)
                if None not in k:
                    part[g] = True
                    union(g, head.setdefault(k, g))
            continue
        sig_pos = list(
            dict.fromkeys(
                a_key
                + [pos[sc] for _, sc in exact]
                + [pos[dc] for dc, _, _, _ in approx]
                + [pos[sc] for _, sc, _, _ in approx]
            )
        )
        members: dict[tuple, list[int]] = {}
        for g, sig in enumerate(gsigs):
            members.setdefault(tuple(sig[p] for p in sig_pos), []).append(g)
        csigs = list(members)
        cp = {p: i for i, p in enumerate(sig_pos)}
        ak = [cp[pos[dc]] for dc, _ in exact]
        bk = [cp[pos[sc]] for _, sc in exact]
        scored = [(cp[pos[dc]], cp[pos[sc]], m, thr) for dc, sc, m, thr in approx]
        sizes: dict[tuple, int] = {}
        if max_sigs is not None:
            for t in csigs:
                k = tuple(t[p] for p in ak)
                sizes[k] = sizes.get(k, 0) + 1
        spine_role: dict[tuple, list[tuple]] = {}
        for t in csigs:
            k = tuple(t[p] for p in bk)
            if None not in k:
                spine_role.setdefault(k, []).append(t)
        matched: set[tuple] = set()
        for ta in csigs:
            k = tuple(ta[p] for p in ak)
            if None in k or (max_sigs is not None and sizes[k] > max_sigs):
                continue
            for tb in spine_role.get(k, ()):
                total = 0.0
                for ia, ib, metric, thr in scored:
                    mk = (metric, ta[ia], tb[ib])
                    d = memo.get(mk)
                    if d is None:
                        d = memo[mk] = py_distance(*mk)
                    if not d <= thr:
                        break
                    total += d
                else:
                    if total < 1.0:
                        matched.add(ta)
                        matched.add(tb)
                        union(members[ta][0], members[tb][0])
        for t in matched:
            ms = members[t]
            for g in ms:
                part[g] = True
                union(g, ms[0])

    # 3. representatives
    comp_first: dict[int, int] = {}
    for g, i in enumerate(first):
        if part[g]:
            r = find(g)
            j = comp_first.get(r)
            if j is None or rank[i] < rank[j]:
                comp_first[r] = i
    rep = [comp_first[find(g)] if part[g] else i for i, g in enumerate(rec_g)]

    checks = [(crit_id, [cols[c] for c in needed]) for crit_id, needed in spec["self_link"]]
    cid = [
        next((c for c, vals in checks if all(v[i] is not None for v in vals)), None)
        for i in range(n)
    ]
    out = {
        "_ev": eids,
        "_rep_event": [eids[r] for r in rep],
        "_is_rep": [r == i for i, r in enumerate(rep)],
        "_cid": cid,
    }
    for c in spec["carry_cols"]:
        src = cols[c]
        out[c] = [src[r] for r in rep]
    yield pa.RecordBatch.from_pydict(out, schema=spec["schema"])


def _block_local_rows(
    eligible: DataFrame,
    criteria: list[LinkageCriteria],
    key_cols: list[str],
    global_cols: list[str],
    carry_cols: list[str],
    order_col: str | None,
    max_block_signatures: int | None,
    n_parts: int,
) -> DataFrame:
    """The lazy block-local relation: ``eligible`` repartitioned into
    ``n_parts`` partitions by the common key ``key_cols`` and solved by
    one :func:`_solve_blocks` call per partition — one row per eligible
    record with columns ``_ev, _rep_event, _is_rep, _cid`` and the
    representative's ``carry_cols``. EventIds must be unique (the
    caller checks): the representative row is marked by EventId."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import BooleanType, IntegerType, StructField

    ev_type = eligible.schema["EventId"].dataType
    out_schema = StructType(
        [
            StructField("_ev", ev_type),
            StructField("_rep_event", ev_type),
            StructField("_is_rep", BooleanType()),
            StructField("_cid", IntegerType()),
        ]
        + [eligible.schema[c] for c in carry_cols]
    )
    spec = {
        "in_cols": list(
            dict.fromkeys(
                ["EventId"] + ([order_col] if order_col else []) + global_cols + carry_cols
            )
        ),
        "order_col": order_col,
        "global_cols": global_cols,
        "carry_cols": carry_cols,
        "max_block_signatures": max_block_signatures,
        "criteria": [
            (
                list(c.exactmatch.items()),
                [(a.datacolumn, a.spinecolumn, a.distancemetric, a.threshold) for a in c.approxmatch],
            )
            for c in criteria
        ],
        "self_link": [
            (c.id, list(c.exactmatch) + [a.datacolumn for a in c.approxmatch])
            for c in sorted(criteria, key=lambda c: c.id)
        ],
        "schema": to_arrow_schema(out_schema),
    }
    return (
        eligible.select(*spec["in_cols"])
        .repartition(n_parts, *key_cols)
        .mapInArrow(lambda it: _solve_blocks(it, spec), out_schema)
    )


def form_entities(
    unlinked: DataFrame,
    criteria: list[LinkageCriteria],
    construct_entityid_from: list[str],
    spine_columns: list[str],
    tablename: str,
    max_block_signatures: int | None = 10_000,
    order_col: str | None = None,
    entity_id_expr: Column | None = None,
    cc_convergence: str = "auto",
    cc_max_iter: int = 30,
) -> tuple[DataFrame, DataFrame]:
    """Create entities from unlinked records -> ``(new_spine_rows, links)``.

    - eligibility: at least one criterion has complete event-side data
      (runlinkage.jl:169: ``n_hasmissing < n_criteria``); rows missing any
      ``construct_entityid_from`` column were already dropped upstream
      (O6, runlinkage.jl:146-151).
    - edges: union of match_pairs over all the table's criteria (a later
      row may join an entity created under any criterion).
    - spine row per component: representative = min EventId;
      ``EntityId = xxhash64(construct_entityid_from...)`` of the
      representative (runlinkage.jl:293) unless ``entity_id_expr``
      supplies a custom expression over the representative's columns
      (e.g. an md5 hex string for oracle portability, or a 128-bit id
      where 64-bit birthday collisions across ~10^9 entities matter);
      ``spine_seq`` = representative EventId (deterministic
      creation-order surrogate for tie-breaks).
    - links: every member -> its component's entity, CriteriaId = first
      criterion with complete data (the guaranteed re-link of
      runlinkage.jl:175).
    - EventIds must be unique, or ValueError: checked in the block
      measure when the criteria share an exact key, otherwise in the
      global path's concurrent audit job.

    The block-local path (module docstring) runs when the criteria share
    an exact key and its largest block holds at most
    ``_BLOCK_LOCAL_MAX_SIGNATURES`` distinct signatures;
    ``cc_convergence`` and ``cc_max_iter`` act only on the global path.
    """
    elig_cond = F.lit(False)
    for c in criteria:
        elig_cond = elig_cond | _exact_complete_cond(c)
    eligible = unlinked.filter(elig_cond)

    # Global-signature contraction: every criterion reads only columns
    # from the union of all criteria's match columns, so records sharing
    # that tuple are interchangeable in the whole match graph. Run the
    # edge generation AND connected components over DISTINCT signatures
    # (one node per unique identity tuple, ~|entities|), then join records
    # back to their signature's component — the iterative part of entity
    # formation becomes independent of record count (10^12 turns contract
    # to the unique-identity space before any O(n^2) or iterative work).
    global_cols: list[str] = []
    for c in criteria:
        for col in (
            list(c.exactmatch.keys())
            + list(c.exactmatch.values())
            + [am.datacolumn for am in c.approxmatch]
            + [am.spinecolumn for am in c.approxmatch]
        ):
            if col not in global_cols:
                global_cols.append(col)
    gs_cols = [F.coalesce(F.col(c), F.lit("\x00")) for c in global_cols]

    # Representative-record struct, defined here because the signature
    # contraction below FUSES the distinct-signature pass with the
    # per-signature representative minimum: one record-level hash
    # aggregation (grouped on the raw signature columns — NULL group
    # keys compare equal, exactly like distinct()) yields both the
    # unique-signature relation and min(m_struct) per signature. The
    # previous shape scanned the record relation twice (distinct, then
    # groupBy(_gs).min(struct)) — the fused pass halves the record-level
    # scan+aggregate work of spine-row materialization, the dominant
    # cost of this phase at the 208M-turn scale. min(struct) ordering
    # equals a row_number window's asc-nulls-first: null fields first.
    rep_cols = [c for c in spine_columns if c != "EntityId" and c in eligible.columns]
    # the representative's columns exposed to entity_id_expr: the spine
    # columns plus construct_entityid_from (the documented contract)
    carry_cols = list(
        dict.fromkeys(
            rep_cols + [c for c in construct_entityid_from if c in eligible.columns]
        )
    )
    order_fields = (
        [F.col(order_col).alias("_o")]
        if order_col and order_col in eligible.columns
        else []
    )
    m_struct = F.struct(
        *order_fields,
        F.col("EventId").alias("_e"),
        *[F.col(c).alias(c) for c in carry_cols],
    )
    entity_id = (
        F.xxhash64(*[F.col(c) for c in construct_entityid_from])
        if entity_id_expr is None
        else entity_id_expr
    )

    key_cols = _common_key(criteria, eligible.schema)
    ids_checked = False
    if key_cols and _BLOCK_LOCAL_MAX_SIGNATURES > 0:
        # one action, three shuffles: the largest K block in distinct
        # global signatures, the eligible record count, and the largest
        # EventId multiplicity. K is part of every signature, so one
        # exchange by K serves both block aggregations.
        blocks = (
            eligible.repartition(*key_cols)
            .groupBy(*global_cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("_s"), F.sum("_n").alias("_n"), F.lit(0).alias("_d"))
        )
        ids = eligible.groupBy("EventId").agg(
            F.lit(0).alias("_s"), F.lit(0).alias("_n"), F.count(F.lit(1)).alias("_d")
        )
        stats = (
            blocks.select("_s", "_n", "_d")
            .unionByName(ids.select("_s", "_n", "_d"))
            .agg(F.max("_s").alias("largest"), F.sum("_n").alias("total"), F.max("_d").alias("dup"))
            .first()
        )
        if (stats["dup"] or 0) > 1:
            raise ValueError(_DUPLICATE_EVENT_ID)
        ids_checked = True
        if (stats["largest"] or 0) <= _BLOCK_LOCAL_MAX_SIGNATURES:
            n_parts = max(
                int(eligible.sparkSession.conf.get("spark.sql.shuffle.partitions")),
                -(-(stats["total"] or 0) // _BLOCK_LOCAL_TASK_ROWS),
            )
            rows = _block_local_rows(
                eligible,
                criteria,
                key_cols,
                global_cols,
                carry_cols,
                order_col if order_fields else None,
                max_block_signatures,
                n_parts,
            ).localCheckpoint(eager=True)
            new_spine = rows.filter(F.col("_is_rep")).select(
                entity_id.alias("EntityId"),
                F.col("_rep_event").alias("spine_seq"),
                *[F.col(c) for c in rep_cols],
            )
            links = rows.filter(F.col("_cid").isNotNull()).select(
                F.lit(tablename).alias("TableName"),
                F.col("_ev").alias("EventId"),
                entity_id.alias("EntityId"),
                F.col("_cid").alias("CriteriaId"),
            )
            return new_spine, links

    # one blocking job: the fused contraction shuffle; everything
    # downstream (audit, edge generation, representatives) reads the
    # cached result
    _t0 = _time.time()
    sig_base = (
        eligible.groupBy(*[F.col(c) for c in global_cols])
        .agg(F.min(m_struct).alias("_m"))
        .localCheckpoint(eager=True)
    )
    sigs_rel = sig_base.select(*global_cols)
    if _os.environ.get("SPINELINK_CC_DEBUG") == "1":
        print(f"[form] signature contraction: {_time.time() - _t0:.2f}s", flush=True)

    # Node-id collision audit over the LINEAR node population (see the
    # node-id note at the top): one aggregation job on the contracted
    # relation; the collected set is expected empty (~n^2/2^65 entries).
    # Since the edge generators are star-contracted (exact_key_edges /
    # match_pairs point records at MIN-EventId representatives computed
    # from the raw columns — no synthetic hashed nodes), the only hashed
    # ids in the graph are the gsig ids themselves, so the audit is one
    # groupBy over the signature relation. A collision is an h1 carried
    # by >= 2 distinct (h1, h2) nodes — countDistinct(h2) per h1 detects
    # that without a separate distinct shuffle.
    gh1, gh2 = _node_hashes("gsig", gs_cols)
    pop = sigs_rel.select(gh1.alias("h1"), gh2.alias("h2"))

    # Run the audit CONCURRENTLY with the optimistic (empty-collide)
    # edge build + connected components: the collision set is empty for
    # all practical inputs (~n^2/2^65 expected entries at the 10^9-node
    # design point), so the optimistic plan is virtually always the
    # final plan and the audit's aggregation job comes off the serial
    # critical path — on a cluster the two jobs share executors; here
    # they share local cores. The audit is joined BEFORE any result is
    # trusted; on the ~never branch the contraction is rebuilt with the
    # remapped ids (discarding the optimistic work).
    audit: dict = {}

    def _run_audit() -> None:
        try:
            # the same thread checks the EventId precondition unless the
            # block measure above did: singleton components are keyed by
            # EventId, so a duplicate would fan its links out across both
            # records' entities
            if not ids_checked and (
                eligible.groupBy("EventId").count().filter(F.col("count") > 1).limit(1).count()
            ):
                raise ValueError(_DUPLICATE_EVENT_ID)
            audit["collide"] = frozenset(
                r["h1"]
                for r in pop.groupBy("h1")
                .agg(F.count_distinct("h2").alias("_n"))
                .filter(F.col("_n") > 1)
                .select("h1")
                .collect()
            )
        except BaseException as exc:  # surfaced on join()
            audit["error"] = exc

    # InheritableThread, not threading.Thread: under PySpark's default
    # pinned-thread mode a raw Python thread pins a JVM thread that is
    # never released when the Python thread exits (one leaked JVM thread
    # per form_entities call in a long-lived driver — multi-table runs,
    # streaming), and job-group/local properties are not inherited, so
    # cancelling the caller's job group would not cancel the audit job.
    audit_thread = InheritableThread(target=_run_audit, daemon=True)
    audit_thread.start()

    def _contract(collide: frozenset[int]) -> tuple[DataFrame, DataFrame]:
        _te = _time.time()
        gs = _node64("gsig", gs_cols, collide)
        eligible_g = eligible.withColumn("_gs", gs)
        gs_records = sigs_rel.withColumn("EventId", _node64("gsig", gs_cols, collide))

        edges = None
        for c in criteria:
            # exact-only criteria: linear min-member key stars (skew-
            # immune); fuzzy criteria: signature-pair scored edges within
            # the exact block, star-contracted to min representatives.
            # r6: gs_records is distinct on the GLOBAL signature tuple by
            # construction, so when this criterion reads every global
            # column the generator's own contraction groupBy + record
            # join-back are identity operations — pass the distinct flag
            # and they are skipped (2-3 exchanges less per criterion;
            # identical edges).
            # exact_key_edges groups on the KEY columns alone, match_pairs
            # on the criterion's full signature tuple — each flag asserts
            # distinctness on exactly the columns its generator groups by
            key_covers = set(c.exactmatch.keys()) == set(global_cols)
            sig_covers = set(
                list(c.exactmatch.keys())
                + list(c.exactmatch.values())
                + [am.datacolumn for am in c.approxmatch]
                + [am.spinecolumn for am in c.approxmatch]
            ) == set(global_cols)
            p = (
                exact_key_edges(gs_records, c, records_distinct_on_key=key_covers)
                if not c.approxmatch
                else match_pairs(
                    gs_records,
                    c,
                    max_block_signatures=max_block_signatures,
                    records_distinct_on_sig=sig_covers,
                )
            )
            # fresh output attributes per union branch: the branches share
            # lineage (all derive from `gs_records`), which trips Catalyst's
            # Union constraint rewriting (NoSuchElementException on a reused
            # attribute id) on Spark 4.1
            p = p.select(F.col("src").alias("src"), F.col("dst").alias("dst"))
            edges = p if edges is None else edges.union(p)
        # no distinct here: cross-criteria duplicate edges do not change
        # any per-node minimum and the first CC round's aggregations
        # absorb them — the distinct would add a full shuffle of the edge
        # relation to the bootstrap for nothing
        edges = edges.localCheckpoint(eager=False)
        if _os.environ.get("SPINELINK_CC_DEBUG") == "1":
            print(f"[form] edge plan build: {_time.time() - _te:.2f}s", flush=True)
        # (id, component) over signatures
        comp = connected_components(edges, max_iter=cc_max_iter, convergence=cc_convergence)
        # self-loops mark PARTICIPATING signatures (self-matching under
        # some criterion) whose node has no real edge — their records
        # must merge with each other (the reference's append-then-self-
        # link), but CC never sees them (it drops self-loops). Add them
        # as their own single-node components; nodes already in a real
        # component are excluded so the map stays one row per node.
        selfpart = (
            edges.filter(F.col("src") == F.col("dst"))
            .select(F.col("src").alias("id"))
            .distinct()
            .join(comp.select("id"), "id", "left_anti")
            .select("id", F.col("id").alias("component"))
        )
        comp = comp.unionByName(selfpart)
        return eligible_g, comp

    _t1 = _time.time()
    eligible_g, comp = _contract(frozenset())
    if _os.environ.get("SPINELINK_CC_DEBUG") == "1":
        print(f"[form] contract (plan build + CC): {_time.time() - _t1:.2f}s", flush=True)
    _t1 = _time.time()
    audit_thread.join()
    if _os.environ.get("SPINELINK_CC_DEBUG") == "1":
        print(f"[form] audit join wait: {_time.time() - _t1:.2f}s", flush=True)
    if "error" in audit:
        raise audit["error"]
    collide = audit["collide"]
    if collide:
        # Re-verify the REMAPPED ids against the full (distinct) node
        # population: xxhash64(h1, h2) could itself (at ~2^-64 per
        # remap) alias an existing h1. Then rebuild the contraction with
        # the remap — only on the ~never branch.
        _assert_ids_unique(pop.distinct(), collide)
        eligible_g, comp = _contract(collide)
    final_collide = collide if collide else frozenset()

    # Records of a signature with NO surviving edge stay singletons —
    # merging them through the bare signature node would diverge from
    # pairwise semantics (e.g. identical records whose only complete
    # criterion fails its fuzzy threshold on a null: missing has distance
    # 1.0, distances.jl:15-16). Component keys are (flag, id) structs so
    # a singleton's EventId can never alias a component's 64-bit node id
    # (they live in different hash populations).
    #
    # Representative record per component: first in natural-key order
    # (the reference's spine row carries the FIRST record's values —
    # append_row_to_spine! copies the appending row, runlinkage.jl:283-294
    # — and 'first' in a distributed scan is defined by the natural key,
    # not file order; EventId breaks any remaining tie). Chosen in
    # SIGNATURE space as a two-level min(struct) — (1) per signature,
    # fused into the contraction aggregation above (the only record-
    # level pass, map-side combine shrinks the shuffle to ~|signatures|
    # rows); (2) per component over the signature minima, signature-
    # level — instead of a row_number window that shuffled AND sorted
    # every record on a struct key (measured ~70% of form_entities wall
    # time on the 208M-turn bootstrap).
    comp_g = comp.withColumnRenamed("id", "_gs")
    comp_struct = F.struct(F.lit(0).alias("s"), F.col("component").alias("v"))
    sig_first = sig_base.withColumn(
        "_gs", _node64("gsig", gs_cols, final_collide)
    ).select("_gs", "_m")
    in_comp = sig_first.join(comp_g, "_gs", "inner")
    rep_rows = (
        in_comp.select(comp_struct.alias("_component"), "_m")
        .groupBy("_component")
        .agg(F.min("_m").alias("_m"))
        .select(
            "_component",
            F.col("_m._e").alias("_rep_event"),
            *[F.col(f"_m.{c}").alias(c) for c in carry_cols],
        )
    )
    # Records of a no-component signature stay PER-RECORD singletons (the
    # pairwise-semantics note above): each becomes its own spine row. The
    # no-component signature set is expected tiny (only fuzzy-only-
    # complete signatures can miss comp — every exact-complete signature
    # at least self-loops), so AQE broadcasts the semi-join probe and the
    # record side never shuffles in the common case.
    sig_out = sig_first.join(comp_g.select("_gs"), "_gs", "left_anti").select("_gs")
    single_rows = eligible_g.join(sig_out, "_gs", "left_semi").select(
        F.struct(F.lit(1).alias("s"), F.col("EventId").alias("v")).alias("_component"),
        F.col("EventId").alias("_rep_event"),
        *[F.col(c) for c in carry_cols],
    )
    rep_rows = rep_rows.unionByName(single_rows)

    new_spine = rep_rows.select(
        entity_id.alias("EntityId"),
        F.col("_rep_event").alias("spine_seq"),
        "_component",
        *[F.col(c) for c in rep_cols],
    )

    # Self-link CriteriaId: first criterion with FULLY complete data
    # (the guaranteed relink of runlinkage.jl:175 succeeds via the first
    # criterion whose exact key AND approx columns are present). Members
    # with no such criterion created/joined a spine row but stay unlinked
    # — a faithful edge case of the reference.
    crit_id = None
    for c in sorted(criteria, key=lambda c: c.id, reverse=True):
        crit_id = F.when(_full_complete_cond(c), F.lit(c.id)).otherwise(
            crit_id if crit_id is not None else F.lit(None)
        )

    # per-record membership — lazy: only callers that consume the links
    # frame pay this record-level join (the production relink path uses
    # its own link_table pass and never executes it)
    members = eligible_g.join(
        in_comp.select("_gs", comp_struct.alias("component")), "_gs", "left"
    ).withColumn(
        "component",
        F.coalesce(
            F.col("component"),
            F.struct(F.lit(1).alias("s"), F.col("EventId").alias("v")),
        ),
    )
    links = (
        members.join(
            new_spine.select("_component", "EntityId"),
            members["component"] == F.col("_component"),
            "inner",
        )
        .withColumn("_cid", crit_id.cast("int"))
        .filter(F.col("_cid").isNotNull())
        .select(
            F.lit(tablename).alias("TableName"),
            "EventId",
            "EntityId",
            F.col("_cid").alias("CriteriaId"),
        )
    )
    return new_spine.drop("_component"), links
