"""Graph layer: RELATE-shaped edge tables, hop traversal, bounded recursion.

Reference semantics (surrealdb/surrealdb):
  - edges are ordinary records with ``in``/``out`` RecordId fields created by
    RELATE (core/src/doc/edges.rs, core/src/doc/relate.rs);
  - traversal ``->edge->target`` / ``<-edge<-`` / ``<->`` expands via
    GraphEdgeScan (core/src/exec/operators/scan/graph.rs:43,64) with
    direction enum Dir::{In,Out,Both} (core/src/expr/dir.rs:18-26);
  - reverse-reference lookup ``<~`` (core/src/exec/operators/scan/reference.rs:48);
  - bounded recursion ``@{min..max}`` with +collect/+shortest instructions
    (core/src/exec/operators/recursion.rs:1-44; depth cap IDIOM_RECURSION_LIMIT
    core/src/cnf/mod.rs:53).

Spark mapping: an edge table is a DataFrame with string record-id columns
``in``/``out`` (canonical form ``table:key``); one hop is one equi-join
(broadcast when the edge table is small); recursion is an iterative BFS
driver loop — each round joins the frontier against the edge table and
anti-joins the visited set (cycle handling per recursion.rs:8-15).  At
scale the edge table is hash-partitioned on the join side's key so
successive hops reuse the shuffle; frontiers are localCheckpointed every
few rounds to truncate lineage.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from surrealdb_spark.session import local_frame

IN, OUT = "in", "out"
# Reference default recursion cap (core/src/cnf/mod.rs:53-54).
RECURSION_LIMIT = 256

# Per-start visited/frontier arrays stay the BFS state representation while
# the widest row stays under this many nodes; past it the loop falls back to
# the row-per-(start, node) shape (see recurse()).  ~4M record-id strings is
# on the order of 100 MB in one row — the practical ceiling before a single
# array row becomes a spill/skew hazard.
ARRAY_STATE_MAX_NODES = int(os.environ.get("SPARK_GRAFT_BFS_ARRAY_NODES", "4000000"))
# Edge tables at or under this row count get an explicit BROADCAST hint in
# the per-round join: the materialized edge projection is a checkpointed RDD
# with no size statistics, so the planner would otherwise assume it is huge
# and sort-merge every round (two Exchanges + Sorts per round).  ~1M two-
# column record-id rows ≈ 100 MB hash relation.  Above the budget the
# planner's shuffled choice stands — the right shape once edges outgrow an
# executor.
BCAST_EDGE_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_BFS_BCAST_EDGE_ROWS", "1000000"))
# At or under this many edges the whole bounded traversal runs as ONE job:
# the 2-column edge projection is collected once, broadcast as an adjacency
# dict, and each task BFSes its partition's start nodes in-process
# (mapInPandas).  A driver-round loop costs ~0.25 s of job/broadcast/plan
# machinery PER ROUND no matter how small the frontier is; one job costs it
# once.  Same budget idea as a broadcast join: past it, the distributed
# per-round loop below is the correct shape.
LOCAL_EDGE_MAX_ROWS = int(os.environ.get("SPARK_GRAFT_BFS_LOCAL_EDGES", "1000000"))

_AQE_LOCK = threading.Lock()
_AQE_STATE: dict[int, tuple[int, str, SparkSession]] = {}


@contextmanager
def _no_aqe(spark: SparkSession):
    """Disable AQE for the duration of a driver-side iteration loop.

    Under AQE, ``localCheckpoint`` captures ``UnknownPartitioning`` (the
    adaptive plan's partitioning is undecided at capture time), so every
    BFS round re-shuffles state that is already hash-partitioned by
    ``start``.  With AQE off the checkpoint preserves
    ``hashpartitioning(start, n)`` and each round plans exchange-free —
    and an exchange-free round has nothing for AQE to adapt anyway.
    Refcounted per session so concurrent traversals (suite thread pools)
    nest correctly; restores the caller's setting when the last one exits.
    """
    key = id(spark)
    with _AQE_LOCK:
        depth, saved, _ = _AQE_STATE.get(key, (0, "", spark))
        if depth == 0:
            saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
        _AQE_STATE[key] = (depth + 1, saved, spark)
    try:
        yield
    finally:
        with _AQE_LOCK:
            depth, saved, _ = _AQE_STATE[key]
            if depth == 1:
                spark.conf.set("spark.sql.adaptive.enabled", saved)
                del _AQE_STATE[key]
            else:
                _AQE_STATE[key] = (depth - 1, saved, spark)


def record_id(table: str, key: Column | str) -> Column:
    """Canonical string form of a RecordId: ``table:key``
    (types/src/value/record_id/mod.rs:22 — Struct{tb, key} rendered as tb:key).
    """
    k = F.col(key) if isinstance(key, str) else key
    return F.concat(F.lit(table), F.lit(":"), k.cast("string"))


def record_table(rid: Column | str) -> Column:
    """record::tb() — table part of a record id."""
    c = F.col(rid) if isinstance(rid, str) else rid
    return F.substring_index(c, ":", 1)


def record_key(rid: Column | str) -> Column:
    """record::id() — key part of a record id."""
    c = F.col(rid) if isinstance(rid, str) else rid
    return F.substring_index(c, ":", -1)


def relate(
    src: DataFrame,
    src_table: str,
    src_key: str,
    dst_table: str,
    dst_key: str,
    payload: list[str] | None = None,
) -> DataFrame:
    """RELATE src->edge->dst over a DataFrame of (src_key, dst_key[, payload]).

    Returns the edge table: ``in``, ``out`` + payload columns
    (core/src/doc/relate.rs — edge records carry in/out plus user fields).
    """
    cols = [
        record_id(src_table, src_key).alias(IN),
        record_id(dst_table, dst_key).alias(OUT),
    ]
    cols += [F.col(c) for c in (payload or [])]
    return src.select(*cols)


def graph_hop(
    start: DataFrame,
    edges: DataFrame,
    direction: str = "out",
    edge_filter: Column | None = None,
    start_id: str = "id",
    broadcast_edges: bool = False,
    broadcast_start: bool = False,
) -> DataFrame:
    """One traversal hop: expand each start record id along the edge table.

    Returns the start DataFrame's columns plus ``nbr`` (neighbor record id).
    direction 'out' = ``->``, 'in' = ``<-``, 'both' = ``<->``
    (core/src/expr/dir.rs:18-26).  ``edge_filter`` is the
    ``->(edge WHERE ...)->`` predicate (core/src/expr/lookup.rs:63).

    ``broadcast_start``: hint that the frontier is the small side.  The
    edge side's size estimate comes from compressed parquet bytes of the
    pruned key columns, which badly UNDER-estimates the record-id strings
    the edge projection expands them into — at the 10x-scaled layout the
    planner broadcast a 6M-row edge table (a multi-hundred-MB hash
    relation rebuilt every run) under a seeded frontier of 30k rows
    (guide §3.1: hint when a side is KNOWN small; r13).  Callers set it
    when the frontier is a seeded/filtered set they know stays bounded.
    """
    if edge_filter is not None:
        edges = edges.filter(edge_filter)
    if direction == "both":
        return graph_hop(
            start, edges, "out", None, start_id, broadcast_edges, broadcast_start
        ).unionByName(
            graph_hop(
                start, edges, "in", None, start_id, broadcast_edges, broadcast_start
            )
        )
    here, there = (IN, OUT) if direction == "out" else (OUT, IN)
    e = edges.select(F.col(here).alias("__here"), F.col(there).alias("nbr"))
    if broadcast_edges:
        e = F.broadcast(e)
    if broadcast_start:
        start = F.broadcast(start)
    return start.join(e, start[start_id] == e.__here).drop("__here")


def reference_lookup(
    start: DataFrame, referrers: DataFrame, ref_field: str, start_id: str = "id"
) -> DataFrame:
    """``<~`` reverse-reference lookup: who references me
    (core/src/exec/operators/scan/reference.rs:48) — an equi-join with the
    sides swapped: referrers.ref_field == start.id.
    """
    return start.join(referrers, referrers[ref_field] == start[start_id], "inner")


def recurse(
    start: DataFrame,
    edges: DataFrame,
    min_depth: int = 1,
    max_depth: int = 1,
    direction: str = "out",
    start_id: str = "id",
) -> DataFrame:
    """Bounded-depth traversal ``@{min..max}`` (+collect semantics).

    Returns (start_id, node, depth): every node reachable from each start at
    its minimum depth in [min_depth, max_depth].  BFS with a per-start
    visited set (anti-join) — matches the reference's cycle rule of not
    re-expanding a node already on the path (recursion.rs:8-15; BFS min-depth
    is the +collect reading).

    Round shape (r13, guide §2.4 "remove shuffles outright"): BFS state is
    ONE row per live start — (start, __vis array, __fr array) — hash-
    partitioned by ``start`` once at entry.  Every round is then
    exchange-free: explode(frontier) → edge join (broadcast when the edge
    table is small) → groupBy(start) collect_set (partition-local: the
    input is clustered by start) → co-partitioned join back to state →
    in-row array_except against the visited array.  ``localCheckpoint``
    preserves the hash partitioning across rounds with AQE disabled for
    the loop (see _no_aqe) — the r12 shape paid 3 Exchanges + 2 Sorts per
    round for the same dedup + visited subtraction.

    Every round's state is eagerly localCheckpointed: each round is
    referenced by the next round AND the output union — without
    materialization the lineage re-executes prior rounds 2^depth times
    (and grows unboundedly at scale).  One materialized state per round is
    the GraphFrames-style iteration pattern.

    Scale guard: a per-start array row is bounded by that start's
    reachable set; the round probe watches the widest row and falls back
    to the row-per-(start, node) shape (distinct + anti-join — the r12
    form, correct at any width) the moment it exceeds
    ``ARRAY_STATE_MAX_NODES``.
    """
    if max_depth > RECURSION_LIMIT:
        raise ValueError(f"max_depth {max_depth} exceeds IDIOM_RECURSION_LIMIT {RECURSION_LIMIT}")
    here, there = (IN, OUT) if direction == "out" else (OUT, IN)
    e = edges.select(F.col(here).alias("__here"), F.col(there).alias("__there"))
    spark = start.sparkSession

    # Small-edge fast path: the whole bounded traversal in ONE job.
    n_edges = e.count()
    if n_edges <= LOCAL_EDGE_MAX_ROWS:
        return _recurse_local(spark, start, e, start_id, min_depth, max_depth)

    steps: list[DataFrame] = []
    with _no_aqe(spark):
        # State partition count derived from the input (guide §2): with AQE
        # off nothing coalesces the loop's partitions, so a constant (cores,
        # shuffle.partitions) would schedule that many near-empty tasks per
        # round at small frontiers and under-split huge ones.  One metadata-
        # cheap count sizes it; the cap keeps very large start sets at a
        # bounded-fanout partitioning rather than one partition per core.
        sel = start.select(F.col(start_id).alias("start"))
        n_starts = sel.count()
        n_parts = max(
            1, min(4 * spark.sparkContext.defaultParallelism, -(-n_starts // 65536))
        )
        # repartition establishes hashpartitioning(start, n); the follow-up
        # distinct (= groupBy every column) is satisfied by it, so dedup of
        # duplicate start rows adds no second exchange.
        state = (
            sel.repartition(n_parts, "start")
            .distinct()
            .selectExpr("start", "array(start) AS __vis", "array(start) AS __fr")
            .localCheckpoint(eager=True)
        )
        if max_depth >= 3:
            # Materialize the 2-column edge projection once: every round's
            # job otherwise re-resolves and re-scans the edge source to
            # build its broadcast/join side.  MEMORY_AND_DISK blocks — a
            # bounded copy of exactly the columns the traversal touches,
            # in exchange for max_depth re-scans.
            e = e.localCheckpoint(eager=True)
        # Each round is ONE spark.sql statement over temp views: every
        # fluent DataFrame method runs eager analysis of its whole plan
        # (~10-20 ms each, ~10 per round), which dominated the round at
        # small frontiers (measured ~0.13-0.22 s construction vs ~0.12 s
        # execution per round at sf0.1).  A single SQL string is one py4j
        # call and one analysis.  View names are unique per traversal so
        # concurrent traversals in suite thread pools don't collide.
        tag = f"{id(start):x}_{threading.get_ident():x}"
        v_state, v_edges, v_nxt = (
            f"__bfs_s_{tag}", f"__bfs_e_{tag}", f"__bfs_n_{tag}"
        )
        e.createOrReplaceTempView(v_edges)
        hint = (
            f"/*+ BROADCAST({v_edges}) */ " if n_edges <= BCAST_EDGE_MAX_ROWS else ""
        )
        round_sql = f"""
            SELECT start, concat(__vis, __new) AS __vis, __new AS __fr
            FROM (
              SELECT s.start, s.__vis, array_except(c.__cand, s.__vis) AS __new
              FROM {v_state} s
              JOIN (SELECT {hint}start, collect_set(__there) AS __cand
                    FROM (SELECT start, explode(__fr) AS node FROM {v_state})
                    JOIN {v_edges} ON node = __here
                    GROUP BY start) c USING (start)
            ) WHERE size(__new) > 0
        """
        try:
            depth = 1
            while depth <= max_depth:
                state.createOrReplaceTempView(v_state)
                nxt = spark.sql(round_sql).localCheckpoint(eager=False)
                nxt.createOrReplaceTempView(v_nxt)
                # ONE job per round: the probe's aggregation materializes
                # the lazily-marked checkpoint (every partition is computed
                # and persisted under it) and returns the emptiness test +
                # widest visited row (the array-state scale guard) together.
                probe = spark.sql(
                    f"SELECT count(1) AS n, max(size(__vis)) AS w FROM {v_nxt}"
                ).collect()[0]
                if not probe["n"]:
                    break
                if depth >= min_depth:
                    steps.append(spark.sql(
                        f"SELECT start, explode(__fr) AS node,"
                        f" int({depth}) AS depth FROM {v_nxt}"
                    ))
                state = nxt
                depth += 1
                if probe["w"] > ARRAY_STATE_MAX_NODES and depth <= max_depth:
                    _recurse_rows(
                        state.select("start", F.explode("__fr").alias("node")),
                        state.select("start", F.explode("__vis").alias("node")),
                        e, steps, depth, min_depth, max_depth,
                    )
                    break
        finally:
            for v in (v_state, v_edges, v_nxt):
                spark.catalog.dropTempView(v)
    if not steps:
        return local_frame(
            start.sparkSession, [], "start string, node string, depth int"
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out


def _recurse_local(
    spark: SparkSession,
    start: DataFrame,
    e: DataFrame,
    start_id: str,
    min_depth: int,
    max_depth: int,
) -> DataFrame:
    """Bounded traversal as ONE distributed job over the start set.

    The 2-column edge projection fits the LOCAL_EDGE_MAX_ROWS budget, so it
    is collected once (Arrow), broadcast as an adjacency dict, and each
    task BFSes its partition's starts in-process — the per-round driver
    loop's job/broadcast/planning latency (~0.25 s/round regardless of
    frontier size) is paid once for the whole traversal.  Identical
    semantics: per-start visited set, min-depth BFS, depths
    [min_depth, max_depth]."""
    rows = e.toPandas()
    adj: dict = {}
    h = rows["__here"].values
    t = rows["__there"].values
    for i in range(len(h)):
        adj.setdefault(h[i], []).append(t[i])
    bc = spark.sparkContext.broadcast(adj)

    def bfs(batches):
        import pandas as pd

        a = bc.value
        for b in batches:
            outs: list = []
            outn: list = []
            outd: list = []
            for s in b["start"].values:
                visited = {s}
                frontier = [s]
                for d in range(1, max_depth + 1):
                    nxt = []
                    for u in frontier:
                        for v in a.get(u, ()):
                            if v not in visited:
                                visited.add(v)
                                nxt.append(v)
                    if not nxt:
                        break
                    if d >= min_depth:
                        outs.extend([s] * len(nxt))
                        outn.extend(nxt)
                        outd.extend([d] * len(nxt))
                    frontier = nxt
            yield pd.DataFrame(
                {
                    "start": pd.Series(outs, dtype=object),
                    "node": pd.Series(outn, dtype=object),
                    "depth": pd.Series(outd, dtype="int32"),
                }
            )

    return (
        start.select(F.col(start_id).alias("start"))
        .distinct()
        .mapInPandas(bfs, "start string, node string, depth int")
    )


def _recurse_paths_local(
    spark: SparkSession,
    start: DataFrame,
    e: DataFrame,
    start_id: str,
    min_depth: int,
    max_depth: int,
) -> DataFrame:
    """+path enumeration as ONE distributed job over the start set (the
    small-edge analogue of _recurse_local): per start, level-wise expansion
    of every simple path (a path never revisits its own nodes), emitting
    (start, node, depth, '->'-joined path) for depths in
    [min_depth, max_depth]."""
    rows = e.toPandas()
    adj: dict = {}
    h = rows["__here"].values
    t = rows["__there"].values
    for i in range(len(h)):
        adj.setdefault(h[i], []).append(t[i])
    bc = spark.sparkContext.broadcast(adj)

    def paths(batches):
        import pandas as pd

        a = bc.value
        for b in batches:
            outs: list = []
            outn: list = []
            outd: list = []
            outp: list = []
            for s in b["start"].values:
                frontier = [(s, (s,))]
                for d in range(1, max_depth + 1):
                    nxt = []
                    for u, path in frontier:
                        for v in a.get(u, ()):
                            if v not in path:
                                nxt.append((v, path + (v,)))
                    if not nxt:
                        break
                    if d >= min_depth:
                        for v, path in nxt:
                            outs.append(s)
                            outn.append(v)
                            outd.append(d)
                            outp.append("->".join(path))
                    frontier = nxt
            yield pd.DataFrame(
                {
                    "start": pd.Series(outs, dtype=object),
                    "node": pd.Series(outn, dtype=object),
                    "depth": pd.Series(outd, dtype="int32"),
                    "path": pd.Series(outp, dtype=object),
                }
            )

    # No start dedup: +path semantics keep one output set per input row
    # (the distributed rounds below have no distinct either).
    return start.select(F.col(start_id).alias("start")).mapInPandas(
        paths, "start string, node string, depth int, path string"
    )


def _recurse_rows(
    frontier: DataFrame,
    visited: DataFrame,
    e: DataFrame,
    steps: list[DataFrame],
    first_depth: int,
    min_depth: int,
    max_depth: int,
) -> None:
    """Row-per-(start, node) BFS rounds — the any-width continuation used
    when a start's visited array outgrows ARRAY_STATE_MAX_NODES.  Same
    results as the array rounds: distinct ∘ anti-join ≡ array_except of
    the collected set."""
    frontier = frontier.localCheckpoint(eager=True)
    visited = visited.localCheckpoint(eager=True)
    for depth in range(first_depth, max_depth + 1):
        nxt = (
            frontier.join(e, frontier.node == e.__here)
            .select("start", F.col("__there").alias("node"))
            .distinct()
            .join(visited, ["start", "node"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        if depth >= min_depth:
            steps.append(nxt.select("start", "node", F.lit(depth).alias("depth")))
        visited = visited.unionByName(nxt)
        frontier = nxt


def shortest_depth(
    start: DataFrame,
    edges: DataFrame,
    target: Column,
    max_depth: int,
    direction: str = "out",
    start_id: str = "id",
) -> DataFrame:
    """``@{..max}+shortest=<target>``: length of the shortest path from each
    start to the target node (recursion instruction in recursion.rs).
    Returns (start, depth) for starts that reach the target within max_depth.
    """
    reach = recurse(start, edges, 1, max_depth, direction, start_id)
    return (
        reach.filter(F.col("node") == target)
        .groupBy("start")
        .agg(F.min("depth").alias("depth"))
    )


def recurse_paths(
    start: DataFrame,
    edges: DataFrame,
    min_depth: int = 1,
    max_depth: int = 1,
    direction: str = "out",
    start_id: str = "id",
) -> DataFrame:
    """``@{min..max}+path`` — collect every path, not just reached nodes
    (recursion.rs path instruction).  Returns (start, node, depth, path)
    where path is '->'-joined record ids including the start.

    Cycle rule: a path never revisits one of its own nodes
    (recursion.rs:8-15) — checked with array_contains against the path
    accumulator.  No cross-path visited set: distinct paths to the same
    node are all kept (that's the +path semantics).  One eager
    localCheckpoint per round, as in recurse().
    """
    if max_depth > RECURSION_LIMIT:
        raise ValueError(f"max_depth {max_depth} exceeds IDIOM_RECURSION_LIMIT {RECURSION_LIMIT}")
    here, there = (IN, OUT) if direction == "out" else (OUT, IN)
    e = edges.select(F.col(here).alias("__here"), F.col(there).alias("__there"))

    # Small-edge fast path: whole path enumeration in ONE job (see
    # _recurse_local — same budget, same rationale).
    if e.count() <= LOCAL_EDGE_MAX_ROWS:
        return _recurse_paths_local(
            start.sparkSession, start, e, start_id, min_depth, max_depth
        )

    frontier = start.select(
        F.col(start_id).alias("start"),
        F.col(start_id).alias("node"),
        F.array(F.col(start_id)).alias("__path"),
    ).localCheckpoint(eager=True)
    steps: list[DataFrame] = []
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier.node == e.__here)
            .filter(~F.array_contains(F.col("__path"), F.col("__there")))
            .select(
                "start",
                F.col("__there").alias("node"),
                F.array_append(F.col("__path"), F.col("__there")).alias("__path"),
            )
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        if depth >= min_depth:
            steps.append(
                nxt.select(
                    "start",
                    "node",
                    F.lit(depth).alias("depth"),
                    F.array_join(F.col("__path"), "->").alias("path"),
                )
            )
        frontier = nxt
    if not steps:
        return local_frame(
            start.sparkSession, [],
            "start string, node string, depth int, path string"
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out
