"""Duplicate-cluster resolution: pairs -> components -> survivors.

The dedup operators (``operators/dedup.py``) emit *pairs* — but a real
training-data pipeline must then (1) close the pairs transitively into
clusters and (2) keep exactly one canonical document per cluster.  This
module supplies both steps with plans that survive 10^9-node graphs:

- :func:`connected_components` — the alternating large-star / small-star
  algorithm (Kiveris et al., *Connected Components in MapReduce and
  Beyond*, SoCC'14): converges in O(log n) rounds regardless of component
  diameter, each round two shuffles carrying only (node, node) longs.
  Naive label propagation needs O(diameter) rounds, which an adversarial
  near-dup *chain* (doc_i ~ doc_{i+1}) makes O(n); large-star/small-star
  does not care about chains.
- :func:`resolve_duplicates` — survivor election per cluster via a
  ``min_by`` *aggregation* (map-side partial combine) rather than a
  window: a boilerplate mega-cluster with 10^9 members collapses on the
  map side instead of serializing through one window task.

Reference anchor: the reference validates documents one at a time and has
no cluster analogue; this is part of the no-reference-analogue pipeline
tier (SURVEY.md §2.7 / LLM-data-pipeline operators).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels import bounded_collect


def _canonical(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list oriented (min, max), self-loops dropped,
    distinct.  Column names normalized to (src, dst)."""
    a, b = F.col(src), F.col(dst)
    return (edges
            .filter(a.isNotNull() & b.isNotNull() & (a != b))
            .select(F.least(a, b).alias("src"),
                    F.greatest(a, b).alias("dst"))
            .distinct())


def _signature(edges: DataFrame) -> tuple:
    """(count, sum(hash_seed0), sum(hash_seed1)) over the edge multiset —
    the convergence check.  Two independent 64-bit hash sums make a
    false 'converged' a ~2^-128 event; the loop is also bounded by
    max_iterations, so a collision could only stop one round early on a
    graph that was within one round of its fixpoint anyway.

    The hashes are summed as ``decimal(38,0)``: summing uniform 64-bit
    values into a ``long`` overflows almost surely, which Spark 4's
    default ANSI mode turns into ``ARITHMETIC_OVERFLOW`` (a 38-digit
    decimal holds 2^63 * 10^19 edges without wrapping, far beyond any
    real graph).  Works identically with ANSI on or off."""
    h0 = F.xxhash64("src", "dst", F.lit(0)).cast("decimal(38,0)")
    h1 = F.xxhash64("src", "dst", F.lit(1)).cast("decimal(38,0)")
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h0).alias("h0"),
        F.sum(h1).alias("h1")).collect()[0]
    return (row["n"], row["h0"], row["h1"])


def _truncate_lineage(df: DataFrame, reliable: bool) -> DataFrame:
    """Iterative algorithms grow the logical plan each round; checkpoint
    to keep planning O(1) per round.  ``reliable=True`` uses the
    fault-tolerant checkpoint (requires ``sc.setCheckpointDir``, the
    right choice on a real cluster where an executor loss mid-iteration
    would otherwise recompute the whole chain); the default
    localCheckpoint is executor-local and fine for bounded jobs."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _local_components(spark, edges) -> DataFrame:
    """Driver-side union-find over a collected (bounded) Arrow edge
    table — exact same labeling as the distributed fixpoint (component
    = min member id), returned as an Arrow-backed DataFrame (a
    LocalTableScan: no Python worker decodes it) of the edges' id
    type."""
    import pyarrow as pa

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(edges.column("src").to_pylist(),
                    edges.column("dst").to_pylist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    mins: dict = {}
    roots = {x: find(x) for x in parent}
    for x, r in roots.items():
        mins[r] = min(mins.get(r, x), x)
    t = edges.schema.field("src").type
    comps = [mins[r] for r in roots.values()]
    return spark.createDataFrame(pa.table(
        [pa.array(list(roots), t), pa.array(comps, t)],
        names=["id", "component"]))


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_iterations: int = 25,
                         reliable_checkpoint: bool = False,
                         small_graph_threshold: int = 2_000_000
                         ) -> DataFrame:
    """(id, component) for every node in `edges`; ``component`` is the
    smallest node id reachable from ``id`` (so the component min labels
    itself).  Ids may be any orderable type (long, string).

    Alternating large-star / small-star (Kiveris et al. SoCC'14):

    - **large-star** (per node u over the symmetrized neighborhood):
      connect every neighbor v > u to m = min(N(u) + [u]).
    - **small-star** (per node u over edges oriented larger->smaller):
      connect u and every smaller neighbor to m = min of them.

    Both steps preserve connectivity and strictly shrink a potential
    function; the fixpoint is a star per component centered on its min.
    Each round is two groupBy shuffles + two joins carrying only id
    pairs — document payloads never enter the graph.  Rounds needed:
    O(log n) worst case, 2-3 in practice for near-dup clusters.

    ``max_iterations`` is a safety bound (25 covers n < 2^25 adversarial
    graphs; raise for more); hitting it raises rather than returning a
    silently-unconverged labeling.

    **Small-graph fast path**: when the distinct edges fit
    ``small_graph_threshold`` rows, one ``kernels.bounded_collect`` job
    brings them to the driver as an Arrow table and a driver-side
    union-find labels them — identical output, one job instead of ~4
    per round (an empty graph is the empty table).  Near-dup pair
    streams are usually tiny relative to the corpus (the pairs, not
    the documents, form the graph), so this is the common case even at
    10^12 rows scanned; the default 2M edges is ~32 MB on the driver.
    Over the cap the probe's rows are dropped and the distributed path
    runs.  Pass ``small_graph_threshold=0`` to force the distributed
    path.
    """
    # Materialize the canonical edges before iterating: the input is
    # often the tail of an expensive pair pipeline (LSH joins, posting
    # lists), and each round references the previous frame twice (the
    # symmetrize union) — without truncation the pair pipeline would
    # recompute 2x per round.
    e = _truncate_lineage(_canonical(edges, src, dst),
                          reliable_checkpoint)
    small = bounded_collect(e.select("src", "dst"), small_graph_threshold)
    if small is not None:
        return _local_components(e.sparkSession, small)
    sig = _signature(e)
    for _ in range(max_iterations):
        # --- large-star ------------------------------------------------
        sym = e.union(e.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
        mins = (sym.groupBy("src").agg(F.min("dst").alias("_m"))
                .select("src", F.least("_m", F.col("src")).alias("_m")))
        lg = (sym.join(mins, "src")
              .filter(F.col("dst") > F.col("src"))
              .select(F.least("dst", "_m").alias("src"),
                      F.greatest("dst", "_m").alias("dst"))
              .filter(F.col("src") != F.col("dst"))
              .distinct())
        # --- small-star (input oriented larger->smaller) ---------------
        e2 = lg.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        m2 = e2.groupBy("u").agg(F.min("v").alias("_m"))
        center = (m2.filter(F.col("u") != F.col("_m"))
                  .select(F.col("_m").alias("src"), F.col("u").alias("dst")))
        leaves = (e2.join(m2, "u")
                  .filter(F.col("v") != F.col("_m"))
                  .select(F.col("_m").alias("src"), F.col("v").alias("dst")))
        new_e = _truncate_lineage(
            center.union(leaves).distinct(), reliable_checkpoint)
        new_sig = _signature(new_e)
        e, old_sig, sig = new_e, sig, new_sig
        if new_sig == old_sig:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (needs ~log2(nodes))")
    # Fixpoint is a star per component: src = component min, dst = member.
    members = e.select(F.col("dst").alias("id"),
                       F.col("src").alias("component"))
    centers = (e.select(F.col("src").alias("id")).distinct()
               .withColumn("component", F.col("id")))
    return (members.union(centers)
            .groupBy("id").agg(F.min("component").alias("component")))


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", **kw) -> DataFrame:
    """(id, cluster_id) from a near-dup pair list — transitive closure of
    the pairs, cluster id = smallest member id.  Thin naming shim over
    :func:`connected_components` matching the dedup operators' pair
    column convention."""
    cc = connected_components(pairs, id_a, id_b, **kw)
    return cc.select("id", F.col("component").alias("cluster_id"))


def resolve_duplicates(df: DataFrame, pairs: DataFrame, id_col: str,
                       id_a: str = "id_a", id_b: str = "id_b",
                       prefer: Optional[Column] = None,
                       **kw) -> DataFrame:
    """`df` + ``cluster_id`` + ``is_canonical``: every row labeled with
    its duplicate cluster (rows in no pair are their own singleton
    cluster) and exactly one survivor marked per cluster.

    Survivor election: the row minimizing ``(prefer, id)`` per cluster —
    pass e.g. ``prefer=-F.col("quality_score")`` to keep the
    highest-quality member; default keeps the smallest id.  Implemented
    as ``min_by`` over a groupBy (map-side partial aggregation), NOT a
    window: a degenerate mega-cluster (think 10^9 copies of boilerplate)
    partially aggregates on the map side instead of routing through one
    window task.

    Scale shape: election runs ONLY over rows that appear in a pair (the
    inner join with the cluster labeling) — a row in no pair is trivially
    its own survivor, so the 10^12-row singleton majority never enters
    the groupBy.  The corpus itself is touched by exactly two joins
    against small frames (the id->cluster labeling and the one-row-per-
    cluster survivor frame), both broadcast-convertible by AQE at
    runtime when they fit, sort-merge with skew-split otherwise — the
    full table is never shuffled on ``cluster_id``.

    Downstream: ``.filter("is_canonical")`` is the deduplicated corpus;
    ``.filter(~F.col("is_canonical"))`` is the drop manifest.
    """
    cc = duplicate_clusters(pairs, id_a, id_b, **kw).withColumnRenamed(
        "id", id_col)
    out = (df.join(cc, id_col, "left")
           .withColumn("cluster_id",
                       F.coalesce(F.col("cluster_id"), F.col(id_col)))
           )
    p = prefer if prefer is not None else F.lit(0)
    # NULLS LAST: Spark's struct min puts a NULL field FIRST, so a
    # contentless member (NULL prefer, e.g. -length(NULL text)) would
    # win the election; the null flag demotes it below every scored
    # member, matching the SQL oracles' DuckDB NULLS LAST default
    key = F.struct(p.isNull().cast("int").alias("pn"), p.alias("p"),
                   F.col(id_col).alias("i"))
    survivors = (df.join(cc, id_col, "inner")   # pair members only
                 .groupBy("cluster_id")
                 .agg(F.min_by(F.col(id_col), key).alias("_survivor")))
    return (out.join(survivors, "cluster_id", "left")
            .withColumn("is_canonical",
                        F.col("_survivor").isNull()
                        | (F.col(id_col) == F.col("_survivor")))
            .drop("_survivor"))
