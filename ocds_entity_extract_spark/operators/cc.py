"""Connected components over the sameAs edge graph (canonicalization).

Replaces the reference's implicit alias resolution (exact dict-key equality,
reference extract.js:1380-1382) with true graph canonicalization: every
entity id is rewritten to the lexicographic minimum id of its similarity
component.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) as pure DataFrame joins —
O(log n) rounds, no GraphFrames/GraphX dependency:

- large-star: for each node u, connect every LARGER neighbor to
  min(N(u) ∪ {u});
- small-star: for each node u, connect every smaller-or-equal neighbor
  (and u) to the minimum.

Scale notes (north_rule: hot-domain/hot-entity skew):
- min-neighbor is computed via groupBy().min() — decomposable, partially
  aggregated map-side, so hub nodes never materialize an adjacency list;
- the per-round join on the hub key is covered by AQE skew-join splitting
  (enabled in session.py);
- `localCheckpoint()` each round truncates the logical-plan lineage, which
  otherwise grows exponentially and stalls the driver at scale;
- convergence = stable (count, xor-hash) signature of the edge set — one
  lightweight action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocds_entity_extract_spark.session import local_frame


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mn = sym.groupBy("src").agg(F.min("dst").alias("_mnb"))
    mn = mn.select("src", F.least("_mnb", F.col("src")).alias("m"))
    out = (
        sym.join(mn, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    dird = edges.select(
        F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
    ).filter(F.col("hi") != F.col("lo"))
    mn = dird.groupBy("hi").agg(F.min("lo").alias("m"))
    lo_edges = (
        dird.join(mn, "hi")
        .filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("src"), F.col("m").alias("dst"))
    )
    hi_edges = mn.select(F.col("hi").alias("src"), F.col("m").alias("dst"))
    return lo_edges.union(hi_edges).filter(F.col("src") != F.col("dst")).distinct()


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _cc_driver_side(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: union-find on the collected edge list.

    The size-adaptive analogue of a broadcast join: below the threshold the
    distributed star loop is pure scheduling overhead (dozens of tiny jobs),
    while the edge list fits trivially in driver memory. Same output
    contract as the distributed path (canonical = component min id).
    """
    spark = edges.sparkSession
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges.collect():
        a, b = row["src"], row["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    mapping = [(n, find(n)) for n in parent]
    schema = edges.select(
        F.col("src").alias("entity_id"), F.col("src").alias("canonical_id")
    ).schema
    return local_frame(spark, mapping, schema)


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    checkpoint: bool = True,
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """(src, dst) undirected edges -> (entity_id, canonical_id) mapping.

    Every node in the input graph appears exactly once; canonical_id is the
    component's minimum id. Nodes not present in `edges` are their own
    canonical id (callers coalesce on join).

    Size-adaptive strategy: the deduped edge set is counted once (an action
    we need anyway to seed convergence detection); at or below
    `small_graph_threshold` edges the component structure is solved
    driver-side (union-find — O(E α(E)), one collect), above it the
    alternating-star distributed loop runs. Pass ``small_graph_threshold=0``
    to force the distributed path.
    """
    cur = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    if checkpoint:
        cur = cur.localCheckpoint(eager=True)
    if small_graph_threshold and cur.count() <= small_graph_threshold:
        return _cc_driver_side(cur)
    prev_sig = None
    for _ in range(max_iter):
        cur = _small_star(_large_star(cur))
        if checkpoint:
            cur = cur.localCheckpoint(eager=True)
        sig = _signature(cur)
        if sig == prev_sig:
            break
        prev_sig = sig

    # converged star edges: src -> dst(=component min). Roots map to selves.
    children = cur.select(F.col("src").alias("entity_id"), F.col("dst").alias("canonical_id"))
    roots = cur.select(F.col("dst").alias("entity_id")).distinct().withColumn(
        "canonical_id", F.col("entity_id")
    )
    return children.unionByName(roots).distinct()


def canonical_mapping(
    all_ids: DataFrame,
    edges: DataFrame,
    id_col: str = "entity_id",
    small_graph_threshold: int = 1_000_000,
) -> DataFrame:
    """All distinct ids + sameAs edges -> total (entity_id, canonical_id) map
    (identity for singleton nodes). ``small_graph_threshold`` passes through
    to `connected_components` — 0 forces the distributed star loop (used by
    the forced-distributed scaling evidence, bench/pipeline_job.py)."""
    cc = connected_components(edges, small_graph_threshold=small_graph_threshold)
    return (
        all_ids.select(F.col(id_col).alias("entity_id"))
        .distinct()
        .join(cc, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce("canonical_id", F.col("entity_id")).alias("canonical_id"),
        )
    )
