"""Connected components for dedup-cluster resolution.

Near-dup detection (MinHash/SimHash/Jaccard — operators.dedup) emits PAIRS;
a curation pipeline needs CLUSTERS: every document labeled with a canonical
representative so one keep-decision covers the whole duplicate group. Pairs
are edges; the cluster label is the minimum doc id reachable through them.

One operator, :func:`connected_components`, with a size-based plan switch
(the same kind Spark itself applies to joins). The canonical distinct edge
list is probed with ONE bounded ``limit(SMALL_GRAPH_EDGES + 1).collect()``:

- within the cap the collected list IS the whole graph, so driver
  union-find labels it (milliseconds) and the labels are broadcast-joined
  back. Near-dup edge lists are tiny relative to the corpus (pairs above a
  high Jaccard bar), so this is the common case even at large corpus sizes;
- above the cap the alternating large-star / small-star rounds (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14) run. Each
  round roughly halves path lengths, so convergence takes O(log n) rounds
  whatever the graph's diameter — long chains included, where min-label
  propagation would need O(diameter) rounds. Each round is one lazy
  localCheckpoint (lineage truncation) plus one two-scalar convergence
  fingerprint; no rows reach the driver.

The corpus-size ``nodes`` relation never leaves the cluster on either path.

Reference parity: the reference engine has no graph step (its dedup is
day-partition overwrite, sp_raw_to_transformed_update_weather_data_query
.sql:2-5); this is part of the training-data-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .. import store

#: Largest canonical edge count solved by driver union-find; a larger
#: graph runs the distributed star rounds. Also the driver-memory bound of
#: the probe. Tests set it to 0 to force the star rounds on a small graph.
SMALL_GRAPH_EDGES = 200_000
#: Round cap of the star loop. Each round about halves path lengths, so
#: the fingerprint reaches its fixpoint long before this on any real graph.
MAX_ITER = 50
#: The node id column: every caller labels documents.
ID_COL = "doc_id"


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Label every node with the minimum node id of its component.

    ``nodes``: one row per node (isolated nodes keep their own id as label).
    ``edges``: undirected pairs; direction, duplicates, self-loops and
    NULL ends are normalized away here. Returns (``ID_COL``, component) —
    component = min reachable id, of the type of ``nodes[ID_COL]``."""
    # Canonical (u > v) distinct edges, lineage-truncated: the probe and
    # every star round read one evaluation of the often expensive edge
    # pipeline (a 5-stage shingle/signature/bucket/verify tree for the
    # MinHash callers). Each round references the previous edge set ~16
    # times (two symmetric self-joins per star phase), so plans would nest
    # EXPONENTIALLY if lineage were kept — persist() alone does not
    # truncate the logical plan and the driver OOMs planning round ~5. The
    # checkpoint blocks are reclaimed by the ContextCleaner as old rounds
    # go out of scope.
    e = (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
            F.least(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Strategy probe + small-path fetch in ONE bounded action: <= cap rows
    # back proves the limit did not bind, so the list IS the complete edge
    # set and the small path pays no second job. CollectLimit stops at the
    # cap, bounding driver memory on huge graphs.
    pairs = e.limit(SMALL_GRAPH_EDGES + 1).collect()
    if len(pairs) <= SMALL_GRAPH_EDGES:
        return _solve_collected(nodes, pairs)
    prev_fp = None
    for _ in range(MAX_ITER):
        # Lazy checkpoint: the logical plan is truncated to an RDD leaf
        # immediately, and the fingerprint action below is the single job
        # that both materializes this round and tests convergence.
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        # Convergence = edge set is a fixpoint. (count, xor-of-hash) is an
        # order-insensitive fingerprint over the distinct edge set: one
        # aggregate action, two scalars; xor cannot overflow under ANSI.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).first()
        fp = (row["n"], row["h"])
        if fp == prev_fp:
            break
        prev_fp = fp
    # At the fixpoint every edge is (member, component-min): label nodes
    # by their unique downward link; isolated nodes label themselves.
    labels = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.select(F.col(ID_COL))
        .join(labels.withColumnRenamed("u", ID_COL), ID_COL, "left")
        .select(ID_COL, F.coalesce("component", F.col(ID_COL)).alias("component"))
    )


def _solve_collected(nodes: DataFrame, pairs: list) -> DataFrame:
    """Driver union-find over the collected canonical (u, v) edge list,
    broadcast-joined back onto the corpus-size ``nodes`` relation. Union
    by MIN id, so the root IS the component label."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    id_type = nodes.schema[ID_COL].dataType
    active = store.rows(
        nodes.sparkSession,
        [(x, find(x)) for x in parent],
        StructType([StructField(ID_COL, id_type), StructField("component", id_type)]),
    )
    return nodes.select(ID_COL).join(F.broadcast(active), ID_COL, "left").select(
        ID_COL, F.coalesce("component", F.col(ID_COL)).alias("component")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node strictly larger than u is re-linked
    to u's minimum neighborhood member (including u itself).

    Emits (v, m) for each v in N(u) with v > u, where m = min(N(u) + {u}).
    Since m <= u < v, every emitted edge points strictly downward — the edge
    list stays canonical (u > v) with no self-loops by construction.
    """
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("mn"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge (max, min); each node links
    its not-larger neighbors (and itself) to the minimum of that set.

    Emits (v, m) for v in N-(u) + {u} minus {m}, m = min(N-(u)); output
    edges again satisfy u > v.
    """
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    relink = (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("mn"))
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
    )
    self_link = mins.select("u", F.col("mn").alias("v"))
    return relink.union(self_link).distinct()


def dedup_cluster_stats(components: DataFrame) -> DataFrame:
    """Cluster summary: representative (the component min id), member count.
    Single map-side-combining aggregate on the component label."""
    return components.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(ID_COL).alias("keep_id"),
    )
