"""Connected components over near-duplicate pair graphs.

Near-dup relations are transitive in practice (a~b, b~c ⇒ one group), so
proper dedup needs components, not raw pairs. Label propagation in
DataFrame form: every node starts labeled with itself; each round every
node takes the min label in its neighborhood; stop when no label changes.

Scale shape: each round is one join on the edge list + one min-aggregate
(both shuffles on node id). Rounds needed = graph diameter (tiny for
near-dup clusters, which are dense blobs); ``max_iter`` bounds pathological
chains. This is the standard large-graph CC dataflow (cf. alternating-star
variants for adversarial diameters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_gpu_spark.utils import collect_at_most

# Edge lists at or below this size run the label-propagation rounds
# driver-side (zero per-round Spark jobs; utils.collect_at_most); above
# it, the distributed loop runs. ~1M (src, dst) longs is tens of MB on
# the driver, while the per-round Spark-job overhead it saves (3 jobs x
# ~0.3-0.7 s x diameter rounds at gate scale) dominates small-graph CC
# end-to-end. Near-dup pair graphs are candidate-bounded (LSH bucket
# caps), not corpus-sized.
DRIVER_CC_MAX_EDGES = 1 << 20


def _cc_driver_side(
    edge_rows: list[tuple], max_iter: int
) -> dict:
    """The IDENTICAL label-propagation rounds over a driver-local
    symmetrized edge list: per round every node takes
    least(own, min(neighbor labels)); stop on no change or max_iter —
    bit-faithful to the distributed loop below (including the
    non-converged truncation at max_iter), so the fast path can never
    change output. Python min/< on int and str orders exactly as the
    engines' BIGINT / binary-collation comparisons. A null endpoint
    joins nothing (SQL equality), so a null node keeps a null label."""
    adj: dict = {}
    for s, d in edge_rows:
        nbrs = adj.setdefault(s, [])
        if s is not None and d is not None:
            nbrs.append(d)
    labels = {n: n for n in adj}
    for _ in range(max_iter):
        new = {}
        changed = False
        for n, comp in labels.items():
            m = comp
            for d in adj[n]:
                ld = labels[d]
                if ld < m:
                    m = ld
            new[n] = m
            if m != comp:
                changed = True
        labels = new
        if not changed:
            break
    return labels


def connected_components(
    pairs: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 20
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = min node
    id reachable within max_iter hops (exact when the loop converges,
    which the driver checks each round)."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    table = collect_at_most(edges, DRIVER_CC_MAX_EDGES)
    if table is not None:
        # Output schema/types mirror the distributed branch.
        edges.unpersist(blocking=False)
        rows = list(zip(table.column("src").to_pylist(), table.column("dst").to_pylist()))
        labels = _cc_driver_side(rows, max_iter)
        node_type = edges.schema["src"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            sorted(labels.items(), key=lambda kv: (kv[0] is None, kv[0])),
            schema=f"node {node_type}, component {node_type}",
        )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_component"))
            )
            # localCheckpoint truncates the lineage each round — without it
            # the plan tree doubles per iteration and planning time explodes
            # (classic iterative-DataFrame pitfall).
            new_labels = (
                labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
                .select(
                    "node",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_component"), F.col("component")),
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        return labels.select("node", "component")
    finally:
        edges.unpersist(blocking=False)


def dedup_survivors(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Keep one row (min id) per connected near-dup component; rows not in
    any pair survive untouched."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")
