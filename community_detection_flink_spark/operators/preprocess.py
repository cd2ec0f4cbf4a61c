"""P1 preprocessing — triangle stats + subgraph cleanup (SURVEY.md M2).

Reference: ``DistributedWCC.preprocess`` (``DistributedWCC.scala:88-130``):
count triangles, drop vertices that close no triangle (t == 0), keep only
edges whose endpoints share ≥1 neighbor (G1 subgraph), then set
``vt`` = cleaned-graph degree (the reference halves Gelly's doubled
degree at ``DistributedWCC.scala:128``; our per-src count needs no
halving) and derive the clustering coefficient.

One triangle enumeration feeds all three outputs (t, cleaned edges,
cleaned vertex set) — the reference computes them in separate Gelly
passes; fusing them halves the heavy work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from community_detection_flink_spark.functions.wcc_metric import cc_col
from community_detection_flink_spark.operators.triangles import triangle_edges


def preprocess(tri: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Return ``(vertices, clean_edges)`` of the graph whose triangle
    list (``triangles.triangles``) is ``tri``.

    ``vertices``: vId, t, vt, cc — only vertices with t > 0
    (``DistributedWCC.scala:110``).
    ``clean_edges``: doubled-edge set restricted to triangle edges
    (``DistributedWCC.scala:111``).
    """
    clean_edges = triangle_edges(tri)

    t = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("vId"))
        .groupBy("vId")
        .agg(F.count("*").cast("int").alias("t"))
    )
    vt = clean_edges.groupBy(F.col("src").alias("vId")).agg(
        F.count("*").cast("int").alias("vt")
    )
    vertices = t.join(vt, "vId").select(
        "vId", "t", "vt", cc_col(F.col("t"), F.col("vt")).alias("cc")
    )
    return vertices, clean_edges
