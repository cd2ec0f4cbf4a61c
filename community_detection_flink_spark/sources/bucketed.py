"""Bucketed tables: shuffle-free co-located joins and aggregations.

At 100 TB the dominant cost of the star-schema joins and the repeated
per-vertex joins is the exchange.  Bucketing pre-shuffles ONCE at
write time: two tables bucketed by the same key into the same bucket
count sort-merge-join with NO Exchange on either side (Catalyst reads
the bucket spec from the metastore and plans both scans with the same
hash partitioning), and a groupBy on the bucket key skips its exchange
too.  This is the batch analogue of the state-store co-partitioning
the streaming operators get for free.

Bucketing requires the table metastore path (``saveAsTable``) — plain
``.parquet(path)`` writes carry no bucket spec.  The session factory
(``session.py``) enables a local derby metastore + warehouse dir, so
this works in tests; on a cluster the same code lands on the shared
catalog.

Guidance encoded here (see ``bucket_count``): buckets ≈ data size /
128 MB, rounded to a power of two, so each bucket file stays within a
single ``maxPartitionBytes`` split at read time.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession


def bucket_count(est_bytes: int, target_bytes: int = 128 << 20) -> int:
    """Power-of-two bucket count keeping each bucket ≲ one read split."""
    n = max(1, est_bytes // target_bytes)
    return 1 << max(0, (int(n) - 1).bit_length())


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    sort_keys: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) table.

    Sorting by the bucket key additionally lets the sort-merge join
    skip its per-partition Sort (plan shows neither Exchange nor Sort).
    """
    keys = list(keys)
    # a stale managed-table LOCATION (e.g. from a previous session
    # whose catalog is gone) fails the create even in overwrite mode —
    # drop through the catalog first, and if the catalog never heard of
    # the table (fresh metastore, old warehouse dir) clear the leftover
    # directory too (LOCATION_ALREADY_EXISTS otherwise)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    import os

    from community_detection_flink_spark.plans.iteration import rmtree_local

    wh = spark.conf.get("spark.sql.warehouse.dir", "") or ""
    rmtree_local(os.path.join(wh, table.lower()))
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, keys[0], *keys[1:])
    )
    if sort_keys:
        sk = list(sort_keys)
        writer = writer.sortBy(sk[0], *sk[1:])
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table (bucket spec rides the catalog entry)."""
    return spark.table(table)
