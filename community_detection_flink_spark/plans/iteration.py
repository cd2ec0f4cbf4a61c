"""Iteration-state materialization (the engine's checkpoint discipline).

Why not ``localCheckpoint``: since Spark 3.4, ``Dataset.checkpoint``
preserves the origin plan's ESTIMATED statistics on the resulting
``LogicalRDD`` (``originStats``).  In an iterative algorithm each
round's join-size estimate is a product of the previous round's
estimate, so the ``sizeInBytes`` BigInteger's bit-length grows
~10× per round — measured here: 23 → 189 → 396 → 1766 → 3552 bits in
two rounds — until Catalyst spends minutes multiplying BigIntegers
(observed: round 4 = 14 s, round 5 = 351 s on a 25k-edge graph).
There is no SQLConf to disable the propagation.

A parquet round-trip is the scale-correct alternative: executors write
and read in parallel (never the driver), the re-read plan is a fresh
scan whose stats are the ACTUAL file sizes, lineage depth stays O(1)
forever, and on a real cluster the directory can point at HDFS/S3
(``CDFS_CHECKPOINT_DIR``: a root under which each ``Materializer``
lands in a fresh directory of its own).  The reference has no
equivalent discipline — it recomputes lineage and forces ``count()``s
(``DistributedWCC.scala:317``, commented-out unpersists at 313,318).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, MapType, StructField, StructType


def _as_nullable(dt):
    """Recursively nullable-normalize a datatype — exactly what parquet
    schema inference reports (Spark converts all parquet columns to
    nullable on read), so the explicit-schema fast path below is
    bit-identical to the inferred one."""
    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def rmtree_local(path: str) -> None:
    """Delete the directory ``path`` names if it is local: a plain
    absolute path or a ``file:`` URI (``CDFS_CHECKPOINT_DIR=file:///…``).
    Other filesystems are left alone."""
    if path.startswith("file:"):
        path = unquote(urlparse(path).path)
    if path.startswith("/") and os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)


@contextmanager
def no_aqe(spark):
    """Disable adaptive query execution for queries COMPILED inside
    the block (physical planning only — results are unchanged).

    AQE earns its keep by discovering runtime sizes of big scans; in
    the engine's fixed-point loops every input is either a
    Materializer-landed parquet (TRUE file-size stats, the exact
    information AQE exists to recover) or a persisted loop temporary,
    and the per-round state is small.  There AQE only splits each tiny
    landing into one Spark job per query stage — measured on the
    incremental path: ~200 driver-blocking jobs per micro-batch, ~2×
    the non-adaptive count — so the scheduling floor, not the data,
    dominates per-round cost.  Scope this tightly: batch-scale scans
    (triangle enumeration, bulk joins) keep AQE.
    """
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@contextmanager
def scoped_shuffle_partitions(spark, n: int):
    """Scope ``spark.sql.shuffle.partitions`` for queries COMPILED
    inside the block — the loop-state sibling of :func:`no_aqe`.

    Fixed-point loops shuffle small, KNOWN-size state every round; the
    session's shuffle width is sized for batch scans and over-splits
    that state into task-launch overhead (measured on the sf0.1
    refinement loop: 32 → 8 partitions = 74.7 → 62.9 s for identical
    results).  Callers clamp ``n`` at the session value so batch-scale
    and cluster behavior never change — this only ever SHRINKS the
    width for a scoped loop.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(int(n)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def loop_width(spark, est_edge_rows: int, floor: int) -> int:
    """Shuffle width for a fixed-point loop over ~``est_edge_rows``
    edge rows: ~300k rows per partition (order-controlled A/B on the
    sf0.1 refinement loop, 2.37M clean edge rows: width 8 = 57–68 s vs
    width 32 = 75 s, identical results), at least ``floor``, clamped at
    the session width so cluster-scale runs keep theirs — this only
    ever SHRINKS small-state loops."""
    session = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(floor, min(session, int(est_edge_rows) // 300_000 + 1))


@contextmanager
def loop_scope(spark, est_edge_rows: int, floor: int):
    """Non-adaptive planning (:func:`no_aqe`) at the :func:`loop_width`
    for the non-adaptive loops (movement rounds, MIS election).  Wrap
    the loop's tail landings too, so they plan like its rounds."""
    width = loop_width(spark, est_edge_rows, floor)
    with no_aqe(spark), scoped_shuffle_partitions(spark, width):
        yield


class Materializer:
    """Write-then-read parquet materializer for loop state.

    Usage::

        mat = Materializer(spark)
        state = mat(state, "vertices")   # truncated plan, real stats
        ...
        mat.cleanup()                    # optional; keeps the last rounds
    """

    def __init__(self, spark, base_dir: str | None = None):
        self.spark = spark
        root = os.environ.get("CDFS_CHECKPOINT_DIR")
        # each instance lands under a directory of its own: instances
        # sharing a root would overwrite each other's landings, and one's
        # cleanup() would delete the others'
        self.base = base_dir or (
            os.path.join(root, f"cdfs-ckpt-{uuid.uuid4().hex}")
            if root
            else tempfile.mkdtemp(prefix="cdfs-ckpt-")
        )
        self._i = 0
        self._ephemeral: list[DataFrame] = []
        # df -> backing path, keyed by id() WITH a strong reference to
        # the df (prevents id reuse after GC) so drop() can delete the
        # files of a superseded state
        self._by_df: dict[int, tuple[DataFrame, str]] = {}
        # a split landing's tag directory -> the landing's directory,
        # freed with its last live tag
        self._split_root: dict[str, str] = {}

    def __call__(
        self,
        df: DataFrame,
        name: str = "state",
        light: bool = False,
        split: dict | None = None,
    ):
        """Land ``df`` and return its landing.

        ``split`` (``{tag: [column, ...]}``, names or Columns): ``df``
        is a tagged plan whose ``k`` column holds the tags.  It lands
        with ONE write, partitioned by ``k``, and the call returns
        ``{tag: landing}``: each tag's columns, read from the tag's own
        directory, so ``drop`` frees exactly that landing (and the
        write's directory with its last tag).  A tag with no rows reads
        as an empty table of its columns, which the optimizer folds
        away (an anti-join against it costs no job)."""
        if light:
            # LIGHT landing (r13): ``localCheckpoint(eager=True)`` —
            # one job, no file write/commit/read-back, plan truncated
            # to a LogicalRDD exactly like a parquet scan truncates it.
            # The trade (why ``light`` is opt-in, per loop round, never
            # the default):
            #   * the LogicalRDD carries the origin plan's ESTIMATED
            #     stats, and those compound round-over-round (measured
            #     on 4.1: sizeInBytes bit-length ~2x/round) — callers
            #     MUST re-land on parquet every few rounds
            #     (``land_round``'s cadence) so estimates never drift
            #     far from the 64MB broadcast threshold's truth;
            #   * blocks live in executor memory/disk with lineage cut,
            #     so an executor loss mid-loop is unrecoverable — fine
            #     for loop state a restart recomputes, wrong for
            #     carried/returned state (those stay parquet).
            out = df.localCheckpoint(eager=True)
            self._by_df[id(out)] = (out, None)
            return out
        path = os.path.join(self.base, f"{name}-{self._i:04d}")
        self._i += 1
        if split is not None:
            return self._land_split(df, path, split)
        df.write.mode("overwrite").parquet(path)
        # read back with the KNOWN schema (r12): schema inference runs a
        # 1-task footer-read job per landing — pure driver latency that
        # the loops pay hundreds of times per pipeline.  The writer's
        # schema IS the reader's schema (same df), so nothing changes
        # except the job disappearing (_as_nullable mirrors what
        # inference reports).
        out = self.spark.read.schema(_as_nullable(df.schema)).parquet(path)
        self._by_df[id(out)] = (out, path)
        return out

    def _land_split(self, df: DataFrame, path: str, split: dict) -> dict:
        df.write.mode("overwrite").partitionBy("k").parquet(path)
        schema = _as_nullable(df.drop("k").schema)
        jvm, conf = self.spark._jvm, self.spark._jsc.hadoopConfiguration()
        out = {}
        for tag, cols in split.items():
            part = os.path.join(path, f"k={tag}")
            jpath = jvm.org.apache.hadoop.fs.Path(part)
            if jpath.getFileSystem(conf).exists(jpath):
                landed = self.spark.read.schema(schema).parquet(part)
            else:
                # limit(0): the optimizer reads it as an empty
                # LocalRelation, so a join or union with it folds away
                landed = self.spark.createDataFrame([], schema).limit(0)
            landed = landed.select(*cols)
            self._by_df[id(landed)] = (landed, part)
            self._split_root[part] = path
            out[tag] = landed
        return out

    PARQUET_EVERY = 4  # light-landing loops re-land on parquet this often

    def land_round(self, df: DataFrame, name: str, n: int) -> DataFrame:
        """Land round ``n`` of an AQE-on loop (connected components,
        BFS, k-core, SSSP): light, except every ``PARQUET_EVERY``-th
        round, which goes to parquet so estimated-stats drift resets.
        The non-adaptive loops land every round on parquet instead
        (see ``operators.refinement.movement_rounds``)."""
        return self(df, name, light=n % self.PARQUET_EVERY != 0)

    def drop(self, df: DataFrame) -> None:
        """Delete the parquet files (or unpersist the localCheckpoint
        blocks) backing a SUPERSEDED materialized state (loop callers
        invoke this once a replacement state is live, so checkpoint
        storage stays O(live states) instead of O(rounds) — unbounded
        for long streaming sessions otherwise).  No-op for DataFrames
        this materializer didn't produce."""
        entry = self._by_df.pop(id(df), None)
        if entry is None:
            return
        if entry[1] is None:
            # light landing: free the checkpoint blocks now instead of
            # waiting for the ContextCleaner's GC sweep (the dropped
            # state is superseded — nothing reads it again)
            try:
                entry[0]._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:
                pass  # best-effort, like the rmtree below
            return
        rmtree_local(entry[1])
        root = self._split_root.pop(entry[1], None)
        if root is not None and root not in self._split_root.values():
            rmtree_local(root)

    def is_landed(self, df: DataFrame) -> bool:
        """True iff ``df`` is a PARQUET landing this materializer
        produced — loop entries skip re-landing such inputs."""
        entry = self._by_df.get(id(df))
        return entry is not None and entry[1] is not None

    def cache(self, df: DataFrame, name: str = "tmp", force: bool = True) -> DataFrame:
        """In-memory materialization for WITHIN-round temporaries.

        Cheaper than the parquet round-trip and safe against the stats
        compounding: an ``InMemoryRelation``'s statistics are the
        actual cached sizes, and the entry is dropped at the next
        ``release()`` (call it once per loop round, after the round's
        state has been parquet-materialized).

        ``force=False`` skips the count job: the cache fills lazily
        inside the first consumer's job.  Use it when the first
        consumer runs before any plan decision that needs the cached
        size (a forced count exists to hand Catalyst REAL stats for
        downstream join planning — keep the default where that
        matters).
        """
        df = df.persist()
        if force:
            df.count()
        self._ephemeral.append(df)
        return df

    def scratch(self, df: DataFrame, name: str = "tmp") -> DataFrame:
        """Parquet landing for a WITHIN-round temporary: a ``cache``
        whose plan must be truncated.  Like ``cache``'s entries, it is
        freed at the next ``release()``."""
        out = self(df, name)
        self._ephemeral.append(out)
        return out

    def release(self) -> None:
        """Free all ephemeral caches and scratch landings registered
        since the last call."""
        for df in self._ephemeral:
            if self.is_landed(df):
                self.drop(df)
            else:
                df.unpersist(False)
        self._ephemeral.clear()

    def cleanup(self) -> None:
        """Best-effort removal of the checkpoint dir (local paths only)."""
        rmtree_local(self.base)
