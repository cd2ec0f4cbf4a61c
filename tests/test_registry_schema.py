"""Registry-wide output-schema contract for the driver gate.

The driver's correctness harness canonicalizes each query result with a
pandas sort over all columns; pandas cannot sort/hash an ``array`` or
``map`` cell (``TypeError: unhashable type: 'list'``), so any
``queries()`` entry returning such a column records ``err`` instead of
hash-green even when the values are correct.  This bit round 1
(``g_adjacency``) and again round 6 (``emb_product_quantization``,
``emb_code_dedup``) — this test structurally excludes the class: every
registry entry's output schema must be scalar-only.

Entries whose *construction* already executes heavy actions (the
iterative WCC/CDC invariant queries and the ANN recall gate — they run
the full algorithm before returning a tiny ``createDataFrame`` with an
explicit scalar DDL schema) are skipped here for runtime; their schemas
are string/long literals by construction and covered by the committed
oracle sweeps.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql.types import ArrayType, MapType

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry_mod  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# construction of these runs the full iterative algorithm (minutes at
# sf0.001); each returns createDataFrame(..., "<scalar DDL>") — see the
# module docstring for why skipping them is safe
HEAVY_ACTION_AT_CONSTRUCTION = {
    "wcc_invariants",
    "cdc_invariants",
    "wcc_incremental",
    "wcc_incremental_localized",
    "wcc_cdc",
    "emb_ann_quality",
}


@pytest.mark.slow
def test_no_array_or_map_output_columns(spark):
    qs = entry_mod.queries()
    offenders = []
    for name, fn in qs.items():
        if name in HEAVY_ACTION_AT_CONSTRUCTION:
            continue
        df = fn(spark, SF_DIR)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType)):
                offenders.append((name, f.name, f.dataType.simpleString()))
    assert offenders == [], (
        "driver's pandas canonicalizer cannot sort these columns — "
        "serialize to a scalar (concat_ws / posexplode, the g_adjacency "
        f"precedent): {offenders}"
    )


def test_heavy_skip_list_entries_exist():
    """The skip list must not silently drift from the registry."""
    qs = entry_mod.queries()
    missing = HEAVY_ACTION_AT_CONSTRUCTION - set(qs)
    assert missing == set(), f"skip list names unknown entries: {missing}"
