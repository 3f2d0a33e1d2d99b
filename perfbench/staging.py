"""Input staging: every input is derived from the committed template
tier ``data/sf0.001`` (a copy of the repository's sf0.001 test tier,
TESTDATA.md), so a run reads nothing outside its checkout.

Batch tiers replicate the template with the key-shifting rule of
``tools/make_sf_scale.py`` (copy 0 is the template itself; later copies
shift every key, so joins stay within a copy and fan-outs, group sizes
and skew scale linearly). ``documents`` and ``embeddings`` keep one
copy, as the sf0.01 test tier does. Tables are written as
multi-row-group parquet, because a single-row-group file scans as one
task. Each run stages its own copy (about half a second), so every
run's ``setup_s`` includes the same staging work.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from common import TEMPLATE_DIR

# name -> copies of the TPC-H-ish tables and events; bench matches the
# sf0.01 test tier's row counts (60 000 lineitem rows)
TIERS = {"bench": 10, "smoke": 1}
SINGLE_COPY = ("documents", "embeddings")


def _write_layout(table, path: str) -> None:
    rows = table.num_rows
    group = max(1024, math.ceil(rows / 8))
    pq.write_table(table, path, row_group_size=group)


def batch_tier(name: str, dest: str) -> str:
    """Write tier ``name`` into ``dest/tier-<name>`` and return that
    directory."""
    import pyarrow as pa
    import make_sf_scale as scale

    out = os.path.join(dest, f"tier-{name}")
    os.makedirs(out)
    copies = TIERS[name]
    offsets = scale._offsets(TEMPLATE_DIR)
    for fname in sorted(os.listdir(TEMPLATE_DIR)):
        table_name = fname.removesuffix(".parquet")
        src = pq.read_table(os.path.join(TEMPLATE_DIR, fname))
        n = 1 if (table_name in scale.FIXED
                  or table_name in SINGLE_COPY) else copies
        parts = [scale._copy(table_name, src, k, offsets) for k in range(n)]
        _write_layout(pa.concat_tables(parts), os.path.join(out, fname))
    return out
