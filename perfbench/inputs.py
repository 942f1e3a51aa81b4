"""Seeded input derivation.

Every workload reads a directory derived from the committed base tables
under ``perfbench/data/sf0.001``: optionally replicated by the program's own
``tools/make_sf.py``, then every table is put in a canonical row order
and permuted by a generator seeded from ``--seed``.  A permutation keeps
each table's multiset of rows, so every correct job returns the same
answer on every seed; an answer that moves with the seed is a program
defect (the output check counts it).

Layout matches the source: one single-row-group parquet file per table,
same compression codec.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: The committed base tables every workload is derived from.
BASE = os.path.join(HERE, "data", "sf0.001")


def _codec(path: str) -> str:
    md = pq.read_metadata(path)
    return md.row_group(0).column(0).compression.lower() if md.num_row_groups else "snappy"


def canonical_order(table: pa.Table) -> pa.Table:
    """Sort by every scalar column in schema order, so a replicated
    table whose writer order is not deterministic still permutes to the
    same rows for the same seed."""
    keys = [(f.name, "ascending") for f in table.schema
            if not pa.types.is_nested(f.type)]
    return table.sort_by(keys) if keys else table


def permute_table(table: pa.Table, seed: int, name: str) -> pa.Table:
    rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
    return table.take(rng.permutation(table.num_rows))


def permute_dir(src: str, out: str, seed: int) -> None:
    """Write a seeded row permutation of every table in *src* to *out*."""
    os.makedirs(out, exist_ok=True)
    for fn in sorted(os.listdir(src)):
        if not fn.endswith(".parquet"):
            continue
        path = os.path.join(src, fn)
        table = permute_table(canonical_order(pq.read_table(path)), seed, fn[:-8])
        pq.write_table(table, os.path.join(out, fn), compression=_codec(path),
                       row_group_size=max(1, table.num_rows))


def derive(work: str, factor: int, seed: int) -> str:
    """Return the derived input directory for (``BASE`` x *factor*,
    *seed*), building it once under *work*.  Keyed by factor, seed and
    the base tables' ``source_fingerprint``; the replicated tables every
    seed of a factor permutes are built once too."""
    from mapreducehs_spark.sources.catalog import build_fixture_once, source_fingerprint

    tables = sorted(fn[:-8] for fn in os.listdir(BASE) if fn.endswith(".parquet"))
    fingerprint = source_fingerprint(BASE, *tables)
    os.makedirs(os.path.join(work, "inputs"), exist_ok=True)

    def replicate(tmp: str) -> None:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        import make_sf

        with contextlib.redirect_stdout(io.StringIO()):
            make_sf.build(tmp, factor, BASE)

    src = BASE if factor == 1 else build_fixture_once(
        os.path.join(work, "inputs", f"x{factor}_{fingerprint}"), replicate)
    return build_fixture_once(
        os.path.join(work, "inputs", f"x{factor}_s{seed}_{fingerprint}"),
        lambda tmp: permute_dir(src, tmp, seed))
