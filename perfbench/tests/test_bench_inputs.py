"""Seeded input derivation: deterministic per seed, rows kept."""

import hashlib
import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402

BASE = inputs.BASE


def column_checksums(path: str) -> dict[str, str]:
    """Order-independent checksum of every column: md5 of its sorted
    value representations."""
    t = pq.read_table(path)
    return {c: hashlib.md5("\n".join(sorted(map(repr, t.column(c).to_pylist())))
                           .encode()).hexdigest() for c in t.column_names}


def tables(d: str) -> list[str]:
    return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))


def test_same_seed_same_bytes(tmp_path):
    inputs.permute_dir(BASE, tmp_path / "a", seed=7)
    inputs.permute_dir(BASE, tmp_path / "b", seed=7)
    for f in tables(BASE):
        a = (tmp_path / "a" / f).read_bytes()
        assert a == (tmp_path / "b" / f).read_bytes(), f


def test_other_seed_other_order_same_rows(tmp_path):
    inputs.permute_dir(BASE, tmp_path / "a", seed=7)
    inputs.permute_dir(BASE, tmp_path / "b", seed=8)
    moved = 0
    for f in tables(BASE):
        src = pq.read_table(os.path.join(BASE, f))
        a = pq.read_table(tmp_path / "a" / f)
        b = pq.read_table(tmp_path / "b" / f)
        assert a.num_rows == b.num_rows == src.num_rows
        assert a.schema == src.schema
        want = column_checksums(os.path.join(BASE, f))
        assert column_checksums(tmp_path / "a" / f) == want
        assert column_checksums(tmp_path / "b" / f) == want
        moved += not a.equals(b)
    assert moved >= len(tables(BASE)) - 2  # region/nation may permute alike by chance


def test_layout_kept(tmp_path):
    inputs.permute_dir(BASE, tmp_path, seed=3)
    for f in tables(BASE):
        src = pq.read_metadata(os.path.join(BASE, f))
        out = pq.read_metadata(tmp_path / f)
        assert out.num_row_groups == 1
        assert out.row_group(0).column(0).compression == src.row_group(0).column(0).compression


@pytest.mark.skipif(not os.path.exists(os.path.join(os.getcwd(), "tools", "make_sf.py")),
                    reason="run from the repository root")
def test_replicated_derivation_deterministic(tmp_path):
    a = inputs.derive(str(tmp_path / "w1"), 2, seed=5)
    b = inputs.derive(str(tmp_path / "w2"), 2, seed=5)
    for f in tables(a):
        assert (tmp_path / "w1" / "inputs" / os.path.basename(a) / f).read_bytes() == \
            (tmp_path / "w2" / "inputs" / os.path.basename(b) / f).read_bytes(), f
    lineitem = pq.read_metadata(os.path.join(a, "lineitem.parquet")).num_rows
    assert lineitem == 2 * pq.read_metadata(os.path.join(BASE, "lineitem.parquet")).num_rows
