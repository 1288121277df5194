"""Byte-identity of the compaction kernels with the writer.

``pinot_segment.compact`` moves single-value null-free STRING/BYTES
columns from reader to writer as Arrow arrays (no per-value Python
objects) and everything else through read_column. These tests pin that
merge, filter and reindex each produce a segment byte-for-byte identical
to ``write_segment`` of the same logical columns given as Python lists —
the concatenated members, the masked rows, or one added index — for
dictionary and RAW encodings, with indexes, a nullable column (whose
"FILL" values must survive) and a multi-value column present.
"""

import numpy as np
import pytest

import pinot_segment.compact as compact
from pinot_segment.metadata import DataType
from pinot_segment.var_byte import LZ4_LENGTH_PREFIXED
from pinot_segment.writer import ColumnSpec, write_segment

N = 2000


def _columns(i):
    """Member ``i``'s logical columns as Python lists / numpy arrays."""
    rng = np.random.RandomState(i)
    nulls = rng.rand(N) < 0.1
    strs = [f"val_{rng.randint(0, 150)}" for _ in range(N)]
    return {
        "key": np.sort(
            rng.randint(i * 10_000, (i + 1) * 10_000, N)
        ).astype(np.int64),
        "dstr": strs,
        "rstr": ["x" * rng.randint(0, 40) + str(j) for j in range(N)],
        "b": [
            bytes(rng.randint(0, 256, rng.randint(1, 24), dtype=np.uint8).tolist())
            for _ in range(N)
        ],
        "nstr": ["FILL" if m else s for s, m in zip(strs, nulls)],
        "nulls": nulls,
        "mvs": [[f"t{j % 7}", f"u{j % 3}"] for j in range(N)],
    }


def _specs(c, text_index=False):
    return [
        ColumnSpec("key", DataType.LONG, c["key"]),
        ColumnSpec(
            "dstr",
            DataType.STRING,
            c["dstr"],
            inverted=True,
            bloom=True,
            text_index=text_index,
        ),
        ColumnSpec(
            "rstr",
            DataType.STRING,
            c["rstr"],
            raw=True,
            compression=LZ4_LENGTH_PREFIXED,
        ),
        ColumnSpec(
            "b", DataType.BYTES, c["b"], raw=True, compression=LZ4_LENGTH_PREFIXED
        ),
        ColumnSpec("nstr", DataType.STRING, c["nstr"], null_mask=c["nulls"]),
        ColumnSpec("mvs", DataType.STRING, c["mvs"], multi_value=True),
    ]


def _member(tmp_path, i):
    return str(
        write_segment(tmp_path / f"m{i}", f"seg_{i}", "tbl", _specs(_columns(i)))
    )


@pytest.fixture()
def members(tmp_path):
    return [_member(tmp_path, i) for i in range(3)]


def _assert_identical(a, b):
    from pathlib import Path

    fa, fb = Path(a), Path(b)
    names_a = sorted(p.name for p in fa.iterdir())
    names_b = sorted(p.name for p in fb.iterdir())
    assert names_a == names_b
    for name in names_a:
        assert (fa / name).read_bytes() == (fb / name).read_bytes(), name


def _take(c, keep):
    """The logical columns restricted to rows where ``keep`` is True."""
    idx = np.flatnonzero(keep)
    return {
        k: v[keep] if isinstance(v, np.ndarray) else [v[i] for i in idx]
        for k, v in c.items()
    }


def test_merge_arrow_matches_list_path(tmp_path, members):
    parts = [_columns(i) for i in range(3)]
    whole = {
        k: np.concatenate([p[k] for p in parts])
        if isinstance(parts[0][k], np.ndarray)
        else [v for p in parts for v in p[k]]
        for k in parts[0]
    }
    want = write_segment(tmp_path / "want", "merged", "tbl", _specs(whole))
    got = compact.merge_segments(members, tmp_path / "m", "merged", "tbl")
    _assert_identical(got, want)


def test_filter_arrow_matches_list_path(tmp_path, members):
    mask = np.zeros(N, dtype=bool)
    mask[::3] = True
    want = write_segment(
        tmp_path / "want", "filt", "tbl", _specs(_take(_columns(0), mask))
    )
    got = compact.filter_segment(members[0], tmp_path / "f", "filt", "tbl", mask)
    _assert_identical(got, want)


def test_reindex_arrow_matches_list_path(tmp_path, members):
    want = write_segment(
        tmp_path / "want", "re", "tbl", _specs(_columns(1), text_index=True)
    )
    got = compact.reindex_segment(
        members[1], tmp_path / "r", "re", "tbl", "dstr", "text"
    )
    _assert_identical(got, want)


def test_rollup_keeps_list_path(tmp_path, monkeypatch):
    """rollup/keep_latest operate on pandas frames; the Arrow fast path
    must not engage there (gated in merge_segments)."""
    specs = [
        ColumnSpec("d", DataType.STRING, ["a", "b", "a", "b"]),
        ColumnSpec("m", DataType.LONG, np.array([1, 2, 3, 4], dtype=np.int64)),
    ]
    mem = str(write_segment(tmp_path / "m0", "s0", "tbl", specs))

    def boom(*args, **kwargs):  # pragma: no cover - failure path
        raise AssertionError("Arrow path must not be used under rollup")

    monkeypatch.setattr(compact, "_text_arrow", boom)
    out = compact.merge_segments(
        [mem],
        tmp_path / "out",
        "rolled",
        "tbl",
        rollup=(["d"], {"m": "sum"}),
    )
    from pinot_segment.segment_reader import SegmentReader

    r = SegmentReader.open(out)
    assert r.read_column("d") == ["a", "b"]
    assert r.read_column("m").tolist() == [4, 6]


def test_merge_nullable_late_member_skips_all_arrow_decodes(
    tmp_path, monkeypatch
):
    """r15 (ADVICE r14): the metadata gate runs across ALL members before
    any Arrow decode — a column that is null-free in member 0 but
    nullable in member 1 triggers ZERO read_columns_arrow calls (the old
    code decoded member 0 in full, then discarded it)."""
    rng = np.random.RandomState(99)

    def member(tag, nullable):
        strs = [f"val_{rng.randint(0, 150)}" for _ in range(N)]
        return write_segment(
            tmp_path / tag,
            f"seg_{tag}",
            "tbl",
            [
                ColumnSpec(
                    "key",
                    DataType.LONG,
                    np.arange(30_000, 30_000 + N, dtype=np.int64),
                ),
                ColumnSpec(
                    "dstr",
                    DataType.STRING,
                    strs,
                    null_mask=(rng.rand(N) < 0.1) if nullable else None,
                ),
                ColumnSpec(
                    "always",
                    DataType.STRING,
                    [f"a{j % 7}" for j in range(N)],
                ),
            ],
        )

    m0 = member("nf", nullable=False)
    m1 = member("nu", nullable=True)

    from pinot_segment.segment_reader import SegmentReader

    calls = []
    real = SegmentReader.read_columns_arrow

    def counting(self, names, selection=None):
        calls.extend(names)
        return real(self, names, selection=selection)

    monkeypatch.setattr(SegmentReader, "read_columns_arrow", counting)
    compact.merge_segments(
        [m0, m1], tmp_path / "mixmerge" / "m", "merged", "tbl"
    )
    assert "dstr" not in calls  # nullable in ONE member -> zero decodes
    assert calls.count("always") == 2  # eligible column still fast-paths


@pytest.mark.parametrize(
    "column,index",
    [
        ("k", "text"),
        ("k", "json"),
        ("s", "range"),
        ("r", "inverted"),
        ("mv", "bloom"),
    ],
)
def test_reindex_invalid_index_raises(tmp_path, column, index):
    """An index the column cannot carry is an error naming the column and
    the index kind — not a rewritten segment silently without it."""
    seg = write_segment(
        tmp_path / "s",
        "s",
        "tbl",
        [
            ColumnSpec("k", DataType.LONG, np.arange(4, dtype=np.int64)),
            ColumnSpec("s", DataType.STRING, ["a", "b", "a", "c"]),
            ColumnSpec("r", DataType.STRING, ["w", "x", "y", "z"], raw=True),
            ColumnSpec("mv", DataType.INT, [[1], [2, 3], [], [4]], multi_value=True),
        ],
    )
    with pytest.raises(ValueError, match=f"'{column}'.*{index}"):
        compact.reindex_segment(str(seg), tmp_path / "out", "o", "tbl", column, index)
    assert not (tmp_path / "out").exists()


def test_merge_big_decimal_matches_write_segment(tmp_path):
    """BIG_DECIMAL columns (dictionary with nulls, and RAW) merge into the
    segment write_segment makes of the concatenated decimals."""
    from decimal import Decimal

    def specs(dvals, nulls, rvals):
        return [
            ColumnSpec(
                "d", DataType.BIG_DECIMAL, dvals, decimal=(6, 2), null_mask=nulls
            ),
            ColumnSpec(
                "r",
                DataType.BIG_DECIMAL,
                rvals,
                decimal=(6, 2),
                raw=True,
                compression=LZ4_LENGTH_PREFIXED,
            ),
        ]

    d = [Decimal(v) for v in ("1.50", "0", "-3.25", "7.00", "0", "1.50")]
    nulls = np.array([False, True, False, False, True, False])
    r = [Decimal(v) for v in ("9.99", "-0.01", "12.30", "0.00", "5.55", "1.00")]
    members = [
        str(write_segment(tmp_path / f"m{i}", f"m{i}", "tbl", specs(d[s], nulls[s], r[s])))
        for i, s in enumerate((slice(0, 2), slice(2, 6)))
    ]
    want = write_segment(tmp_path / "want", "merged", "tbl", specs(d, nulls, r))
    got = compact.merge_segments(members, tmp_path / "m", "merged", "tbl")
    _assert_identical(got, want)
