"""Pins the writer's text input forms to each other.

ColumnSpec accepts a list, an ndarray, or a pyarrow Array/ChunkedArray for
STRING/BYTES columns and turns each into one large_string/large_binary
array that the dictionary / V4 var-byte encoders read straight from the
Arrow buffers. These tests prove a list input and an Arrow input emit
byte-identical segments for every affected encoder branch, so the format
the reader (and the frozen fixtures) pin down cannot drift with the input
form.
"""

import numpy as np
import pyarrow as pa
import pytest

from datafusion_pinot_spark.sources.pinot_datasource import _specs_stats
from pinot_segment.metadata import DataType
from pinot_segment.var_byte import LZ4, PASS_THROUGH
from pinot_segment.writer import ColumnSpec, _pack_bits, write_segment


def _segment_bytes(tmp_path, tag, columns):
    v3 = write_segment(tmp_path / tag, "seg_0", "t_arrow", columns)
    return {
        name: (v3 / name).read_bytes()
        for name in ("metadata.properties", "index_map", "columns.psf")
    }


STRINGS = [
    "delta",
    "alpha",
    "",  # empty payload
    "alpha",
    "éclair-中文",  # multi-byte UTF-8
    "nul\x00embedded",  # NUL must survive (numpy '<U' would strip it)
    "zeta" * 50,
]


def test_dict_string_byte_identity(tmp_path):
    a = _segment_bytes(
        tmp_path, "list", [ColumnSpec("s", DataType.STRING, list(STRINGS))]
    )
    b = _segment_bytes(
        tmp_path, "arrow", [ColumnSpec("s", DataType.STRING, pa.array(STRINGS))]
    )
    assert a == b


@pytest.mark.parametrize("compression", [PASS_THROUGH, LZ4])
def test_raw_string_var_byte_identity(tmp_path, compression):
    # small target_chunk_size forces multiple chunks AND a huge-value chunk
    vals = STRINGS + ["H" * 256]
    mk = lambda v: ColumnSpec(
        "r",
        DataType.STRING,
        v,
        raw=True,
        compression=compression,
        target_chunk_size=64,
    )
    a = _segment_bytes(tmp_path, f"list{compression}", [mk(list(vals))])
    b = _segment_bytes(tmp_path, f"arrow{compression}", [mk(pa.array(vals))])
    assert a == b


def test_bytes_columns_identity(tmp_path):
    payloads = [b"\x00\x01", b"", b"\xff" * 40, b"\x00\x01", b"abc"]
    mk = lambda v, raw: ColumnSpec(
        "b", DataType.BYTES, v, raw=raw, target_chunk_size=32
    )
    for raw in (False, True):
        a = _segment_bytes(tmp_path, f"list{raw}", [mk(list(payloads), raw)])
        b = _segment_bytes(
            tmp_path,
            f"arrow{raw}",
            [mk(pa.array(payloads, type=pa.binary()), raw)],
        )
        assert a == b


def test_chunked_array_input(tmp_path):
    chunked = pa.chunked_array([STRINGS[:3], STRINGS[3:]])
    a = _segment_bytes(
        tmp_path, "list", [ColumnSpec("s", DataType.STRING, list(STRINGS))]
    )
    b = _segment_bytes(tmp_path, "arrow", [ColumnSpec("s", DataType.STRING, chunked)])
    assert a == b


def test_sorted_flag_matches_on_both_paths(tmp_path):
    vals = sorted(STRINGS)
    a = _segment_bytes(tmp_path, "list", [ColumnSpec("s", DataType.STRING, list(vals))])
    b = _segment_bytes(tmp_path, "arrow", [ColumnSpec("s", DataType.STRING, pa.array(vals))])
    assert a == b
    assert b"column.s.isSorted=true" in b["metadata.properties"]


def test_nullable_with_fill_identity(tmp_path):
    vals = ["fill", "x", "fill", "y"]
    mask = np.array([True, False, True, False])
    a = _segment_bytes(
        tmp_path,
        "list",
        [ColumnSpec("s", DataType.STRING, list(vals), null_mask=mask)],
    )
    b = _segment_bytes(
        tmp_path,
        "arrow",
        [ColumnSpec("s", DataType.STRING, pa.array(vals), null_mask=mask)],
    )
    assert a == b


def test_indexed_column_identity(tmp_path):
    mk = lambda v: ColumnSpec("s", DataType.STRING, v, inverted=True, bloom=True)
    a = _segment_bytes(tmp_path, "list", [mk(list(STRINGS))])
    b = _segment_bytes(tmp_path, "arrow", [mk(pa.array(STRINGS))])
    assert a == b


@pytest.mark.parametrize("raw", [False, True], ids=["dict", "raw"])
@pytest.mark.parametrize(
    "dt,values",
    [
        (DataType.STRING, ["a", None, "b"]),
        (DataType.STRING, pa.array(["a", None, "b"])),
        (DataType.BYTES, [b"a", None, b"b"]),
        (DataType.BYTES, pa.chunked_array([[b"a"], [None, b"b"]])),
    ],
    ids=["string-list", "string-array", "bytes-list", "bytes-chunked"],
)
def test_text_null_raises_clear_error(dt, values, raw):
    """A NULL in text values is refused up front, worded like the
    BIG_DECIMAL fill message (nullable columns carry a fill value and the
    truth in null_mask), not deep in the dictionary/var-byte encoders."""
    with pytest.raises(ValueError, match="'s'.*must carry a fill"):
        ColumnSpec("s", dt, values, raw=raw)


def test_multi_value_text_null_raises_clear_error():
    with pytest.raises(ValueError, match="'m'.*must carry a fill"):
        ColumnSpec("m", DataType.STRING, [["a"], ["b", None]], multi_value=True)


@pytest.mark.parametrize(
    "values",
    [
        list(STRINGS),
        pa.array(STRINGS, type=pa.string()),
        pa.chunked_array([STRINGS[:3], STRINGS[3:]], type=pa.string()),
    ],
    ids=["list", "array", "chunked"],
)
def test_text_array_has_64_bit_offsets(values):
    """Every text value stream becomes ONE large_string array, so no
    column payload can overflow 32-bit offsets."""
    spec = ColumnSpec("s", DataType.STRING, values)
    assert spec._arrow.type == pa.large_string()
    assert isinstance(spec._arrow, pa.Array)
    assert spec._arrow.to_pylist() == STRINGS
    mv = ColumnSpec("m", DataType.STRING, [["x"], [], ["y", "z"]], multi_value=True)
    assert mv._arrow.type == pa.large_string() and len(mv._arrow) == 3
    assert mv.num_docs() == 3
    dec = ColumnSpec("d", DataType.BIG_DECIMAL, ["1.5"], decimal=(4, 1))
    assert dec._arrow.type == pa.large_binary()


def test_values_property_materializes_lazily():
    spec = ColumnSpec("s", DataType.STRING, pa.array(STRINGS))
    assert spec._values is None
    assert spec.num_docs() == len(STRINGS)
    assert spec.values == STRINGS  # lazy materialization for any consumer
    listed = list(STRINGS)
    assert ColumnSpec("s", DataType.STRING, listed).values is listed


def test_specs_stats_parity(tmp_path):
    mask = np.array([False, False, True, False, False, False, False])
    vals = ["m" if m else v for v, m in zip(STRINGS, mask)]

    from pinot_segment.manifest import collect_segment_stats

    def build(values):
        specs = [
            ColumnSpec("s", DataType.STRING, values),
            ColumnSpec("n", DataType.STRING, values, null_mask=mask.copy()),
            ColumnSpec("r", DataType.STRING, values, raw=True),
            ColumnSpec("b", DataType.STRING, values, bloom=True),
            ColumnSpec("rb", DataType.STRING, values, raw=True, bloom=True),
        ]
        v3 = write_segment(tmp_path / f"st_{id(values)}", "seg", "t", specs)
        return _specs_stats(specs, len(vals)), collect_segment_stats(str(v3))

    (from_list, opened), (from_arrow, _) = build(list(vals)), build(pa.array(vals))
    assert from_list == from_arrow
    # the sink's stats and a rebuilt manifest mark the same bloomed columns
    for stats in (from_list, opened):
        marks = {
            c: cs["bloom"] for c, cs in stats["columns"].items() if "bloom" in cs
        }
        assert marks == {"b": True, "rb": True}


def test_pack_bits_matches_shift_and_mask_reference():
    rng = np.random.default_rng(7)
    for bits in (1, 2, 3, 7, 8, 13, 16, 24, 31, 40, 63):
        v = rng.integers(0, 2**bits, size=257, dtype=np.uint64)
        shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
        ref = np.packbits(
            ((v[:, None] >> shifts[None, :]) & 1).astype(np.uint8).reshape(-1)
        ).tobytes()
        assert _pack_bits(list(v), bits) == ref


def test_pack_bits_multi_chunk_matches_reference():
    # r15: the unpackbits-based packer stitches 16k-value chunks; pin the
    # chunk boundaries (full chunks byte-aligned, final partial chunk
    # zero-padded) against the original whole-column shift-and-mask.
    rng = np.random.default_rng(11)
    for bits in (1, 5, 12, 17, 20, 33):
        n = (1 << 15) + 257  # two full chunks + a partial tail
        v = rng.integers(0, 2**bits, size=n, dtype=np.uint64)
        shifts = np.arange(bits - 1, -1, -1, dtype=np.uint64)
        ref = np.packbits(
            ((v[:, None] >> shifts[None, :]) & 1).astype(np.uint8).reshape(-1)
        ).tobytes()
        assert _pack_bits(v, bits) == ref


def test_numeric_dict_inverse_ids_match_searchsorted_path(tmp_path):
    # r15: numeric/boolean dict ids come from np.unique(return_inverse)
    # instead of a second searchsorted probe. Force the legacy probe by
    # clearing the cached inverse after _encode_dictionary and pin the
    # whole segment byte-identical.
    import pinot_segment.writer as w

    rng = np.random.default_rng(23)
    n = 40_000

    def cols():
        return [
            ColumnSpec(
                "k_long", DataType.LONG, rng.integers(-500, 500, size=n)
            ),
            ColumnSpec(
                "v_dbl",
                DataType.DOUBLE,
                np.round(rng.uniform(-5.0, 5.0, size=n), 2),
            ),
            ColumnSpec("b", DataType.BOOLEAN, rng.integers(0, 2, n) == 1),
            ColumnSpec(
                "sorted_i",
                DataType.INT,
                np.sort(rng.integers(0, 100, size=n)).astype(np.int32),
            ),
            ColumnSpec(
                "nul",
                DataType.LONG,
                rng.integers(0, 50, size=n),
                null_mask=(rng.integers(0, 5, size=n) == 0),
            ),
        ]

    rng = np.random.default_rng(23)
    fast = _segment_bytes(tmp_path, "fast", cols())

    real_encode = w._encode_dictionary

    def no_inverse(spec):
        out = real_encode(spec)
        spec._dict_ids = None  # force the searchsorted fallback
        return out

    rng = np.random.default_rng(23)
    w._encode_dictionary = no_inverse
    try:
        legacy = _segment_bytes(tmp_path, "legacy", cols())
    finally:
        w._encode_dictionary = real_encode
    assert fast == legacy


def test_string_ndarray_spec_keeps_no_dict_ids():
    """Only the numeric/boolean encode branch consumes np.unique's inverse
    ids, so a STRING spec built from a numpy array must not carry them."""
    import pinot_segment.writer as w

    spec = ColumnSpec(
        "s", DataType.STRING, np.array(["b", "a", "b"], dtype=object)
    )
    w._encode_dictionary(spec)
    assert spec._dict_ids is None
    num = ColumnSpec("i", DataType.INT, np.array([3, 1, 3], dtype=np.int32))
    w._encode_dictionary(num)
    assert num._dict_ids.tolist() == [1, 0, 1]
