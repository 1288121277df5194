"""Pinot v3 segment *writer*.

The reference has no writer ("Write support (create Pinot segments)" is
roadmap-only, reference README.md:418). This module originated so the test
suite could generate byte-exact v3 fixtures without a Pinot/Docker
dependency (SURVEY.md §5 "rebuild test plan mirror"); it now also backs the
``df.write.format("pinot")`` sink (sources/pinot_datasource.py), completing
the reference's roadmap item. It emits exactly the subset of the format the
reader supports:

- ``metadata.properties`` / ``index_map`` / ``columns.psf`` in one ``v3`` dir
- sorted dictionaries with the 0xDEADBEEFDEAFBEAD magic, BE-encoded values
- fixed-bit big-endian packed forward indexes behind an 8-byte magic
- RAW STRING columns in V4 var-byte chunk format (PASS_THROUGH / LZ4 /
  LZ4_LENGTH_PREFIXED / SNAPPY / ZSTANDARD — the last two exceed the
  reference, which rejects them), incl. huge-value chunks and the
  0xFFFFFFFF sentinel
"""

from __future__ import annotations

import math
import struct
from pathlib import Path

import numpy as np

from pinot_segment import lz4_block
from pinot_segment.metadata import DataType
from pinot_segment.var_byte import (
    LZ4,
    LZ4_LENGTH_PREFIXED,
    PASS_THROUGH,
    SNAPPY,
    ZSTANDARD,
)

_DICT_MAGIC = (0xDEADBEEFDEAFBEAD).to_bytes(8, "big")
_FWD_MAGIC = (0xDEADBEEFDEAFBEAD).to_bytes(8, "big")

_BE_DTYPES = {
    DataType.INT: ">i4",
    DataType.LONG: ">i8",
    DataType.FLOAT: ">f4",
    DataType.DOUBLE: ">f8",
    # TIMESTAMP = epoch millis as LONG (Pinot's encoding; beyond the
    # reference, README.md:314)
    DataType.TIMESTAMP: ">i8",
}


# _pack_bits works in 16k-value chunks: bounding per-call fresh
# allocations matters because this host environment (and any
# memory-ballooned VM) services FIRST-TOUCH page faults up to 1000x
# slower than warm-page compute — the original whole-column (n, 64) bit
# matrix (38 MB per 600k-row column, new pages every call) dominated
# segment-write time. Per-chunk temporaries stay under ~1 MB, so glibc
# recycles them from the warm heap. 16384 is a multiple of 8, so every
# full chunk's bitstream is byte-aligned and per-chunk packbits outputs
# concatenate into exactly the whole-column packing (only the final chunk
# zero-pads, same as a single whole-column pass).
_PACK_CHUNK = 1 << 14


def _pack_bits(values: list[int], bits: int) -> bytes:
    """Big-endian bit packing, inverse of fixed_bit.unpack_bits.

    Each chunk is viewed as big-endian bytes and expanded with ONE
    ``np.unpackbits`` pass (r15; byte-identical to the r14 shift-and-mask
    loop it replaces — pinned by tests/test_writer_arrow.py's reference —
    and ~6x faster at 600k values: unpackbits touches 1 byte per bit via
    SIMD where the shift loop wrote 8-byte uint64 intermediates per bit).
    A value's big-endian bit expansion IS its MSB-first bit matrix row, so
    slicing the low ``bits`` columns equals shift-and-mask exactly; values
    are guaranteed < 2**bits by construction (dict ids < cardinality,
    MV offsets <= totalEntries)."""
    v = np.asarray(values, dtype=np.uint64)
    n = v.size
    width = 2 if bits <= 16 else (4 if bits <= 32 else 8)
    be = {2: ">u2", 4: ">u4", 8: ">u8"}[width]
    out = np.empty((n * bits + 7) // 8, dtype=np.uint8)
    step_bytes = _PACK_CHUNK * bits // 8
    for ci, i in enumerate(range(0, n, _PACK_CHUNK)):
        m = min(_PACK_CHUNK, n - i)
        bv = v[i : i + m].astype(be).view(np.uint8).reshape(m, width)
        bm = np.unpackbits(bv, axis=1)[:, width * 8 - bits :]
        packed = np.packbits(bm)
        out[ci * step_bytes : ci * step_bytes + packed.size] = packed
    return out.tobytes()


def _bits_needed(cardinality: int) -> int:
    return max(1, math.ceil(math.log2(cardinality)) if cardinality > 1 else 1)


def _is_sorted(values: np.ndarray) -> bool:
    return bool(np.all(values[:-1] <= values[1:])) if len(values) else True


def _cardinality(values) -> int:
    if isinstance(values, np.ndarray):
        return len(np.unique(values))
    return len(set(values))


def _text_array(name: str, data_type: DataType, values, multi_value: bool):
    """The STRING/BYTES value stream as one ``large_string`` /
    ``large_binary`` array (chunks combined after the cast to 64-bit
    offsets, so no payload size overflows). A NULL is refused: nullable
    columns carry a fill value at null positions and the truth in
    ``null_mask``."""
    import pyarrow as pa

    typ = pa.large_string() if data_type is DataType.STRING else pa.large_binary()
    if multi_value:
        values = [v for row in values for v in row]
    if isinstance(values, pa.ChunkedArray):
        arr = values.cast(typ).combine_chunks()
    elif isinstance(values, pa.Array):
        arr = values.cast(typ)
    else:
        if isinstance(values, np.ndarray):
            values = values.tolist()  # numpy '<U' has no Arrow conversion
        arr = pa.array(values, type=typ)
    if arr.null_count:
        raise ValueError(
            f"column '{name}': {data_type.value} values must carry a fill "
            "at null positions (like every nullable column here)"
        )
    return arr


class ColumnSpec:
    def __init__(
        self,
        name: str,
        data_type: DataType,
        values: list,
        raw: bool = False,
        compression: int = PASS_THROUGH,
        target_chunk_size: int = 1 << 20,
        fixed_length_dict: bool = False,
        with_magic_prefix: bool = False,
        multi_value: bool = False,
        null_mask: "np.ndarray | None" = None,
        inverted: bool = False,
        bloom: bool = False,
        partition_config: "tuple[str, int] | None" = None,
        text_index: bool = False,
        range_index: bool = False,
        json_index: bool = False,
        decimal: "tuple[int, int] | None" = None,
    ) -> None:
        if json_index and (multi_value or data_type is not DataType.STRING):
            raise ValueError(
                f"column '{name}': JSON index requires a single-value "
                "STRING column"
            )
        if range_index and (
            multi_value
            or data_type
            not in (
                DataType.INT,
                DataType.LONG,
                DataType.TIMESTAMP,
                DataType.FLOAT,
                DataType.DOUBLE,
            )
        ):
            raise ValueError(
                f"column '{name}': range index requires a single-value "
                "numeric column"
            )
        if text_index and (multi_value or data_type is not DataType.STRING):
            # The analyzer tokenizes string values; other types have no
            # defined token stream (and MV strings no probe path yet).
            raise ValueError(
                f"column '{name}': text index requires a single-value "
                "STRING column"
            )
        if partition_config is not None:
            # Column partition map (Pinot's segmentPartitionConfig):
            # ("Modulo", N). Only floor-mod over integer keys is defined —
            # it is exactly reproducible at plan time from a filter literal
            # (and by Spark's pmod when laying data out at write time).
            func, num = partition_config
            if func != "Modulo":
                raise ValueError(
                    f"column '{name}': unsupported partition function "
                    f"'{func}' (only Modulo)"
                )
            if num < 1:
                raise ValueError(
                    f"column '{name}': numPartitions must be >= 1, got {num}"
                )
            if multi_value or data_type not in (
                DataType.INT,
                DataType.LONG,
                DataType.TIMESTAMP,
            ):
                raise ValueError(
                    f"column '{name}': partition metadata requires a "
                    "single-value integer column"
                )
        if bloom and multi_value:
            # A flattened-value bloom would be well-defined, but no probe
            # path exists for MV filters yet; refuse rather than write an
            # index nothing reads.
            raise ValueError(
                f"column '{name}': bloom filter requires a single-value column"
            )
        if inverted and raw:
            # The inverted index maps dict ids -> doc bitmaps, so it needs
            # a dictionary. Multi-value dict columns ARE supported (Pinot
            # parity): bitmap i marks docs whose ARRAY contains value i.
            raise ValueError(
                f"column '{name}': inverted index requires a "
                "dictionary-encoded column"
            )
        if null_mask is not None:
            # Nullable columns (beyond the reference, schema.rs:29-30):
            # `values` must already carry a fill value at null positions
            # (Pinot semantics: the forward index stores a default value and
            # a null-vector index marks which docs are null). The mask is a
            # per-doc boolean array, True = null.
            if multi_value:
                raise ValueError("multi-value columns cannot be nullable")
            null_mask = np.asarray(null_mask, dtype=bool)
            if len(null_mask) != len(values):
                raise ValueError(
                    f"column '{name}': null_mask length {len(null_mask)} != "
                    f"value count {len(values)}"
                )
            if not null_mask.any():
                null_mask = None  # no nulls → no null vector on disk
        if multi_value:
            # Multi-value columns (beyond the reference, which lists MV as
            # unsupported, README.md:310-316): `values` is a list of lists;
            # dictionary-encoded only (RAW MV has no defined layout here).
            if raw:
                raise ValueError("multi-value columns are dictionary-only")
            if data_type is DataType.BYTES:
                raise ValueError("multi-value BYTES is unsupported")
        if raw and data_type is DataType.BOOLEAN:
            raise ValueError("RAW is not supported for BOOLEAN columns")
        if data_type is DataType.BYTES and fixed_length_dict:
            raise ValueError(
                "BYTES dictionaries are var-length only (NUL padding is "
                "ambiguous for binary values)"
            )
        self.decimal = None
        if data_type is DataType.BIG_DECIMAL:
            # Pinot's exact-decimal type, serialized per value as
            # [int16 BE scale][two's-complement unscaled big-endian] —
            # BigDecimal's byte layout — then stored through the existing
            # BYTES machinery (dictionary or RAW var-byte). The column
            # carries ONE validated (precision, scale); every value must
            # fit it exactly (no silent rounding), which is what lets
            # readers surface a fixed Arrow decimal128 / Spark
            # DecimalType.
            if multi_value:
                raise ValueError(
                    f"column '{name}': multi-value BIG_DECIMAL unsupported"
                )
            if decimal is None:
                raise ValueError(
                    f"column '{name}': BIG_DECIMAL requires "
                    "decimal=(precision, scale)"
                )
            prec, scale = decimal
            if not (1 <= prec <= 38) or not (0 <= scale <= prec):
                raise ValueError(
                    f"column '{name}': invalid decimal ({prec}, {scale})"
                )
            import decimal as _dec
            from decimal import Decimal, InvalidOperation

            q = Decimal(1).scaleb(-scale)
            bound = 10**prec
            ser = []
            # the default decimal context's 28-digit precision would make
            # quantize/scaleb raise InvalidOperation for perfectly valid
            # values with 29..38 significant digits — the contract allows
            # precision up to decimal128's 38, so compute under 40 digits
            with _dec.localcontext() as ctx:
                ctx.prec = 40
                for v in values:
                    if v is None:
                        raise ValueError(
                            f"column '{name}': BIG_DECIMAL values must "
                            "carry a fill at null positions (like every "
                            "nullable column here)"
                        )
                    try:
                        d = Decimal(v)
                    except InvalidOperation:
                        raise ValueError(
                            f"column '{name}': not a decimal: {v!r}"
                        ) from None
                    if d != d.quantize(q):
                        raise ValueError(
                            f"column '{name}': {v} does not fit scale "
                            f"{scale}"
                        )
                    unscaled = int(d.scaleb(scale))
                    if not -bound < unscaled < bound:
                        raise ValueError(
                            f"column '{name}': {v} exceeds precision {prec}"
                        )
                    nbytes = max(1, (unscaled.bit_length() + 8) // 8)
                    ser.append(
                        struct.pack(">h", scale)
                        + unscaled.to_bytes(nbytes, "big", signed=True)
                    )
            values = ser
            self.decimal = (prec, scale)
            data_type = DataType.BYTES
            if fixed_length_dict:
                raise ValueError(
                    "BIG_DECIMAL dictionaries are var-length only"
                )
        if data_type in (DataType.FLOAT, DataType.DOUBLE):
            # NaN breaks sorted-dictionary encoding (NaN != NaN inflates the
            # set; sorted() leaves NaN anywhere, un-sorting the dictionary and
            # corrupting binary-search ids and zone maps). Mirror the sink's
            # NULL rejection: refuse NaN up front.
            flat = (
                [v for row in values for v in row] if multi_value else values
            )
            if np.isnan(np.asarray(flat, dtype=np.float64)).any():
                raise ValueError(
                    f"NaN in column '{name}': Pinot sorted dictionaries cannot "
                    "encode NaN (NaN is unordered); filter or canonicalize first"
                )
        # STRING/BYTES (BIG_DECIMAL's serialized bytes included) encode
        # from ONE large_string/large_binary array over the value stream
        # (multi-value rows flattened), built here from whatever the caller
        # handed over: a list, an ndarray, or (single-value) a pyarrow
        # Array/ChunkedArray straight from the sink's record batches. The dictionary/var-byte
        # encoders, bloom, cardinality and dict-id steps then work from the
        # Arrow buffers with no per-value Python objects; 64-bit offsets
        # hold any column size. Other consumers read the ``values``
        # property, which keeps a caller's list or materializes one lazily.
        self._arrow = None
        # set by _encode_dictionary (numeric/boolean ndarray path, r15):
        # the np.unique return_inverse ids, consumed once by write_segment
        self._dict_ids = None
        if data_type in (DataType.STRING, DataType.BYTES):
            self._arrow = _text_array(name, data_type, values, multi_value)
            if not multi_value and not isinstance(values, list):
                values = None
        self.name = name
        self.data_type = data_type
        self._values = values
        self.raw = raw
        self.compression = compression
        self.target_chunk_size = target_chunk_size
        self.fixed_length_dict = fixed_length_dict
        self.with_magic_prefix = with_magic_prefix
        self.multi_value = multi_value
        self.null_mask = null_mask
        self.inverted = inverted
        self.bloom = bloom
        self.partition_config = partition_config
        self.text_index = text_index
        self.range_index = range_index
        self.json_index = json_index

    @property
    def values(self):
        """Per-doc values as Python objects: the caller's list, or the text
        column's Arrow array materialized (and cached) on first access."""
        if self._values is None:
            self._values = self._arrow.to_pylist()
        return self._values

    def num_docs(self) -> int:
        """Row count without materializing a text column's Arrow array."""
        if self._values is None:
            return len(self._arrow)
        return len(self._values)

    def flat_values(self) -> list:
        """Flattened value stream (the per-doc values, concatenated)."""
        if self.multi_value:
            return [v for row in self.values for v in row]
        return self.values

    def declared_dtype(self) -> DataType:
        """The logical type metadata declares: BIG_DECIMAL columns store
        as BYTES but must read back as decimals."""
        return DataType.BIG_DECIMAL if self.decimal else self.data_type


def _encode_dictionary(spec: ColumnSpec) -> tuple[bytes, list, int]:
    """Returns (blob, sorted_unique_values, length_of_each_entry). For
    multi-value columns the dictionary covers the flattened value stream."""
    if spec._arrow is not None:
        # text: distincts come from one C pass; the sort runs over
        # cardinality entries, not rows. Python's sort order equals byte
        # order for both str (UTF-8 preserves code-point order) and bytes.
        import pyarrow.compute as pc

        uniq = sorted(pc.unique(spec._arrow).to_pylist())
    else:
        vals = spec.flat_values()
        if isinstance(vals, np.ndarray):
            # r15: one pass yields both the sorted dictionary AND each
            # doc's dict id (return_inverse); the caller's separate
            # searchsorted probe over all docs was the writer's dominant
            # remaining cost (0.59 s of a 1.7 s 600k-row write, measured
            # with tools/profile_writer.py — since removed, in git history
            # at f12fd1e) and inverse ids are 4.5x cheaper at that shape.
            # ids identical to searchsorted by definition (index of each
            # value in the sorted unique array).
            uniq, inverse = np.unique(vals, return_inverse=True)
            spec._dict_ids = inverse.astype(np.int64, copy=False)
        else:
            uniq = sorted(set(vals))
    out = bytearray(_DICT_MAGIC)
    length_of_each_entry = 0
    if spec.data_type in _BE_DTYPES:
        out += np.asarray(uniq, dtype=_BE_DTYPES[spec.data_type]).tobytes()
    elif spec.data_type is DataType.BOOLEAN:
        # BE int32 0/1 entries (Pinot's internal INT encoding for booleans;
        # beyond the reference, which rejects BOOLEAN dictionaries).
        out += np.asarray(uniq, dtype=">i4").tobytes()
    elif spec.data_type is DataType.BYTES:
        # Var-length 4-byte-BE-length-prefixed entries (the only BYTES dict
        # layout — see dictionary.py; NUL-padded fixed-length is refused in
        # ColumnSpec.__init__).
        for e in uniq:
            out += len(e).to_bytes(4, "big") + e
    else:  # STRING
        encoded = [v.encode("utf-8") for v in uniq]
        if spec.fixed_length_dict and any(b"\x00" in e for e in encoded):
            # The fixed-length dict format pads with NULs and the reader (like
            # the reference, dictionary.rs:96-98) trims at the first NUL — the
            # format is inherently lossy for NUL-containing values. Refuse
            # rather than silently corrupt.
            raise ValueError(
                f"column '{spec.name}': fixed-length dictionaries cannot encode "
                "values containing NUL (\\x00); use var-length (default)"
            )
        if spec.fixed_length_dict:
            length_of_each_entry = max((len(e) for e in encoded), default=1)
            length_of_each_entry = max(length_of_each_entry, 1)
            for e in encoded:
                out += e.ljust(length_of_each_entry, b"\x00")
        else:
            for e in encoded:
                out += len(e).to_bytes(4, "big") + e
    return bytes(out), uniq, length_of_each_entry


def _encode_raw_numeric(spec: ColumnSpec) -> bytes:
    """Fixed-width RAW numeric forward index (beyond the reference, which
    errors on RAW numerics at segment_reader.rs:53-57; format defined by
    this rebuild). High-cardinality numeric columns — unique keys,
    timestamps — would otherwise pay a dictionary as large as the column.

    Layout: 16-byte header (version=1 u32 BE | valueWidth u32 BE | two
    reserved u32) followed by the values big-endian, fixed width."""
    dt = np.dtype(_BE_DTYPES[spec.data_type])
    body = np.asarray(spec.values, dtype=dt).tobytes()
    header = (
        (1).to_bytes(4, "big")
        + dt.itemsize.to_bytes(4, "big")
        + b"\x00" * 8
    )
    return header + body


def _encode_var_byte(spec: ColumnSpec) -> bytes:
    """V4 var-byte chunk forward index for a RAW STRING/BYTES column. A
    string/binary array already IS (offsets, contiguous value bytes), so
    each chunk is a slice of the data buffer plus a rebased offset table."""
    import pyarrow as pa

    arr = spec._arrow.cast(pa.large_binary())
    # a sliced array keeps absolute offsets into the shared data buffer, so
    # indexing the offsets window by arr.offset is the only offset handling
    # needed
    offs_np = np.frombuffer(arr.buffers()[1], dtype=np.int64)[
        arr.offset : arr.offset + len(arr) + 1
    ]
    data_mv = memoryview(arr.buffers()[2] or b"")
    n_docs = len(arr)
    lens = np.diff(offs_np)

    def chunk_bytes(i: int, j: int) -> bytes:
        num = j - i
        base = 4 + 4 * num
        offs = (base + (offs_np[i:j] - offs_np[i])).astype("<u4")
        return (
            num.to_bytes(4, "little")
            + offs.tobytes()
            + bytes(data_mv[offs_np[i] : offs_np[j]])
        )

    # Split docs into chunks; any value whose payload alone exceeds the target
    # becomes a huge-value chunk of its own (high docId bit set).
    #
    # Vectorized packing (byte-identical to the per-doc loop it replaced,
    # pinned by the golden-bytes freeze tests): a value joins the current
    # chunk while 4 + sum(4 + len) stays within the target, so chunk
    # boundaries fall out of ONE searchsorted over the prefix-cost array
    # per chunk — O(chunks log n) instead of 600k Python iterations — and
    # each chunk's offset table is a cumsum, not a per-value append.
    chunks: list[tuple[int, bool, bytes]] = []  # (start_doc, huge, decompressed)
    prefix = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens + 4, out=prefix[1:])
    target = spec.target_chunk_size
    i = 0
    while i < n_docs:
        if lens[i] > target:
            chunks.append((i, True, bytes(data_mv[offs_np[i] : offs_np[i + 1]])))
            i += 1
            continue
        j = int(
            np.searchsorted(prefix, prefix[i] + target - 4, side="right") - 1
        )
        j = max(j, i + 1)
        chunks.append((i, False, chunk_bytes(i, j)))
        i = j

    def compress(decompressed: bytes) -> bytes:
        if spec.compression == PASS_THROUGH:
            return decompressed
        if spec.compression in (SNAPPY, ZSTANDARD):
            import pyarrow as pa

            name = "snappy" if spec.compression == SNAPPY else "zstd"
            out = pa.Codec(name).compress(decompressed)
            return out.to_pybytes() if hasattr(out, "to_pybytes") else bytes(out)
        body = lz4_block.compress(decompressed)
        if spec.compression == LZ4_LENGTH_PREFIXED:
            return len(decompressed).to_bytes(4, "little") + body
        if spec.compression == LZ4:
            return body
        raise ValueError(f"unsupported writer compression {spec.compression}")

    compressed = [compress(c) for _, _, c in chunks]

    # Metadata entries: (docId | hugeFlag, chunkOffset relative to chunks area).
    meta = bytearray()
    off = 0
    for (start_doc, huge, _), comp in zip(chunks, compressed):
        docid_field = start_doc | (0x80000000 if huge else 0)
        meta += docid_field.to_bytes(4, "little") + off.to_bytes(4, "little")
        off += len(comp)

    chunks_start_offset = 16 + len(meta)
    header = (
        (4).to_bytes(4, "big")
        + spec.target_chunk_size.to_bytes(4, "big")
        + spec.compression.to_bytes(4, "big")
        + chunks_start_offset.to_bytes(4, "big")
    )
    body = header + bytes(meta) + b"".join(compressed)
    if spec.with_magic_prefix:
        body = b"\xde\xad\xbe\xef\x00\x00\x00\x00" + body
    return body


def write_segment(
    segment_dir: str | Path,
    segment_name: str,
    table_name: str,
    columns: list[ColumnSpec],
) -> Path:
    """Write one v3 segment; returns the ``.../v3`` directory path."""
    v3 = Path(segment_dir) / "v3"
    v3.mkdir(parents=True, exist_ok=True)

    total_docs = columns[0].num_docs() if columns else 0
    for c in columns:
        if c.num_docs() != total_docs:
            raise ValueError("all columns must have the same row count")

    psf = bytearray()
    index_lines: list[str] = []
    meta_lines = [
        f"segment.name={segment_name}",
        f"segment.table.name={table_name}",
        f"segment.total.docs={total_docs}",
        "columns=" + ",".join(c.name for c in columns),
    ]

    def emit_inverted(spec: ColumnSpec, dict_ids: np.ndarray, card: int) -> None:
        """Inverted index (beyond the reference; Pinot's per-value bitmap
        idea): magic | cardinality u32 BE | bitmapBytes u32 BE | one 1-bit
        big-endian packed doc bitmap per dict id, concatenated in id order.
        Lets a reader answer "which docs hold value v" without decoding the
        forward index. Addressed by ``{column}.inverted_index`` entries —
        Pinot's real index_map name."""
        if not spec.inverted:
            return
        if card > 65536:
            raise ValueError(
                f"column '{spec.name}': inverted index over {card} distinct "
                "values would be larger than the column itself; cap is 65536"
            )
        if spec.multi_value:
            # one entry per flattened value; bitmap i marks the DOCS whose
            # array contains dictionary value i (Pinot's MV inverted index)
            lens = [len(row) for row in spec.values]
            doc_of_entry = np.repeat(np.arange(len(lens)), lens)
            n = len(lens)
        else:
            doc_of_entry = None
            n = len(dict_ids)
        bitmap_bytes = (n + 7) // 8
        out = bytearray(_FWD_MAGIC)
        out += card.to_bytes(4, "big") + bitmap_bytes.to_bytes(4, "big")
        positions = np.arange(len(dict_ids))
        for i in range(card):
            bits = np.zeros(n, dtype=np.uint8)
            hits = positions[dict_ids == i]
            if doc_of_entry is not None:
                bits[np.unique(doc_of_entry[hits])] = 1
            else:
                bits[hits] = 1
            out += np.packbits(bits).tobytes()
        start = len(psf)
        psf.extend(out)
        index_lines.extend(
            (
                f"{spec.name}.inverted_index.startOffset={start}",
                f"{spec.name}.inverted_index.size={len(out)}",
            )
        )
        meta_lines.append(f"column.{spec.name}.hasInvertedIndex=true")

    def emit_partition_map(spec: ColumnSpec) -> None:
        """Per-segment partition metadata (Pinot's real property names:
        ``partitionFunction`` / ``numPartitions`` / ``partitionValues``):
        the floor-mod residues actually present in the column. A write
        laid out by key (repartition on pmod(key, N)) yields few residues
        per segment, and an equality probe then prunes whole segments at
        planning time; an unpartitioned write records all N residues —
        harmless, never wrong."""
        if spec.partition_config is None:
            return
        _, num = spec.partition_config
        vals = np.asarray(spec.values, dtype=np.int64)
        if spec.null_mask is not None:
            vals = vals[~spec.null_mask]
        pids = np.unique(vals % num)  # numpy % == floor-mod, like Python
        meta_lines.extend(
            (
                f"column.{spec.name}.partitionFunction=Modulo",
                f"column.{spec.name}.numPartitions={num}",
                "column.%s.partitionValues=%s"
                % (spec.name, ",".join(str(int(p)) for p in pids)),
            )
        )

    def emit_bloom(spec: ColumnSpec, distinct_values=None) -> None:
        """Bloom filter over the column's distinct values (beyond the
        reference; Pinot's bloom_filter index type — see bloom.py for the
        layout and why it matters for unclustered high-card columns).
        Addressed by ``{column}.bloom_filter`` index_map entries. Nullable
        columns hash only the non-null values (the fill is not data)."""
        if not spec.bloom:
            return
        from pinot_segment import bloom as bloom_mod

        if spec._arrow is not None:
            if distinct_values is None or spec.null_mask is not None:
                # text: the non-null distincts from one C pass
                import pyarrow as pa
                import pyarrow.compute as pc

                arr = spec._arrow
                if spec.null_mask is not None:
                    arr = arr.filter(pa.array(~spec.null_mask))
                distinct_values = pc.unique(arr).to_pylist()
        elif distinct_values is None:
            vals = spec.values
            if spec.null_mask is not None:
                vals = [
                    v for v, is_null in zip(vals, spec.null_mask) if not is_null
                ]
            if isinstance(vals, np.ndarray):
                distinct_values = np.unique(vals)
            else:
                distinct_values = set(vals)
        elif spec.null_mask is not None:
            # dictionary path: the sorted dictionary includes the fill value
            # at null positions; drop values that appear ONLY as fills
            real = set(
                v
                for v, is_null in zip(spec.values, spec.null_mask)
                if not is_null
            )
            distinct_values = [v for v in distinct_values if v in real]
        blob = bloom_mod.build_bloom(
            (
                bloom_mod.canonical_bytes(v, spec.data_type)
                for v in distinct_values
            ),
            len(distinct_values),
        )
        start = len(psf)
        psf.extend(blob)
        index_lines.extend(
            (
                f"{spec.name}.bloom_filter.startOffset={start}",
                f"{spec.name}.bloom_filter.size={len(blob)}",
            )
        )
        meta_lines.append(f"column.{spec.name}.hasBloomFilter=true")

    def emit_text_index(spec: ColumnSpec) -> None:
        """Token -> doc-bitmap postings (beyond the reference; Pinot's
        text_index type — see text_index.py for the layout and analyzer
        contract). Works for dictionary AND raw STRING columns (it indexes
        the original value stream, not dict ids). Addressed by
        ``{column}.text_index`` index_map entries."""
        if not spec.text_index:
            return
        from pinot_segment import text_index as ti

        blob = ti.build_text_index(spec.values, spec.null_mask)
        start = len(psf)
        psf.extend(blob)
        index_lines.extend(
            (
                f"{spec.name}.text_index.startOffset={start}",
                f"{spec.name}.text_index.size={len(blob)}",
            )
        )
        meta_lines.append(f"column.{spec.name}.hasTextIndex=true")

    def emit_range_index(spec: ColumnSpec) -> None:
        """Equal-count value buckets with per-bucket min/max + doc bitmaps
        (beyond the reference; Pinot's range_index type — see
        range_index.py for why zone maps don't cover this case).
        Addressed by ``{column}.range_index`` index_map entries."""
        if not spec.range_index:
            return
        from pinot_segment import range_index as ri

        blob = ri.build_range_index(
            spec.values,
            spec.data_type in (DataType.FLOAT, DataType.DOUBLE),
        )
        start = len(psf)
        psf.extend(blob)
        index_lines.extend(
            (
                f"{spec.name}.range_index.startOffset={start}",
                f"{spec.name}.range_index.size={len(blob)}",
            )
        )
        meta_lines.append(f"column.{spec.name}.hasRangeIndex=true")

    def emit_json_index(spec: ColumnSpec) -> None:
        """Flattened path=value -> doc-bitmap postings (beyond the
        reference; Pinot's json_index type — see json_index.py for the
        flattening contract). Addressed by ``{column}.json_index``
        index_map entries."""
        if not spec.json_index:
            return
        from pinot_segment import json_index as ji

        blob = ji.build_json_index(spec.values, spec.null_mask)
        start = len(psf)
        psf.extend(blob)
        index_lines.extend(
            (
                f"{spec.name}.json_index.startOffset={start}",
                f"{spec.name}.json_index.size={len(blob)}",
            )
        )
        meta_lines.append(f"column.{spec.name}.hasJsonIndex=true")

    def emit_nullvector(spec: ColumnSpec) -> None:
        """Null-vector index (beyond the reference): 8-byte magic + 1-bit
        big-endian packed per-doc null flags (1 = null), addressed by a
        ``{column}.nullvector`` index_map entry."""
        if spec.null_mask is None:
            return
        blob = _FWD_MAGIC + _pack_bits(spec.null_mask.astype(np.uint8), 1)
        start = len(psf)
        psf.extend(blob)
        index_lines.extend(
            (
                f"{spec.name}.nullvector.startOffset={start}",
                f"{spec.name}.nullvector.size={len(blob)}",
            )
        )
        meta_lines.append(f"column.{spec.name}.hasNullValues=true")

    for spec in columns:
        if spec.decimal:
            meta_lines += [
                f"column.{spec.name}.decimalPrecision={spec.decimal[0]}",
                f"column.{spec.name}.decimalScale={spec.decimal[1]}",
            ]
        if spec.raw:
            if spec.data_type in _BE_DTYPES:
                blob = _encode_raw_numeric(spec)
            else:
                blob = _encode_var_byte(spec)
            start = len(psf)
            psf += blob
            index_lines += [
                f"{spec.name}.forward_index.startOffset={start}",
                f"{spec.name}.forward_index.size={len(blob)}",
            ]
            if spec._arrow is not None:
                import pyarrow.compute as pc

                raw_card = int(pc.count_distinct(spec._arrow).as_py())
            else:
                raw_card = _cardinality(spec.values)
            meta_lines += [
                f"column.{spec.name}.dataType={spec.declared_dtype().value}",
                f"column.{spec.name}.cardinality={raw_card}",
                f"column.{spec.name}.hasDictionary=false",
                # RAW numerics record sortedness too (nullable columns never
                # do — fill values don't reflect the true order): the reader
                # binary-searches sorted columns into a doc range instead of
                # masking every row.
                f"column.{spec.name}.isSorted="
                + (
                    "true"
                    if spec.null_mask is None
                    and spec.data_type in _BE_DTYPES
                    and _is_sorted(np.asarray(spec.values))
                    else "false"
                ),
                f"column.{spec.name}.bitsPerElement=0",
                f"column.{spec.name}.lengthOfEachEntry=0",
            ]
            if spec.data_type in _BE_DTYPES and len(spec.values):
                # Zone-map stats for RAW numerics (Pinot's real property
                # names): dict columns derive min/max from the sorted
                # dictionary, RAW columns carry them in metadata instead.
                # Nullable columns record bounds over the NON-NULL values
                # only (the fill at null positions is not data).
                arr = np.asarray(spec.values)
                if spec.null_mask is not None:
                    arr = arr[~spec.null_mask]
                if len(arr):
                    meta_lines += [
                        f"column.{spec.name}.minValue={arr.min()}",
                        f"column.{spec.name}.maxValue={arr.max()}",
                    ]
            emit_bloom(spec)
            emit_partition_map(spec)
            emit_text_index(spec)
            emit_range_index(spec)
            emit_json_index(spec)
            emit_nullvector(spec)
            continue

        dict_blob, uniq, length_of_each_entry = _encode_dictionary(spec)
        # cache for post-write stats collection (_specs_stats): the
        # dictionary entry count IS the column cardinality, so the sink
        # never recomputes a distinct pass over the values
        spec._dict_cardinality = len(uniq)
        if spec._arrow is not None:
            # text: ids from one hash-probe C pass against the sorted
            # dictionary (exact binary equality — NUL-safe, unlike numpy
            # '<U' probes); multi-value columns probe their flat stream
            import pyarrow as pa
            import pyarrow.compute as pc

            dict_ids = (
                pc.index_in(
                    spec._arrow,
                    value_set=pa.array(uniq, type=spec._arrow.type),
                )
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
        elif spec._dict_ids is not None:
            # ids fell out of _encode_dictionary's np.unique return_inverse
            # pass (r15) — skip the second probe; consume once, never reuse
            dict_ids, spec._dict_ids = spec._dict_ids, None
        else:
            # value → dictId via binary search on the sorted dictionary
            # (MV columns: the flat stream is a Python list)
            native = (
                np.dtype(bool)
                if spec.data_type is DataType.BOOLEAN
                else np.dtype(_BE_DTYPES[spec.data_type]).newbyteorder("=")
            )
            dict_ids = np.searchsorted(
                np.asarray(uniq, dtype=native),
                np.asarray(spec.flat_values(), dtype=native),
            )
        bits = _bits_needed(len(uniq))
        if spec.multi_value:
            # MV forward layout (defined by this rebuild — the reference has
            # no MV support to mirror, README.md:310-316):
            #   magic | totalEntries u32 BE | offsetBits u8
            #   | bit-packed per-doc END offsets (total_docs entries)
            #   | bit-packed dict ids (totalEntries entries)
            # Both bit-packed regions are independently byte-aligned
            # (_pack_bits pads), so the ids region starts at
            # ceil(total_docs * offsetBits / 8) bytes after the offsets.
            ends = np.cumsum([len(row) for row in spec.values], dtype=np.int64)
            total_entries = int(ends[-1]) if len(ends) else 0
            offset_bits = _bits_needed(total_entries + 1)
            fwd_blob = (
                _FWD_MAGIC
                + total_entries.to_bytes(4, "big")
                + offset_bits.to_bytes(1, "big")
                + _pack_bits(ends, offset_bits)
                + _pack_bits(dict_ids, bits)
            )
        else:
            fwd_blob = _FWD_MAGIC + _pack_bits(dict_ids, bits)

        start = len(psf)
        psf += dict_blob
        index_lines += [
            f"{spec.name}.dictionary.startOffset={start}",
            f"{spec.name}.dictionary.size={len(dict_blob)}",
        ]
        start = len(psf)
        psf += fwd_blob
        index_lines += [
            f"{spec.name}.forward_index.startOffset={start}",
            f"{spec.name}.forward_index.size={len(fwd_blob)}",
        ]
        meta_lines += [
            f"column.{spec.name}.dataType={spec.declared_dtype().value}",
            f"column.{spec.name}.cardinality={len(uniq)}",
            f"column.{spec.name}.hasDictionary=true",
            # A nullable column is never marked sorted: the fill values at
            # null positions don't reflect the true value order, so sorted-
            # range pruning must not trust them.
            # sortedness via the dict ids: the dictionary is sorted
            # ascending, so doc order over VALUES is non-decreasing iff it
            # is over ids — an O(n) int compare that never materializes
            # a text column's Python values
            f"column.{spec.name}.isSorted="
            + (
                "true"
                if not spec.multi_value
                and spec.null_mask is None
                and _is_sorted(np.asarray(dict_ids))
                else "false"
            ),
            f"column.{spec.name}.bitsPerElement={bits}",
            f"column.{spec.name}.lengthOfEachEntry={length_of_each_entry}",
        ]
        if spec.multi_value:
            max_mv = max((len(row) for row in spec.values), default=0)
            meta_lines += [
                f"column.{spec.name}.isSingleValue=false",
                f"column.{spec.name}.totalNumberOfEntries={len(dict_ids)}",
                f"column.{spec.name}.maxNumberOfMultiValues={max_mv}",
            ]
        if spec.null_mask is not None and spec.data_type in _BE_DTYPES:
            # A nullable dict column's dictionary contains the fill value,
            # so min/max can't come from it; record metadata bounds over the
            # non-null values instead (same as nullable RAW columns).
            arr = np.asarray(spec.values)[~spec.null_mask]
            if len(arr):
                meta_lines += [
                    f"column.{spec.name}.minValue={arr.min()}",
                    f"column.{spec.name}.maxValue={arr.max()}",
                ]
        emit_inverted(spec, dict_ids, len(uniq))
        emit_bloom(spec, distinct_values=uniq)
        emit_partition_map(spec)
        emit_text_index(spec)
        emit_range_index(spec)
        emit_json_index(spec)
        emit_nullvector(spec)

    (v3 / "metadata.properties").write_text("\n".join(meta_lines) + "\n")
    (v3 / "index_map").write_text("\n".join(index_lines) + "\n")
    # psf lands in 1 MB slices straight from the bytearray: one whole-file
    # write() both copies the buffer (bytes(psf)) and — on this class of
    # virtualized host — hits a large-single-write kernel stall measured at
    # ~5 MB/s vs ~3 GB/s chunked (r14: 3.3 s of a 5.3 s 600k-row segment
    # write was this one syscall)
    mv = memoryview(psf)
    with open(v3 / "columns.psf", "wb") as fh:
        for off in range(0, len(mv), 1 << 20):
            fh.write(mv[off : off + (1 << 20)])
    return v3
