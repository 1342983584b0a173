"""Arrow assembly shared by both containers — the stripe codec
(`stripes.py`) and the ORC reader/writer (`sources/orc_*.py`).

Decode turns decoded stream values into Arrow arrays: `spread` is the
reference's one null re-spacing rule (`decode_spaced`,
`src/encoding/mod.rs:64-91`), and the array constructors mirror
`src/array_decoder/*` (list/map offsets, string/binary, decimal).
Encode is the inverse: validity split from values, the blob and
lengths of a binary array, the sorted dictionary, list/map lengths and
entries, decimal mantissas, µs timestamps.

Stream-agnostic: which streams hold the values, their codecs and the
container's type tree stay with each container.  Arrays with no nulls
pass through without a mask allocation or a `take`.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


# ---------------------------------------------------------------------------
# decode: streams -> Arrow
# ---------------------------------------------------------------------------

def scatter(vals: np.ndarray, validity: np.ndarray, n: int) -> np.ndarray:
    """decode_spaced: `n` slots, `vals` at the valid ones, 0 elsewhere."""
    out = np.zeros(n, dtype=vals.dtype)
    out[validity] = vals
    return out


def spread(values, validity, n: int, atype: pa.DataType | None = None) -> pa.Array:
    """Spread n_valid values over `n` rows by `validity` (None = all
    valid).  `values` is an ndarray (made an array of type `atype`) or
    an Arrow array (spread by a take with null indices)."""
    if isinstance(values, np.ndarray):
        if validity is None:
            return pa.array(values, type=atype)
        return pa.array(scatter(values, validity, n), type=atype,
                        mask=~validity)
    if validity is None:
        return values
    idx = np.full(n, -1, dtype=np.int64)
    idx[validity] = np.arange(len(values), dtype=np.int64)
    return values.take(pa.array(idx, pa.int64(), mask=~validity))


def offsets(lengths: np.ndarray, validity, n: int) -> np.ndarray:
    """int64 offsets of `n` rows from the valid rows' lengths; a null
    row is empty."""
    offs = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offs[1:])
    if validity is None:
        return offs
    full = np.zeros(n + 1, dtype=np.int64)
    full[1:] = offs[np.cumsum(validity)]
    return full


def _nested(cls, lengths, validity, n: int, *children) -> pa.Array:
    # a null offset entry marks its row null (Arrow's FromArrays rule)
    mask = None if validity is None else np.append(~validity, False)
    offs = pa.array(offsets(lengths, validity, n).astype(np.int32),
                    pa.int32(), mask=mask)
    return cls.from_arrays(offs, *children)


def list_array(lengths: np.ndarray, child: pa.Array, validity,
               n: int) -> pa.Array:
    """`n`-row list array over `child` (the valid rows' elements)."""
    return _nested(pa.ListArray, lengths, validity, n, child)


def map_array(lengths: np.ndarray, keys: pa.Array, items: pa.Array,
              validity, n: int) -> pa.Array:
    """`n`-row map array over the valid rows' entries."""
    return _nested(pa.MapArray, lengths, validity, n, keys, items)


def var_array(lengths: np.ndarray, blob, atype: pa.DataType,
              validity=None, n: int | None = None) -> pa.Array:
    """String/binary array of type `atype` straight from the lengths
    and the concatenated value bytes (zero-copy over `blob`).  The
    buffers come from a stream, so a corrupt LENGTH (offsets past the
    blob) or non-UTF-8 string data fails here, not downstream in
    compute or Spark: the offsets are validated, and the cast from
    binary checks UTF-8."""
    offs = offsets(lengths, validity, n)
    bitmap = None if validity is None else \
        pa.py_buffer(np.packbits(validity, bitorder="little"))
    arr = pa.Array.from_buffers(
        pa.large_binary(), len(offs) - 1,
        [bitmap, pa.py_buffer(offs), pa.py_buffer(blob)])
    arr.validate(full=True)
    return arr.cast(atype)


def dict_var_array(dict_lengths: np.ndarray, dict_blob, indices: np.ndarray,
                   atype: pa.DataType, validity=None,
                   n: int | None = None) -> pa.Array:
    """Dictionary-encoded strings/binary: the dictionary assembled as
    by `var_array`, then one take (null rows take a null index)."""
    dictionary = var_array(dict_lengths, dict_blob, atype)
    if validity is not None:
        indices = pa.array(scatter(indices, validity, n), mask=~validity)
    return dictionary.take(indices)


def decimal_array(mantissas, atype: pa.DataType) -> pa.Array:
    """decimal128 array from unscaled mantissas (ndarray or python
    ints): an int64 low word plus its sign extension when every
    mantissa fits, else exact 16-byte little-endian ints."""
    n = len(mantissas)
    try:
        lo = np.asarray(mantissas, dtype=np.int64)
    except OverflowError:
        raw = b"".join(int(m).to_bytes(16, "little", signed=True)
                       for m in mantissas)
    else:
        raw = np.empty((n, 2), dtype=np.int64)
        raw[:, 0] = lo
        raw[:, 1] = lo >> np.int64(63)
    return pa.Array.from_buffers(atype, n, [None, pa.py_buffer(raw)])


# ---------------------------------------------------------------------------
# encode: Arrow -> stream values
# ---------------------------------------------------------------------------

def split_validity(arr: pa.Array):
    """(validity bool ndarray or None when no nulls, non-null values)."""
    if not arr.null_count:
        return None, arr
    return np.asarray(arr.is_valid()), arr.drop_null()


def binary_parts(valid: pa.Array) -> tuple[bytes, np.ndarray]:
    """(concatenated value bytes, int64 lengths) of a string/binary
    array with no nulls.  A sliced array carries an offset: its
    offsets are read from `valid.offset` and the data slice rebased."""
    lb = valid.cast(pa.large_binary())
    n = len(lb)
    if not n:
        return b"", np.empty(0, dtype=np.int64)
    offs = np.frombuffer(lb.buffers()[1], dtype=np.int64)
    offs = offs[lb.offset: lb.offset + n + 1]
    dbuf = lb.buffers()[2]
    blob = bytes(memoryview(dbuf)[offs[0]: offs[-1]]) if dbuf else b""
    return blob, np.diff(offs)


def dictionary_pays(valid: pa.Array) -> bool:
    """Sampled cardinality gate for dictionary strings: at most half of
    ~1024 evenly spaced values are distinct."""
    n = len(valid)
    if n <= 64:
        return False
    sample = valid.take(np.arange(0, n, max(n // 1024, 1)))
    return len(sample.unique()) <= max(len(sample) // 2, 1)


def sorted_dictionary(valid: pa.Array) -> tuple[bytes, np.ndarray, np.ndarray]:
    """(dictionary bytes, dictionary lengths, int64 indices) with the
    dictionary sorted bytewise, as ORC dictionaries are."""
    import pyarrow.compute as pc
    dct = valid.dictionary_encode()
    dictionary = dct.dictionary.cast(pa.binary())
    order = pc.sort_indices(dictionary).to_numpy().astype(np.int64)
    rank = np.empty_like(order)
    rank[order] = np.arange(len(order))
    blob, lengths = binary_parts(dictionary.take(order))
    indices = dct.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    return blob, lengths, rank[indices]


def list_parts(valid: pa.Array) -> tuple[np.ndarray, pa.Array]:
    """(int64 lengths, flattened elements) of a list or map array with
    no nulls; a map's elements are its (key, value) entries struct."""
    if pa.types.is_map(valid.type):
        t = valid.type
        valid = valid.cast(pa.list_(pa.struct([("key", t.key_type),
                                               ("value", t.item_type)])))
    lengths = valid.value_lengths().to_numpy(zero_copy_only=False)
    return lengths.astype(np.int64), valid.flatten()


def decimal_mantissas(arr: pa.Array):
    """Mantissas of a decimal128 array (no nulls): an int64 ndarray
    when every value's high word is the low word's sign extension
    (precision <= 18 always is — validated, not assumed), else a list
    of exact python ints reassembled from the 16-byte little-endian
    pairs (the varint encoder is unbounded, so precision > 18 columns
    cost a per-value loop but lose nothing)."""
    n = len(arr)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    pairs = np.frombuffer(arr.buffers()[1], dtype=np.int64)
    lo = pairs[2 * arr.offset: 2 * (arr.offset + n): 2]
    hi = pairs[2 * arr.offset + 1: 2 * (arr.offset + n) + 1: 2]
    if not np.array_equal(hi, lo >> np.int64(63)):
        lo_u = lo.view(np.uint64)
        return [(int(h) << 64) | int(lu)
                for h, lu in zip(hi.tolist(), lo_u.tolist())]
    return lo.copy()


def timestamp_us(valid: pa.Array) -> np.ndarray:
    """int64 µs since the epoch of a timestamp array of any unit; a
    sub-µs value raises instead of being truncated."""
    return valid.cast(pa.timestamp("us")).cast(pa.int64()) \
        .to_numpy(zero_copy_only=False)
