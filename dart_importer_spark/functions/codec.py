"""Delta + variable-byte codec for posting lists — vectorized numpy, no loops.

The reference gets posting-list storage for free from Lucene (configured via
ES ``text`` mappings, reference import_dart_data.py:353-440); its only
hand-rolled compression is bzip2 of cached JSON (manage_dart_file.py:104).
Here we implement the Lucene-style scheme ourselves:

- doc_ids: sorted -> first-order delta -> varbyte (LEB128, 7 data bits/byte,
  high bit = continuation).
- term frequencies / doc lengths: varbyte of the raw values.

Both directions are pure numpy array programs (no per-element Python), so
they run at memory bandwidth inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

import numpy as np

_THRESHOLDS = [1 << (7 * i) for i in range(1, 10)]  # 2^7 .. 2^63


def varbyte_encode_ex(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a uint64/int64 array to LEB128 bytes (vectorized), returning
    the packed bytes AND the per-value byte lengths — the lengths let a
    caller slice per-group sub-encodings out of one bulk encode.

    Fast path: byte 0 of EVERY value is written with one unmasked scatter;
    only the (typically tiny, for delta-gap data) subset needing
    continuation bytes loops further, over shrinking arrays. The earlier
    formulation masked the FULL array once per byte position, which made
    encoding the dominant cost of the whole index build.
    """
    arr = np.ascontiguousarray(values, dtype=np.uint64)
    if arr.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    # exact byte-length per value without float log (safe past 2^53);
    # only run the compares the data actually needs
    maxv = int(arr.max())
    nbytes = np.ones(arr.shape, dtype=np.int64)
    for t in _THRESHOLDS:
        if maxv < t:
            break
        nbytes += arr >= np.uint64(t)
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    total = int(ends[-1])
    out = np.zeros(total, dtype=np.uint8)

    b0 = (arr & np.uint64(0x7F)).astype(np.uint8)
    cont = nbytes > 1
    b0[cont] |= np.uint8(0x80)
    out[starts] = b0

    idx = np.flatnonzero(cont)
    vals = arr[idx] >> np.uint64(7)
    pos = starts[idx] + 1
    rem = nbytes[idx] - 1
    while vals.size:
        byte = (vals & np.uint64(0x7F)).astype(np.uint8)
        more = rem > 1
        byte[more] |= np.uint8(0x80)
        out[pos] = byte
        vals = vals[more] >> np.uint64(7)
        pos = pos[more] + 1
        rem = rem[more] - 1
    return out.tobytes(), nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """Encode a uint64/int64 array to LEB128 bytes (vectorized)."""
    return varbyte_encode_ex(values)[0]


def varbyte_decode(data: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to a uint64 array (vectorized)."""
    b = np.frombuffer(data, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    terminal = (b & 0x80) == 0  # last byte of each value
    # group id of every byte: 0-based index of the value it belongs to
    grp = np.zeros(b.shape, dtype=np.int64)
    np.cumsum(terminal[:-1], out=grp[1:])
    ofs = np.arange(b.size, dtype=np.int64)
    starts = np.flatnonzero(np.concatenate(([True], terminal[:-1])))
    ofs -= starts[grp]  # byte position within its value
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * ofs.astype(np.uint64)
    )
    # bit-ranges are disjoint, so reduceat-sum == bitwise OR assembly
    return np.add.reduceat(contrib, starts)


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta-gap + varbyte encode an ascending int64/uint64 id array."""
    arr = np.ascontiguousarray(sorted_ids, dtype=np.uint64)
    if arr.size == 0:
        return b""
    gaps = np.empty_like(arr)
    gaps[0] = arr[0]
    np.subtract(arr[1:], arr[:-1], out=gaps[1:])
    return varbyte_encode(gaps)


def delta_decode(data: bytes) -> np.ndarray:
    """Inverse of :func:`delta_encode` -> ascending uint64 array."""
    gaps = varbyte_decode(data)
    return np.cumsum(gaps, dtype=np.uint64)


def _stream(runs, col: str, count: int) -> np.ndarray:
    """One varbyte pass over a blob column's concatenated bytes (varbyte
    is self-delimiting), checked against the expected value count."""
    vals = varbyte_decode(b"".join(runs[col]))
    if vals.size != count:
        raise ValueError(
            f"decode_runs: {col!r} holds {vals.size} values, expected {count}"
        )
    return vals


def decode_runs(runs) -> dict[str, np.ndarray]:
    """Bulk-decode a batch of posting-run rows — the one postings decoder.

    ``runs`` is a pandas DataFrame with ``n`` (postings per run) and any of
    the blob columns ``docs`` / ``tfs`` / ``dls`` / ``poss`` written by
    ``index.build.pack_runs_bulk``; each present column is decoded ONCE over
    the batch, so the per-run Python cost is a ``b"".join``. Returns flat
    int64 arrays in run order: ``run`` (row index of each posting's run),
    plus ``doc_id`` / ``tf`` / ``dl`` for the present streams. doc_ids are
    rebuilt from gaps with a segmented cumsum: each run's first gap is its
    absolute min doc_id. ``pos`` (needs ``tfs``) holds each posting's tf
    token positions back to back; a positionless index stores empty
    ``poss`` blobs and yields an empty ``pos``.
    """
    n = runs["n"].to_numpy(dtype=np.int64)
    total = int(n.sum())
    out = {"run": np.repeat(np.arange(len(n), dtype=np.int64), n)}
    if "docs" in runs:
        csum = np.cumsum(_stream(runs, "docs", total), dtype=np.uint64)
        # subtract the running total before each run; uint64 wraps
        # consistently, so the difference is exact
        before = np.concatenate((np.zeros(1, dtype=np.uint64), csum))[np.cumsum(n) - n]
        out["doc_id"] = (csum - np.repeat(before, n)).astype(np.int64)
    if "tfs" in runs:
        out["tf"] = _stream(runs, "tfs", total).astype(np.int64)
    if "dls" in runs:
        out["dl"] = _stream(runs, "dls", total).astype(np.int64)
    if "poss" in runs:
        pos = varbyte_decode(b"".join(runs["poss"])).astype(np.int64)
        want = int(out["tf"].sum())
        if pos.size and pos.size != want:
            raise ValueError(
                f"decode_runs: 'poss' holds {pos.size} values, expected {want}"
            )
        out["pos"] = pos
    return out
