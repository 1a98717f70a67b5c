"""OSM-PBF ingestion and (test-fixture) emission — stdlib only.

Closes the one end-to-end gap vs the reference binary: pointing the engine
directly at an ``.osm.pbf`` file (reference: ``createDecoder`` /
``openFile``, pbf2json.go:236-244, 979-990, entity decode 354-477). The
reference hands the byte-level decode to a Go protobuf library; this module
re-derives it from the public OSMPBF wire format (protobuf varints + zlib,
both in the Python stdlib) because the sandbox has no protobuf package —
the FORMAT is the spec being matched, not the Go code.

Distributed shape (the part that must survive 100 TB):
  * the driver scans ONLY the blob framing — 4-byte big-endian BlobHeader
    length, the ~40-byte BlobHeader itself, then ``seek(datasize)`` — to
    build an (offset, length) index. No decompression, no entity decode;
    the index pass reads a few KB per ~1 MB blob.
  * decode fans out as ``mapInPandas`` over the index frame: each task
    seeks into the file and decodes its own blobs. The driver already holds
    the index, so it assigns the tasks itself: ``parallelize`` slices the
    index into contiguous, balanced runs of blobs in file order, and no
    Spark job runs to plan them. Blobs are independently
    decompressible by design (the format exists for exactly this), so a
    planet file parallelizes across executors without any coordination;
    many files parallelize the same way with a path column.
  * the decode runs once per ``read_pbf`` call: its output is a lazy
    ``localCheckpoint`` that the nodes, ways and relations frames split by
    entity type. The first action materializes the decoded blocks, every
    later plan reads them instead of re-running the Python decode, and the
    ContextCleaner frees them when the frames are released. ``persist()``
    would share the decode too, but its CacheManager entry lives until an
    explicit ``unpersist()``, so every call in a long-lived session would
    leak one. The price of either is the blocks' executor storage, and
    for the checkpoint also lineage: a block lost with its executor is
    not recomputed, the job that needs it fails.
  * decoded entities cross Arrow as flat scalar/list columns (tag keys and
    values as separate string arrays, members as three parallel arrays);
    maps and structs are assembled JVM-side (map_from_arrays / arrays_zip)
    so the Python↔JVM boundary stays at Arrow's fastest types.

The encoder (`write_pbf`) exists because the reference's PBF fixture is
absent from disk (.MISSING_LARGE_BLOBS) — synthetic round-trip tests are
the only possible parity evidence. It is a driver-side test-fixture writer,
not a distributed sink.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# protobuf wire codec (encode + decode), the subset OSMPBF uses
# ---------------------------------------------------------------------------

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _zigzag_decode(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


def _iter_fields(buf: bytes):
    """Yield (field_no, wire_type, value) over one message's bytes.
    LEN fields yield the raw bytes; varint fields the int."""
    pos = 0
    end = len(buf)
    while pos < end:
        tag, pos = _read_varint(buf, pos)
        field, wt = tag >> 3, tag & 7
        if wt == _WT_VARINT:
            val, pos = _read_varint(buf, pos)
        elif wt == _WT_LEN:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos : pos + ln]
            pos += ln
        elif wt == _WT_I64:
            val = buf[pos : pos + 8]
            pos += 8
        elif wt == _WT_I32:
            val = buf[pos : pos + 4]
            pos += 4
        else:  # pragma: no cover - malformed input
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, val


def _varints_np_ends(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """(values, end_byte_positions) — the positions let a caller that
    concatenated many independent payloads (e.g. every way's refs block in
    a group) segment the decoded stream back per payload with one
    searchsorted, since a varint never spans payload boundaries."""
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        e = np.empty(0, dtype=np.int64)
        return np.empty(0, dtype=np.uint64), e
    ends = np.flatnonzero((a & 0x80) == 0)
    n = ends.size
    # Malformed buffers must fail with a decode error, not an opaque
    # numpy shape/index error: all-continuation bytes mean zero complete
    # varints in a non-empty buffer, and a final byte with the
    # continuation bit set means the last varint was cut mid-stream.
    if n == 0 or ends[-1] != a.size - 1:
        raise ValueError("truncated varint in packed block")
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    pos = np.arange(a.size, dtype=np.int64) - np.repeat(
        starts, ends - starts + 1
    )
    shift = 7 * pos
    contrib = (a & 0x7F).astype(np.uint64)
    big = shift >= 64  # malformed >10-byte varints: contribution ≡ 0 mod 2^64
    if big.any():
        shift = np.where(big, 0, shift)
    contrib <<= shift.astype(np.uint64)
    if big.any():
        contrib[big] = 0
    cs = np.cumsum(contrib)
    out = np.empty(n, dtype=np.uint64)
    out[0] = cs[ends[0]]
    out[1:] = cs[ends[1:]] - cs[ends[:-1]]
    return out, ends


def _varints_np(buf: bytes) -> np.ndarray:
    """Vectorized packed-varint decode (uint64, protobuf 64-bit
    truncation semantics): byte-level Python loops made the stdlib decode
    the ingest bottleneck (~14k entities/s/core); this does the whole
    packed block in a handful of numpy passes — continuation-bit ends,
    per-byte 7-bit contributions shifted by position-in-varint, one
    wraparound cumsum, and a difference at the end positions (unsigned
    wraparound makes the segment sums exact mod 2^64, which IS protobuf's
    truncation rule). ~20× the scalar loop on DenseNodes blocks."""
    return _varints_np_ends(buf)[0]


def _zigzag_np(v: np.ndarray) -> np.ndarray:
    """Vector zigzag decode → int64 (bit-reinterpret, no value clipping)."""
    return ((v >> np.uint64(1)) ^ (np.uint64(0) - (v & np.uint64(1)))).view(
        np.int64
    )


def _packed_varints_np(
    field_entries: list, signed: bool = False
) -> np.ndarray:
    """Packed-varint field → numpy array (int64 when signed, uint64 raw
    otherwise), concatenating multiple LEN blocks / repeated scalars."""
    parts = []
    for wt, val in field_entries:
        if wt == _WT_LEN:
            parts.append(_varints_np(val))
        else:
            parts.append(np.array([val], dtype=np.uint64))
    if not parts:
        return np.empty(0, dtype=np.int64 if signed else np.uint64)
    raw = parts[0] if len(parts) == 1 else np.concatenate(parts)
    return _zigzag_np(raw) if signed else raw


def _packed_varints(field_entries: list, signed: bool = False) -> list[int]:
    """Decode a packed-or-repeated varint field: accepts both encodings
    (LEN = packed block, VARINT = one repeated element)."""
    out: list[int] = []
    for wt, val in field_entries:
        if wt == _WT_LEN:
            pos = 0
            while pos < len(val):
                v, pos = _read_varint(val, pos)
                out.append(_zigzag_decode(v) if signed else v)
        else:
            out.append(_zigzag_decode(val) if signed else val)
    return out


def _collect(buf: bytes) -> dict[int, list]:
    fields: dict[int, list] = {}
    for field, wt, val in _iter_fields(buf):
        fields.setdefault(field, []).append((wt, val))
    return fields


# encode helpers -------------------------------------------------------------


def _emit_varint(n: int) -> bytes:
    if n < 0:
        # Python's arithmetic shift never reaches 0 for negatives — callers
        # encoding proto int64 must two's-complement first (_emit_int does)
        raise ValueError("varint payload must be non-negative")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _emit_tag(field: int, wt: int) -> bytes:
    return _emit_varint(field << 3 | wt)


def _emit_len(field: int, payload: bytes) -> bytes:
    return _emit_tag(field, _WT_LEN) + _emit_varint(len(payload)) + payload


def _emit_int(field: int, n: int) -> bytes:
    # proto int64: negatives are 10-byte two's-complement varints
    return _emit_tag(field, _WT_VARINT) + _emit_varint(n & 0xFFFFFFFFFFFFFFFF)


def _to_i64(v: int) -> int:
    """Decode a proto int64 varint value (unsigned wire) to signed."""
    return v - (1 << 64) if v >= (1 << 63) else v


def _emit_packed(field: int, values: list[int], signed: bool = False) -> bytes:
    if not values:
        return b""
    body = b"".join(
        _emit_varint(_zigzag_encode(v) if signed else v) for v in values
    )
    return _emit_len(field, body)


# ---------------------------------------------------------------------------
# blob framing
# ---------------------------------------------------------------------------


def blob_index(path: str) -> list[tuple[str, int, int]]:
    """Scan ONLY the framing of a .osm.pbf file: one
    (blob_type, data_offset, data_length) triple per blob, suitable for
    parallel decode. Reads the 4-byte length + BlobHeader per blob and
    seeks over the blob data itself."""
    out = []
    with open(path, "rb") as f:
        while True:
            raw = f.read(4)
            if len(raw) < 4:
                break
            hdr_len = struct.unpack(">I", raw)[0]
            header = _collect(f.read(hdr_len))
            btype = header[1][0][1].decode("utf-8")
            datasize = header[3][0][1]
            offset = f.tell()
            out.append((btype, offset, datasize))
            f.seek(datasize, 1)
    return out


def _blob_payload(raw_blob: bytes) -> bytes:
    """Blob message → uncompressed PrimitiveBlock/HeaderBlock bytes.
    Supports `raw` (field 1) and `zlib_data` (field 3) — the two encodings
    the stdlib can produce/consume; others (lzma/zstd) raise."""
    fields = _collect(raw_blob)
    if 1 in fields:
        return fields[1][0][1]
    if 3 in fields:
        return zlib.decompress(fields[3][0][1])
    raise ValueError(
        f"unsupported Blob compression (fields present: {sorted(fields)})"
    )


# ---------------------------------------------------------------------------
# PrimitiveBlock decode
# ---------------------------------------------------------------------------


def decode_block_columns(data: bytes) -> dict:
    """One PrimitiveBlock → columnar arrays (the distributed-decode fast
    path): node ids/lats/lons as numpy int64/float64 via the vectorized
    varint decoder + one cumsum per delta-coded field, tag lists built
    only for the (minority) tagged nodes via keys_vals terminator
    positions. Ways/relations stay per-message Python (they are ~10% of a
    planet's entities) but their packed ref/member fields use the
    vectorized decoder too.

    Returns {"node_id": int64[], "node_lat": f64[], "node_lon": f64[],
    "node_tk": object[], "node_tv": object[], "ways": [...], "relations":
    [...]} — ways as (id, tag_keys, tag_vals, refs) tuples, relations as
    (id, tag_keys, tag_vals, member_ids, member_types, roles) tuples."""
    block = _collect(data)
    strings = [
        v.decode("utf-8") for _, v in _collect(block[1][0][1]).get(1, [])
    ]
    granularity = block.get(17, [(0, 100)])[0][1]
    lat_offset = block.get(19, [(0, 0)])[0][1]
    lon_offset = block.get(20, [(0, 0)])[0][1]

    def coord(raw: int, off: int) -> float:
        return 1e-9 * (off + granularity * raw)

    id_parts: list[np.ndarray] = []
    lat_parts: list[np.ndarray] = []
    lon_parts: list[np.ndarray] = []
    tk_parts: list[list] = []
    tv_parts: list[list] = []
    ways: list[tuple] = []
    rels: list[tuple] = []
    _empty: list[str] = []
    for _, group_bytes in block.get(2, []):
        group = _collect(group_bytes)
        # plain (non-dense) nodes — field 1
        for _, nb in group.get(1, []):
            nf = _collect(nb)
            id_parts.append(
                np.array([_zigzag_decode(nf[1][0][1])], dtype=np.int64)
            )
            lat_parts.append(np.array(
                [coord(_zigzag_decode(nf[8][0][1]), lat_offset)]
            ))
            lon_parts.append(np.array(
                [coord(_zigzag_decode(nf[9][0][1]), lon_offset)]
            ))
            keys = _packed_varints(nf.get(2, []))
            vals = _packed_varints(nf.get(3, []))
            tk_parts.append([[strings[k] for k in keys]])
            tv_parts.append([[strings[v] for v in vals]])
        # dense nodes — field 2 (ids/lats/lons delta-coded, keys_vals
        # interleaved with 0 terminators)
        for _, db in group.get(2, []):
            df_ = _collect(db)
            ids = np.cumsum(_packed_varints_np(df_.get(1, []), signed=True))
            rlats = np.cumsum(_packed_varints_np(df_.get(8, []), signed=True))
            rlons = np.cumsum(_packed_varints_np(df_.get(9, []), signed=True))
            n = ids.size
            id_parts.append(ids)
            # int64 scale/offset then one float multiply — bit-identical
            # to the scalar 1e-9 * (off + gran * raw) per element
            lat_parts.append(1e-9 * (lat_offset + granularity * rlats))
            lon_parts.append(1e-9 * (lon_offset + granularity * rlons))
            kv = _packed_varints_np(df_.get(10, []))
            tks: list = [_empty] * n
            tvs: list = [_empty] * n
            if kv.size:
                term = np.flatnonzero(kv == 0)
                if term.size:
                    starts = np.empty(term.size, dtype=np.int64)
                    starts[0] = 0
                    starts[1:] = term[:-1] + 1
                    m = min(term.size, n)
                    # Python only over TAGGED nodes (the minority)
                    for j in np.flatnonzero((term - starts)[:m] > 0):
                        seg = kv[starts[j]:term[j]]
                        tks[j] = [strings[k] for k in seg[0::2]]
                        tvs[j] = [strings[v] for v in seg[1::2]]
            tk_parts.append(tks)
            tv_parts.append(tvs)
        # ways — field 3: lean manual scan (no per-way _collect dict), the
        # per-way refs payloads batched into ONE vectorized varint decode
        # for the whole group — a varint never spans payloads, so end-byte
        # positions searchsorted against payload boundaries recover the
        # per-way segmentation, and a global cumsum minus per-segment base
        # re-anchors the delta coding (measured 89 → ~35 ms per 8k-way
        # blob; per-way numpy calls were WORSE than scalar at 376 ms)
        wlist = group.get(3, [])
        if wlist:
            hdr: list[tuple] = []
            ref_bufs: list[bytes] = []
            for _, wb in wlist:
                wid = 0
                kb = vb = rb = b""
                pos, wend = 0, len(wb)
                while pos < wend:
                    tag, pos = _read_varint(wb, pos)
                    fno, wt = tag >> 3, tag & 7
                    if wt == _WT_VARINT:
                        v, pos = _read_varint(wb, pos)
                        if fno == 1:
                            wid = _to_i64(v)
                        # Repeated varint fields MAY be wire-encoded
                        # unpacked (one tag per element) by conforming
                        # writers; re-encode into the packed buffers so
                        # the batched decode sees one uniform stream.
                        elif fno == 2:
                            kb += _emit_varint(v)
                        elif fno == 3:
                            vb += _emit_varint(v)
                        elif fno == 8:
                            rb += _emit_varint(v)
                    elif wt == _WT_LEN:
                        ln, pos = _read_varint(wb, pos)
                        val = wb[pos : pos + ln]
                        pos += ln
                        if fno == 2:
                            kb += val
                        elif fno == 3:
                            vb += val
                        elif fno == 8:
                            rb += val
                    elif wt == _WT_I64:
                        pos += 8
                    elif wt == _WT_I32:
                        pos += 4
                    else:  # pragma: no cover - malformed input
                        raise ValueError(f"unsupported wire type {wt}")
                hdr.append((wid, kb, vb))
                ref_bufs.append(rb)
            def _segmented(bufs: list[bytes]) -> list[np.ndarray]:
                """Decode many independent packed payloads in ONE vector
                pass and split back per payload."""
                bounds = np.cumsum(
                    np.array([len(b) for b in bufs], dtype=np.int64)
                )
                raw, vend = _varints_np_ends(b"".join(bufs))
                owner = np.searchsorted(bounds, vend, side="right")
                counts = np.bincount(owner, minlength=len(bufs))
                return raw, counts

            rraw, rcounts = _segmented(ref_bufs)
            deltas = _zigzag_np(rraw)
            firsts = np.concatenate(([0], np.cumsum(rcounts)[:-1]))
            gcs = np.cumsum(deltas)
            base = np.where(firsts > 0, gcs[firsts - 1], 0)
            absr = gcs - np.repeat(base, rcounts)
            rsplit = np.split(absr, np.cumsum(rcounts)[:-1])
            kraw, kcounts = _segmented([h[1] for h in hdr])
            vraw, vcounts = _segmented([h[2] for h in hdr])
            ksplit = np.split(kraw, np.cumsum(kcounts)[:-1])
            vsplit = np.split(vraw, np.cumsum(vcounts)[:-1])
            for (wid, _, _), kseg, vseg, seg in zip(
                hdr, ksplit, vsplit, rsplit
            ):
                ways.append(
                    (
                        wid,
                        [strings[k] for k in kseg.tolist()],
                        [strings[v] for v in vseg.tolist()],
                        seg.tolist(),
                    )
                )
        # relations — field 4
        for _, rb in group.get(4, []):
            rf = _collect(rb)
            rid = _to_i64(rf[1][0][1])
            keys = _packed_varints(rf.get(2, []))
            vals = _packed_varints(rf.get(3, []))
            roles = _packed_varints(rf.get(8, []))
            memids = []
            c = 0
            for d in _packed_varints(rf.get(9, []), signed=True):
                c += d
                memids.append(c)
            mtypes = _packed_varints(rf.get(10, []))
            rels.append(
                (
                    rid,
                    [strings[k] for k in keys],
                    [strings[v] for v in vals],
                    memids,
                    [("node", "way", "relation")[t] for t in mtypes],
                    [strings[r] for r in roles],
                )
            )
    cat = np.concatenate
    return {
        "node_id": cat(id_parts) if id_parts else np.empty(0, np.int64),
        "node_lat": cat(lat_parts) if lat_parts else np.empty(0),
        "node_lon": cat(lon_parts) if lon_parts else np.empty(0),
        "node_tk": [t for part in tk_parts for t in part],
        "node_tv": [t for part in tv_parts for t in part],
        "ways": ways,
        "relations": rels,
    }


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

_UNION_SCHEMA = (
    "etype string, id long, lat double, lon double, "
    "tag_keys array<string>, tag_vals array<string>, refs array<bigint>, "
    "m_refs array<bigint>, m_types array<string>, m_roles array<string>"
)


def read_pbf(
    spark: SparkSession, path: str, blobs_per_task: int | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Decode an .osm.pbf file into (nodes, ways, relations) DataFrames
    matching model.NODES/WAYS/RELATIONS_SCHEMA.

    The driver reads only blob framing (blob_index); the entity decode runs
    in executors via mapInPandas over the (offset, length) index — one open
    + seek per task, `blobs_per_task` blobs each — once per call: the three
    frames split one lazily checkpointed decode by entity type.

    The default sizes tasks for ~8 waves of the cluster: mapInPandas
    carries ~10 ms of per-task overhead (scheduling + worker round-trip +
    Arrow setup), so a fixed tiny task size lets overhead dominate as the
    file grows — a 3.6k-blob file at 4 blobs/task spent 10.6 of 15.9 s on
    the 895 task launches (measured; 14 blobs/task took the same file to
    9.2 s / 3.1M entities/s). ~8 waves keeps tasks small enough that the
    slow tail (way-heavy blobs cluster at the file's end, in the last
    tasks' slices) still balances."""
    if blobs_per_task is not None and blobs_per_task < 1:
        raise ValueError(f"blobs_per_task must be >= 1, got {blobs_per_task}")
    idx = [
        (path, off, ln)
        for btype, off, ln in blob_index(path)
        if btype == "OSMData"
    ]
    if not idx:
        raise ValueError(f"{path}: no OSMData blobs")
    if blobs_per_task is None:
        waves = spark.sparkContext.defaultParallelism * 8
        blobs_per_task = max(4, (len(idx) + waves - 1) // waves)
    n_tasks = (len(idx) + blobs_per_task - 1) // blobs_per_task
    # driver-side slicing: the index is already in file order, so task i
    # takes blobs [i·n/k, (i+1)·n/k) — contiguous runs whose sizes differ by
    # at most one blob: sequential reads after each task's one seek, no
    # balls-in-bins stragglers, and no job to sample range bounds. One
    # slice per element: parallelize splits its pickled batches, not the
    # elements, so parallelize(idx, k) itself can leave the runs uneven.
    cut = [len(idx) * i // n_tasks for i in range(n_tasks + 1)]
    slices = [idx[a:b] for a, b in zip(cut, cut[1:])]
    index_df = spark.createDataFrame(
        spark.sparkContext.parallelize(slices, n_tasks).flatMap(lambda s: s),
        "path string, offset long, length long",
    )

    def _decode(batches):
        cols = [
            "etype", "id", "lat", "lon", "tag_keys", "tag_vals",
            "refs", "m_refs", "m_types", "m_roles",
        ]

        def _none(n: int) -> np.ndarray:
            return np.full(n, None, dtype=object)

        for pdf in batches:
            by_path: dict[str, list[tuple[int, int]]] = {}
            for p, off, ln in pdf.itertuples(index=False):
                by_path.setdefault(p, []).append((int(off), int(ln)))
            for p, spans in by_path.items():
                with open(p, "rb") as f:
                    for off, ln in sorted(spans):
                        f.seek(off)
                        c = decode_block_columns(_blob_payload(f.read(ln)))
                        # columnar assembly: the per-entity dict-per-row
                        # build was ~half the decode wall time; one frame
                        # per blob (yielded separately — mapInPandas
                        # streams them) keeps memory at blob granularity
                        n = c["node_id"].size
                        if n:
                            yield pd.DataFrame({
                                "etype": np.full(n, "node", dtype=object),
                                "id": c["node_id"],
                                "lat": c["node_lat"],
                                "lon": c["node_lon"],
                                "tag_keys": pd.Series(
                                    c["node_tk"], dtype=object),
                                "tag_vals": pd.Series(
                                    c["node_tv"], dtype=object),
                                "refs": _none(n), "m_refs": _none(n),
                                "m_types": _none(n), "m_roles": _none(n),
                            }, columns=cols)
                        if c["ways"]:
                            w = c["ways"]
                            nw = len(w)
                            yield pd.DataFrame({
                                "etype": np.full(nw, "way", dtype=object),
                                "id": np.fromiter(
                                    (x[0] for x in w), np.int64, nw),
                                "lat": np.full(nw, np.nan),
                                "lon": np.full(nw, np.nan),
                                "tag_keys": pd.Series(
                                    [x[1] for x in w], dtype=object),
                                "tag_vals": pd.Series(
                                    [x[2] for x in w], dtype=object),
                                "refs": pd.Series(
                                    [x[3] for x in w], dtype=object),
                                "m_refs": _none(nw), "m_types": _none(nw),
                                "m_roles": _none(nw),
                            }, columns=cols)
                        if c["relations"]:
                            r = c["relations"]
                            nr = len(r)
                            yield pd.DataFrame({
                                "etype": np.full(
                                    nr, "relation", dtype=object),
                                "id": np.fromiter(
                                    (x[0] for x in r), np.int64, nr),
                                "lat": np.full(nr, np.nan),
                                "lon": np.full(nr, np.nan),
                                "tag_keys": pd.Series(
                                    [x[1] for x in r], dtype=object),
                                "tag_vals": pd.Series(
                                    [x[2] for x in r], dtype=object),
                                "refs": _none(nr),
                                "m_refs": pd.Series(
                                    [x[3] for x in r], dtype=object),
                                "m_types": pd.Series(
                                    [x[4] for x in r], dtype=object),
                                "m_roles": pd.Series(
                                    [x[5] for x in r], dtype=object),
                            }, columns=cols)

    # one decode shared by the three frames and every plan built on them
    # (module docstring, "Distributed shape")
    union = index_df.mapInPandas(_decode, _UNION_SCHEMA).localCheckpoint(
        eager=False
    )
    tags = F.map_from_arrays("tag_keys", "tag_vals").alias("tags")
    nodes = union.filter(F.col("etype") == "node").select("id", "lat", "lon", tags)
    ways = union.filter(F.col("etype") == "way").select("id", tags, "refs")
    relations = union.filter(F.col("etype") == "relation").select(
        "id",
        tags,
        F.transform(
            F.arrays_zip("m_refs", "m_types", "m_roles"),
            lambda m: F.struct(
                m["m_refs"].alias("ref"),
                m["m_types"].alias("mtype"),
                m["m_roles"].alias("role"),
            ),
        ).alias("members"),
    )
    return nodes, ways, relations


# ---------------------------------------------------------------------------
# encoder — synthetic test fixtures (driver-side)
# ---------------------------------------------------------------------------


def write_pbf(
    path: str,
    nodes: list[tuple[int, float, float, dict[str, str]]],
    ways: list[tuple[int, dict[str, str], list[int]]],
    relations: list[tuple[int, dict[str, str], list[tuple[int, str, str]]]] = (),
    entities_per_blob: int = 8000,
    granularity: int = 100,
) -> int:
    """Encode entity lists as a valid .osm.pbf (DenseNodes, delta coding,
    zlib blobs). Returns the number of OSMData blobs written. Test-fixture
    writer: the reference's golden PBF is absent from disk, so round-trip
    (write → read_pbf → compare) is the only executable parity evidence.

    String tables are PER BLOCK (round 4) — each PrimitiveBlock interns
    only the strings its own batch references, which is both what real
    planet files do and the only shape that scales: a single global table
    repeated in every block made a 7M-node fixture emit gigabytes (960
    blocks × a ~15 MB table) instead of ~100 MB."""
    mtype_enum = {"node": 0, "way": 1, "relation": 2}

    def new_table():
        strings = [""]  # index 0 reserved: dense keys_vals terminator
        sidx: dict[str, int] = {}

        def intern(s: str) -> int:
            i = sidx.get(s)
            if i is None:
                i = sidx[s] = len(strings)
                strings.append(s)
            return i

        return strings, intern

    def block(strings: list[str], groups: list[bytes]) -> bytes:
        str_table = _emit_len(
            1, b"".join(_emit_len(1, s.encode("utf-8")) for s in strings)
        )
        body = str_table + b"".join(_emit_len(2, g) for g in groups)
        if granularity != 100:
            body += _emit_int(17, granularity)
        return body

    def dense_block(batch: list) -> bytes:
        strings, intern = new_table()
        ids, lats, lons, kvs = [], [], [], []
        pid = plat = plon = 0
        for nid, lat, lon, tags in batch:
            rlat = round(lat / (1e-9 * granularity))
            rlon = round(lon / (1e-9 * granularity))
            ids.append(nid - pid)
            lats.append(rlat - plat)
            lons.append(rlon - plon)
            pid, plat, plon = nid, rlat, rlon
            for k, v in tags.items():
                kvs += [intern(k), intern(v)]
            kvs.append(0)
        dense = (
            _emit_packed(1, ids, signed=True)
            + _emit_packed(8, lats, signed=True)
            + _emit_packed(9, lons, signed=True)
            + _emit_packed(10, kvs)
        )
        return block(strings, [_emit_len(2, dense)])

    def way_block(batch: list) -> bytes:
        strings, intern = new_table()
        out = b""
        for wid, tags, refs in batch:
            deltas = [refs[0], *[b - a for a, b in zip(refs, refs[1:])]] if refs else []
            msg = (
                _emit_int(1, wid)
                + _emit_packed(2, [intern(k) for k in tags])
                + _emit_packed(3, [intern(v) for v in tags.values()])
                + _emit_packed(8, deltas, signed=True)
            )
            out += _emit_len(3, msg)
        return block(strings, [out])

    def rel_block(batch: list) -> bytes:
        strings, intern = new_table()
        out = b""
        for rid, tags, members in batch:
            memids = [m[0] for m in members]
            deltas = (
                [memids[0], *[b - a for a, b in zip(memids, memids[1:])]]
                if memids
                else []
            )
            msg = (
                _emit_int(1, rid)
                + _emit_packed(2, [intern(k) for k in tags])
                + _emit_packed(3, [intern(v) for v in tags.values()])
                + _emit_packed(8, [intern(m[2] or "") for m in members])
                + _emit_packed(9, deltas, signed=True)
                + _emit_packed(10, [mtype_enum[m[1]] for m in members])
            )
            out += _emit_len(4, msg)
        return block(strings, [out])

    def frame(btype: str, payload: bytes) -> bytes:
        comp = zlib.compress(payload)
        blob = _emit_int(2, len(payload)) + _emit_len(3, comp)
        header = _emit_len(1, btype.encode("utf-8")) + _emit_int(3, len(blob))
        return struct.pack(">I", len(header)) + header + blob

    header_block = (
        _emit_len(4, b"OsmSchema-V0.6")
        + _emit_len(4, b"DenseNodes")
        + _emit_len(16, b"pbf2json_spark-fixture")
    )
    n_blobs = 0
    with open(path, "wb") as f:
        f.write(frame("OSMHeader", header_block))
        way_list = list(ways)
        for batch_start in range(0, max(len(nodes), 1), entities_per_blob):
            batch = nodes[batch_start : batch_start + entities_per_blob]
            if batch:
                f.write(frame("OSMData", dense_block(batch)))
                n_blobs += 1
        for batch_start in range(0, max(len(way_list), 1), entities_per_blob):
            batch = way_list[batch_start : batch_start + entities_per_blob]
            if batch:
                f.write(frame("OSMData", way_block(batch)))
                n_blobs += 1
        rel_list = list(relations)
        for batch_start in range(0, max(len(rel_list), 1), entities_per_blob):
            batch = rel_list[batch_start : batch_start + entities_per_blob]
            if batch:
                f.write(frame("OSMData", rel_block(batch)))
                n_blobs += 1
    return n_blobs
