"""OSM PBF source (SURVEY §2.1 S1).

Parity target: /root/reference/vendor/.../parser/pbf/{parser.go,lowlevel.go}
— blob-framed protobuf container, DenseNodes/Ways/Relations with string
table, delta-coded ids/coords.

Pure-python protobuf wire codec (no protobuf dependency): the OSM PBF schema
uses only varint/zigzag, length-delimited and packed fields, all decoded
here directly.

Scale design: the file is split at BLOB boundaries — the driver scans only
the 4-byte blob headers (one seek per blob, ~8k blobs for a planet file),
builds an (offset, size) index, and the decode fans out as one Spark task
per blob batch (mapPartitions over the index). This mirrors the reference's
block fan-out to NumCPU workers (parser.go:125-263) but distributes across
a cluster; a 70 GB planet file becomes ~8k independent decode tasks with no
shuffle.
"""

from __future__ import annotations

import itertools
import struct
import zlib
from pathlib import Path
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imposm3_spark.sources.osm_xml import NODE_SCHEMA, RELATION_SCHEMA, WAY_SCHEMA

# ---------------------------------------------------------------------------
# protobuf wire format
# ---------------------------------------------------------------------------


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def zigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def int64(n: int) -> int:
    """A varint read as protobuf ``int64``: negative values arrive as
    their 64-bit two's complement."""
    return n - (1 << 64) if n >> 63 else n


def iter_fields(buf: bytes) -> Iterator[tuple[int, int, bytes | int]]:
    """Yield (field_number, wire_type, value). Length-delimited values are
    bytes; varints are ints; fixed32/64 raw ints."""
    pos = 0
    n = len(buf)
    while pos < n:
        key, pos = read_varint(buf, pos)
        field, wt = key >> 3, key & 7
        if wt == 0:
            v, pos = read_varint(buf, pos)
            yield field, wt, v
        elif wt == 2:
            ln, pos = read_varint(buf, pos)
            yield field, wt, buf[pos : pos + ln]
            pos += ln
        elif wt == 5:
            yield field, wt, struct.unpack_from("<I", buf, pos)[0]
            pos += 4
        elif wt == 1:
            yield field, wt, struct.unpack_from("<Q", buf, pos)[0]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _packed_raw_u64(buf: bytes):
    """All varints of a packed field as one numpy uint64 array.

    Vectorized decode (the per-blob hot path: ids/lats/lons/keys-vals of
    dense nodes, way refs, relation member ids — byte-at-a-time Python
    here was the import parse bottleneck): each byte contributes its low
    7 bits shifted by 7*(position within its varint); since the bit
    ranges are disjoint, summing the shifted payloads per varint group
    (add.reduceat) reassembles the values without carries. Shifts max at
    63 (10-byte varints), and uint64 wrap-around matches protobuf's
    64-bit truncation semantics."""
    import numpy as np

    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        return np.empty(0, dtype=np.uint64)
    starts = np.empty(a.size, dtype=bool)
    starts[0] = True
    starts[1:] = (a[:-1] & 0x80) == 0
    first_idx = np.flatnonzero(starts)
    gid = np.cumsum(starts) - 1
    offset = (np.arange(a.size) - first_idx[gid]).astype(np.uint64)
    shifted = (a & 0x7F).astype(np.uint64) << (np.uint64(7) * offset)
    return np.add.reduceat(shifted, first_idx)


# Below this buffer size the scalar loop beats numpy's per-call setup
# (typical way-refs fields are ~10 varints; dense-node id/lat/lon/kv
# fields are thousands). Measured crossover ~100 bytes on this box.
_VECTOR_MIN_BYTES = 128


def packed_varints(buf: bytes) -> list[int]:
    if len(buf) < _VECTOR_MIN_BYTES:
        out = []
        pos = 0
        while pos < len(buf):
            v, pos = read_varint(buf, pos)
            out.append(v)
        return out
    return _packed_raw_u64(buf).tolist()


def packed_sint64_delta(buf: bytes) -> list[int]:
    if len(buf) < _VECTOR_MIN_BYTES:
        out = []
        cur = 0
        pos = 0
        while pos < len(buf):
            raw, pos = read_varint(buf, pos)
            cur += zigzag(raw)
            out.append(cur)
        return out
    import numpy as np

    raw = _packed_raw_u64(buf)
    # zigzag in int64 domain, then the running delta sum
    vals = (raw >> np.uint64(1)).astype(np.int64) ^ -(raw & np.uint64(1)).astype(
        np.int64
    )
    return np.cumsum(vals).tolist()


# ---------------------------------------------------------------------------
# encoder primitives (for the writer / test fixtures)
# ---------------------------------------------------------------------------


def enc_varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def enc_zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63) if n < 0 else n << 1


# int64 fields (Way/Relation ids) encode negatives as 64-bit two's complement
_U64 = (1 << 64) - 1


def enc_field(field: int, wt: int, payload: bytes | int) -> bytes:
    key = enc_varint((field << 3) | wt)
    if wt == 0:
        return key + enc_varint(payload)  # type: ignore[arg-type]
    return key + enc_varint(len(payload)) + payload  # type: ignore[arg-type]


def enc_packed(field: int, values: list[int]) -> bytes:
    payload = b"".join(enc_varint(v) for v in values)
    return enc_field(field, 2, payload)


# ---------------------------------------------------------------------------
# OSM PBF structures
# ---------------------------------------------------------------------------

NANO = 1e-9


def _decode_string_table(buf: bytes) -> list[str]:
    return [v.decode("utf-8") for f, _wt, v in iter_fields(buf) if f == 1]


def _decode_dense_info(buf: bytes, st: list[str], date_gran: int, n: int) -> list[tuple | None]:
    """DenseInfo (osmformat.proto): version plain-packed; timestamp,
    changeset, uid, user_sid delta-coded. -> METADATA_SCHEMA tuples."""
    versions: list[int] = []
    timestamps: list[int] = []
    changesets: list[int] = []
    uids: list[int] = []
    user_sids: list[int] = []
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            versions = packed_varints(v)
        elif f == 2:
            timestamps = packed_sint64_delta(v)
        elif f == 3:
            changesets = packed_sint64_delta(v)
        elif f == 4:
            uids = packed_sint64_delta(v)
        elif f == 5:
            user_sids = packed_sint64_delta(v)
    out: list[tuple | None] = []
    for i in range(n):
        out.append(
            (
                uids[i] if i < len(uids) else None,
                st[user_sids[i]] if i < len(user_sids) else None,
                versions[i] if i < len(versions) else None,
                timestamps[i] * date_gran // 1000 if i < len(timestamps) else None,
                changesets[i] if i < len(changesets) else None,
            )
        )
    return out


def _decode_info(buf: bytes, st: list[str], date_gran: int) -> tuple:
    """Info message (plain Node/Way/Relation metadata): all plain varints."""
    version = timestamp = changeset = uid = user_sid = None
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            version = v
        elif f == 2:
            timestamp = v
        elif f == 3:
            changeset = v
        elif f == 4:
            uid = v
        elif f == 5:
            user_sid = v
    return (
        uid,
        st[user_sid] if user_sid is not None else None,
        version,
        timestamp * date_gran // 1000 if timestamp is not None else None,
        changeset,
    )


def _decode_dense_nodes(
    buf: bytes, st: list[str], gran: int, lat_off: int, lon_off: int, date_gran: int = 1000
):
    ids: list[int] = []
    lats: list[int] = []
    lons: list[int] = []
    kvs: list[int] = []
    info_buf: bytes | None = None
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            ids = packed_sint64_delta(v)
        elif f == 5:
            info_buf = v
        elif f == 8:
            lats = packed_sint64_delta(v)
        elif f == 9:
            lons = packed_sint64_delta(v)
        elif f == 10:
            kvs = packed_varints(v)
    tags_per_node: list[dict[str, str]] = []
    if kvs:
        cur: dict[str, str] = {}
        i = 0
        while i < len(kvs):
            if kvs[i] == 0:
                tags_per_node.append(cur)
                cur = {}
                i += 1
            else:
                cur[st[kvs[i]]] = st[kvs[i + 1]]
                i += 2
        while len(tags_per_node) < len(ids):
            tags_per_node.append({})
    else:
        tags_per_node = [{} for _ in ids]
    metas: list[tuple | None]
    if info_buf is not None:
        metas = _decode_dense_info(info_buf, st, date_gran, len(ids))
    else:
        metas = [None] * len(ids)
    for nid, lat, lon, tags, meta in zip(ids, lats, lons, tags_per_node, metas):
        yield (
            nid,
            NANO * (lon_off + gran * lon),
            NANO * (lat_off + gran * lat),
            tags,
            meta,
        )


def _decode_tags(fields: dict, st: list[str]) -> dict[str, str]:
    keys = fields.get(2, [])
    vals = fields.get(3, [])
    return {st[k]: st[v] for k, v in zip(keys, vals)}


def _decode_way(buf: bytes, st: list[str], date_gran: int = 1000):
    wid = 0
    keys: list[int] = []
    vals: list[int] = []
    refs: list[int] = []
    meta = None
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            wid = int64(v)
        elif f == 2:
            keys = packed_varints(v)
        elif f == 3:
            vals = packed_varints(v)
        elif f == 4:
            meta = _decode_info(v, st, date_gran)
        elif f == 8:
            refs = packed_sint64_delta(v)
    return (wid, refs, {st[k]: st[vv] for k, vv in zip(keys, vals)}, meta)


def _decode_relation(buf: bytes, st: list[str], date_gran: int = 1000):
    rid = 0
    keys: list[int] = []
    vals: list[int] = []
    roles: list[int] = []
    memids: list[int] = []
    types: list[int] = []
    meta = None
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            rid = int64(v)
        elif f == 2:
            keys = packed_varints(v)
        elif f == 3:
            vals = packed_varints(v)
        elif f == 4:
            meta = _decode_info(v, st, date_gran)
        elif f == 8:
            roles = packed_varints(v)
        elif f == 9:
            memids = packed_sint64_delta(v)
        elif f == 10:
            types = packed_varints(v)
    members = [
        (mid, t, st[r]) for mid, t, r in zip(memids, types, roles)
    ]
    return (rid, members, {st[k]: st[vv] for k, vv in zip(keys, vals)}, meta)


def decode_primitive_block(buf: bytes):
    """-> (nodes, ways, relations) row lists for one OSMData block."""
    st: list[str] = []
    groups: list[bytes] = []
    gran, lat_off, lon_off, date_gran = 100, 0, 0, 1000
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            st = _decode_string_table(v)
        elif f == 2:
            groups.append(v)
        elif f == 17:
            gran = v
        elif f == 18:
            date_gran = v
        elif f == 19:
            lat_off = v
        elif f == 20:
            lon_off = v
    nodes, ways, rels = [], [], []
    for g in groups:
        for f, _wt, v in iter_fields(g):
            if f == 1:  # plain Node (rare)
                nid, lat, lon = 0, 0, 0
                tags_k: list[int] = []
                tags_v: list[int] = []
                meta = None
                for ff, _w, vv in iter_fields(v):
                    if ff == 1:
                        nid = zigzag(vv)  # sint64, unlike Way/Relation ids
                    elif ff == 2:
                        tags_k = packed_varints(vv)
                    elif ff == 3:
                        tags_v = packed_varints(vv)
                    elif ff == 4:
                        meta = _decode_info(vv, st, date_gran)
                    elif ff == 8:
                        lat = zigzag(vv)
                    elif ff == 9:
                        lon = zigzag(vv)
                nodes.append(
                    (
                        nid,
                        NANO * (lon_off + gran * lon),
                        NANO * (lat_off + gran * lat),
                        {st[k]: st[x] for k, x in zip(tags_k, tags_v)},
                        meta,
                    )
                )
            elif f == 2:
                nodes.extend(_decode_dense_nodes(v, st, gran, lat_off, lon_off, date_gran))
            elif f == 3:
                ways.append(_decode_way(v, st, date_gran))
            elif f == 4:
                rels.append(_decode_relation(v, st, date_gran))
    return nodes, ways, rels


def _decompress_blob(buf: bytes) -> bytes:
    raw = None
    zdata = None
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            raw = v
        elif f == 3:
            zdata = v
    if raw is not None:
        return raw
    if zdata is not None:
        return zlib.decompress(zdata)
    raise ValueError("blob has neither raw nor zlib_data")


def scan_blobs(path: str) -> list[tuple[str, int, int]]:
    """Blob index: (type, offset_of_blob_payload, payload_size). Only the
    headers are read — O(#blobs) seeks, no payload IO on the driver."""
    out = []
    with open(path, "rb") as fh:
        while True:
            head = fh.read(4)
            if len(head) < 4:
                break
            hlen = struct.unpack(">I", head)[0]
            header = fh.read(hlen)
            btype = "?"
            dsize = 0
            for f, _wt, v in iter_fields(header):
                if f == 1:
                    btype = v.decode()
                elif f == 3:
                    dsize = v
            offset = fh.tell()
            out.append((btype, offset, dsize))
            fh.seek(dsize, 1)
    return out


# read_pbf's single decode output: one row per element, named by ``kind``,
# with the union of the three element schemas' columns. Flat rather than one
# struct per kind: a field selected out of a nullable struct reads nullable,
# flat columns keep each schema's non-null flags. Another kind's ``refs`` /
# ``members`` hold an empty array, as those columns are non-nullable.
ELEMENT_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        *NODE_SCHEMA.fields,
        WAY_SCHEMA["refs"],
        RELATION_SCHEMA["members"],
    ]
)


def read_pbf(
    spark: SparkSession, path: str, mapping=None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Distributed PBF read: one decode task per OSMData blob.

    Each blob is decoded exactly once per call, however many actions reach
    the returned frames (reference parity: one parse fans elements out to
    the node/way/relation caches, reader/reader.go:53-273). The decode
    emits one kind-tagged frame (``ELEMENT_SCHEMA``), pinned with a lazy
    local checkpoint: the first action decodes every blob and stores the
    rows on the executors, and nodes, ways and relations are ``kind``
    projections of that pin, with NODE_SCHEMA / WAY_SCHEMA /
    RELATION_SCHEMA. Unpinned, every action would re-run the pure-Python
    decode, and an import fires dozens of actions. The pin's blocks are
    freed when the frames are garbage-collected, unlike a ``cache()``
    entry, which stays until an explicit unpersist.

    Trade: the pin is not fault tolerant. Its blocks live only on the
    executors that decoded them, so losing one fails the job that reads
    them instead of re-decoding the lost blobs, and the pin is unsafe with
    dynamic allocation.

    With ``mapping``, the mapping-derived tag prefilter is PUSHED INTO the
    decode task (reference parity: the reader applies mapping/filter.go
    before caching, reader/reader.go:124,166,238) — unreferenced tags are
    dropped before rows are serialized to the JVM, so the Python->Arrow
    transfer and every downstream shuffle carry only needed keys. Semantics
    match mapping.matcher.tag_prefilter_expr (pinned by tests).

    ``mapping`` may also be a sequence of Mapping objects (one parse
    feeding several import pipelines, e.g. a geometry mapping plus a
    route-relation mapping): a tag survives decode if ANY mapping keeps
    it — each downstream pipeline still applies its own exact
    tag_prefilter_expr, so the union only widens what reaches the JVM."""
    path = str(Path(path).absolute())
    index = [(off, size) for btype, off, size in scan_blobs(path) if btype == "OSMData"]
    if not index:
        empty_n = spark.createDataFrame([], NODE_SCHEMA)
        empty_w = spark.createDataFrame([], WAY_SCHEMA)
        empty_r = spark.createDataFrame([], RELATION_SCHEMA)
        return empty_n, empty_w, empty_r

    n_slices = min(len(index), max(2, spark.sparkContext.defaultParallelism))
    blobs_rdd = spark.sparkContext.parallelize(index, n_slices)

    if mapping is not None:
        from imposm3_spark.mapping.matcher import python_tag_filter

        mappings = mapping if isinstance(mapping, (list, tuple)) else (mapping,)

        def union_filter(kind: str):
            fs = [python_tag_filter(m, kind) for m in mappings]
            if len(fs) == 1:
                return fs[0]

            def keep(tags: dict) -> dict:
                out: dict = {}
                for f in fs:
                    out.update(f(tags))
                return out

            return keep

        nf = union_filter("node")
        wf = union_filter("way")
        rf = union_filter("relation")
    else:
        nf = wf = rf = None

    def decode_partition(items):
        with open(path, "rb") as fh:
            for off, size in items:
                fh.seek(off)
                block = _decompress_blob(fh.read(size))
                nodes, ways, rels = decode_primitive_block(block)
                for i, lon, lat, t, m in nodes:
                    yield ("node", i, lon, lat, nf(t) if nf and t else t, m, [], [])
                for i, refs, t, m in ways:
                    yield ("way", i, None, None, wf(t) if wf and t else t, m, refs, [])
                for i, mem, t, m in rels:
                    yield ("relation", i, None, None, rf(t) if rf and t else t, m, [], mem)

    elements = spark.createDataFrame(
        blobs_rdd.mapPartitions(decode_partition), ELEMENT_SCHEMA
    ).localCheckpoint(eager=False)
    return tuple(  # type: ignore[return-value]
        elements.filter(F.col("kind") == kind).select(*schema.names)
        for kind, schema in (
            ("node", NODE_SCHEMA),
            ("way", WAY_SCHEMA),
            ("relation", RELATION_SCHEMA),
        )
    )


# ---------------------------------------------------------------------------
# writer (fixtures / round-trip tests)
# ---------------------------------------------------------------------------


def _enc_string_table(strings: list[str]) -> bytes:
    return b"".join(enc_field(1, 2, s.encode("utf-8")) for s in strings)


def _interned(
    tagsets: list[dict[str, str]],
    roles: list[str] | None = None,
    extra: list[str] | None = None,
) -> tuple[list[str], dict[str, int]]:
    table = [""]  # index 0 reserved (DenseNodes separator)
    seen = {"": 0}
    for tags in tagsets:
        for k, v in tags.items():
            for s in (k, v):
                if s not in seen:
                    seen[s] = len(table)
                    table.append(s)
    for r in list(roles or []) + list(extra or []):
        if r not in seen:
            seen[r] = len(table)
            table.append(r)
    return table, seen


def _meta_or_none(row: tuple, idx: int) -> tuple | None:
    return row[idx] if len(row) > idx else None


def _enc_info(meta: tuple, intern: dict[str, int]) -> bytes:
    """Info submessage for Way/Relation/plain-Node metadata."""
    uid, user, version, ts, changeset = meta
    body = b""
    if version is not None:
        body += enc_field(1, 0, version)
    if ts is not None:
        body += enc_field(2, 0, ts)
    if changeset is not None:
        body += enc_field(3, 0, changeset)
    if uid is not None:
        body += enc_field(4, 0, uid)
    if user is not None:
        body += enc_field(5, 0, intern[user])
    return enc_field(4, 2, body)


def _enc_dense_info(metas: list[tuple | None], intern: dict[str, int]) -> bytes:
    """DenseInfo parallel arrays (missing metadata encodes as zeros —
    parallel arrays admit no holes)."""
    vers, tss, chs, uids, usids = [], [], [], [], []
    pts = pch = puid = pusid = 0
    for m in metas:
        uid, user, version, ts, changeset = m or (0, "", 0, 0, 0)
        uid, user, version = uid or 0, user or "", version or 0
        ts, changeset = ts or 0, changeset or 0
        vers.append(version)
        tss.append(enc_zigzag(ts - pts))
        pts = ts
        chs.append(enc_zigzag(changeset - pch))
        pch = changeset
        uids.append(enc_zigzag(uid - puid))
        puid = uid
        sid = intern.get(user, 0)
        usids.append(enc_zigzag(sid - pusid))
        pusid = sid
    payload = (
        enc_packed(1, vers)
        + enc_packed(2, tss)
        + enc_packed(3, chs)
        + enc_packed(4, uids)
        + enc_packed(5, usids)
    )
    return enc_field(5, 2, payload)


def write_pbf(
    path: str,
    nodes: list[tuple],
    ways: list[tuple],
    relations: list[tuple],
    block_size: int = 4000,
) -> None:
    """Encode (id, lon, lat, tags[, metadata]) nodes / (id, refs, tags
    [, metadata]) ways / (id, members, tags[, metadata]) relations into an
    OSM PBF file (DenseNodes, zlib-compressed blobs). metadata is the
    METADATA_SCHEMA tuple (user_id, user_name, version, timestamp,
    changeset); in a dense batch that mixes with/without, missing rows
    encode as zeros (DenseInfo parallel arrays admit no holes)."""

    def write_blob(fh, btype: str, payload: bytes) -> None:
        z = zlib.compress(payload)
        blob = enc_field(2, 0, len(payload)) + enc_field(3, 2, z)
        header = enc_field(1, 2, btype.encode()) + enc_field(3, 0, len(blob))
        fh.write(struct.pack(">I", len(header)))
        fh.write(header)
        fh.write(blob)

    def dense_group(batch) -> bytes:
        tagsets = [row[3] for row in batch]
        metas = [_meta_or_none(row, 4) for row in batch]
        users = [m[1] for m in metas if m and m[1]]
        st, intern = _interned(tagsets, extra=users)
        ids, lats, lons, kvs = [], [], [], []
        pid = plat = plon = 0
        for row in batch:
            nid, lon, lat, tags = row[:4]
            ilat = int(round(lat / NANO / 100))
            ilon = int(round(lon / NANO / 100))
            ids.append(enc_zigzag(nid - pid))
            lats.append(enc_zigzag(ilat - plat))
            lons.append(enc_zigzag(ilon - plon))
            pid, plat, plon = nid, ilat, ilon
            for k, v in tags.items():
                kvs += [intern[k], intern[v]]
            kvs.append(0)
        dense = enc_packed(1, ids) + enc_packed(8, lats) + enc_packed(9, lons) + enc_packed(10, kvs)
        if any(m is not None for m in metas):
            dense += _enc_dense_info(metas, intern)
        group = enc_field(2, 2, dense)
        return enc_field(1, 2, _enc_string_table(st)) + enc_field(2, 2, group)

    def way_group(batch) -> bytes:
        metas = [_meta_or_none(row, 3) for row in batch]
        users = [m[1] for m in metas if m and m[1]]
        st, intern = _interned([row[2] for row in batch], extra=users)
        msgs = []
        for row, meta in zip(batch, metas):
            wid, refs, tags = row[:3]
            body = enc_field(1, 0, wid & _U64)
            if tags:
                body += enc_packed(2, [intern[k] for k in tags])
                body += enc_packed(3, [intern[v] for v in tags.values()])
            if meta is not None:
                body += _enc_info(meta, intern)
            deltas = []
            prev = 0
            for r in refs:
                deltas.append(enc_zigzag(r - prev))
                prev = r
            body += enc_packed(8, deltas)
            msgs.append(enc_field(3, 2, body))
        group = b"".join(msgs)
        return enc_field(1, 2, _enc_string_table(st)) + enc_field(2, 2, group)

    def rel_group(batch) -> bytes:
        roles = [m[2] for row in batch for m in row[1]]
        metas = [_meta_or_none(row, 3) for row in batch]
        users = [m[1] for m in metas if m and m[1]]
        st, intern = _interned([row[2] for row in batch], roles, extra=users)
        msgs = []
        for row, meta in zip(batch, metas):
            rid, members, tags = row[:3]
            body = enc_field(1, 0, rid & _U64)
            if tags:
                body += enc_packed(2, [intern[k] for k in tags])
                body += enc_packed(3, [intern[v] for v in tags.values()])
            if meta is not None:
                body += _enc_info(meta, intern)
            body += enc_packed(8, [intern[m[2]] for m in members])
            deltas = []
            prev = 0
            for m in members:
                deltas.append(enc_zigzag(m[0] - prev))
                prev = m[0]
            body += enc_packed(9, deltas)
            body += enc_packed(10, [m[1] for m in members])
            msgs.append(enc_field(4, 2, body))
        group = b"".join(msgs)
        return enc_field(1, 2, _enc_string_table(st)) + enc_field(2, 2, group)

    with open(path, "wb") as fh:
        header = enc_field(4, 2, b"OsmSchema-V0.6") + enc_field(4, 2, b"DenseNodes")
        write_blob(fh, "OSMHeader", header)
        for batch in itertools.zip_longest(*[iter(nodes)] * block_size):
            write_blob(fh, "OSMData", dense_group([b for b in batch if b is not None]))
        for batch in itertools.zip_longest(*[iter(ways)] * block_size):
            write_blob(fh, "OSMData", way_group([b for b in batch if b is not None]))
        for batch in itertools.zip_longest(*[iter(relations)] * block_size):
            write_blob(fh, "OSMData", rel_group([b for b in batch if b is not None]))
