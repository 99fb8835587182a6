"""Minimal pure-Python HDF5 interchange for the reference's primary
index persistence format (inverted_index.py:75-89 ``save`` /
:23-46 load): one ``array_index.h5py`` file holding

  - ``dim``                  scalar int64 (vocabulary size)
  - ``index_doc_id_{k}``     1-D int32   (posting doc ids, term k)
  - ``index_doc_value_{k}``  1-D float32 (posting weights,  term k)

plus the sidecars ``index_dist.json`` (posting-list lengths,
inverted_index.py:90-95) and ``doc_ids.pkl`` (row -> external id,
transformer_rep pipeline).

h5py/libhdf5 are not available in this environment, so this module
implements the tiny subset of the public HDF5 File Format
Specification (version 1.0, superblock v0) the layout needs, for both
writing and reading:

  superblock v0 -> root group (v1 object header + symbol-table
  message) -> v1 group B-tree over SNOD symbol-table nodes + local
  heap -> per-dataset v1 object headers with dataspace (v1 simple /
  v2 scalar), datatype (fixed-point / IEEE float), fill (v2) and
  contiguous data-layout (v3) messages -> raw little-endian data.

Everything written here is what libhdf5 1.8+ reads natively (v2
dataspace and v3 layout messages are the 1.8 defaults), so files
produced by ``write_array_index`` are loadable by the reference's
``IndexDictOfArray(index_path=...)`` wherever h5py exists, and
``read_array_index`` loads h5py-written reference indexes of the same
layout (v1 object headers, contiguous storage). Structural choices —
group leaf k=4 / internal k=16, 8-byte offsets+lengths, key
bracketing where key[i] is the last name of child[i-1] — mirror the
libhdf5 defaults for maximum interoperability.

The writer is single-pass/streaming: raw array data is appended as
posting lists arrive (one term in memory at a time), metadata (heap,
SNODs, B-tree, object headers) is laid down at the end, and the
superblock placeholder is patched last. The artifact is inherently a
single local file — it exists for migration to/from the reference,
which holds this entire structure in RAM (inverted_index.py:30-43);
the 100 TB path is the parquet postings table, not this sink.
"""

from __future__ import annotations

import json
import os
import pickle
import struct
from dataclasses import dataclass
from typing import BinaryIO, Iterable, Iterator

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
_SIG = b"\x89HDF\r\n\x1a\n"
LEAF_K = 4  # max 2*LEAF_K symbols per SNOD
INTERNAL_K = 16  # max 2*INTERNAL_K children per B-tree node
_SNOD_CAP = 2 * LEAF_K
_NODE_CAP = 2 * INTERNAL_K
_BT_NODE_SIZE = 24 + (2 * _NODE_CAP + 1) * 8  # header + keys + children
_SNOD_SIZE = 8 + _SNOD_CAP * 40

_DT_INT32 = ("int32", 4)
_DT_INT64 = ("int64", 8)
_DT_FLOAT32 = ("float32", 4)


def _align8(n: int) -> int:
    return (n + 7) & ~7


def _msg(mtype: int, body: bytes) -> bytes:
    pad = _align8(len(body)) - len(body)
    return struct.pack("<HHB3x", mtype, len(body) + pad, 0) + body + b"\x00" * pad


def _dataspace_msg(shape: tuple[int, ...] | None) -> bytes:
    if shape is None:  # scalar — needs the v2 message (v1 has no rank-0)
        return _msg(0x0001, struct.pack("<BBBB", 2, 0, 0, 0))
    body = struct.pack("<BBB5x", 1, len(shape), 0)
    for d in shape:
        body += struct.pack("<Q", d)
    return _msg(0x0001, body)


def _datatype_msg(kind: str) -> bytes:
    if kind in ("int32", "int64"):
        size = 4 if kind == "int32" else 8
        # class 0 fixed-point v1; bit field: LE, signed (bit 3)
        body = struct.pack("<B3BI", 0x10, 0x08, 0, 0, size)
        body += struct.pack("<HH", 0, size * 8)
        return _msg(0x0003, body)
    if kind == "float32":
        # class 1 float v1; bit field: LE, implied-msb mantissa norm
        # (bits 4-5 = 2), sign bit location 31
        body = struct.pack("<B3BI", 0x11, 0x20, 31, 0, 4)
        body += struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
        return _msg(0x0003, body)
    raise ValueError(f"unsupported dtype {kind}")


def _fill_msg() -> bytes:
    # v2, alloc time early, write time never, fill undefined
    return _msg(0x0005, struct.pack("<BBBB", 2, 1, 0, 0))


def _layout_msg(addr: int, nbytes: int) -> bytes:
    return _msg(0x0008, struct.pack("<BBQQ", 3, 1, addr, nbytes))


def _object_header(messages: list[bytes]) -> bytes:
    block = b"".join(messages)
    return struct.pack("<BxHII4x", 1, len(messages), 1, len(block)) + block


def _symbol_entry(
    name_off: int, oh_addr: int, cache_type: int = 0, scratch: bytes = b""
) -> bytes:
    return struct.pack("<QQI4x", name_off, oh_addr, cache_type) + scratch.ljust(
        16, b"\x00"
    )


@dataclass
class _DsetSpec:
    name: bytes
    kind: str
    shape: tuple[int, ...] | None
    addr: int
    nbytes: int


class Hdf5IndexWriter:
    """Streaming writer for the reference's array-index layout: call
    ``add(term, doc_ids, values)`` per term (any order), ``close(dim)``
    once. Raw data streams to disk immediately; only per-dataset
    metadata (name, address, size) is held until close."""

    def __init__(self, path: str):
        self._f: BinaryIO = open(path, "wb")
        self._f.write(b"\x00" * 96)  # superblock placeholder
        self._specs: list[_DsetSpec] = []
        self.dist: dict[int, int] = {}

    def _append_raw(self, arr: np.ndarray) -> tuple[int, int]:
        if arr.nbytes == 0:
            return UNDEF, 0
        addr = self._f.tell()
        self._f.write(arr.tobytes())
        return addr, arr.nbytes

    def _add_array(self, name: str, arr: np.ndarray, kind: str) -> None:
        addr, nbytes = self._append_raw(arr)
        self._specs.append(
            _DsetSpec(name.encode(), kind, (len(arr),), addr, nbytes)
        )

    def add(self, term: int, doc_ids: np.ndarray, values: np.ndarray) -> None:
        self._add_array(
            f"index_doc_id_{term}", np.ascontiguousarray(doc_ids, "<i4"), "int32"
        )
        self._add_array(
            f"index_doc_value_{term}",
            np.ascontiguousarray(values, "<f4"),
            "float32",
        )
        self.dist[int(term)] = int(len(doc_ids))

    def close(self, dim: int) -> None:
        f = self._f
        addr, nbytes = self._append_raw(np.array([dim], dtype="<i8"))
        self._specs.append(_DsetSpec(b"dim", "int64", None, addr, nbytes))

        specs = sorted(self._specs, key=lambda s: s.name)
        # local heap: offset 0 holds the empty string (B-tree key 0)
        heap_data = bytearray(8)
        name_off = {}
        for s in specs:
            name_off[s.name] = len(heap_data)
            nul = s.name + b"\x00"
            heap_data += nul + b"\x00" * (_align8(len(nul)) - len(nul))

        # dataset object headers
        oh_addr = {}
        for s in specs:
            oh_addr[s.name] = f.tell()
            f.write(
                _object_header(
                    [
                        _dataspace_msg(s.shape),
                        _datatype_msg(s.kind),
                        _fill_msg(),
                        _layout_msg(s.addr, s.nbytes),
                    ]
                )
            )

        # SNODs (symbol order = name order)
        snod_addrs, snod_names = [], []
        for i in range(0, len(specs), _SNOD_CAP):
            chunk = specs[i : i + _SNOD_CAP]
            snod_addrs.append(f.tell())
            snod_names.append([s.name for s in chunk])
            buf = b"SNOD" + struct.pack("<BxH", 1, len(chunk))
            for s in chunk:
                buf += _symbol_entry(name_off[s.name], oh_addr[s.name])
            f.write(buf.ljust(_SNOD_SIZE, b"\x00"))

        # B-tree: boundary key j = last name of child j-1 (key 0 = "")
        def write_nodes(
            children: list[int], lo_keys: list[int], hi_keys: list[int], level: int
        ) -> tuple[list[int], list[int], list[int]]:
            addrs, lks, hks = [], [], []
            for i in range(0, len(children), _NODE_CAP):
                ch = children[i : i + _NODE_CAP]
                lk = lo_keys[i : i + _NODE_CAP]
                hk = hi_keys[i : i + _NODE_CAP]
                addrs.append(f.tell())
                lks.append(lk[0])
                hks.append(hk[-1])
                buf = b"TREE" + struct.pack("<BBHQQ", 0, level, len(ch), UNDEF, UNDEF)
                for k, c in zip(lk, ch):
                    buf += struct.pack("<QQ", k, c)
                buf += struct.pack("<Q", hk[-1])
                f.write(buf.ljust(_BT_NODE_SIZE, b"\x00"))
            return addrs, lks, hks

        lo = [0] + [name_off[ns[-1]] for ns in snod_names[:-1]]
        hi = [name_off[ns[-1]] for ns in snod_names]
        addrs, lo, hi = write_nodes(snod_addrs, lo, hi, 0)
        level = 1
        while len(addrs) > 1:
            addrs, lo, hi = write_nodes(addrs, lo, hi, level)
            level += 1
        btree_addr = addrs[0]

        # local heap (after data so its address is final)
        heap_data_addr = f.tell() + 32
        f.write(
            b"HEAP"
            + struct.pack("<B3xQQQ", 0, len(heap_data), 1, heap_data_addr)
        )
        f.write(bytes(heap_data))

        # root group object header: one symbol-table message
        root_oh = f.tell()
        f.write(
            _object_header(
                [
                    _msg(
                        0x0011,
                        struct.pack("<QQ", btree_addr, heap_data_addr - 32),
                    )
                ]
            )
        )
        eof = f.tell()

        # final superblock
        f.seek(0)
        sb = _SIG + struct.pack(
            "<BBBBBBBBHHI", 0, 0, 0, 0, 0, 8, 8, 0, LEAF_K, INTERNAL_K, 0
        )
        sb += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
        sb += _symbol_entry(
            0,
            root_oh,
            cache_type=1,
            scratch=struct.pack("<QQ", btree_addr, heap_data_addr - 32),
        )
        assert len(sb) == 96
        f.write(sb)
        f.close()


# --------------------------- reader ----------------------------------------


def _read_object_header(buf: memoryview, addr: int) -> list[tuple[int, bytes]]:
    ver, nmsg, _ref, hsize = struct.unpack_from("<BxHII", buf, addr)
    if ver != 1:
        raise ValueError(f"unsupported object header version {ver}")
    out: list[tuple[int, bytes]] = []
    nread = 0  # NIL messages count toward nmsg but carry no payload
    blocks = [(addr + 16, hsize)]
    while blocks and nread < nmsg:
        pos, remaining = blocks.pop(0)
        while remaining >= 8 and nread < nmsg:
            mtype, msize, _flags = struct.unpack_from("<HHB", buf, pos)
            body = bytes(buf[pos + 8 : pos + 8 + msize])
            pos += 8 + msize
            remaining -= 8 + msize
            nread += 1
            if mtype == 0x0010:  # continuation
                caddr, clen = struct.unpack("<QQ", body[:16])
                blocks.append((caddr, clen))
            elif mtype != 0x0000:
                out.append((mtype, body))
    return out


def _parse_dataspace(body: bytes) -> tuple[int, ...] | None:
    ver = body[0]
    rank = body[1]
    if ver == 1:
        dims_at = 8
    elif ver == 2:
        if body[3] == 0:  # scalar
            return None
        dims_at = 4
    else:
        raise ValueError(f"dataspace version {ver}")
    return tuple(
        struct.unpack_from("<Q", body, dims_at + 8 * i)[0] for i in range(rank)
    )


def _parse_datatype(body: bytes) -> np.dtype:
    cls = body[0] & 0x0F
    size = struct.unpack_from("<I", body, 4)[0]
    order = ">" if (body[1] & 1) else "<"
    if cls == 0:
        signed = bool(body[1] & 0x08)
        return np.dtype(f"{order}{'i' if signed else 'u'}{size}")
    if cls == 1:
        return np.dtype(f"{order}f{size}")
    raise ValueError(f"unsupported datatype class {cls}")


def _parse_layout(body: bytes) -> tuple[int, int]:
    ver = body[0]
    if ver == 3:
        if body[1] != 1:
            raise ValueError("only contiguous layout supported")
        return struct.unpack_from("<QQ", body, 2)
    if ver in (1, 2):  # pre-1.8 writers: class at byte 2
        if body[2] != 1:
            raise ValueError("only contiguous layout supported")
        rank = body[1]
        addr = struct.unpack_from("<Q", body, 8)[0]
        sizes = struct.unpack_from(f"<{rank}I", body, 16)
        nbytes = 1
        for s in sizes:
            nbytes *= s
        return addr, nbytes
    raise ValueError(f"layout version {ver}")


def _heap_name(buf: memoryview, heap_data_addr: int, off: int) -> bytes:
    end = heap_data_addr + off
    while buf[end] != 0:
        end += 1
    return bytes(buf[heap_data_addr + off : end])


def _walk_btree(buf: memoryview, addr: int) -> Iterator[int]:
    """Yield SNOD addresses left-to-right."""
    sig = bytes(buf[addr : addr + 4])
    if sig != b"TREE":
        raise ValueError(f"bad B-tree signature at {addr}")
    _ntype, level, nused = struct.unpack_from("<BBH", buf, addr + 4)
    base = addr + 24
    children = [
        struct.unpack_from("<Q", buf, base + 8 + 16 * i)[0] for i in range(nused)
    ]
    for c in children:
        if level == 0:
            yield c
        else:
            yield from _walk_btree(buf, c)


def read_hdf5_datasets(path: str) -> dict[str, np.ndarray | int]:
    """Read every dataset of an HDF5 file in this module's subset
    (superblock v0, v1 group btree/local heap, v1 object headers,
    contiguous data). Scalars come back as python ints."""
    with open(path, "rb") as fh:
        raw = fh.read()
    buf = memoryview(raw)
    if bytes(buf[:8]) != _SIG:
        raise ValueError("not an HDF5 file")
    if buf[8] != 0:
        raise ValueError(f"unsupported superblock version {buf[8]}")
    root_entry_at = 56
    root_oh = struct.unpack_from("<Q", buf, root_entry_at + 8)[0]
    # root group's btree/heap from the symbol table message
    btree_addr = heap_addr = None
    for mtype, body in _read_object_header(buf, root_oh):
        if mtype == 0x0011:
            btree_addr, heap_addr = struct.unpack("<QQ", body[:16])
    if btree_addr is None:
        raise ValueError("root group has no symbol table message")
    heap_data_addr = struct.unpack_from("<Q", buf, heap_addr + 24)[0]

    out: dict[str, np.ndarray | int] = {}
    for snod in _walk_btree(buf, btree_addr):
        if bytes(buf[snod : snod + 4]) != b"SNOD":
            raise ValueError(f"bad SNOD signature at {snod}")
        nsyms = struct.unpack_from("<H", buf, snod + 6)[0]
        for i in range(nsyms):
            e = snod + 8 + 40 * i
            name_off, oh = struct.unpack_from("<QQ", buf, e)
            name = _heap_name(buf, heap_data_addr, name_off).decode()
            shape = dtype = layout = None
            for mtype, body in _read_object_header(buf, oh):
                if mtype == 0x0001:
                    shape = ("scalar", _parse_dataspace(body))
                elif mtype == 0x0003:
                    dtype = _parse_datatype(body)
                elif mtype == 0x0008:
                    layout = _parse_layout(body)
            if dtype is None or layout is None or shape is None:
                continue  # not a dataset in our subset (e.g. subgroup)
            addr, nbytes = layout
            if addr == UNDEF or nbytes == 0:
                arr = np.array([], dtype=dtype)
            else:
                arr = np.frombuffer(raw, dtype=dtype, count=nbytes // dtype.itemsize,
                                    offset=addr)
            if shape[1] is None:  # scalar
                out[name] = int(arr[0]) if arr.dtype.kind in "iu" else float(arr[0])
            else:
                out[name] = arr
    return out


# ----------------------- reference-layout API -------------------------------


def write_array_index(
    out_dir: str,
    postings: Iterable[tuple[int, np.ndarray, np.ndarray]],
    dim: int,
    doc_ids: list | None = None,
    filename: str = "array_index.h5py",
) -> str:
    """Write the reference's index directory: ``array_index.h5py`` +
    ``index_dist.json`` (+ ``doc_ids.pkl`` when given) from an iterable
    of (term_id, doc_id int32 array, value float32 array). Streaming:
    one term's arrays in memory at a time."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, filename)
    w = Hdf5IndexWriter(path)
    for term, ids, vals in postings:
        w.add(int(term), ids, vals)
    w.close(dim)
    with open(os.path.join(out_dir, "index_dist.json"), "w") as f:
        json.dump({str(k): v for k, v in sorted(w.dist.items())}, f)
    if doc_ids is not None:
        with open(os.path.join(out_dir, "doc_ids.pkl"), "wb") as f:
            pickle.dump(list(doc_ids), f)
    return path


def read_array_index(
    in_dir: str, filename: str = "array_index.h5py"
) -> tuple[int, dict[int, tuple[np.ndarray, np.ndarray]]]:
    """Load (dim, {term_id: (doc_ids int32, values float32)}) from a
    reference-layout index directory (inverted_index.py:23-43 load,
    without the dense 0..dim probe loop)."""
    dsets = read_hdf5_datasets(os.path.join(in_dir, filename))
    dim = int(dsets.get("dim", 0))
    post: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for name, arr in dsets.items():
        if name.startswith("index_doc_id_"):
            k = int(name[len("index_doc_id_") :])
            vals = dsets.get(f"index_doc_value_{k}", np.array([], dtype="<f4"))
            post[k] = (
                np.asarray(arr, dtype=np.int32),
                np.asarray(vals, dtype=np.float32),
            )
    return dim, post


# ----------------------- Spark index interchange ----------------------------


def export_hdf5_index(spark, index_dir: str, out_dir: str) -> str:
    """Export a finalized splade_spark index as the reference's HDF5
    index directory (inverted_index.py:75-95 layout): per-term posting
    rows = ROW indices into ``doc_ids.pkl`` (the reference addresses
    docs by insertion row, task/evaluator.py run construction), values
    = our BM25 impact weights as float32.

    Distribution shape: blocks decode executor-side (Arrow kernel);
    the per-term (row, value) arrays aggregate in ONE shuffle keyed by
    term_id and stream to the single local file via toLocalIterator —
    the driver holds one term's arrays at a time. The artifact itself
    is single-node by construction (the reference loads ALL of it into
    RAM, inverted_index.py:30-43), so this sink targets
    reference-scale corpora; the 100 TB serving path stays the parquet
    postings table."""
    from pyspark.sql import functions as F

    from splade_spark.operators.index_query import (
        decode_blocks_df,
        load_postings,
        load_stats,
        require_impacts,
    )

    stats = load_stats(index_dir)
    require_impacts(stats)
    docs = (
        spark.read.parquet(os.path.join(index_dir, "docs"))
        .select("doc_id")
        .orderBy("doc_id")
        .collect()
    )  # sink-scale collect by design (see docstring)
    doc_ids = [int(r.doc_id) for r in docs]
    row_of = {d: i for i, d in enumerate(doc_ids)}
    dim = int(
        spark.read.parquet(os.path.join(index_dir, "term_dict"))
        .agg(F.max("term_id"))
        .collect()[0][0]
        or 0
    ) + 1

    decoded = decode_blocks_df(
        load_postings(spark, index_dir), stats.get("gap_codec", "vbyte")
    )
    per_term = (
        decoded.groupBy("term_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "impact"))
            ).alias("post")
        )
        .select("term_id", "post.doc_id", "post.impact")
    )

    def gen():
        for r in per_term.toLocalIterator():
            rows = np.array([row_of[int(d)] for d in r.doc_id], dtype=np.int32)
            yield int(r.term_id), rows, np.array(r.impact, dtype=np.float32)

    return write_array_index(out_dir, gen(), dim=dim, doc_ids=doc_ids)


def import_hdf5_index(spark, in_dir: str):
    """Load a reference HDF5 index directory into a (term_id, doc_id,
    impact) DataFrame (+ returns the doc_ids list). When doc_ids.pkl
    holds integer ids, row indices are mapped back through it; any
    other ids (e.g. string passage ids) cannot be a long doc_id, so
    doc_id stays the posting row index and the returned doc_ids list
    is the row -> external id map. The relation is the engine's
    logical-postings shape — feed it to the logical scorer or re-index
    (MIGRATION.md)."""
    import numbers

    import pandas as pd

    dim, post = read_array_index(in_dir)
    pkl = os.path.join(in_dir, "doc_ids.pkl")
    doc_ids = None
    if os.path.exists(pkl):
        with open(pkl, "rb") as f:
            doc_ids = pickle.load(f)
    id_of_row = None
    if doc_ids is not None and all(
        isinstance(d, numbers.Integral) for d in doc_ids
    ):
        id_of_row = np.asarray(doc_ids, dtype=np.int64)
    frames = []
    for t, (rows, vals) in sorted(post.items()):
        if not len(rows):
            continue
        ext = id_of_row[rows] if id_of_row is not None else rows
        frames.append(
            pd.DataFrame(
                {
                    "term_id": np.full(len(rows), t, dtype=np.int32),
                    "doc_id": ext.astype(np.int64),
                    "impact": vals.astype(np.float64),
                }
            )
        )
    pdf = (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame({"term_id": [], "doc_id": [], "impact": []})
    )
    return (
        spark.createDataFrame(pdf, "term_id int, doc_id long, impact double"),
        doc_ids,
    )
