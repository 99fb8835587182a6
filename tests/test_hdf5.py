"""HDF5 interchange: pure-Python writer/reader for the reference's
array_index.h5py layout (inverted_index.py:23-46,75-95) — byte-level
structural invariants + round trips + Spark index export/import."""

from __future__ import annotations

import json
import os
import pickle
import struct

import numpy as np
import pytest

from splade_spark.sources import hdf5 as H


def _rand_index(n_terms: int, seed: int = 7):
    rng = np.random.RandomState(seed)
    posts = {}
    for t in range(n_terms):
        n = int(rng.randint(0, 40))
        ids = np.sort(rng.randint(0, 1 << 20, n)).astype(np.int32)
        vals = rng.rand(n).astype(np.float32)
        posts[t] = (ids, vals)
    return posts


@pytest.mark.parametrize("n_terms", [1, 9, 700])
def test_round_trip_all_btree_shapes(tmp_path, n_terms):
    """1 term = single SNOD; 9 terms = multi-SNOD single node; 700
    terms (1401 links) = multi-level B-tree."""
    posts = _rand_index(n_terms)
    d = str(tmp_path / f"h5_{n_terms}")
    H.write_array_index(
        d, ((t, i, v) for t, (i, v) in posts.items()), dim=n_terms
    )
    dim, back = H.read_array_index(d)
    assert dim == n_terms
    assert set(back) == set(posts)
    for t, (ids, vals) in posts.items():
        assert np.array_equal(back[t][0], ids)
        assert np.array_equal(back[t][1], vals)
    dist = json.load(open(os.path.join(d, "index_dist.json")))
    assert dist == {str(t): len(i) for t, (i, _) in posts.items()}


def test_structural_invariants_libhdf5_depends_on(tmp_path):
    """Checks independent of our own reader, against the HDF5 format
    spec fields libhdf5's group lookup uses: superblock geometry + eof,
    symbol sort order, B-tree key bracketing vs actual heap names."""
    posts = _rand_index(300, seed=3)
    d = str(tmp_path / "h5s")
    path = H.write_array_index(
        d, ((t, i, v) for t, (i, v) in posts.items()), dim=300
    )
    raw = open(path, "rb").read()
    assert raw[:8] == b"\x89HDF\r\n\x1a\n"
    assert raw[8] == 0  # superblock v0
    assert raw[13] == 8 and raw[14] == 8  # offset/length sizes
    leaf_k, internal_k, _flags = struct.unpack_from("<HHI", raw, 16)
    assert (leaf_k, internal_k) == (H.LEAF_K, H.INTERNAL_K)
    base, _fs, eof, _drv = struct.unpack_from("<QQQQ", raw, 24)
    assert base == 0 and eof == len(raw)  # eof address == file size

    # root entry scratch carries btree + heap addresses (cache type 1)
    name_off, root_oh, cache = struct.unpack_from("<QQI", raw, 56)
    assert name_off == 0 and cache == 1
    btree, heap = struct.unpack_from("<QQ", raw, 56 + 24)
    assert raw[heap : heap + 4] == b"HEAP"
    heap_data = struct.unpack_from("<Q", raw, heap + 24)[0]

    def name_at(off: int) -> bytes:
        end = raw.index(b"\x00", heap_data + off)
        return raw[heap_data + off : end]

    # walk the tree: keys must bracket child names, symbols sorted
    all_names = []

    def walk(addr, lo_key, hi_key):
        assert raw[addr : addr + 4] == b"TREE"
        _t, level, nused = struct.unpack_from("<BBH", raw, addr + 4)
        keys = [
            struct.unpack_from("<Q", raw, addr + 24 + 16 * i)[0]
            for i in range(nused + 1)
        ]
        children = [
            struct.unpack_from("<Q", raw, addr + 32 + 16 * i)[0]
            for i in range(nused)
        ]
        assert keys[0] == lo_key and keys[-1] == hi_key
        for i, c in enumerate(children):
            if level > 0:
                walk(c, keys[i], keys[i + 1])
                continue
            assert raw[c : c + 4] == b"SNOD"
            nsyms = struct.unpack_from("<H", raw, c + 6)[0]
            for j in range(nsyms):
                off = struct.unpack_from("<Q", raw, c + 8 + 40 * j)[0]
                nm = name_at(off)
                # every symbol within the bracketing keys
                assert name_at(keys[i]) <= nm <= name_at(keys[i + 1])
                all_names.append(nm)

    root_keys = struct.unpack_from("<H", raw, btree + 6)[0]
    last_key = struct.unpack_from("<Q", raw, btree + 24 + 16 * root_keys)[0]
    walk(btree, 0, last_key)
    assert all_names == sorted(all_names)
    assert len(all_names) == 2 * 300 + 1  # id+value per term, + dim


def test_empty_posting_and_scalar(tmp_path):
    d = str(tmp_path / "h5e")
    empty_i = np.array([], dtype=np.int32)
    empty_v = np.array([], dtype=np.float32)
    H.write_array_index(d, [(0, empty_i, empty_v)], dim=1, doc_ids=["a", "b"])
    dim, back = H.read_array_index(d)
    assert dim == 1
    assert len(back[0][0]) == 0 and len(back[0][1]) == 0
    assert pickle.load(open(os.path.join(d, "doc_ids.pkl"), "rb")) == ["a", "b"]


def test_export_import_spark_index(spark, tmp_path):
    """Full interchange: build a real compressed index, export to the
    reference layout, read it back two ways — the posting (row->doc,
    value) sets must equal the decoded parquet postings exactly."""
    from splade_spark.operators.index_build import build_index
    from splade_spark.operators.index_query import (
        decode_blocks_df,
        load_postings,
    )
    from splade_spark.sources.pages import load_documents

    from tests.conftest import SF_SMOKE

    docs = load_documents(spark, SF_SMOKE)
    idx = str(tmp_path / "idx")
    build_index(docs, idx, n_segments=2, n_buckets=8, block_size=16, salt_unit=64)

    out = str(tmp_path / "h5x")
    H.export_hdf5_index(spark, idx, out)

    # reference-side view: row indices -> doc_ids.pkl
    dim, post = H.read_array_index(out)
    doc_ids = pickle.load(open(os.path.join(out, "doc_ids.pkl"), "rb"))
    want = (
        decode_blocks_df(load_postings(spark, idx))
        .select("term_id", "doc_id", "impact")
        .toPandas()
    )
    # the HDF5 payload is float32 (the reference's dtype) — compare
    # both sides through the same float32 cast
    want_set = {
        (int(t), int(d), float(np.float32(w)))
        for t, d, w in zip(want.term_id, want.doc_id, want.impact)
    }
    got_set = set()
    for t, (rows, vals) in post.items():
        for r, v in zip(rows, vals):
            got_set.add((int(t), int(doc_ids[r]), float(v)))
    assert dim == int(want.term_id.max()) + 1
    assert got_set == want_set

    # engine-side view: import back to a (term_id, doc_id, impact) df
    rel, back_ids = H.import_hdf5_index(spark, out)
    assert back_ids == doc_ids
    got = rel.select("term_id", "doc_id", "impact").toPandas()
    got_rel = {
        (int(t), int(d), float(np.float32(w)))
        for t, d, w in zip(got.term_id, got.doc_id, got.impact)
    }
    assert got_rel == want_set


def test_import_keeps_row_index_for_string_doc_ids(spark, tmp_path):
    """Reference indexes often key passages by string id: those cannot
    be a long doc_id, so the import keeps the posting row index as
    doc_id and hands the external ids back through the doc_ids list."""
    d = str(tmp_path / "h5s")
    ids = [f"msmarco_passage_{i:02d}" for i in range(6)]
    posts = [
        (0, np.array([0, 3, 5], dtype=np.int32), np.array([0.5, 1.0, 2.0], dtype=np.float32)),
        (2, np.array([1, 3], dtype=np.int32), np.array([0.25, 4.0], dtype=np.float32)),
    ]
    H.write_array_index(d, posts, dim=3, doc_ids=ids)
    rel, back_ids = H.import_hdf5_index(spark, d)
    assert back_ids == ids
    got = sorted(
        (int(r.term_id), int(r.doc_id), float(r.impact)) for r in rel.collect()
    )
    assert got == [
        (0, 0, 0.5), (0, 3, 1.0), (0, 5, 2.0), (2, 1, 0.25), (2, 3, 4.0)
    ]
    # the returned list maps each row-index doc_id to its external id
    assert [back_ids[doc] for _, doc, _ in got] == [
        ids[0], ids[3], ids[5], ids[1], ids[3]
    ]


def test_reader_handles_continuation_and_nil_messages(tmp_path):
    """libhdf5-written files may carry NIL padding messages and object
    header continuation blocks (type 0x0010); our writer never emits
    them, so synthesize a file with both and assert the reader walks
    them: a header whose dataspace/datatype live in a continuation
    block after a NIL."""
    import numpy as np

    d = str(tmp_path / "h5c")
    path = H.write_array_index(
        d, [(0, np.arange(5, dtype=np.int32), np.ones(5, dtype=np.float32))], dim=1
    )
    raw = bytearray(open(path, "rb").read())

    # locate the dataset OH for index_doc_id_0 via the reader's own walk
    dsets = H.read_hdf5_datasets(path)
    assert np.array_equal(dsets["index_doc_id_0"], np.arange(5, dtype=np.int32))

    # build a synthetic object header: prefix + NIL + continuation ->
    # continuation block holds dataspace/datatype/layout of a fresh
    # dataset; append raw data + the two blocks, rewrite the root
    # B-tree is overkill — instead parse the synthetic header directly
    data_addr = len(raw)
    arr = np.arange(7, dtype=np.int32)
    raw += arr.tobytes()

    cont_msgs = (
        H._dataspace_msg((7,))
        + H._datatype_msg("int32")
        + H._layout_msg(data_addr, arr.nbytes)
    )
    # after the new OH block: 16B prefix + 16B NIL + 24B continuation
    cont_addr = len(raw) + 16 + 16 + 24
    nil = struct.pack("<HHB3x", 0x0000, 8, 0) + b"\x00" * 8
    cont = struct.pack("<HHB3x", 0x0010, 16, 0) + struct.pack(
        "<QQ", cont_addr, len(cont_msgs)
    )
    # prefix: 4 messages hidden behind NIL + continuation indirection
    oh = struct.pack("<BxHII4x", 1, 5, 1, len(nil) + len(cont)) + nil + cont
    oh_addr = len(raw)
    raw += oh
    assert len(raw) == cont_addr
    raw += cont_msgs
    open(path, "wb").write(bytes(raw))

    msgs = H._read_object_header(memoryview(bytes(raw)), oh_addr)
    kinds = [m for m, _ in msgs]
    assert kinds == [0x0001, 0x0003, 0x0008]
    shape = H._parse_dataspace(dict(msgs)[0x0001])
    addr, nbytes = H._parse_layout(dict(msgs)[0x0008])
    got = np.frombuffer(bytes(raw), dtype="<i4", count=7, offset=addr)
    assert shape == (7,) and nbytes == arr.nbytes
    assert np.array_equal(got, arr)
