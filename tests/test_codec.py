"""Varbyte/delta codec: round-trip property tests (SURVEY.md §5.5)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from document_retrieval_system_spark.operators.codec import (
    delta_decode,
    delta_encode,
    decode_positions,
    encode_positions,
    vb_decode,
    vb_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.asarray(values, dtype=np.uint64)
    assert vb_decode(vb_encode(arr)).tolist() == values


def test_varbyte_edges():
    for edge in ([], [0], [1], [127], [128], [2**32], [2**63 - 1], [0, 0, 0]):
        arr = np.asarray(edge, dtype=np.uint64)
        assert vb_decode(vb_encode(arr)).tolist() == edge


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200)
    .map(lambda xs: sorted(set(xs)))
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(ids):
    arr = np.asarray(ids, dtype=np.uint64)
    assert delta_decode(delta_encode(arr)).tolist() == ids


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=10000), max_size=50)
        .map(lambda xs: sorted(set(xs))),
        max_size=30,
    )
)
@settings(max_examples=100, deadline=None)
def test_positions_roundtrip(pos_lists):
    buf = encode_positions(pos_lists)
    out = decode_positions(buf, len(pos_lists))
    assert [p.tolist() for p in out] == pos_lists


def test_compression_ratio_dense_ids():
    """Dense sorted docIDs must compress to ~1 byte/posting."""
    ids = np.arange(0, 100000, 3, dtype=np.uint64)
    encoded = vb_encode(delta_encode(ids))
    assert len(encoded) <= ids.size + 2  # delta=3 -> 1 byte each


def test_split_position_payloads_inverts_concatenation():
    """Byte-slicing a block payload must recover exactly the per-doc
    segments whose concatenation built it (the re-blocking identity that
    shard rewrites and compaction rely on)."""
    import random

    from document_retrieval_system_spark.operators.codec import (
        encode_position_payloads,
        encode_positions,
        split_position_payloads,
    )

    rng = random.Random(13)
    for trial in range(25):
        lists = []
        for _ in range(rng.randint(1, 40)):
            n = rng.randint(1, 30)
            pos = sorted(rng.sample(range(100000), n))
            lists.append(pos)
        per_doc = encode_position_payloads(lists)
        block = b"".join(per_doc)
        assert block == encode_positions(lists)
        assert split_position_payloads(block, len(lists)) == per_doc
    assert split_position_payloads(b"", 0) == []


def test_posting_bytes_are_decoded_only_in_the_codec():
    """The codec is the only package module that knows the posting byte
    layout: every other module decodes through decode_block /
    decode_block_positions, never the varbyte and position primitives."""
    import ast
    from pathlib import Path

    import document_retrieval_system_spark as pkg

    root = Path(pkg.__file__).parent
    primitives = {"vb_decode", "delta_decode", "split_position_payloads",
                  "decode_positions"}
    calls = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name in primitives:
                    calls.append((rel, node.lineno, name))
    assert calls, "the scan found no primitive call at all"
    assert [c for c in calls if c[0] != "operators/codec.py"] == []
