"""Property-based tests (hypothesis) for the invariants SURVEY §5 calls out:
window-assignment closed form, proto round-trip fidelity, TFRecord framing."""

from __future__ import annotations

import io
import math

from hypothesis import given, settings
from hypothesis import strategies as st

from videos_to_tfrecords_spark.sources.tfrecord import (
    decode_sequence_example,
    encode_sequence_example,
    masked_crc32c,
    write_record,
)


@st.composite
def feature_values(draw):
    kind = draw(st.sampled_from(["float", "int", "str", "bytes"]))
    n = draw(st.integers(1, 5))
    if kind == "float":
        # float32-representable values survive the FloatList round-trip
        import struct as _s

        vals = draw(st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=n, max_size=n))
        return [_s.unpack("<f", _s.pack("<f", v))[0] for v in vals]
    if kind == "int":
        return draw(
            st.lists(st.integers(-(2**62), 2**62), min_size=n, max_size=n)
        )
    if kind == "str":
        return draw(st.lists(st.text(max_size=20), min_size=n, max_size=n))
    return draw(st.lists(st.binary(max_size=20), min_size=n, max_size=n))


@given(
    ctx=st.dictionaries(st.text(min_size=1, max_size=10), feature_values(), max_size=4),
    lists=st.dictionaries(
        st.text(min_size=1, max_size=10),
        st.lists(feature_values(), max_size=3),
        max_size=3,
    ),
)
@settings(max_examples=60, deadline=None)
def test_sequence_example_roundtrip_property(ctx, lists):
    buf = encode_sequence_example(ctx, lists)
    got_ctx, got_lists = decode_sequence_example(buf)

    def norm(v):
        out = []
        for x in v:
            if isinstance(x, str):
                out.append(x.encode("utf-8"))
            else:
                out.append(x)
        return out

    for k, v in ctx.items():
        assert got_ctx[k] == norm(v), k
    for k, frames in lists.items():
        assert got_lists[k] == [norm(f) for f in frames], k


@given(payloads=st.lists(st.binary(max_size=200), max_size=10))
@settings(max_examples=40, deadline=None)
def test_tfrecord_stream_roundtrip_property(payloads):
    bio = io.BytesIO()
    for p in payloads:
        write_record(bio, p)
    # reparse by hand
    data = bio.getvalue()
    pos, got = 0, []
    import struct

    while pos < len(data):
        (length,) = struct.unpack("<Q", data[pos : pos + 8])
        payload = data[pos + 12 : pos + 12 + length]
        (crc,) = struct.unpack("<I", data[pos + 12 + length : pos + 16 + length])
        assert masked_crc32c(payload) == crc
        got.append(payload)
        pos += 16 + length
    assert got == payloads


def closed_form_windows(ts_ms: float, size: int, slide: int) -> set[int]:
    top = math.floor(ts_ms / slide) * slide
    return {top - k * slide for k in range(math.ceil(size / slide)) if top - k * slide > ts_ms - size}


@given(
    ts=st.lists(st.floats(0, 10**8, allow_nan=False), min_size=1, max_size=30),
    geom=st.sampled_from([(15000, 1000), (4000, 2000), (5000, 5000), (10000, 3000)]),
)
@settings(max_examples=15, deadline=None)
def test_window_assignment_property(spark, ts, geom):
    """Spark's window assignment == the closed form, for ms-grid offsets
    (values quantized to whole ms to avoid float-vs-µs edge ambiguity)."""
    size, slide = geom
    rows = [(float(int(t)),) for t in ts]
    from videos_to_tfrecords_spark.operators.sequence import assign_windows

    df = spark.createDataFrame(rows, "ts_ms double")
    got: dict[float, set[int]] = {}
    for r in assign_windows(df, "ts_ms", size, slide).collect():
        got.setdefault(r.ts_ms, set()).add(r.win_start_ms)
    for t, wins in got.items():
        assert wins == closed_form_windows(t, size, slide), (t, size, slide)


def test_degenerate_inputs_no_crash(spark):
    """The probes that caught real bugs in round 1, pinned as tests:
    sub-n-gram docs through minhash/jaccard, singleton LSH buckets, empty
    as-of right side, empty MERGE updates."""
    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
        ngram_jaccard_pairs,
    )
    from videos_to_tfrecords_spark.operators.relational import asof_join, merge_upsert
    from videos_to_tfrecords_spark.operators.similarity import lsh_topk

    # <3-token docs: shingle set is empty → no pairs, no crash
    docs = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, ""), (4, "a b c d e f g h i j")],
        "doc_id long, text string",
    )
    assert minhash_lsh_dedup_pairs(docs, threshold_x1000=500).count() == 0
    assert ngram_jaccard_pairs(docs, threshold_x1000=500).count() == 0

    # singleton LSH bucket: a lone vector has no candidates → no rows
    lone = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert lsh_topk(lone, k=3, n_planes=4).count() == 0

    # empty right side: left-outer semantics → all-null asof columns
    left = spark.createDataFrame([("k", 10, 1)], "k string, ts long, lid long")
    right = spark.createDataFrame([], "k string, ts long, rv long")
    out = asof_join(left, right, ["k"], "ts", "ts", ["rv"]).collect()
    assert len(out) == 1 and out[0].asof_rv is None and out[0].asof_ts is None

    # empty updates: MERGE degenerates to the target unchanged
    tgt = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    upd = spark.createDataFrame([], "id long, v string")
    merged = sorted((r.id, r.v) for r in merge_upsert(tgt, upd, ["id"]).collect())
    assert merged == [(1, "a"), (2, "b")]


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=10),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=4,
        max_size=20,
    )
)
@settings(max_examples=10, deadline=None)
def test_linreg_matches_independent_cramer(spark, rows):
    """linreg_normal_eq (Gaussian elimination over Fractions) equals an
    INDEPENDENT exact Cramer's-rule solve on random integer designs —
    singular designs must agree on returning NULLs."""
    from fractions import Fraction
    from math import floor

    from pyspark.sql import functions as F

    from videos_to_tfrecords_spark.operators.regression import linreg_normal_eq

    df = spark.createDataFrame(rows, "x1 long, x2 long, y long")
    got = linreg_normal_eq(df, y=F.col("y"), xs=[F.col("x1"), F.col("x2")]).collect()[0]

    n = len(rows)
    sx1 = sum(r[0] for r in rows); sx2 = sum(r[1] for r in rows)
    sy = sum(r[2] for r in rows)
    s11 = sum(r[0] * r[0] for r in rows); s12 = sum(r[0] * r[1] for r in rows)
    s22 = sum(r[1] * r[1] for r in rows)
    s1y = sum(r[0] * r[2] for r in rows); s2y = sum(r[1] * r[2] for r in rows)
    det = (n * (s11 * s22 - s12 * s12) - sx1 * (sx1 * s22 - s12 * sx2)
           + sx2 * (sx1 * s12 - s11 * sx2))
    if det == 0:
        assert got.beta0_q is None and got.beta1_q is None and got.beta2_q is None
        return
    n0 = (sy * (s11 * s22 - s12 * s12) - sx1 * (s1y * s22 - s12 * s2y)
          + sx2 * (s1y * s12 - s11 * s2y))
    n1 = (n * (s1y * s22 - s12 * s2y) - sy * (sx1 * s22 - s12 * sx2)
          + sx2 * (sx1 * s2y - s1y * sx2))
    n2 = (n * (s11 * s2y - s12 * s1y) - sx1 * (sx1 * s2y - s1y * sx2)
          + sy * (sx1 * s12 - s11 * sx2))
    want = [floor(Fraction(num, det) * 10_000) for num in (n0, n1, n2)]
    assert [got.beta0_q, got.beta1_q, got.beta2_q] == want


@given(
    a=st.dictionaries(st.integers(0, 30), st.integers(0, 5), max_size=15),
    b=st.dictionaries(st.integers(0, 30), st.integers(0, 5), max_size=15),
)
@settings(max_examples=10, deadline=None)
def test_snapshot_diff_matches_dict_reference(spark, a, b):
    """snapshot_diff classification equals the obvious dict-based reference
    on random key→value states."""
    from videos_to_tfrecords_spark.operators.relational import snapshot_diff

    da = spark.createDataFrame([(k, v) for k, v in a.items()] or [(None, None)],
                               "k long, v long").filter("k IS NOT NULL")
    db_ = spark.createDataFrame([(k, v) for k, v in b.items()] or [(None, None)],
                                "k long, v long").filter("k IS NOT NULL")
    got = {
        r.k: r.change_type
        for r in snapshot_diff(da, db_, keys=["k"], compare_cols=["v"]).collect()
    }
    want = {}
    for k in set(a) | set(b):
        if k not in a:
            want[k] = "insert"
        elif k not in b:
            want[k] = "delete"
        elif a[k] != b[k]:
            want[k] = "update"
        else:
            want[k] = "unchanged"
    assert got == want


@given(
    data=st.data(),
    nq=st.integers(0, 4),
    nb=st.integers(0, 7),
    k=st.integers(1, 9),
)
@settings(max_examples=80, deadline=None)
def test_partial_topk_matches_python_sort(data, nq, nb, k):
    """The shared per-batch partial top-k equals a plain sort by (score
    desc, cand_id asc) with masked cells dropped: scores from a tiny range
    force ties, the mask is self OR same-label, k may exceed the batch, and
    empty query sets and batches are drawn."""
    import numpy as np

    from videos_to_tfrecords_spark.operators.similarity import _partial_topk

    def ints(lo, hi, n, unique=False):
        drawn = data.draw(st.lists(st.integers(lo, hi), min_size=n, max_size=n, unique=unique))
        return np.array(drawn, dtype=np.int64)

    cids, qids = ints(0, 20, nb, unique=True), ints(0, 20, nq)
    clab, qlab = ints(0, 2, nb), ints(0, 2, nq)
    score = ints(-3, 3, nq * nb).reshape(nq, nb)
    drop = (qids[:, None] == cids[None, :]) | (qlab[:, None] == clab[None, :])

    r, c = _partial_topk(score, cids, k, drop)
    got = [(int(qi), int(cids[ci])) for qi, ci in zip(r, c)]
    want = [
        (qi, int(cids[ci]))
        for qi in range(nq)
        for ci in sorted(
            (ci for ci in range(nb) if not drop[qi, ci]),
            key=lambda ci: (-score[qi, ci], cids[ci]),
        )[:k]
    ]
    assert got == want
