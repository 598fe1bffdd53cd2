"""Worker-side n-gram slice kernel, shared by ``operators.dedup.shingle_table``
and ``operators.text.ngram_partial_counts``.

Tokens come from a single-space split, so the n-gram starting at token i is
exactly the contiguous byte slice of the text from token i's start to token
i+n-1's end (0x20 never occurs inside a UTF-8 multibyte sequence, so byte
positions of spaces are token boundaries). Every slice bound is a
whole-batch NumPy pass, and one ragged gather builds the ``string`` array of
a chunk of n-grams.

The module imports only numpy and pyarrow, and sits outside ``operators`` so
that a Python worker running it does not import every operator module
through ``operators/__init__``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


class NgramSlices:
    """Byte slices of every n-gram of a ``string``/``large_string`` array.

    A null text is an empty document (no n-grams). N-grams are numbered in
    document order:

    - ``per_doc[d]``: the number of n-grams of document d;
    - ``doc_off``: cumulative ``per_doc``, so document d owns n-grams
      ``doc_off[d]:doc_off[d + 1]``;
    - ``out_off``: cumulative n-gram byte lengths, so n-grams ``lo:hi`` hold
      ``out_off[hi] - out_off[lo]`` bytes;
    - ``total``: the number of n-grams.
    """

    def __init__(self, texts: pa.Array, n: int) -> None:
        n_docs = len(texts)
        if n_docs == 0:
            self.per_doc = np.zeros(0, dtype=np.int64)
            self.doc_off = np.zeros(1, dtype=np.int64)
            self.out_off = np.zeros(1, dtype=np.int64)
            self.total = 0
            return
        if texts.null_count:
            texts = pc.fill_null(texts, "")
        off_dtype = np.int64 if pa.types.is_large_string(texts.type) else np.int32
        bufs = texts.buffers()
        offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
            texts.offset : texts.offset + n_docs + 1
        ].astype(np.int64)
        self._data = np.frombuffer(bufs[2], dtype=np.uint8)
        self._in_end = int(offsets[-1])
        doc_begin, doc_end = offsets[:-1], offsets[1:]
        # token boundaries: every space byte within [begin, end) of its doc
        window = self._data[offsets[0] : offsets[-1]]
        spaces = np.flatnonzero(window == 32).astype(np.int64) + offsets[0]
        doc_of_space = np.searchsorted(doc_end, spaces, side="right")
        k = np.bincount(doc_of_space, minlength=n_docs) + 1  # tokens per doc
        n_tok = int(k.sum())
        tok_off = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(k, out=tok_off[1:])
        starts = np.empty(n_tok, dtype=np.int64)
        ends = np.empty(n_tok, dtype=np.int64)
        first = np.zeros(n_tok, dtype=bool)
        first[tok_off[:-1]] = True
        starts[first] = doc_begin
        starts[~first] = spaces + 1
        last = np.zeros(n_tok, dtype=bool)
        last[tok_off[1:] - 1] = True
        ends[last] = doc_end
        ends[~last] = spaces
        # n-gram j of a doc spans tokens j .. j+n-1
        self.per_doc = np.maximum(k - n + 1, 0)
        self.total = int(self.per_doc.sum())
        self.doc_off = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(self.per_doc, out=self.doc_off[1:])
        gidx = np.arange(self.total, dtype=np.int64) + np.repeat(
            tok_off[:-1] - self.doc_off[:-1], self.per_doc
        )
        self._start = starts[gidx]
        self._len = ends[gidx + n - 1] - self._start
        self.out_off = np.zeros(self.total + 1, dtype=np.int64)
        np.cumsum(self._len, out=self.out_off[1:])

    def strings(self, lo: int, hi: int) -> pa.Array:
        """N-grams ``lo:hi`` as one ``string`` array. The caller keeps their
        bytes under 2³¹: the array has int32 offsets."""
        c_off = self.out_off[lo : hi + 1] - self.out_off[lo]
        c_len = self._len[lo:hi]
        c_total = int(c_off[-1])
        # 32-bit gather indices whenever both the input value buffer and
        # this chunk allow: the index temporaries are the kernel's largest
        # allocation
        idx_dt = np.int32 if self._in_end < 2**31 and c_total < 2**31 else np.int64
        pos = (
            np.arange(c_total, dtype=idx_dt)
            - np.repeat(c_off[:-1].astype(idx_dt), c_len)
            + np.repeat(self._start[lo:hi].astype(idx_dt), c_len)
        )
        return pa.Array.from_buffers(
            pa.string(),
            hi - lo,
            [
                None,
                pa.py_buffer(c_off.astype(np.int32).tobytes()),
                pa.py_buffer(self._data[pos].tobytes()),
            ],
        )
