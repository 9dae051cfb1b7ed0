"""Seeded inputs for the benchmark, generated here and never through the
engine (FIXTURES.md F1: the ``sequences`` table).

- token ids: Zipf(1.1) truncated to a 50,257-id vocabulary, drawn by
  inverse-CDF lookup on a 2^22-entry table (every id keeps at least
  a few table entries, so the whole vocabulary is reachable);
- lengths: lognormal(log 100, 1) clipped to [1, 8192], with 1% of rows
  x16 (the skew tail);
- 10% of rows locally repetitive (each token repeated ~8 times, RLE
  friendly) and 10% sorted ascending (FOR/delta friendly);
- edge rows pinned at indices 0..4: n_tok=1, all-equal, max-int32,
  strictly increasing, high-cardinality uniform.

Everything is vectorized numpy: a 100k-row frame (~19M tokens) takes
about a second. ``Rows`` also carries the ground-truth checksums the benchmark
checks engine outputs against.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB = 50257
SOURCES = np.array(["web", "books", "code", "wiki", "chat"])
SOURCE_WEIGHTS = np.array([1.0, 1 / 2, 1 / 3, 1 / 4, 1 / 5])
_ZIPF_BITS = 22
MASK64 = (1 << 64) - 1


def _zipf_table(a: float = 1.1) -> np.ndarray:
    pmf = np.arange(1, VOCAB + 1, dtype=np.float64) ** -a
    cdf = np.cumsum(pmf / pmf.sum())
    grid = (np.arange(1 << _ZIPF_BITS) + 0.5) / (1 << _ZIPF_BITS)
    return np.minimum(np.searchsorted(cdf, grid), VOCAB - 1).astype(np.int32)


def _mix64(z: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64."""
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def doc_ids(sources: np.ndarray, idx: np.ndarray, seed: int) -> np.ndarray:
    """``{source}-{zero-padded idx}-{hex hash}`` for each row index."""
    with np.errstate(over="ignore"):
        h = _mix64(idx.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15))
    return np.array([f"{s}-{i:010d}-{x:016x}" for s, i, x in
                     zip(sources.tolist(), idx.tolist(), h.tolist())])


class Rows:
    """A generated slice of the sequences table: flat int32 tokens plus
    int64 offsets, with per-row source and doc_id."""

    def __init__(self, doc_id, tokens_flat, offsets, source):
        self.doc_id = doc_id
        self.flat = tokens_flat
        self.offsets = offsets
        self.source = source

    @property
    def n_rows(self) -> int:
        return len(self.offsets) - 1

    @property
    def n_tok(self) -> np.ndarray:
        return np.diff(self.offsets)

    @property
    def n_tokens(self) -> int:
        return int(self.offsets[-1] - self.offsets[0])

    def slice(self, lo: int, hi: int) -> "Rows":
        o = self.offsets[lo:hi + 1]
        return Rows(self.doc_id[lo:hi], self.flat[o[0]:o[-1]], o - o[0],
                    self.source[lo:hi])

    def arrow(self) -> pa.Table:
        tokens = pa.ListArray.from_arrays(
            pa.array(self.offsets.astype(np.int32), pa.int32()),
            pa.array(self.flat, pa.int32()))
        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.string()),
            "tokens": tokens,
            "n_tok": pa.array(self.n_tok.astype(np.int32), pa.int32()),
            "source": pa.array(self.source, pa.string()),
        })

    def checksum(self) -> dict:
        return checksum(self.flat, self.offsets)


def checksum(flat: np.ndarray, offsets: np.ndarray) -> dict:
    """Row-order-independent checksum of a token list column: rows,
    tokens, the sum of token ids and a position-weighted sum (token id
    x its 1-based position in its row), which catches reordered or
    shifted tokens inside a row. Sums wrap modulo 2^64.

    ``flat`` holds exactly the values of the rows ``offsets`` bounds.
    The weighted sum is computed as sum_j v_j*(j+1) - sum_r start_r*S_r
    (S_r: row r's sum), in slices, so memory stays O(rows)."""
    starts = (offsets[:-1] - offsets[0]).astype(np.int64)
    lengths = np.diff(offsets)
    row_sum = np.zeros(len(lengths), dtype=np.int64)
    nz = lengths > 0
    if nz.any():
        row_sum[nz] = np.add.reduceat(flat, starts[nz], dtype=np.int64)
    weighted = 0
    step = 1 << 20
    for lo in range(0, len(flat), step):
        seg = flat[lo:lo + step].astype(np.int64)
        weighted += int(np.dot(seg, np.arange(lo + 1, lo + len(seg) + 1, dtype=np.int64)))
    with np.errstate(over="ignore"):
        s1 = int(row_sum.sum(dtype=np.int64))
        shift = int(np.dot(starts, row_sum))
    return {"rows": int(len(lengths)), "tokens": int(lengths.sum()),
            "sum": s1 & MASK64, "wsum": (weighted - shift) & MASK64}


def add_checksums(a: dict, b: dict) -> dict:
    return {"rows": a["rows"] + b["rows"], "tokens": a["tokens"] + b["tokens"],
            "sum": (a["sum"] + b["sum"]) & MASK64, "wsum": (a["wsum"] + b["wsum"]) & MASK64}


def _token_index(rows: np.ndarray, offsets: np.ndarray, n_tok: np.ndarray):
    """For the tokens of ``rows``: their flat index, the position of
    their row within ``rows`` and their position inside the row."""
    lengths = n_tok[rows]
    sel = np.repeat(np.arange(len(rows)), lengths)
    starts = np.cumsum(lengths) - lengths
    pos = np.arange(int(lengths.sum()), dtype=np.int64) - starts[sel]
    return offsets[rows][sel] + pos, sel, pos


def generate(n_rows: int, seed: int) -> Rows:
    """``n_rows`` F1 rows, numbered from 0 in their doc_ids."""
    rng = np.random.default_rng(seed)
    w = SOURCE_WEIGHTS / SOURCE_WEIGHTS.sum()
    source = SOURCES[rng.choice(len(SOURCES), size=n_rows, p=w)]
    n_tok = np.clip(rng.lognormal(np.log(100), 1.0, n_rows), 1, 8192).astype(np.int64)
    tail = rng.random(n_rows) < 0.01
    n_tok[tail] *= 16
    pinned = n_rows >= 5
    if pinned:
        n_tok[:5] = [1, 64, 64, 512, 512]
    offsets = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offsets[1:])
    total = int(offsets[-1])
    table = _zipf_table()
    flat = table[rng.integers(0, 1 << _ZIPF_BITS, total, dtype=np.uint32)]

    kind = rng.random(n_rows)
    # repetitive rows: the first ceil(n/8) tokens, each repeated 8 times
    rows = np.flatnonzero(kind < 0.10)
    at, sel, pos = _token_index(rows, offsets, n_tok)
    seg = np.maximum(1, n_tok[rows] // 8)
    reps = -(-n_tok[rows] // seg)
    flat[at] = flat[offsets[rows][sel] + pos // reps[sel]]
    # sorted rows: one sort of (row, token) keys sorts every row at once
    rows = np.flatnonzero((kind >= 0.10) & (kind < 0.20))
    at, sel, _ = _token_index(rows, offsets, n_tok)
    keys = (sel.astype(np.int64) << 32) | flat[at].astype(np.int64)
    flat[at] = (np.sort(keys) & 0xFFFFFFFF).astype(np.int32)

    if pinned:
        o = offsets
        flat[o[1]:o[2]] = 12345
        flat[o[2]:o[3]] = np.int32(2**31 - 1)
        flat[o[3]:o[4]] = np.arange(o[4] - o[3], dtype=np.int32)
        flat[o[4]:o[5]] = rng.integers(0, 2**31 - 1, int(o[5] - o[4]), dtype=np.int32)
    return Rows(doc_ids(source, np.arange(n_rows), seed), flat, offsets, source)
