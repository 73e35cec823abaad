"""Deterministic text primitives, rendered twice: as Spark Columns and as
DuckDB SQL snippets (for the driver's oracle check). Both renderings share
constants and evaluation order, so double/long outputs are bit-identical.

Round-13 optimization: the per-character kernels (shingle/token hashes,
SimHash voting, positional fingerprints) run as VECTORIZED pandas UDFs —
numpy over Arrow batches (guide §4.2). The original Catalyst-expression
forms are CodegenFallback (``transform``/``aggregate``/``filter`` higher-
order functions interpret per element with boxing): measured ~10-20 µs per
character (~9 MB/s/core) at sf0.1, i.e. shingling 1.5 MB of text cost 14-28 s
of CPU — the single largest CPU sink in the engine, and the difference
between ~10^8 and ~10^6 core-seconds at 100 TB. The vectorized kernels are
43-85× cheaper and BIT-IDENTICAL; every expression form is kept (``*_expr``)
and equality-swept against its twin in ``tests/test_texttools_vectorized.py``
(real corpus + adversarial edges). Scalar/array outputs are unchanged, so
all DuckDB oracles hold verbatim.

These generalize the reference's active-learning machinery (MinHash-LSH
partitioning in ``coreset.py:5-46``) into the LLM-data-pipeline operator set:
shingling, MinHash signatures, SimHash fingerprints, token statistics.

Edge-case parity notes (verified empirically):
- Spark ``ascii('') = 0`` vs DuckDB ``ord('') = -1`` → SQL side wraps ords in
  ``greatest(…, 0)``.
- Spark ``sequence(1, 0)`` descends → position sequences clamp hi to ≥ 1;
  DuckDB ``range(1, 1)`` is empty → sums wrapped in ``coalesce(…, 0)``.
- DuckDB int32 arithmetic overflows loudly → SQL folds cast acc to BIGINT;
  Spark folds start from ``lit(0).cast('long')``.
"""

from __future__ import annotations

import random
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: big enough for hash range, small enough that
# a*h + b stays < 2^62 (no 64-bit overflow in either engine).
HASH_P = 2_147_483_647
SIMHASH_BITS = 32
_SIMHASH_M = 1 << 32

# Deterministic permutation parameters (fixed seed — rebuilding the module
# always yields identical signatures; required for driver re-runs).
_rng = random.Random(42)
MINHASH_K = 128
MINHASH_A = [_rng.randrange(1, HASH_P) for _ in range(MINHASH_K)]
MINHASH_B = [_rng.randrange(0, HASH_P) for _ in range(MINHASH_K)]
SIMHASH_A = _rng.randrange(1, HASH_P)
SIMHASH_B = _rng.randrange(0, HASH_P)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "nicht"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "los", "las", "y", "que"),
    "fr": ("le", "la", "les", "et", "est"),
}


# ---------------------------------------------------------------------------
# Character n-gram shingle hashes (set semantics)
# ---------------------------------------------------------------------------

def shingle_hashes_expr(text: Column, n: int = 3) -> Column:
    """Catalyst-expression form of :func:`shingle_hashes` (the original
    implementation, kept as the semantics reference its vectorized twin is
    equality-tested against): the hash of the shingle at 1-based position i
    is ``sum_j ord(text[i+j]) * 31^(n-1-j) mod P``, distinct, first
    occurrence order.

    NOT the hot-path form: ``transform``/``aggregate`` higher-order
    functions are CodegenFallback — interpreted per element with boxing.
    Measured ~10-20 µs per character (≈9 MB/s/core) at sf0.1, which made
    shingling the single largest CPU sink in the dedup/decontam family."""
    def one(i: Column) -> Column:
        h = F.lit(0).cast("long")
        for j in range(n):
            h = h * 31 + F.ascii(text.substr(i + j, F.lit(1)))
        return h % HASH_P

    hi = F.greatest(F.length(text) - (n - 1), F.lit(1))
    return F.array_distinct(F.transform(F.sequence(F.lit(1), hi), one))


#: one vectorized shingle UDF per n (pandas_udf objects are reusable)
_SHINGLE_UDFS: dict = {}


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """Distinct polynomial hashes of the character ``n``-grams of ``text``
    — vectorized over Arrow batches (numpy sliding-window dot), bit-exact
    to :func:`shingle_hashes_expr` (guide §4.2: batches to native code
    beat interpreted JVM higher-order expressions; measured ~50× less CPU
    at sf0.1).

    Exactness contract (equality-tested against the expression form,
    including edge cases):

    - code points via UTF-32 (= Spark ``ascii``'s code-point semantics);
    - windows past the end read ``ascii('') = 0`` → zero padding, and
      ``hi = max(len - (n-1), 1)`` emits exactly one padded window for
      short/empty strings;
    - the weight vector is PRE-REDUCED mod P (``31^e mod P``), so every
      term stays below 2^52 and the 12-term dot below 2^56 — no int64
      overflow for any code point as long as n ≤ 2048 (n terms below
      2^52 sum below 2^63; real shingle sizes are n ≤ 12). By congruence
      ``Σ cp·31^e ≡ Σ cp·(31^e mod P) (mod P)``, so the result is
      identical to the expression form's end-mod wherever that form is
      defined (its un-reduced fold raises ANSI long overflow first on
      e.g. 12-wide shingles over wide CJK text; there this kernel now
      returns the true mod-P residue instead of a wrapped value —
      round-13 ADVICE item, pinned by a non-ASCII n=12 parity test);
    - ``array_distinct`` keeps first-occurrence order: ``np.unique``'s
      first indices, re-sorted by position."""
    if n not in _SHINGLE_UDFS:
        w = np.array([pow(31, n - 1 - j, HASH_P) for j in range(n)],
                     dtype=np.int64)

        @F.pandas_udf("array<long>")
        def _sh(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            sw_view = np.lib.stride_tricks.sliding_window_view
            for s in batches:
                out = []
                for t in s:
                    if t is None:
                        # expression-form parity: greatest(NULL-(n-1), 1)
                        # = 1 → one window whose hash is NULL
                        out.append([None])
                        continue
                    cp = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    hi = max(len(cp) - (n - 1), 1)
                    if len(cp) < hi + n - 1:
                        cp = np.concatenate(
                            [cp, np.zeros(hi + n - 1 - len(cp),
                                          dtype=np.int64)])
                    # h ≥ 0 always (cp ≥ 0, reduced weights ≥ 0, no
                    # overflow) → np.remainder IS the Java % here
                    h = sw_view(cp, n)[:hi] @ w
                    r = np.remainder(h, HASH_P)
                    _, idx = np.unique(r, return_index=True)
                    out.append(r[np.sort(idx)])
                yield pd.Series(out, dtype=object)

        _SHINGLE_UDFS[n] = _sh
    return _SHINGLE_UDFS[n](text)


def shingle_hashes_sql(expr: str, n: int = 3) -> str:
    parts = []
    for j in range(n):
        w = 31 ** (n - 1 - j)
        parts.append(f"greatest(ord({expr}[i+{j}:i+{j}])::BIGINT, 0) * {w}")
    h = "(" + " + ".join(parts) + f") % {HASH_P}"
    return (f"list_distinct([{h} for i in range(1, "
            f"greatest(len({expr}) - {n - 2}, 2))])")


# ---------------------------------------------------------------------------
# Tokens + per-token polynomial hash
# ---------------------------------------------------------------------------

def tokens(text: Column) -> Column:
    """Whitespace tokens, empties dropped."""
    return F.filter(F.split(text, r"\s+"), lambda x: x != "")


def tokens_sql(expr: str) -> str:
    return rf"list_filter(string_split_regex({expr}, '\s+'), x -> x <> '')"


def token_hashes_expr(toks: Column) -> Column:
    """Catalyst-expression form of :func:`token_hashes` (semantics
    reference for the vectorized twin; interpreted per char — not the
    hot path)."""
    def tok_hash(tok: Column) -> Column:
        ords = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(tok), F.lit(1))),
            lambda i: F.ascii(tok.substr(i, F.lit(1))),
        )
        return F.aggregate(
            ords, F.lit(0).cast("long"),
            lambda acc, o: (acc * 31 + o) % HASH_P)

    return F.transform(toks, tok_hash)


def _token_hashes_np(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Vectorized :func:`token_hashes` kernel: all tokens of a row are
    packed into one code-point buffer (NUL-separated — separators are
    never read because per-token LENGTHS drive the indexing) and the
    per-char fold ``acc·31 + cp mod P`` runs as a Horner loop vectorized
    ACROSS tokens, masked by token length. Every intermediate stays
    < 2^36, so the per-step mod is exact — bit-identical to the
    expression form (empty token → hash 0, same as its padded fold)."""
    for s in batches:
        out = []
        for toks in s:
            if toks is None:
                out.append(None)
                continue
            toks = list(toks)
            if not toks:
                out.append(np.zeros(0, dtype=np.int64))
                continue
            lens = np.fromiter((len(t) for t in toks), np.int64, len(toks))
            cp = np.frombuffer("\x00".join(toks).encode("utf-32-le"),
                               dtype=np.uint32).astype(np.int64)
            starts = np.zeros(len(toks), np.int64)
            np.cumsum(lens[:-1] + 1, out=starts[1:])
            acc = np.zeros(len(toks), np.int64)
            alive = np.arange(len(toks))
            for j in range(int(lens.max())):
                alive = alive[lens[alive] > j]
                acc[alive] = (acc[alive] * 31 + cp[starts[alive] + j]) \
                    % HASH_P
            out.append(acc)
        yield pd.Series(out, dtype=object)


#: lazily-built vectorized UDF singletons (pandas_udf parses its return
#: type against the ACTIVE session — module import time has none)
_NP_UDFS: dict = {}


def _np_udf(name: str, ret: str, fn) -> Column:
    if name not in _NP_UDFS:
        _NP_UDFS[name] = F.pandas_udf(ret)(fn)
    return _NP_UDFS[name]


def token_hashes(toks: Column) -> Column:
    """Polynomial hash of each token: fold ``acc*31 + ord(char) mod P``
    — vectorized over Arrow batches (guide §4.2), bit-exact to
    :func:`token_hashes_expr` (equality-tested)."""
    return _np_udf("token_hashes", "array<long>", _token_hashes_np)(toks)


def token_hashes_sql(toks_expr: str) -> str:
    ords = "[greatest(ord(t[i:i])::BIGINT, 0) for i in range(1, len(t)+1)]"
    fold = (f"list_reduce(list_prepend(0::BIGINT, {ords}), "
            f"(acc, o) -> (acc::BIGINT * 31 + o) % {HASH_P})")
    return f"list_transform({toks_expr}, t -> {fold})"


# ---------------------------------------------------------------------------
# MinHash signatures
# ---------------------------------------------------------------------------

def minhash_signature(hashes: Column, k: int = MINHASH_K) -> Column:
    """k-wide MinHash signature over a (distinct) hash array:
    ``sig[j] = min_h (a_j*h + b_j) mod P``."""
    def perm(a: int, b: int):
        return lambda h: (h * a + b) % HASH_P

    sig = [
        F.array_min(F.transform(hashes, perm(MINHASH_A[j], MINHASH_B[j])))
        for j in range(k)
    ]
    return F.array(*sig)


def minhash_signature_oph(hashes: Column, k: int = MINHASH_K) -> Column:
    """One-permutation-hashing MinHash signature (Li et al., NeurIPS'12):
    ONE universal hash ``g(h) = (a·h+b) mod P`` assigns each shingle to one
    of ``k`` bins; ``sig[j] = min g(h) over bin j``, empty bins filled by
    rotation densification (value of the next non-empty bin + offset).

    Semantics-equivalent use to ``minhash_signature`` (band collisions
    estimate Jaccard the same way) at **O(N)** per document instead of
    O(k·N) — the k-traversal Catalyst form allocates k intermediate arrays
    per row and dominated the dedup pipeline's profile. Vectorized numpy
    over Arrow batches; pure function of the shingle set (deterministic,
    batch-invariant)."""
    a, b = MINHASH_A[0], MINHASH_B[0]

    @F.pandas_udf("array<long>")
    def _sig(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in batches:
            if s.empty:
                yield pd.Series([], dtype=object)
                continue
            lens = s.map(len).to_numpy()
            offs = np.zeros(len(s) + 1, dtype=np.int64)
            np.cumsum(lens, out=offs[1:])
            H = np.concatenate([np.asarray(v, dtype=np.int64) for v in s]) \
                if offs[-1] else np.zeros(0, dtype=np.int64)
            G = (H * a + b) % HASH_P
            bins = G % k
            doc = np.repeat(np.arange(len(s), dtype=np.int64), lens)
            sig = np.full((len(s), k), np.iinfo(np.int64).max)
            np.minimum.at(sig, (doc, bins), G)
            # rotation densification: empty bin j borrows bin (j+d)'s min
            # plus d·P (keeps borrowed values distinct from native ones)
            empty = sig == np.iinfo(np.int64).max
            if empty.any():
                filled = sig.copy()
                for d in range(1, k):
                    if not empty.any():
                        break
                    rot = np.roll(filled, -d, axis=1)
                    take = empty & (rot != np.iinfo(np.int64).max)
                    sig[take] = rot[take] + d * HASH_P
                    empty &= ~take
                sig[empty] = 0  # fully-empty shingle set
            yield pd.Series(list(sig))

    return _sig(hashes)


def minhash_signature_sql(hashes_expr: str, k: int = MINHASH_K) -> str:
    sig = [
        f"list_min([(h * {MINHASH_A[j]} + {MINHASH_B[j]}) % {HASH_P} for h in {hashes_expr}])"
        for j in range(k)
    ]
    return "[" + ", ".join(sig) + "]"


# ---------------------------------------------------------------------------
# SimHash fingerprint (32-bit)
# ---------------------------------------------------------------------------

def simhash_expr(tok_hashes: Column) -> Column:
    """Catalyst-expression form of :func:`simhash` (semantics reference
    for the vectorized twin). NOT the hot path: each of the 32 bit
    branches re-evaluates the ``g`` transform inside an interpreted
    ``filter`` — 32× the per-token work, all CodegenFallback."""
    g = F.transform(tok_hashes, lambda h: (h * SIMHASH_A + SIMHASH_B) % _SIMHASH_M)
    n = F.size(tok_hashes)

    def bit_set(i: int):
        return lambda x: F.shiftright(x, i).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("long")
    for i in range(SIMHASH_BITS):
        votes = F.size(F.filter(g, bit_set(i)))
        out = out + F.when(votes * 2 > n, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return out


def _simhash_np(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Vectorized :func:`simhash` kernel: one ``g`` evaluation per token
    (the expression form pays 32), bit votes as a single (tokens × 32)
    matrix reduction. NULL/empty hash arrays yield 0, matching the
    expression form's ``when(NULL) → otherwise(0)`` collapse."""
    bits = np.arange(SIMHASH_BITS, dtype=np.int64)
    for s in batches:
        out = np.zeros(len(s), np.int64)
        for i, th in enumerate(s):
            if th is None or not len(th):
                continue
            h = np.asarray(th, dtype=np.int64)
            g = (h * SIMHASH_A + SIMHASH_B) % _SIMHASH_M
            votes = ((g[:, None] >> bits) & 1).sum(axis=0)
            out[i] = int((np.where(votes * 2 > len(h), 1, 0) << bits).sum())
        yield pd.Series(out)


def simhash(tok_hashes: Column) -> Column:
    """32-bit SimHash over token hashes (multiset voting): bit i of
    ``g(h) = (a*h+b) mod 2^32`` votes; bit set iff strictly more than
    half the tokens vote 1. Vectorized over Arrow batches (guide §4.2),
    bit-exact to :func:`simhash_expr` (equality-tested)."""
    return _np_udf("simhash", "long", _simhash_np)(tok_hashes)


def simhash_sql(tok_hashes_expr: str) -> str:
    g = f"list_transform({tok_hashes_expr}, h -> (h * {SIMHASH_A} + {SIMHASH_B}) % {_SIMHASH_M})"
    terms = []
    for i in range(SIMHASH_BITS):
        votes = f"len(list_filter({g}, x -> ((x >> {i}) & 1) = 1))"
        terms.append(
            f"(CASE WHEN {votes} * 2 > len({tok_hashes_expr}) THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


# ---------------------------------------------------------------------------
# Positional fingerprint (rolling checksum)
# ---------------------------------------------------------------------------

def fingerprint_expr(text: Column) -> Column:
    """Catalyst-expression form of :func:`fingerprint` (semantics
    reference for the vectorized twin; interpreted per char)."""
    chars = F.split(text, '')
    weighted = F.transform(
        chars,
        lambda x, i: F.ascii(x).cast("long") * ((i % 97) + 1),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"),
                       lambda acc, x: acc + x) % (1 << 31)


def _fingerprint_np(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Vectorized :func:`fingerprint` kernel: one code-point·weight dot
    product per document. Empty text → 0 (the expression form's
    ``[''] → ascii 0`` path), NULL → NULL."""
    for s in batches:
        out = []
        for t in s:
            if t is None:
                out.append(None)
                continue
            cp = np.frombuffer(t.encode("utf-32-le"),
                               dtype=np.uint32).astype(np.int64)
            w = (np.arange(len(cp), dtype=np.int64) % 97) + 1
            out.append(int((cp * w).sum() % (1 << 31)))
        yield pd.Series(out, dtype=object)


def fingerprint(text: Column) -> Column:
    """Position-weighted checksum mod 2^31 — a cheap whole-document
    fingerprint (exact-dup detection without carrying full text around).
    Vectorized over Arrow batches (guide §4.2), bit-exact to
    :func:`fingerprint_expr` (equality-tested)."""
    return _np_udf("fingerprint", "long", _fingerprint_np)(text)


def fingerprint_sql(expr: str) -> str:
    comp = (f"[greatest(ord({expr}[i:i])::BIGINT, 0) * ((i-1) % 97 + 1) "
            f"for i in range(1, len({expr}) + 1)]")
    return f"(coalesce(list_sum({comp}), 0) % {1 << 31})::BIGINT"


#: dual-lane fingerprint parameters: (multiplier, offset, prime) per lane.
#: Position weight w_i = (a·i + c) mod p keeps every product under 2^38
#: (127 · 2^31), so a 10-million-char document still sums within int64 —
#: a polynomial rolling hash would need modpow, which DuckDB SQL lacks.
#: Two independent 31-bit lanes give ~2^-62 per-pair collision odds; at
#: true 100 TB scale you'd swap in xxhash128 over raw bytes (not
#: cross-engine reproducible in SQL, hence the arithmetic form here).
FP_LANES = ((1103515245, 12345, 2147483647),
            (1000003, 8191, 2147483629))


def fingerprint_lane_expr(text: Column, lane: int) -> Column:
    """Catalyst-expression form of :func:`fingerprint_lane` (semantics
    reference for the vectorized twin; interpreted per char)."""
    a, c, p = FP_LANES[lane]
    chars = F.split(text, '')
    weighted = F.transform(
        chars,
        lambda x, i: (F.ascii(x).cast("long")
                      * (((i.cast("long") + 1) * a + c) % p)),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"),
                       lambda acc, x: acc + x) % p


#: one vectorized fingerprint-lane UDF per lane
_FP_LANE_UDFS: dict = {}


def fingerprint_lane(text: Column, lane: int) -> Column:
    """One 31-bit lane of the dual-lane document fingerprint: position
    ``i`` (1-based) carries weight ``(i·a + c) mod p``. Vectorized over
    Arrow batches (guide §4.2), bit-exact to
    :func:`fingerprint_lane_expr` (equality-tested; int64 headroom
    analysis in the ``FP_LANES`` note holds unchanged — numpy int64
    arithmetic matches Java long)."""
    if lane not in _FP_LANE_UDFS:
        a, c, p = FP_LANES[lane]

        @F.pandas_udf("long")
        def _lane(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for s in batches:
                out = []
                for t in s:
                    if t is None:
                        out.append(None)
                        continue
                    cp = np.frombuffer(t.encode("utf-32-le"),
                                       dtype=np.uint32).astype(np.int64)
                    w = ((np.arange(1, len(cp) + 1, dtype=np.int64)
                          * a + c) % p)
                    out.append(int((cp * w).sum() % p))
                yield pd.Series(out, dtype=object)

        _FP_LANE_UDFS[lane] = _lane
    return _FP_LANE_UDFS[lane](text)


def fingerprint_lane_sql(expr: str, lane: int) -> str:
    a, c, p = FP_LANES[lane]
    comp = (f"[greatest(ord({expr}[i:i])::BIGINT, 0) * ((i::BIGINT * {a} + {c}) % {p}) "
            f"for i in range(1, len({expr}) + 1)]")
    return f"(coalesce(list_sum({comp}), 0) % {p})::BIGINT"


#: second xxhash64 lane salt (golden-ratio constant): hashing (text, salt)
#: instead of (text) gives an independent 64-bit lane, and the pair is a
#: 128-bit content fingerprint — the production dedup key. JVM-side and
#: O(len) over raw bytes, unlike the O(len) *per-char array* arithmetic
#: lanes above, but not replayable in ANSI SQL (hence both forms exist).
_CONTENT_FP_SALT = 0x9E3779B9


def content_fingerprint_hi(text: Column) -> Column:
    """High 64 bits of the 128-bit content fingerprint (xxhash64)."""
    return F.xxhash64(text)


def content_fingerprint_lo(text: Column) -> Column:
    """Low 64 bits: xxhash64 over (text, salt) — an independent lane."""
    return F.xxhash64(text, F.lit(_CONTENT_FP_SALT))
