"""Hash-family column builders: shingles, MinHash, SimHash, rolling
fingerprints.

All built from ``md5`` (identical hex output in Spark and DuckDB, so the
DuckDB oracle can recompute signatures exactly). MinHash hashes each
shingle ONCE (md5, extended by extra seeded md5s only when more than 8
hash functions are requested) and derives the per-hash-function values
from disjoint 4-hex-char substring slices of that digest — the standard
"one strong hash, k slices" construction. A string-valued minhash (the
lexicographic MIN of the slice over the shingle set) avoids hex→int
conversion differences between engines while keeping the LSH property
(min of a uniformly-hashed set). This replaced a per-function
``md5(seed || shingle)`` design that cost ``num_hashes`` md5 calls +
string concats per shingle per row (8× the hashing work; it was 32% of
the round-1 bench).

Reference analogue: candidate generation for entity linking is the
north-rule MinHash-LSH blocking step; the reference's own dedup is the
dense-cosine greedy pass at
/root/reference/graphrag_kb_server/service/search/matching.py:100-128 —
LSH replaces its O(n^2) similarity matrix at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bind_once(value: Column, body) -> Column:
    """Evaluate ``value`` ONCE per row and pass it to ``body`` as a
    lambda variable. Interpreted higher-order functions get no
    common-subexpression elimination: an outer expression referenced
    inside a lambda is re-evaluated per ELEMENT (a regex split of the
    whole document re-run for every shingle position — O(len²)/row).
    A lambda *variable* is bound once, so wrapping the expensive input
    in a one-element transform makes every inner reference an array
    lookup. Bit-identical results — the same expression tree runs on
    the same value, just once. Public: core expression infrastructure,
    also used by operators.curation's decontamination tokenizer."""
    return F.transform(F.array(value), body)[0]


#: length k of the character grams of ``char_shingles``
CHAR_SHINGLE_K = 3


def char_shingles(col: Column) -> Column:
    """Distinct character k-grams of a string (ARRAY<STRING>), k =
    ``CHAR_SHINGLE_K``.

    Pure expression: sequence + transform + substring, then
    array_distinct. Empty/short strings yield the whole string.
    """

    def _body(s):
        k = CHAR_SHINGLE_K
        n = F.greatest(F.length(s) - (k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(s, i, k))
        )

    return bind_once(col, _body)


def word_shingles(col: Column, k: int = 2) -> Column:
    """Distinct word k-gram shingles (ARRAY<STRING>), whitespace split."""

    def _body(ws):
        n = F.greatest(F.size(ws) - (k - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - 1),
                lambda i: F.concat_ws(" ", F.slice(ws, i + 1, k)),
            )
        )

    return bind_once(F.split(F.trim(col), r"\s+"), _body)


CHARS_PER_HASH = 4  # 16 bits per hash function; 8 functions per md5


def n_digests(num_hashes: int) -> int:
    """How many md5 digests per shingle ``num_hashes`` slices need."""
    return -(-num_hashes * CHARS_PER_HASH // 32)


def shingle_hexes(shingles: Column, num_hashes: int = 8) -> Column:
    """Per shingle, the concatenated hex digest the minhash slices are
    cut from: md5(shingle), extended with md5('j:' || shingle) for j ≥ 1
    only when ``num_hashes`` > 8. ONE md5 per shingle in the common case.

    Call sites MUST keep this in its own ``.select`` projection: the
    downstream signature references the column ``num_hashes`` times, and
    Spark's CollapseProject keeps a multiply-referenced non-cheap
    expression in its own project (evaluated once per row) instead of
    inlining it into every consumer.
    """
    k = n_digests(num_hashes)

    def _hex(s: Column) -> Column:
        parts = [F.md5(s)] + [
            F.md5(F.concat(F.lit(f"{j}:"), s)) for j in range(1, k)
        ]
        return F.concat(*parts) if k > 1 else parts[0]

    return F.transform(shingles, _hex)


def _slice_at(start: int):
    """Closure factory: a ONE-parameter lambda for F.transform.

    (A two-parameter lambda — e.g. with a default arg — would be bound
    by Spark as (element, index) and silently corrupt the offset.)
    """
    return lambda h: F.substring(h, start + 1, CHARS_PER_HASH)


def minhash_from_hexes(hexes: Column, num_hashes: int = 8) -> Column:
    """ARRAY<STRING> of length ``num_hashes``: per hash function h,
    min over the shingle set of hex-digest slice h (4 hex chars each,
    disjoint offsets). Cheap substring/min work only — the md5s were
    paid once in ``shingle_hexes``."""
    return F.array(
        *[
            F.array_min(F.transform(hexes, _slice_at(h * CHARS_PER_HASH)))
            for h in range(num_hashes)
        ]
    )


def lsh_bands(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys for LSH bucketing: ARRAY<STRING>, one key per band,
    key = band index + concatenated minhashes of that band. Two sets
    collide on a band iff that band's minhashes all match."""
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[
                    F.element_at(signature, b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def minhash_bands(
    df: DataFrame, key: str, shingles: Column, num_hashes: int, bands: int
) -> DataFrame:
    """(key, band): one row per LSH band key of each row's shingle set —
    shingles → hex digests → minhash signature → band keys → explode,
    the blocking pipeline of entity linking and minhash dedup.
    ``shingles`` is an ARRAY<STRING> expression over ``df``'s columns.

    Staged projections: the hex stage pays ONE md5 per shingle, and
    CollapseProject keeps it as its own project because the signature
    references it ``num_hashes`` times."""
    return (
        df.select(key, shingles.alias("_sh"))
        .select(key, shingle_hexes(F.col("_sh"), num_hashes).alias("_hx"))
        .select(key, minhash_from_hexes(F.col("_hx"), num_hashes).alias("_sig"))
        .select(key, lsh_bands(F.col("_sig"), bands, num_hashes // bands).alias("bands"))
        .select(key, F.explode("bands").alias("band"))
    )


def simhash64(tokens: Column) -> Column:
    """64-bit SimHash of a token array, as a 16-char hex STRING.

    Per token, take md5 → first 16 hex chars → 64 bits; majority vote
    per bit across tokens. Expressed with aggregate over bit positions
    kept JVM-side: we sum +1/-1 per bit using conv() on hex nibbles.

    Implementation detail: to stay in Catalyst we compute, for each of
    16 nibble positions, the 4 bit-majorities from the nibble value.
    """
    def _nib_at(pos: int):
        return lambda h: F.conv(F.substring(h, pos + 1, 1), 16, 10).cast("int")

    def _vote(mask: int):
        return lambda acc, v: acc + F.when(
            v.bitwiseAND(F.lit(mask)) > 0, 1
        ).otherwise(-1)

    # Two-level bind_once: without it the md5-per-token array is an
    # outer expression referenced by all 64 vote aggregates (16 nibble
    # positions × 4 bits) and interpreted HOFs re-evaluate it per
    # reference — 64 md5 passes per row. Binding the hash array once
    # and each position's nibble array once leaves 1 md5 pass + 16
    # conv passes + 64 cheap bit-vote folds. Same values.
    def _body(hs):
        def _nibble_vote(nib):
            bits = []
            for bit in range(4):  # bit within nibble, MSB first
                mask = 1 << (3 - bit)
                votes = F.aggregate(nib, F.lit(0), _vote(mask))
                bits.append(F.when(votes > 0, F.lit(1)).otherwise(F.lit(0)))
            nibble_val = bits[0] * 8 + bits[1] * 4 + bits[2] * 2 + bits[3]
            return F.lower(F.conv(nibble_val.cast("string"), 10, 16))

        return F.concat(
            *[
                bind_once(F.transform(hs, _nib_at(pos)), _nibble_vote)
                for pos in range(16)  # nibble position in hex string
            ]
        )

    return bind_once(
        F.transform(tokens, lambda t: F.substring(F.md5(t), 1, 16)), _body
    )


def rolling_fingerprint(col: Column, window: int = 8, keep: int = 4) -> Column:
    """Winnowing-style document fingerprint: the ``keep`` smallest
    md5 hashes over character windows of length ``window`` —
    ARRAY<STRING>. Deterministic and SQL-expressible."""
    n = F.greatest(F.length(col) - (window - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n), lambda i: F.md5(F.substring(col, i, window))
    )
    return F.slice(F.array_sort(F.array_distinct(hashes)), 1, keep)
