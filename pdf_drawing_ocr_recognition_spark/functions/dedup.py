"""Deduplication primitives — exact, MinHash+LSH, SimHash, n-gram Jaccard.

All pure Column expressions built on md5 (the one hash both Spark and DuckDB
compute identically, so every stage is oracle-checkable).  Scale notes:

- exact dedup is a groupBy on the digest — one shuffle keyed uniformly by hash;
- MinHash signatures and LSH band keys are per-row (narrow); the candidate
  join shuffles on band keys, whose cardinality LSH keeps bounded;
- at 100 TB the band join is the cost center: AQE skew-join handles hot bands
  (near-duplicate clusters), and signatures (n_hashes × 32B) travel instead of
  documents — join first, fetch text only for survivors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def shingles(col: Column, k: int = 5) -> Column:
    """Character k-gram multiset of the lowercased text as ARRAY<STRING>.

    transform(sequence(1, len-k+1), i -> substr(s, i, k)) — identical to the
    DuckDB twin ``list_transform(generate_series(1, len-k+1), ...)``; empty
    array when the text is shorter than k.
    """
    s = F.lower(col)
    n = F.length(s) - F.lit(k - 1)
    return F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(s, i, F.lit(k)))
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Word k-gram multiset (space-joined) — the cheaper shingling for MinHash
    (k-word shingles are the standard near-dup unit; ~6x fewer hash calls than
    char shingles on prose)."""
    words = F.split(F.lower(col), " ")
    n = F.size(words) - F.lit(k - 1)
    return F.when(n < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        )
    )


def minhash_signature(sh: Column, n_hashes: int = 16) -> Column:
    """MinHash signature: per seed j, min over shingles of md5(j || '|' || x).

    md5 hex strings compare lexicographically the same everywhere, so the
    minimum is a portable stand-in for a salted 128-bit min-hash.  Returns
    ARRAY<STRING> of length n_hashes (NULL entries when no shingles).
    """
    def salted_min(j: int):
        # NOTE: the salt must be closed over OUTSIDE the lambda — a 2-arg
        # lambda would be called by pyspark as (element, index).
        prefix = F.lit(f"{j}|")
        return F.array_min(
            F.transform(sh, lambda x: F.md5(F.encode(F.concat(prefix, x), "utf-8")))
        )

    return F.array(*[salted_min(j) for j in range(n_hashes)])


def minhash_sig_fold(
    sh: Column, salts: tuple[str, ...] = ("0", "1"), n_windows: int = 8, width: int = 4
) -> Column:
    """Single-pass windowed MinHash signature (the fastest formulation).

    One fold over the shingle array per salt: each step computes ONE md5 and
    lowers a (n_windows)-wide running-minimum accumulator via zip_with(least).
    Each disjoint *width*-hex window of the digest acts as an (approximately
    independent) hash function, so min-of-window-j across shingles is a valid
    minwise value.  Folding keeps the expression tree small (one md5
    reference instead of n_windows array_min/transform pairs), which matters
    for codegen time and per-row work.  Returns ARRAY<STRING> of
    len(salts)*n_windows.
    """
    top = F.lit("￿")  # sorts above every hex digest substring

    def fold(salt: str) -> Column:
        prefix = F.lit(salt + "|")
        init = F.array_repeat(top, n_windows)

        def step(acc: Column, x: Column) -> Column:
            h = F.md5(F.encode(F.concat(prefix, x), "utf-8"))
            windows = F.transform(
                F.sequence(F.lit(0), F.lit(n_windows - 1)),
                lambda j: F.substring(h, j * width + 1, width),
            )
            return F.zip_with(acc, windows, lambda a, b: F.least(a, b))

        return F.aggregate(sh, init, step)

    sig = F.concat(*[fold(s) for s in salts])
    # empty shingle set → sentinel values; normalize to NULLs like array_min
    return F.when(F.size(sh) > 0, sig)


def lsh_band_keys(sig: Column, n_bands: int = 4, rows_per_band: int = 4) -> Column:
    """LSH banding: hash each r-row slice of the signature to one band key.

    Two documents collide on a band iff that band's signature rows all match —
    the classic (b, r) S-curve.  Returns ARRAY<STRING> of n_bands keys, each
    prefixed by its band index so keys from different bands never join.
    """
    return F.array(
        *[
            F.md5(
                F.encode(
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                    ),
                    "utf-8",
                )
            )
            for b in range(n_bands)
        ]
    )


_HEX = "0123456789abcdef"


def _hex_nibble(hexcol: Column, pos: int) -> Column:
    """Value 0..15 of the pos-th (1-based) hex char — strpos trick, portable."""
    return F.position(F.substring(hexcol, pos, 1), F.lit(_HEX)) - 1


def simhash16(tokens: Column) -> Column:
    """16-bit SimHash over a token array (Charikar'02, reduced width).

    Each token contributes ±1 to 16 bit counters according to the first 4 hex
    chars of its md5; the sign of each counter is the output bit.  Implemented
    as a sequential F.aggregate fold (deterministic, order-independent because
    addition of small ints is exact).  Returns INT (0..65535).
    """
    zero16 = F.array(*[F.lit(0)] * 16)

    def bits_of(tok: Column) -> Column:
        h = F.md5(F.encode(tok, "utf-8"))
        cols = []
        for c in range(4):
            nib = _hex_nibble(h, c + 1)
            for b in range(4):
                bit = F.shiftright(nib, 3 - b).bitwiseAND(F.lit(1))
                cols.append(F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)))
        return F.array(*cols)

    counters = F.aggregate(
        tokens,
        zero16,
        lambda acc, tok: F.zip_with(acc, bits_of(tok), lambda a, d: a + d),
    )
    weighted = F.transform(
        counters,
        lambda cnt, i: F.when(
            cnt > 0,
            F.pow(F.lit(2.0), (F.lit(15) - i).cast("double")).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(weighted, F.lit(0), lambda a, v: a + v)


def hamming16(a: Column, b: Column) -> Column:
    """Hamming distance between two 16-bit simhashes (bit_count of xor)."""
    return F.bit_count(a.bitwiseXOR(b).cast("long"))


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard of two string arrays: |a∩b| / |a∪b| (distinct semantics).

    Pairing discipline: only ever evaluate this over a CANDIDATE pair set
    (LSH band-key join — operators/dedup.near_dupe_pairs — or an explicit
    small sample).  An unbanded self-join scored with this function is a
    cartesian product and will not survive any real corpus size."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)
