"""Text-analysis column builders for the LLM-data-pipeline extensions:
tokenization, MinHash constants and LSH banding, SimHash,
fingerprints, language scoring, quality scoring.

All pure Catalyst higher-order-function expressions (transform/
aggregate/filter over arrays) — JVM-side, codegen'd, no Python UDFs —
so they scale to 100 TB document corpora. Hashes use md5 (bit-stable
across engines and platforms, unlike xxhash seeds), compared
lexicographically on hex which is order-isomorphic to the 128-bit
value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.lower(F.trim(text)), r"\s+")


# MinHash universe: one md5 per shingle (the expensive part), truncated
# to 32 bits, then k cheap independent integer hashes h_i = (a_i*h + b_i)
# mod P derived from it. max(a_i) = A0 + 11*A_STEP = 2,088,590 < 2^21
# and h < 2^32 keep every product < 2^53 — exact in int64 AND float64,
# so parity holds even on an engine that evaluates in doubles.
MINHASH_P = 2147483647
MINHASH_A0, MINHASH_A_STEP = 976369, 101111
MINHASH_B0, MINHASH_B_STEP = 67890, 12345


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Band the signature: bands × rows keys; the band index is baked
    into the key hash so a plain equi-join on key finds candidates."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat(
                b.cast("string"),
                F.lit("|"),
                F.array_join(
                    F.transform(F.slice(signature, b * rows + 1, rows), lambda x: x.cast("string")),
                    "|",
                ),
            )
        ),
    )


def signature_agreement(sig_a: Column, sig_b: Column, k: int) -> Column:
    """Estimated Jaccard = fraction of agreeing MinHash components."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0))
    return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(float(k))


SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 × 16-bit bands — pigeonhole catches Hamming ≤ 3


def simhash64_bands(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per ``(doc_id, text)`` row, returned as 4 × 16-bit
    band columns ``s0..s3`` (s0 = bits 0-15 … s3 = bits 48-63; split
    keeps every value positive in signed int64 on any engine).

    Bit j of the signature is the sign of Σ_tokens (±1 by bit j of the
    token's 64-bit md5 prefix). Shape chosen for 100 TB: explode the
    token array (projected to an attribute first — a Generate over an
    expression re-evaluates it per output row), md5 once per token,
    then ONE groupBy(doc) with 64 codegen'd conditional SUMs —
    map-side partial agg, a single shuffle keyed on the doc id, no
    interpreted higher-order-function lambdas in the hot path.
    Integer arithmetic only — engine-exact.
    """
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    hashed = toked.select("doc_id", F.md5("tok").alias("m")).select(
        "doc_id",
        F.conv(F.substring("m", 1, 8), 16, 10).cast("bigint").alias("h_hi"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("bigint").alias("h_lo"),
    )

    def bit_vote(j: int) -> Column:
        h = F.col("h_lo") if j < 32 else F.col("h_hi")
        return F.sum(
            F.when(F.shiftright(h, j % 32).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"c{j}")

    votes = hashed.groupBy("doc_id").agg(*[bit_vote(j) for j in range(SIMHASH_BITS)])

    def band(k: int) -> Column:
        out = F.lit(0)
        for j in range(16):
            out = out + F.when(F.col(f"c{16 * k + j}") > 0, F.lit(1 << j)).otherwise(
                F.lit(0)
            )
        return out.cast("int").alias(f"s{k}")

    return votes.select("doc_id", *[band(k) for k in range(SIMHASH_BANDS)])


def jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(set_a) + F.size(set_b) - inter
    return inter.cast("double") / union.cast("double")


def fingerprint(text: Column) -> Column:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set (case/order/duplicate-insensitive)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


ROLLING_P = 2147483647
ROLLING_MULT = 31


def rolling_hash(toks: Column) -> Column:
    """Order-sensitive polynomial (Rabin-Karp-style) rolling hash over
    the 32-bit md5 prefix of each token: h = fold(h*31 + tok_hash mod p)
    seeded with the first token's hash. Pure int64 arithmetic (max
    intermediate < 2^37) — engine-exact, and unlike the set fingerprint
    it distinguishes reordered documents."""
    hs = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )
    return F.aggregate(
        F.slice(hs, 2, F.size(hs) - 1),
        F.element_at(hs, 1),
        lambda acc, x: (acc * ROLLING_MULT + x) % F.lit(ROLLING_P),
    )


def token_set_score(toks: Column, wordlist: list[str]) -> Column:
    """#tokens contained in the wordlist (language-ID heuristic)."""
    arr = F.array(*[F.lit(w) for w in wordlist])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
