"""Hash-family expressions for sketching (MinHash, SimHash) — built on
Spark's JVM-side xxhash64; no Python in the loop.

These back the rows-only-checked dedup operators (DuckDB has no
xxhash64, so no SQL oracle), but every step is deterministic given the
seed so results are stable across runs/partitionings.

Each builder returns ONE `F.expr` over a column name, parsed once on
the JVM; 64 separately built Columns cost several py4j round trips a
slot. Band and slot ids are int literals and signature slots longs:
changing either type changes every hash, and so every LSH bucket.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def minhash_aggs(shingle_col: str, num_perm: int = 64) -> Column:
    """MinHash as one struct of plain aggregates over an *exploded*
    shingle column: field mh{i} = MIN(xxhash64(i, shingle)).

    Deliberately NOT a higher-order-function fold over the shingle
    array: Spark evaluates HOF lambdas interpreted (outside
    whole-stage codegen), which measured ~10× slower. Exploded
    min-aggregates are codegen'd, get map-side partial aggregation,
    and scale linearly with corpus size.

    A struct, not an array: Spark's size estimate counts an array as
    one element, so an array signature made the LSH candidate pairs
    look smaller than the shingle sets. The exact-Jaccard verify then
    broadcast the candidates instead of one reused broadcast of the
    sets, one more Spark job per call at sf0.1."""
    mins = ", ".join(f"'mh{i}', min(xxhash64({i}, {shingle_col}))" for i in range(num_perm))
    return F.expr(f"named_struct({mins})")


def lsh_band_structs(sig_col: str, num_perm: int = 64, bands: int = 32) -> Column:
    """Band keys from a minhash_aggs signature: an array of
    (band_id, band_key) structs where band_key hashes that band's
    signature slots; `F.inline` it into rows. groupBy
    (band_id, band_key) over those rows gives the LSH buckets. Key
    cardinality grows with the corpus, but a cluster of k near-copies
    shares its band keys, so a duplicate-heavy corpus still makes
    buckets of size k (ROADMAP direction 6)."""
    if num_perm % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm}: integer division "
            "would silently drop the top signature slots and degrade recall"
        )
    rows = num_perm // bands
    keys = ", ".join(
        f"named_struct('band_id', {b}, 'band_key', xxhash64({b}, "
        + ", ".join(f"{sig_col}.mh{b * rows + r}" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return F.expr(f"array({keys})")


def simhash_vote_aggs(token_col: str) -> Column:
    """SimHash bit votes as one array of plain aggregates over an
    *exploded* token column: vote[j] = SUM(bit_j(xxhash64(token)) ?
    +1 : -1). Same explode-not-HOF rationale as minhash_aggs (codegen
    + map-side combine)."""
    votes = ", ".join(
        f"sum(CASE WHEN (shiftright(xxhash64({token_col}), {j}) & 1) = 1 THEN 1 ELSE -1 END)"
        for j in range(64)
    )
    return F.expr(f"array({votes})")


def simhash_from_votes(votes_col: str) -> Column:
    """Recombine a simhash_vote_aggs array into the 64-bit signature."""
    return F.expr(
        " | ".join(f"IF({votes_col}[{j}] > 0, shiftleft(1L, {j}), 0L)" for j in range(64))
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
