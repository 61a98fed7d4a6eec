"""Distributed Bloom filter as plain DataFrame ops — no UDFs, no driver
bitmap mutation, codegen end-to-end.

Why it exists: the incremental ingestion paths probe ever-growing
append-only stores (the exact-digest store of curate's digest-history
gate, `operators/curate.py:_stage_flags`, and the MinHash band store of
`near_dup_incremental`). Each batch pays an anti-join
whose big side is the WHOLE store — correct, but at 100 TB the store scan
dominates every batch even though almost all batch rows are brand new. A
Bloom filter of the store's digests answers "definitely new" for the
overwhelming majority of rows with a broadcast-sized bitmap, so only the
(tiny) maybe-seen slice joins the store. No false negatives -> exactness
is preserved; false positives only send a few extra rows into the join.

Spark's AQE injects runtime bloom filters for joins in ONE query
(`spark.sql.optimizer.runtime.bloomFilter.enabled`), but that rebuilds the
filter from the store scan per batch — the opposite of what an ingest
pipeline wants. This module makes the filter a PERSISTENT table:

* representation: (word bigint, bits bigint) rows — word i holds bits
  [64*i, 64*i+64) of an m-bit array. Only set words materialize. Two
  negative-word meta rows make the table self-describing
  (word=-1 -> num_bits, word=-2 -> num_hashes), so a probe with
  mismatched parameters fails loudly instead of silently missing.
* build: per-row bit indexes via Kirsch-Mitzenmacher double hashing
  (h1 + i*h2 mod m, both xxhash64 — two hash evaluations regardless of
  k), explode -> groupBy(word) -> bit_or. One shuffle of set-bit words,
  never of the input rows.
* merge: union + bit_or per word — blooms are append-friendly: build one
  per ingested batch and fold it into the store's filter.
* probe: the dense bitmap rides in ONE broadcast row (the
  `_assign_clusters` centroid pattern, `operators/similarity.py`), each
  probe is k O(1) `element_at` + bitwiseAND tests inside a `forall` HOF.

Size envelope: the probe broadcasts num_bits/8 bytes. The default 2^23
bits = 1 MiB holds ~870k keys at 1% fp; 2^30 bits = 128 MiB holds ~10^8.
Past that, shard the store (and its filter) by a digest prefix and probe
per shard — the representation already supports it (one filter table per
shard directory).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

DEFAULT_NUM_BITS = 1 << 23
DEFAULT_NUM_HASHES = 5

_META_BITS = -1
_META_HASHES = -2
# coverage marker written by a backfill: bits = highest doc-store batch
# id whose digests the base filter partition covers (per-store
# bookkeeping; bloom_merge drops it, _read_meta keeps the max)
_COVER_MAX_BATCH = -3

# powers of two as signed-long literals (bit 63 wraps to the sign bit)
_POW2 = F.array(
    *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("bigint") for i in range(64)]
)


def _bit_indexes(col: Column, num_bits: int, num_hashes: int) -> Column:
    """array<bigint> of the ``num_hashes`` bit positions for a value.

    Kirsch-Mitzenmacher: h_i = (h1 + i*h2) mod m needs only two base
    hashes for any k with no loss in asymptotic fp rate. Both base hashes
    are xxhash64 (the second salted by an extra literal column), reduced
    with pmod so the sign of the raw 64-bit hash cannot produce a
    negative index. ANSI-safe: h1, h2 < m <= 2^40 and k is small, so
    h1 + i*h2 never approaches long overflow."""
    h1 = F.pmod(F.xxhash64(col), F.lit(num_bits))
    # golden-ratio salt 0x9E3779B97F4A7C15 as a signed-long literal
    h2 = F.pmod(
        F.xxhash64(col, F.lit(0x9E3779B97F4A7C15 - (1 << 64))),
        F.lit(num_bits),
    )
    return F.array(
        *[
            F.pmod(h1 + F.lit(i) * h2, F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )


def bloom_build(
    df: DataFrame,
    col: str,
    num_bits: int = DEFAULT_NUM_BITS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Build the filter table for every non-null value of ``df[col]``.

    Distributed end-to-end: k bit indexes per row explode into (word,
    bit-mask) pairs, one hash aggregation ORs them per word. The shuffle
    carries at most min(rows*k, num_bits/64) words — bounded by the
    filter size, NOT the corpus size."""
    if num_bits < 64 or num_bits % 64:
        raise ValueError(
            f"bloom_build: num_bits must be a positive multiple of 64, "
            f"got {num_bits}"
        )
    if num_hashes < 1:
        raise ValueError(
            f"bloom_build: num_hashes must be >= 1, got {num_hashes}"
        )
    spark = df.sparkSession
    idx = F.explode(
        _bit_indexes(F.col(col), num_bits, num_hashes)
    ).alias("_i")
    words = (
        df.filter(F.col(col).isNotNull())
        .select(idx)
        .select(
            F.shiftright(F.col("_i"), 6).alias("word"),
            F.element_at(
                _POW2, F.pmod(F.col("_i"), F.lit(64)).cast("int") + F.lit(1)
            ).alias("_m"),
        )
        .groupBy("word")
        .agg(F.bit_or("_m").alias("bits"))
    )
    meta = spark.createDataFrame(
        [(_META_BITS, num_bits), (_META_HASHES, num_hashes)],
        "word bigint, bits bigint",
    )
    return words.unionByName(meta)


def _read_meta(bloom_rows: list) -> tuple[int, int, dict[int, int]]:
    """Fold raw filter rows — possibly the CONCATENATION of several
    filters (a multi-partition bloom store read as one table): duplicate
    words OR together (the representation is union-idempotent), duplicate
    meta rows must agree or the mix of differently-parameterized filters
    fails loudly (silently OR-ing mismatched bitmaps would produce false
    negatives)."""
    words: dict[int, int] = {}
    meta: dict[int, int] = {}
    for r in bloom_rows:
        w, b = r["word"], r["bits"]
        if w < 0:
            # only the PARAMETER rows must agree; other negative words
            # (e.g. a backfill's coverage marker) may differ per partition
            if w in (_META_BITS, _META_HASHES) and meta.get(w, b) != b:
                raise ValueError(
                    "bloom filter rows disagree on num_bits/num_hashes — "
                    "mixed filters built with different parameters"
                )
            meta[w] = max(meta.get(w, b), b) if w not in (
                _META_BITS, _META_HASHES
            ) else b
        else:
            words[w] = words.get(w, 0) | b
    if _META_BITS not in meta or _META_HASHES not in meta:
        raise ValueError(
            "bloom filter table is missing its meta rows (word=-1/-2) — "
            "not built by bloom_build, or the rows were filtered out"
        )
    return meta[_META_BITS], meta[_META_HASHES], words


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR several filters built with IDENTICAL (num_bits, num_hashes)
    into one. The parameter check is one tiny aggregate over the meta
    rows; mismatched filters fail loudly — a silent OR of differently
    sized bitmaps would return garbage probes."""
    if not blooms:
        raise ValueError("bloom_merge: need at least one filter")
    u = blooms[0]
    for b in blooms[1:]:
        u = u.unionByName(b)
    bad = (
        u.filter(F.col("word").isin(_META_BITS, _META_HASHES))
        .groupBy("word")
        .agg(F.count_distinct("bits").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if bad:
        raise ValueError(
            "bloom_merge: filters disagree on num_bits/num_hashes — "
            "rebuild with one parameter set"
        )
    # non-parameter meta rows (e.g. a backfill coverage marker) are
    # per-store bookkeeping — OR-ing them would fabricate values, so the
    # merged filter carries only bitmap words + the parameter rows
    return (
        u.filter(
            (F.col("word") >= 0)
            | F.col("word").isin(_META_BITS, _META_HASHES)
        )
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
    )


def bloom_probe(
    df: DataFrame,
    col: str,
    bloom: DataFrame | list,
    result_col: str = "maybe_seen",
) -> DataFrame:
    """Attach ``result_col`` (boolean): False = DEFINITELY not in the
    filter, True = maybe (fp rate per :func:`bloom_fp_rate`).

    The sparse word table is densified once driver-side (<= num_bits/64
    longs — the size envelope in the module docstring, the same
    control-plane collect grain as the IVF centroid build) and rides in
    one broadcast row; each input row then runs k constant-time
    element_at + bitwiseAND tests inside a codegen'd ``forall``. NULL
    probe values yield NULL. ``bloom`` may be the filter DataFrame or
    its ALREADY-COLLECTED rows — callers that inspect the meta rows
    anyway (the streaming ingest gate) pass the rows to avoid scanning
    the filter store twice per batch."""
    rows = bloom if isinstance(bloom, list) else bloom.collect()
    num_bits, num_hashes, words = _read_meta(rows)
    n_words = num_bits // 64
    dense = [0] * n_words
    for w, b in words.items():
        dense[w] = b
    one = df.sparkSession.createDataFrame(
        [(dense,)], "_bloom_bits array<bigint>"
    )
    probe = F.forall(
        _bit_indexes(F.col(col), num_bits, num_hashes),
        lambda i: (
            F.element_at(
                F.col("_bloom_bits"), F.shiftright(i, 6).cast("int") + F.lit(1)
            ).bitwiseAND(
                F.element_at(
                    _POW2, F.pmod(i, F.lit(64)).cast("int") + F.lit(1)
                )
            )
            != 0
        ),
    )
    return (
        df.crossJoin(broadcast(one))
        .withColumn(
            result_col,
            F.when(F.col(col).isNotNull(), probe),
        )
        .drop("_bloom_bits")
    )


def bloom_fp_rate(n_items: int, num_bits: int, num_hashes: int) -> float:
    """Expected false-positive probability after ``n_items`` inserts:
    (1 - e^(-kn/m))^k."""
    return (1.0 - math.exp(-num_hashes * n_items / num_bits)) ** num_hashes


def bloom_size_for(n_items: int, fp_rate: float = 0.01) -> tuple[int, int]:
    """(num_bits rounded up to a multiple of 64, optimal num_hashes) for
    a target fp rate: m = -n ln(p)/ln(2)^2, k = m/n ln(2)."""
    if not (0.0 < fp_rate < 1.0) or n_items < 1:
        raise ValueError("bloom_size_for: need n_items >= 1, 0 < fp < 1")
    m = math.ceil(-n_items * math.log(fp_rate) / (math.log(2) ** 2))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_items * math.log(2)))
    return m, k
