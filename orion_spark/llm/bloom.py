"""Distributed Bloom-filter membership for incremental dedup /
decontamination against a historical corpus.

The 100 TB problem this solves: "drop every new document already seen in
the existing corpus" is naively an anti-join of the new batch against the
full history — a shuffle of the history's keys every time a batch lands.
A Bloom filter replaces the history side with a fixed-size bitmap
(m_bits / 8 bytes, e.g. 1 Gbit = 128 MB for ~100M keys at ~2% FP with
k=4) built ONCE by a single hash aggregate over the history, then
broadcast; probing a batch is a map-only pass — zero shuffle of either
side. False positives (sound over-dropping, rate = (1-e^{-kn/m})^k) are
the price; false negatives are impossible.

Representation: the bitmap is a DataFrame of (word_idx int, bits bigint)
sparse 32-bit words — only words with at least one set bit are stored, so
a sparsely loaded filter is much smaller than m/8 bytes, it unions/bit_or
composes across partitions and across incremental builds, and it persists
as ordinary parquet. 32-bit words in a bigint keep every mask positive
(no sign-bit semantics to match across engines).

Everything is md5/integer-arithmetic column expressions (JVM-side, no
Python UDFs), deterministic, and reproduced bit-for-bit by the DuckDB
oracle SQL builders below — a Bloom filter is approximate with respect to
MEMBERSHIP, but exact with respect to its own definition, so these
operators get full value-hash oracles, not rows-only checks.

Reference anchor: the reference engine has no incremental-dedup surface
(its merges rescan all sources, orion/merging.py); this operator is part
of the LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orion_spark.llm.dedup import family_positions, family_positions_sql
from orion_spark.sources.kgx import read_parquet

_WORD = 32  # bits per stored word


def _bit_mask(pos: Column) -> Column:
    """1 << (pos % 32) as a bigint. pyspark's shiftleft only takes a literal
    shift amount, so the mask is built as an exact power of two instead:
    2.0**n is integer-exact in a double for n <= 31, and the bigint cast
    recovers it losslessly."""
    return F.pow(F.lit(2.0), (pos % _WORD).cast("int")).cast("bigint")


def bloom_build(
    df: DataFrame,
    key_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Build the sparse bitmap: one shuffle, grouped on word_idx (≤ m/32
    groups regardless of input size — the aggregate is the compaction).

    Output: (word_idx int, bits bigint), bits holding a 32-bit word.
    Incremental add = bloom_build(new) unioned with the old bitmap and
    re-aggregated with the same groupBy/bit_or (see bloom_merge)."""
    pos = F.explode(family_positions(F.col(key_col), k, m_bits)).alias("pos")
    return (
        df.select(pos)
        .select(
            (F.col("pos") / _WORD).cast("int").alias("word_idx"),
            _bit_mask(F.col("pos")).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_merge(*blooms: DataFrame) -> DataFrame:
    """OR together bitmaps built with identical (m_bits, k): union +
    re-aggregate. This is what makes the filter incrementally maintainable —
    each new batch contributes its own small bitmap."""
    out = blooms[0]
    for b in blooms[1:]:
        out = out.unionByName(b)
    return out.groupBy("word_idx").agg(F.bit_or("bits").alias("bits"))


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    key_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
    flag_col: str = "bloom_hit",
) -> DataFrame:
    """Flag each row with whether its key is (maybe) in the filter.

    The bitmap is packed into a single-row DENSE word array and
    broadcast — the probe side is then a map-only projection: no
    shuffle, no per-row join. Round 11 (guide §1/§2.3): the previous
    pack was a Spark MAP, and `element_at` on a map is a LINEAR scan of
    its entries (Catalyst's GetMapValue has no hash table), so probe
    cost grew with filter occupancy — measured 15.4 s in ONE task at
    sf1 (8k occupied words x 4 lookups x 50k docs) where the dense
    array's O(1) indexed loads run the same probe in well under a
    second. Densifying is one fixed-size left join of the m/32 word
    index space against the sparse bitmap — the array size is set at
    filter-design time (m/32 longs; 8 KiB per 2^16 bits), independent
    of either corpus's size, so the broadcast stays driver-safe. For
    bitmaps beyond comfortable broadcast size (m ≳ 2^33), probe via the
    explode + equi-join on word_idx instead; at the sizes a Bloom
    filter is chosen FOR, broadcast is the point."""
    n_words = m_bits // _WORD
    dense = (
        df.sparkSession.range(n_words)
        .select(F.col("id").cast("int").alias("word_idx"))
        .join(bloom, "word_idx", "left")
        .select("word_idx", F.coalesce("bits", F.lit(0)).alias("bits"))
    )
    packed = dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word_idx", "bits"))),
            lambda s: s["bits"],
        ).alias("_bloom")
    )
    probed = df.crossJoin(F.broadcast(packed))
    hit = F.forall(
        family_positions(F.col(key_col), k, m_bits),
        lambda p: (
            F.element_at(F.col("_bloom"), (p / _WORD).cast("int") + 1)
            .bitwiseAND(_bit_mask(p))
            != 0
        ),
    )
    return probed.withColumn(flag_col, hit).drop("_bloom")


def bloom_decontaminate(
    batch: DataFrame,
    history: DataFrame,
    key_col: str = "text",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Drop every batch row whose key is (maybe) in the history: build on
    history, probe the batch, keep misses. Sound (never keeps a true
    duplicate); over-drops at the filter's FP rate."""
    bloom = bloom_build(history, key_col, m_bits, k)
    return (
        bloom_probe(batch, bloom, key_col, m_bits, k)
        .where(~F.col("bloom_hit"))
        .drop("bloom_hit")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders (bit-for-bit reproductions)
# ---------------------------------------------------------------------------

def bloom_build_oracle_sql(
    history_sql: str, key_expr: str, m_bits: int, k: int
) -> str:
    """SELECT word_idx, bits — identical to bloom_build over history_sql."""
    return f"""
    SELECT (pos // {_WORD})::INT AS word_idx,
           bit_or(1::BIGINT << (pos % {_WORD})::INT) AS bits
    FROM (SELECT unnest({family_positions_sql(key_expr, k, m_bits)}) AS pos
          FROM ({history_sql}))
    GROUP BY 1
    """


def bloom_probe_oracle_sql(
    batch_sql: str,
    history_sql: str,
    key_expr: str,
    id_col: str,
    m_bits: int,
    k: int,
) -> str:
    """SELECT id, bloom_hit — identical to bloom_probe of batch against a
    filter built on history."""
    return f"""
    WITH bloom AS ({bloom_build_oracle_sql(history_sql, key_expr, m_bits, k)}),
    probe AS (
        SELECT {id_col} AS _pid,
               unnest({family_positions_sql(key_expr, k, m_bits)}) AS pos
        FROM ({batch_sql}))
    SELECT p._pid AS {id_col},
           bool_and(coalesce(b.bits, 0) & (1::BIGINT << (p.pos % {_WORD})::INT) <> 0)
               AS bloom_hit
    FROM probe p LEFT JOIN bloom b ON (p.pos // {_WORD})::INT = b.word_idx
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Persistence: the bitmap as parquet + a json sidecar pinning (m_bits, k).
# A filter probed with different parameters than it was built with is
# silently wrong, so the parameters travel with the bits.
# ---------------------------------------------------------------------------

def save_bloom(bloom: DataFrame, path: str, m_bits: int, k: int) -> None:
    import json
    import os

    bloom.write.mode("overwrite").parquet(path)
    meta = json.dumps({"m_bits": m_bits, "k": k, "word_bits": _WORD})
    tmp = os.path.join(path, "_bloom_meta.json.tmp")
    with open(tmp, "w") as fh:
        fh.write(meta)
    os.replace(tmp, os.path.join(path, "_bloom_meta.json"))


def load_bloom(spark, path: str) -> tuple[DataFrame, int, int]:
    import json
    import os

    with open(os.path.join(path, "_bloom_meta.json")) as fh:
        meta = json.load(fh)
    if meta.get("word_bits", _WORD) != _WORD:
        raise ValueError(
            f"bloom at {path} uses {meta['word_bits']}-bit words; "
            f"this build uses {_WORD}"
        )
    return read_parquet(spark, path), meta["m_bits"], meta["k"]
