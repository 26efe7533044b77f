"""Deduplication operators for LLM training-data pipelines: exact
(hash-groupBy), MinHash + LSH banding (near-dup at scale), SimHash, and
n-gram Jaccard verification.

Scale design: exact dedup is one hash aggregate. Near-dup avoids the O(n²)
pair space with LSH — signature column → band buckets → bucket self-join →
exact Jaccard verify on the (tiny) candidate set. Everything is built from
md5/integer arithmetic column expressions (portable, deterministic,
JVM-side); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orion_spark.operators.graphalgo import connected_components

# universal-hash family h_i(x) = (a_i*x + b_i) mod P over x < 2^32.
# P = 2^31-1 (Mersenne prime); a_i ~20-bit keeps a*x < 2^52 (no overflow
# under ANSI mode). Constants derive from a fixed LCG so any engine (or the
# DuckDB oracle) can regenerate them.
MINHASH_P = 2_147_483_647


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (((1103515245 * i + 12345) % (1 << 20)) | 1, (69069 * i + 1) % MINHASH_P)
        for i in range(num_hashes)
    ]


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def content_hash(*cols: str) -> Column:
    """md5 over the concatenated content columns."""
    return F.md5(F.concat_ws("\x1f", *[F.col(c) for c in cols]))


def spread_narrow_input(
    df: DataFrame, *cols: str, barrier: bool = True
) -> DataFrame:
    """Round-robin-spread a NARROW input (small parquet files arrive in
    1-2 scan partitions) so a compute-bound projection that follows runs
    on every core — and MATERIALIZE the spread rows (localCheckpoint,
    blocks released on GC) so the optimizer cannot push the projection
    back below the exchange onto the narrow scan. Round 11, measured on
    minhash_lsh_pairs: with a bare `repartition(n)` the md5-per-shingle
    projection collapses into the exchange's MAP side and runs in the 2
    scan tasks (3.1 s of a 5 s query); the checkpoint barrier pins it
    after the spread. Inputs that already arrive parallel (generated
    fixtures, many-file tables at scale) pass through untouched — no
    shuffle, no materialization — so this costs nothing at cluster scale
    where scans are wide by construction.

    `cols` optionally projects the frame down first (only materialize
    what downstream needs — guide §4/§6 column-pruning discipline).

    `barrier=False` (round 11) skips the localCheckpoint: right when
    the compute that must run spread sits above a Generate (explode) or
    a Python eval node — operators Catalyst never pushes below an
    exchange — so the bare conditional repartition is enough and the
    materialization job is pure overhead (measured +0.4-0.9 s per query
    at sf0.1 on the dsir/bm25/perplexity family). Keep the default
    barrier for codegen'd PROJECTIONS (hash/fold chains), which
    CollapseProject happily evaluates on the exchange's map side.
    """
    if cols:
        df = df.select(*cols)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, parallelism // 2):
        return df
    spread = df.repartition(parallelism)
    return spread.localCheckpoint(eager=True) if barrier else spread


def exact_duplicate_groups(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Group rows by content hash: (content_key, n_docs, keeper_id) — keeper
    is the minimum id, the deterministic survivor."""
    return (
        df.select(content_hash(*content_cols).alias("content_key"), F.col(id_col))
        .groupBy("content_key")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def drop_exact_duplicates(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Keep one row (min id) per distinct content."""
    key = content_hash(*content_cols).alias("_ckey")
    keyed = df.withColumn("_ckey", key)
    keepers = keyed.groupBy("_ckey").agg(F.min(id_col).alias(id_col))
    return keyed.join(keepers, ["_ckey", id_col], "left_semi").drop("_ckey")


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------

def word_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-word shingles of a document (lowercased, whitespace
    tokenized)."""
    w = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(w)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)).otherwise(
        F.array().cast("array<int>")
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(w, i, k), " "))
    )


def shingle_hashes(shingles: Column) -> Column:
    """32-bit base hash per shingle (md5 prefix), reduced mod P."""
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")
        % MINHASH_P,
    )


def minhash_lanes(hashes: Column, num_hashes: int = 16) -> list[Column]:
    """The num_hashes universal-hash minima as SEPARATE columns — each
    lane references `hashes` exactly once, so callers can compose
    band-level expressions (near_dup_history) without duplicating the
    whole signature array per band."""
    def _h(a, b):
        return lambda x: (a * x + b) % MINHASH_P

    return [
        F.array_min(F.transform(hashes, _h(a, b)))
        for a, b in _hash_params(num_hashes)
    ]


def minhash_signature(hashes: Column, num_hashes: int = 16) -> Column:
    """Array of num_hashes minima of the universal-hash family over the
    shingle hash set."""
    return F.array(*minhash_lanes(hashes, num_hashes))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH (1-row bands: a candidate is any
    pair sharing ANY of the num_hashes minima; P(miss) = (1-j)^num_hashes,
    ~4e-7 at j=0.6) followed by exact Jaccard verification on candidates.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard >= threshold.
    """
    # small-file inputs arrive in one partition; the shingle/minhash
    # projection is compute-bound (md5 per shingle), so spread it across the
    # cluster before doing the work. Shingles AND signatures are
    # materialized in one frame (localCheckpoint — released on GC, not
    # pinned in the cache manager): they feed four branches (both sides of
    # the band self-join, both sides of the verify join) that would
    # otherwise each recompute the md5-per-shingle + 16-hash projection.
    base = (
        spread_narrow_input(df, id_col, text_col)
        .select(
            F.col(id_col).alias("_id"), word_shingles(F.col(text_col), k).alias("_sh")
        )
        .where(F.size("_sh") > 0)
    )
    sig = base.withColumn(
        "_sig", minhash_signature(shingle_hashes(F.col("_sh")), num_hashes)
    ).localCheckpoint(eager=True)
    base = sig  # downstream shingle consumers read the cached frame
    # band explode: (band_index, band_value) bucket keys
    bands = sig.select(
        "_id",
        F.posexplode("_sig").alias("_band", "_bv"),
    )
    cand = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._bv") == F.col("r._bv"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("doc_a"), F.col("r._id").alias("doc_b"))
        .distinct()
    )
    sh_a = base.select(F.col("_id").alias("doc_a"), F.col("_sh").alias("_sh_a"))
    sh_b = base.select(F.col("_id").alias("doc_b"), F.col("_sh").alias("_sh_b"))
    verified = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
            / F.size(F.array_union("_sh_a", "_sh_b")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return verified


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs: every document in a
    transitively-connected cluster maps to the cluster's minimum doc id
    (the canonical keeper), as `(doc_id, cluster_id)` — the CLI's
    `--save-clusters` file format. The rounds are
    `graphalgo.connected_components` (min-label propagation with path
    halving, O(diameter) rounds, run to the fixed point).

    This is the step that turns pairwise near-dup output into an actionable
    keep/drop decision at corpus scale.
    """
    return connected_components(pairs, "doc_a", "doc_b").select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_clusters_oracle_sql(pairs_sql: str) -> str:
    """DuckDB recursive-CTE ground truth: min reachable id per node over the
    undirected pair graph."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, target) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, r.target FROM edges e JOIN reach r ON e.b = r.node)
    SELECT node AS doc_id, MIN(target) AS cluster_id FROM reach GROUP BY node
    """


def dedup_clusters_oracle_sql_doubling(pairs_sql: str, rounds: int = 24) -> str:
    """Scale-viable DuckDB ground truth for min-label components (r6,
    VERDICT item 4): unrolled pointer-doubling min-label propagation
    instead of the recursive-CTE transitive closure.

    The recursive `reach` CTE materializes every (node, reachable-node)
    pair — O(n * component_size) rows, which blows up on the sf0.1
    co-occurrence graph's giant component even though the Spark plan under
    test is fine. This variant keeps ONE label per node per round and
    applies, per round, (a) the neighbor min and (b) the label-of-label
    shortcut L(L(x)) — the Shiloach-Vishkin-style doubling step — so label
    distance to the component minimum at least doubles per round:
    ``rounds`` = 24 covers any component diameter up to 2^24 while doing
    only O(rounds * (n + m)) work. Exactness: labels are monotone
    non-increasing and bounded by the component min; at convergence every
    node holds exactly the min reachable id — the same function the
    recursive CTE computes (equivalence asserted against the Spark result
    by the sweep hash and against the recursive oracle in
    tests/test_llm_ops.py)."""
    stages = [
        "l0 AS MATERIALIZED (SELECT a AS node, a AS label FROM edges GROUP BY a)"
    ]
    # each round references the previous round three times; MATERIALIZED is
    # load-bearing — DuckDB inlines plain CTEs, which would cube the plan
    # per round (3^rounds operators) instead of evaluating each round once
    for r in range(1, rounds + 1):
        p, c = f"l{r - 1}", f"l{r}"
        stages.append(f"""
    {c} AS MATERIALIZED (
        SELECT n.node,
               LEAST(n.label,
                     COALESCE(j.label, n.label),
                     COALESCE(nb.mn, n.label)) AS label
        FROM {p} n
        LEFT JOIN {p} j ON n.label = j.node
        LEFT JOIN (SELECT e.a AS node, MIN(l.label) AS mn
                   FROM edges e JOIN {p} l ON e.b = l.node
                   GROUP BY e.a) nb ON n.node = nb.node)""")
    body = ",".join(stages)
    return f"""
    WITH pairs AS MATERIALIZED ({pairs_sql}),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
    {body}
    SELECT node AS doc_id, label AS cluster_id FROM l{rounds}
    """


def minhash_signature_oracle_sql(
    k: int = 5, num_hashes: int = 16, table: str = "documents",
    id_col: str = "doc_id", text_col: str = "text",
) -> str:
    """DuckDB SQL reproducing the minhash signatures bit-for-bit (same
    shingling, same md5-prefix base hash, same (a,b) family constants)."""
    sig_exprs = ",\n               ".join(
        f"list_min([({a} * h + {b}) % {MINHASH_P} for h in hs])"
        for a, b in _hash_params(num_hashes)
    )
    return f"""
    WITH docs AS (
        SELECT {id_col} AS doc_id,
               list_distinct([array_to_string(w[i:i+{k - 1}], ' ')
                              for i in range(1, len(w) - {k} + 2)]) AS sh
        FROM (SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS w
              FROM {table})
        WHERE len(w) >= {k}),
    hashed AS (
        SELECT doc_id,
               [('0x' || substr(md5(s), 1, 8))::BIGINT % {MINHASH_P}
                for s in sh] AS hs
        FROM docs)
    SELECT doc_id,
           array_to_string([{sig_exprs}], ',') AS signature
    FROM hashed
    """


def minhash_lsh_oracle_sql(
    k: int = 5, threshold: float = 0.5, table: str = "documents",
    id_col: str = "doc_id", text_col: str = "text",
) -> str:
    """Brute-force DuckDB ground truth for minhash_lsh_pairs: exact Jaccard
    over ALL pairs (the LSH result must equal it on the test data)."""
    return f"""
    WITH docs AS (
        SELECT {id_col} AS id,
               list_distinct([array_to_string(w[i:i+{k - 1}], ' ')
                              for i in range(1, len(w) - {k} + 2)]) AS sh
        FROM (SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS w
              FROM {table})
        WHERE len(w) >= {k})
    SELECT a.id AS doc_a, b.id AS doc_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE /
                 len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM docs a JOIN docs b ON a.id < b.id
    WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
          len(list_distinct(a.sh || b.sh)) >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars -> engine-portable signed-bigint-safe


def simhash64(text: Column) -> Column:
    """60-bit SimHash over word tokens: per bit, sum +1/-1 weighted by the
    word-hash bit, then take the sign. Hamming-close simhashes => similar
    token multisets. Word hash = 15-hex-char md5 prefix — portable (the
    DuckDB oracle reproduces signatures exactly) and bigint-safe.
    Pure column expressions in ONE pass over the words."""
    w = F.split(F.lower(F.trim(text)), r"\s+")
    hashes = F.transform(
        w, lambda x: F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")
    )
    idx = F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))
    zeros = F.array_repeat(F.lit(0), SIMHASH_BITS)
    # fold each word's sign contributions into a 60-wide accumulator via
    # nested zip_with (the Python shiftright wrapper only takes int shift
    # amounts; call_function reaches the SQL form that shifts by a column)
    bitsums = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            idx,
            lambda a, j: a
            + F.when(
                F.call_function("shiftright", h, j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bitsums,
            idx,
            lambda s, j: F.when(
                s > 0, F.call_function("shiftleft", F.lit(1).cast("bigint"), j)
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def banded_chunking(sig_bits: int, max_hamming: int) -> tuple[int, int]:
    """Guaranteed-recall chunking for banded Hamming blocking: split the
    signature into n_chunks = max_hamming + 1 chunks — by pigeonhole, any
    pair within max_hamming differing bits has at least one chunk with
    ZERO differing bits, so the chunk-bucket equi-join recalls every true
    pair (round-8 advice: 4 chunks at max_hamming=6 silently missed pairs
    whose differing bits spread across all chunks). Returns
    (chunk_bits, n_chunks) with chunk_bits = ceil(sig_bits / n_chunks);
    the top chunk may cover fewer real bits, which is harmless (the high
    zero bits compare equal on both engines)."""
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0 (got {max_hamming})")
    n_chunks = max_hamming + 1
    chunk_bits = -(-sig_bits // n_chunks)
    return chunk_bits, n_chunks


def hamming_banded_pairs(
    sigs: DataFrame,
    sig_col: str,
    id_col: str,
    sig_bits: int,
    max_hamming: int,
    max_bucket_freq: int | None = None,
    out_a: str = "id_a",
    out_b: str = "id_b",
) -> DataFrame:
    """Shared blocking+verify core for every Hamming near-dup family
    (text SimHash, image dHash, audio envelope fingerprint — round-8
    advice: one helper, not per-modality copies): signatures are blocked
    on chunk-bucket equi-joins with the guaranteed-recall chunking
    (banded_chunking — n_chunks = max_hamming + 1, so blocking loses NO
    true pair), candidates verified by exact Hamming distance.

    Hot-bucket cap (`max_bucket_freq`, optional — the winnowing
    max_doc_freq discipline): chunk values carried by more than
    max_bucket_freq signatures are dropped before the self-join, bounding
    per-bucket fan-out at max_bucket_freq^2 — featureless payloads (flat
    images, silence, empty text) all hash near zero and would otherwise
    drive the bucket join quadratic. The cap is the ONLY recall loss and
    is deterministic, so oracles mirror it exactly.

    Returns (out_a, out_b, hamming) with out_a < out_b,
    hamming <= max_hamming. Signatures must be non-negative (<= 63 bits).
    """
    chunk_bits, n_chunks = banded_chunking(sig_bits, max_hamming)
    mask = (1 << chunk_bits) - 1
    chunks = sigs.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sg"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col(sig_col), chunk_bits * c).bitwiseAND(
                        F.lit(mask)
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("_chunk", "_cv"),
    )
    if max_bucket_freq is not None:
        freq = chunks.groupBy("_chunk", "_cv").agg(F.count("*").alias("_n"))
        chunks = chunks.join(
            freq.where(F.col("_n") <= max_bucket_freq).select("_chunk", "_cv"),
            ["_chunk", "_cv"],
        )
    cand = (
        chunks.alias("l")
        .join(
            chunks.alias("r"),
            (F.col("l._chunk") == F.col("r._chunk"))
            & (F.col("l._cv") == F.col("r._cv"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias(out_a),
            F.col("r._id").alias(out_b),
            F.col("l._sg").alias("_ha"),
            F.col("r._sg").alias("_hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.withColumn("hamming", hamming.cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
        .select(out_a, out_b, "hamming")
    )


def hamming_banded_oracle_block_sql(
    sig_expr: str,
    sig_bits: int,
    max_hamming: int,
    max_bucket_freq: int,
    src_cte: str = "fp",
    id_col: str = "media_id",
) -> str:
    """DuckDB CTE chain mirroring hamming_banded_pairs' blocking for
    capped paths: chunk explosion with the SAME guaranteed-recall
    chunking, the hot-bucket frequency cap, the candidate self-join, and
    the Hamming verify. `src_cte` must provide ({id_col}, {sig_expr}).
    Emits CTEs `chunks/freq/ok/cand` and a final SELECT of
    (media_a, media_b, hamming)."""
    chunk_bits, n_chunks = banded_chunking(sig_bits, max_hamming)
    mask = (1 << chunk_bits) - 1
    return f"""
    chunks AS (
        SELECT {id_col}, {sig_expr} AS sig, t.c AS chunk,
               ({sig_expr} >> ({chunk_bits} * t.c)) & {mask} AS cv
        FROM {src_cte}, range(0, {n_chunks}) t(c)),
    freq AS (SELECT chunk, cv, COUNT(*) AS n FROM chunks GROUP BY chunk, cv),
    ok AS (
        SELECT ch.{id_col}, ch.sig, ch.chunk, ch.cv
        FROM chunks ch JOIN freq f ON ch.chunk = f.chunk AND ch.cv = f.cv
        WHERE f.n <= {max_bucket_freq}),
    cand AS (
        SELECT DISTINCT a.{id_col} AS media_a, b.{id_col} AS media_b,
               a.sig AS ha, b.sig AS hb
        FROM ok a JOIN ok b
          ON a.chunk = b.chunk AND a.cv = b.cv AND a.{id_col} < b.{id_col})
    SELECT media_a, media_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(ha, hb)) <= {max_hamming}
    """


def simhash_near_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance through the shared
    guaranteed-recall banding core (hamming_banded_pairs): every pair of
    60-bit signatures within max_hamming is recalled by construction
    (pigeonhole over max_hamming + 1 chunks), then verified exactly. No
    hot-bucket cap here — exact-duplicate text clusters are real near-dup
    signal for this operator (the capped variants live in the multimodal
    paths where featureless payloads are noise)."""
    base = spread_narrow_input(df, id_col, text_col).select(
        F.col(id_col).alias("_id"), simhash64(F.col(text_col)).alias("_sh")
    ).localCheckpoint(eager=True)
    return hamming_banded_pairs(
        base, "_sh", "_id", sig_bits=SIMHASH_BITS, max_hamming=max_hamming,
        max_bucket_freq=None, out_a="doc_a", out_b="doc_b",
    )


def simhash_pairs_oracle_sql(
    max_hamming: int = 8, table: str = "documents",
    id_col: str = "doc_id", text_col: str = "text",
) -> str:
    """DuckDB ground truth for simhash_near_pairs: recompute the 60-bit
    signatures (bit-exact, same md5-prefix word hashes), then emit every
    pair within max_hamming. No chunk-share predicate is needed anymore:
    the engine's blocking is guaranteed-recall (banded_chunking splits
    into max_hamming + 1 chunks, so by pigeonhole every true pair shares
    an exact chunk) and uncapped, which makes the blocked Spark output
    EQUAL the exact all-pairs filter — the strongest possible contract."""
    return rf"""
    WITH w AS (
        SELECT {id_col} AS doc_id,
               [('0x' || substr(md5(x), 1, 15))::BIGINT
                for x in string_split_regex(lower(trim({text_col})), '\s+')] AS hs
        FROM {table}),
    b AS (
        SELECT doc_id,
               [list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END
                          for h in hs])
                for j in range(0, {SIMHASH_BITS})] AS bits
        FROM w),
    s AS (
        SELECT doc_id,
               CAST(list_sum([CASE WHEN bits[j + 1] > 0 THEN (1::BIGINT << j)
                                   ELSE 0::BIGINT END
                              for j in range(0, {SIMHASH_BITS})]) AS BIGINT) AS sh
        FROM b)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sh, b.sh)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity:
    (id_a, id_b, cosine) with id_a < id_b and round(cosine, 6) >= threshold.

    Semantic-dedup complement to the lexical family (minhash/simhash):
    paraphrased or re-encoded duplicates share no shingles but sit at
    cosine ~1 in embedding space.

    n_planes == 0 runs the exact all-pairs scan (the ground-truth baseline;
    O(n^2), validation scale only). n_planes > 0 blocks candidates with the
    same deterministic random-hyperplane signature (`dim` required) before
    the identical exact verify — the 100 TB path: the self-join runs
    per-bucket (shuffle on the signature key) instead of as a cross join,
    and two vectors at cosine >= t collide with probability
    (1 - arccos(t)/pi)^n_planes per signature. The dot product is a
    JVM-side zip_with + sequential fold (identical summation order to the
    DuckDB oracle -> bit-identical doubles, same trick as brute_force_topk).
    """
    from orion_spark.llm.similarity import cosine, hyperplane_signature

    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("_id"), v.alias("_v"))
    if n_planes > 0:
        if dim is None:
            raise ValueError("dim is required when n_planes > 0")
        base = base.withColumn(
            "_sig", hyperplane_signature(F.col("_v"), dim, n_planes)
        )
        left, right = base.alias("l"), base.alias("r")
        cand = left.join(
            right,
            (F.col("l._sig") == F.col("r._sig"))
            & (F.col("l._id") < F.col("r._id")),
        )
    else:
        left, right = base.alias("l"), base.alias("r")
        cand = left.join(right, F.col("l._id") < F.col("r._id"))
    return (
        cand.select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round(cosine(F.col("l._v"), F.col("r._v")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_pairs_banded(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bands: int = 12,
    planes_per_band: int = 8,
) -> DataFrame:
    """The 100 TB path for embedding near-dup: banded random-hyperplane
    LSH blocking, then an exact cosine verify over the candidates only.

    Per band b, each vector gets a `planes_per_band`-bit signature from a
    disjoint plane family; candidates are pairs sharing (band, signature)
    in AT LEAST one band — an ordinary equi-join on the exploded
    (band, sig) key, so the plan is shuffle-hash/sort-merge, never a
    BroadcastNestedLoopJoin, and bucket size bounds the pair fan-out
    (n/2^planes per bucket in expectation). Pair recall per the standard
    SimHash analysis: a pair at cosine c collides in one band with
    probability (1 - arccos(c)/pi)^planes_per_band; across 12 bands of 8
    planes, a true near-dup at c >= 0.99 is missed with probability
    < 1e-8, and an EXACT scaled copy (sign-identical projections) is
    caught with probability 1. The verify recomputes the same
    fold-ordered cosine as the exact variant, so false candidates can't
    leak through.
    """
    import hashlib

    from orion_spark.llm.similarity import cosine

    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("_id"), v.alias("_v"))
    # All band signatures in ONE nested-HOF expression over a single flat
    # coefficient literal. Building 96 separate fold expressions through
    # the Python Column API costs ~10s of py4j roundtrips per query; one
    # expr() string + one lit(list) is two calls. Coefficient derivation
    # is IDENTICAL to similarity.hyperplane_signature (md5('plane:p:i')
    # prefix / 2^32 - 0.5, plane id = band*planes_per_band + p), so the
    # buckets match the non-banded path's plane families.
    ppb, nb = planes_per_band, n_bands
    flat = ",".join(
        repr(
            int(hashlib.md5(f"plane:{p}:{i}".encode()).hexdigest()[:8], 16)
            / float(1 << 32)
            - 0.5
        )
        + "D"
        for p in range(nb * ppb)
        for i in range(dim)
    )
    sig_expr = F.expr(
        f"""
        transform(sequence(0, {nb - 1}), b -> struct(
            b AS _band,
            aggregate(sequence(0, {ppb - 1}), 0L, (acc, p) -> acc + if(
                aggregate(
                    zip_with(_v,
                             slice(array({flat}),
                                   (b * {ppb} + p) * {dim} + 1, {dim}),
                             (x, c) -> x * c),
                    cast(0.0 AS DOUBLE), (a, x) -> a + x) > 0,
                shiftleft(1L, p), 0L)) AS _sig))
        """
    )
    sigs = base.select("_id", F.explode(sig_expr).alias("_bs")).select(
        "_id", "_bs._band", "_bs._sig"
    )
    # candidate ids only (narrow) -> distinct -> join vectors back for the
    # verify: candidates << n^2, so two id-joins beat carrying the vectors
    # through every band
    cand = (
        sigs.alias("l")
        .join(
            sigs.alias("r"),
            (F.col("l._band") == F.col("r._band"))
            & (F.col("l._sig") == F.col("r._sig"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    va = base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"))
    vb = base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("_va"), F.col("_vb")), 6).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_near_dup_oracle_sql(
    threshold: float, table: str = "embeddings"
) -> str:
    """DuckDB equivalent of the exact variant (identical fold order,
    rounding, and tie direction)."""
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM {table}),
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(
                   list_sum([a.ev[i] * b.ev[i] for i in range(1, len(a.ev) + 1)]) /
                   (sqrt(list_sum([a.ev[i] * a.ev[i] for i in range(1, len(a.ev) + 1)])) *
                    sqrt(list_sum([b.ev[i] * b.ev[i] for i in range(1, len(b.ev) + 1)]))),
                   6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {threshold}
    """


# ---------------------------------------------------------------------------
# SemDeDup: cluster-scoped semantic dedup (Abbas et al. 2023,
# arXiv:2303.09540) — coarse-quantize the embedding space, compare pairs
# only WITHIN a cluster, and keep one representative per semantic-dup
# group: the member with the LOWEST cosine to its cluster centroid (the
# paper's keep-farthest-from-centroid rule, which preserves the cluster's
# boundary examples and prunes its redundant core).
# ---------------------------------------------------------------------------

_COS_SQL = (
    "round(list_sum([{a}[i] * {b}[i] for i in range(1, len({a}) + 1)]) / "
    "(sqrt(list_sum([{a}[i] * {a}[i] for i in range(1, len({a}) + 1)])) * "
    "sqrt(list_sum([{b}[i] * {b}[i] for i in range(1, len({b}) + 1)]))), 6)"
)


SEMDEDUP_CLUSTER_BUDGET = 125


def semdedup_k(n: int, budget: int = SEMDEDUP_CLUSTER_BUDGET) -> int:
    """The paper's k ∝ n contract (SemDeDup uses 50k clusters for
    LAION-440M — cluster size ~n/k stays constant as the corpus grows):
    k = max(16, n // budget). A FIXED k makes within-cluster pair scoring
    n²/k — superlinear in n (measured 22× wall at 10× data with k=16 at
    sf1; k=160, i.e. this rule, halved it — SCALE.md). budget=125 keeps
    the expected cluster ~125 vectors, so pair scoring is ~n·budget/2:
    linear in n."""
    return max(16, n // budget)


def semdedup_k_sql(source_count_sql: str, budget: int = SEMDEDUP_CLUSTER_BUDGET) -> str:
    """DuckDB expression mirroring `semdedup_k` for a COUNT(*) subquery."""
    return f"GREATEST(16, ({source_count_sql}) // {budget})"


def semdedup_prune(
    df: DataFrame,
    n_clusters: int | None = 16,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup over an embedding column: returns one row per input vector
    with ``(vec_id, list_id, centroid_cos, group_id, kept)`` where
    `list_id` is the coarse cluster, `group_id` the semantic-dup component
    (own id for singletons), and `kept` is 1 for exactly one member per
    group — the one farthest from its centroid (min rounded cosine,
    vec_id tie-break), 0 for every pruned duplicate.

    Differs from `embedding_near_dup_pairs_banded` + `dedup_clusters` in
    exactly the two ways the SemDeDup paper differs from LSH dedup: the
    candidate space is scoped by a coarse quantizer rather than hash
    bands (pairs in DIFFERENT clusters are never compared, by design —
    the quantizer IS the recall contract), and the survivor is chosen by
    centroid distance rather than min-id.

    Determinism / oracle story: the quantizer is the same sampled
    fixed-centroid scheme as `similarity.ivf_topk_fixed_centroids` (first
    n_clusters vectors by id — a one-iteration k-means|| init), so the
    whole operator is a pure function of the data and hash-checkable
    cross-engine (`semdedup_oracle_sql`). Assignment orders on the
    6-decimal-rounded cosine with min-list tie-breaks.

    100 TB shape: assignment is TWO-LEVEL ROUTED (the IVF move — the
    paper itself uses approximate k-means at LAION scale): vectors score
    only the m = ceil(sqrt(k)) super-centroids (the first m centroids by
    id), then only the ~k/m centroids OWNED by the routed super — every
    super owns itself plus the non-super centroids that route to it, so
    the candidate set is never empty. Cost is n·(m + k/m)·d ≈ n·2√k·d
    instead of the flat cross's n·k·d, which under the k ∝ n contract
    is n²·d/budget — quadratic (the flat assignment measured 18+ min at
    sf10/k=1600 where routing takes seconds). Both routing levels and
    the ownership rule are pure deterministic argmax-with-min-id-ties on
    the 6-rounded cosine, replayed exactly by `semdedup_oracle_sql`; for
    m = k (tiny inputs) the scheme degenerates to flat assignment.
    Only the m supers are collected and broadcast (k = 8e8 -> m ~ 28k
    rows); the k-row centroid table stays a DataFrame, owner assignment
    runs distributed, and vector-vs-candidate scoring is an
    AQE-splittable shuffle-hash join on the owner key.
    The remaining fixed-seed `orderBy(id).limit(k)` centroid SELECTION
    is the determinism contract, not a scale recommendation; swap the
    init (sampled k-means||) for production corpora where k itself
    exceeds a single task's row budget. The
    pair join shuffles both sides on `list_id` so each cluster is a
    partition-local all-pairs block — bounded by keeping k proportional
    to corpus size (cluster size ~n/k; AQE splits any skewed cluster).
    `n_clusters=None` applies that contract automatically: k =
    semdedup_k(count) = max(16, n // 125), keeping pair scoring
    ~n·125/2 (linear) instead of n²/k (a fixed k measured 22× wall at
    10× data — SCALE.md). Components are `dedup_clusters`; the keeper
    pass is one more groupBy on group_id.
    """
    import math

    from orion_spark.llm.similarity import cosine, dot, l2_norm

    spark = df.sparkSession
    n_seed = None
    if n_clusters is None:
        # the k ∝ n count also answers the seed-size guard below
        n_seed = df.count()
        n_clusters = semdedup_k(n_seed)
    m = math.isqrt(n_clusters - 1) + 1 if n_clusters > 1 else 1
    by_id = df.select(
        F.col(id_col).alias("_list"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).orderBy("_list")
    cent_frame = by_id.limit(n_clusters)
    if n_seed is None:
        n_seed = cent_frame.count()
    if n_seed < n_clusters:
        raise ValueError(
            f"semdedup_prune needs >= {n_clusters} vectors to seed the "
            "centroid table"
        )
    sup_local = sorted(by_id.limit(m).collect(), key=lambda r: r["_list"])
    # _sn: the super's L2 norm hoisted out of the n x m routing fan-out;
    # the identical l2_norm expression keeps every rounded cosine bit-equal
    sup = F.broadcast(
        spark.createDataFrame(sup_local, cent_frame.schema).select(
            F.col("_list").alias("_sl"),
            F.col("_cv").alias("_sv"),
            l2_norm(F.col("_cv")).alias("_sn"),
        )
    )
    sup_flag = F.broadcast(
        spark.createDataFrame(sup_local, cent_frame.schema).select(
            F.col("_list").alias("_list_s")
        )
    )
    # centroid -> owner super: a distributed k x m broadcast cross +
    # min_by, with the SAME rounded-cosine expression as every other level
    # so the oracle replays it; supers own themselves by rule
    cand = (
        cent_frame.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(sup)
        .select(
            "_list", "_cv", "_sl",
            F.round(cosine(F.col("_cv"), F.col("_sv")), 6).alias("_rc"),
        )
        .groupBy("_list")
        .agg(
            F.min_by(
                F.struct("_cv", "_sl"),
                F.struct((-F.col("_rc")).alias("nc"), F.col("_sl").alias("s")),
            ).alias("_o")
        )
        .join(sup_flag, F.col("_list") == F.col("_list_s"), "left")
        .select(
            "_list",
            F.col("_o._cv").alias("_cv"),
            F.when(F.col("_list_s").isNotNull(), F.col("_list"))
            .otherwise(F.col("_o._sl"))
            .alias("_owner"),
        )
        .withColumn("_cn", l2_norm(F.col("_cv")))
    )
    # the routing cross is the compute-bound stage (n x m cosines,
    # interpreted higher-order functions): spread it across the cluster
    # even when the input parquet arrives in one or two partitions —
    # without this the broadcast cross inherits the scan's partitioning
    # and runs on a couple of cores (measured 1.4/32 cores busy at sf10)
    # _n: each vector's L2 norm folded ONCE per row instead of once per
    # (row, centroid) / (row, row) comparison below. cosine(a, b) is
    # defined as dot(a,b) / (l2_norm(a) * l2_norm(b)); feeding the SAME
    # l2_norm doubles into the same division keeps every rounded score
    # bit-identical while cutting the interpreted array folds per
    # comparison from three to one (guide §2.3 / brute_force_topk's
    # hoisted-norm discipline).
    v = (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .withColumn("_n", l2_norm(F.col("_v")))
    )
    v_routed = (
        v.join(sup, how="cross")
        .select(
            "vec_id", "_v", "_n", "_sl",
            F.round(
                dot(F.col("_v"), F.col("_sv")) / (F.col("_n") * F.col("_sn")), 6
            ).alias("_rc"),
        )
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("_v", "_n", "_sl"),
                F.struct((-F.col("_rc")).alias("nc"), F.col("_sl").alias("s")),
            ).alias("_r")
        )
        .select(
            "vec_id",
            F.col("_r._v").alias("_v"),
            F.col("_r._n").alias("_n"),
            F.col("_r._sl").alias("_super"),
        )
    )
    scored = v_routed.join(cand, v_routed["_super"] == cand["_owner"]).select(
        "vec_id", "_v", "_n", "_list",
        F.round(
            dot(F.col("_v"), F.col("_cv")) / (F.col("_n") * F.col("_cn")), 6
        ).alias("_c"),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct("_list", "_v", "_n", "_c"),
                F.struct((-F.col("_c")).alias("nc"), F.col("_list").alias("l")),
            ).alias("_a")
        )
        .select(
            "vec_id",
            F.col("_a._list").alias("list_id"),
            F.col("_a._v").alias("_v"),
            F.col("_a._n").alias("_n"),
            F.col("_a._c").alias("centroid_cos"),
        )
        # reused three times (both pair sides + final labeling) and feeds
        # the iterative CC — materialize once, cut lineage
        .localCheckpoint(eager=True)
    )
    # the within-cluster all-pairs block is COMPUTE-bound (one interpreted
    # dot fold per pair) on tiny shuffle bytes, so AQE's byte-based
    # coalescing collapses the join exchange to 1-2 tasks (measured: a
    # 6.4 s two-task stage at sf0.1 out of an 11 s query). An explicit
    # hash repartition on the cluster key at the input-size-scaled
    # shuffle-partition count pins the pair stage's parallelism to the
    # data scale instead of its byte count. Skew note: this exchange is
    # no longer AQE-splittable, but a cluster hot enough to matter is
    # quadratic in the PAIR COUNT first — the k ∝ n contract (E[cluster]
    # = budget) is the skew defense, not partition placement.
    pair_side = assigned.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")), "list_id"
    )
    a, b = pair_side.alias("a"), pair_side.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.list_id") == F.col("b.list_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("doc_a"),
            F.col("b.vec_id").alias("doc_b"),
            F.round(
                dot(F.col("a._v"), F.col("b._v"))
                / (F.col("a._n") * F.col("b._n")),
                6,
            ).alias("_pc"),
        )
        .where(F.col("_pc") >= threshold)
        .select("doc_a", "doc_b")
    )
    comp = dedup_clusters(pairs)
    labeled = assigned.join(
        comp, assigned["vec_id"] == comp["doc_id"], "left"
    ).select(
        "vec_id", "list_id", "centroid_cos",
        F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("group_id"),
    )
    keeper = labeled.groupBy("group_id").agg(
        F.min_by(
            "vec_id",
            F.struct(
                F.col("centroid_cos").alias("c"), F.col("vec_id").alias("i")
            ),
        ).alias("_keep")
    )
    return labeled.join(keeper, "group_id").select(
        "vec_id", "list_id", "centroid_cos", "group_id",
        F.when(F.col("vec_id") == F.col("_keep"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("kept"),
    )


def semdedup_oracle_sql(
    n_clusters: int | str = 16,
    threshold: float = 0.95,
    source_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings",
    cc_rounds: int = 24,
) -> str:
    """DuckDB ground truth for `semdedup_prune`: identical centroid
    choice, rounded-cosine assignment and tie-breaks, within-cluster
    pairing, pointer-doubling components, and the farthest-from-centroid
    keep rule. `source_sql` must yield (vec_id, ev DOUBLE[]) so callers
    can mirror any injection the Spark side applies. `n_clusters` may be
    a SQL expression string (e.g. `semdedup_k_sql("SELECT COUNT(*) FROM
    v")`) so the k ∝ n registration derives k from the same corpus on
    both engines. Assignment replays the Spark side's TWO-LEVEL routing:
    m = ceil(sqrt(k)) super-centroids (first m by id), supers own
    themselves, non-super centroids route to their argmax super, every
    vector routes to its argmax super and then argmaxes only over that
    super's owned centroids — all on the 6-rounded cosine with min-id
    ties, so the quantization is bit-identical cross-engine."""
    if isinstance(n_clusters, int):
        import math

        m_expr: int | str = (
            math.isqrt(n_clusters - 1) + 1 if n_clusters > 1 else 1
        )
    else:
        m_expr = (
            f"CAST(CASE WHEN ({n_clusters}) > 1 "
            f"THEN FLOOR(SQRT(({n_clusters}) - 1)) + 1 "
            f"ELSE 1 END AS BIGINT)"
        )
    cos_cs = _COS_SQL.format(a="c.cv", b="s.scv")
    cos_vs = _COS_SQL.format(a="v.ev", b="s.scv")
    cos_vc = _COS_SQL.format(a="vr.ev", b="cr.cv")
    cos_ab = _COS_SQL.format(a="a.ev", b="b.ev")
    assigned = f"""
    v AS (SELECT * FROM ({source_sql})),
    cent AS (SELECT vec_id AS list_id, ev AS cv FROM v
             ORDER BY vec_id LIMIT ({n_clusters})),
    sup AS (SELECT list_id AS slist, cv AS scv FROM cent
            ORDER BY list_id LIMIT ({m_expr})),
    cent_routed AS (
        SELECT list_id, cv,
               CASE WHEN list_id IN (SELECT slist FROM sup) THEN list_id
                    ELSE owner END AS owner
        FROM (SELECT c.list_id, c.cv, s.slist AS owner,
                     ROW_NUMBER() OVER (PARTITION BY c.list_id
                                        ORDER BY {cos_cs} DESC, s.slist)
                         AS crn
              FROM cent c, sup s) WHERE crn = 1),
    v_routed AS (
        SELECT vec_id, ev, vsuper FROM (
            SELECT v.vec_id, v.ev, s.slist AS vsuper,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {cos_vs} DESC, s.slist)
                       AS vrn
            FROM v, sup s) WHERE vrn = 1),
    assigned AS (
        SELECT vec_id, ev, list_id, ac AS centroid_cos FROM (
            SELECT vr.vec_id, vr.ev, cr.list_id, {cos_vc} AS ac,
                   ROW_NUMBER() OVER (PARTITION BY vr.vec_id
                                      ORDER BY {cos_vc} DESC, cr.list_id)
                       AS arn
            FROM v_routed vr JOIN cent_routed cr ON cr.owner = vr.vsuper)
        WHERE arn = 1)"""
    pairs_sql = f"""
        WITH {assigned}
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
        FROM assigned a JOIN assigned b
          ON a.list_id = b.list_id AND a.vec_id < b.vec_id
        WHERE {cos_ab} >= {threshold}"""
    comp_sql = dedup_clusters_oracle_sql_doubling(pairs_sql, rounds=cc_rounds)
    return f"""
    WITH {assigned},
    comp AS (SELECT * FROM ({comp_sql})),
    labeled AS (
        SELECT a.vec_id, a.list_id, a.centroid_cos,
               COALESCE(c.cluster_id, a.vec_id) AS group_id
        FROM assigned a LEFT JOIN comp c ON a.vec_id = c.doc_id)
    SELECT vec_id, list_id, centroid_cos, group_id,
           CAST(CASE WHEN vec_id = FIRST_VALUE(vec_id) OVER (
                    PARTITION BY group_id
                    ORDER BY centroid_cos, vec_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)
                THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM labeled
    """


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap against an eval set)
# ---------------------------------------------------------------------------

def ngram_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-training-document benchmark contamination: how many of the
    doc's distinct k-gram shingles appear anywhere in the eval set.

    The standard pre-training decontamination step (eval-overlap n-gram
    matching). Scale shape: the eval side collapses to DISTINCT shingles
    — benchmark suites are tiny relative to the corpus, so the match set
    broadcasts and the 100 TB train side streams through a map-side
    left-semi-style join; per-doc counts then aggregate on the id. The
    left join (not semi) keeps zero-overlap docs so the output is a
    complete per-doc panel: (id, n_shingles, n_contaminated, flag 0/1).
    """
    # the per-doc shingling + explode of the (100 TB-scale) train side is
    # the compute-bound stage; spread it when the input arrives narrow
    # (round 11 — measured 3.35 s on 2 scan tasks at sf0.1 without this)
    tr = spread_narrow_input(train, id_col, text_col).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("_sh"),
    )
    ev = (
        eval_set.select(F.explode(word_shingles(F.col(text_col), k)).alias("_sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        tr.join(F.broadcast(ev), "_sh", "left")
        .groupBy("_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias(
                "n_contaminated"
            ),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_contaminated",
            (F.col("n_contaminated") > 0).cast("int").alias("is_contaminated"),
        )
    )


def ngram_contamination_oracle_sql(
    eval_pred: str,
    k: int = 5,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle: identical shingling; `eval_pred` is the SQL predicate
    selecting the eval set (train = NOT eval_pred)."""
    return f"""
    WITH sh AS (
        SELECT {id_col} AS doc_id,
               unnest(list_distinct([array_to_string(w[i:i+{k - 1}], ' ')
                                     for i in range(1, len(w) - {k} + 2)])) AS s
        FROM (SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS w
              FROM {table})
        WHERE len(w) >= {k}),
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE {eval_pred}),
    train_sh AS (SELECT * FROM sh WHERE NOT ({eval_pred}))
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN s IN (SELECT s FROM eval_sh)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(CASE WHEN SUM(CASE WHEN s IN (SELECT s FROM eval_sh)
                                   THEN 1 ELSE 0 END) > 0
                     THEN 1 ELSE 0 END AS INT) AS is_contaminated
    FROM train_sh GROUP BY doc_id
    """


def minhash_lsh_pairs_dedup_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_hashes: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Output-identical to minhash_lsh_pairs, computed the way a
    duplicate-heavy corpus demands at scale: collapse exact duplicates
    first (one hash aggregate on md5(text) — the text itself never
    shuffles), run LSH over the distinct representatives only, then
    expand rep-level pairs across their duplicate groups and enumerate
    the within-group pairs (jaccard exactly 1).

    Why identical: docs with equal text have equal shingle sets, hence
    equal signatures and buckets — the plain LSH would emit every
    cross-group and within-group combination anyway, at quadratic cost
    per duplicate group. Measured motivation: SCALE.md round-3 sf1 point,
    where 10x exact copies made the direct path scale 17.6x.

    Contract notes (round-3 advice):
    - the within-group shortcut emits jaccard 1.0 pairs directly, which
      is only equivalent for threshold <= 1.0 — asserted below so the
      output-identity claim holds for every accepted parameter;
    - the exact-dedup key is md5 of the RAW text while shingling
      normalizes via lower/trim, deliberately: normalization-equal (but
      byte-different) texts can have jaccard < 1 shingle sets when
      k-shingle boundaries shift, so keying the pre-pass on normalized
      text would break output identity. The cost is that such documents
      stay separate representatives and pair through LSH — correctness
      is unaffected, only the collapse is less aggressive."""
    if not threshold <= 1.0:
        raise ValueError(
            f"threshold must be <= 1.0 (got {threshold}): within-group "
            "pairs carry jaccard exactly 1.0"
        )
    groups = (
        df.select(
            F.md5(F.col(text_col)).alias("_key"),
            F.col(id_col).alias("_id"),
            F.col(text_col).alias("_text"),
        )
        .groupBy("_key")
        .agg(
            F.min("_id").alias("_rep"),
            F.sort_array(F.collect_list("_id")).alias("_members"),
            F.first("_text").alias("_text"),
        )
        .localCheckpoint(eager=True)
    )
    reps = groups.select(
        F.col("_rep").alias(id_col), F.col("_text").alias(text_col)
    )
    rep_pairs = minhash_lsh_pairs(
        reps, text_col, id_col, k, num_hashes, threshold
    )
    mem = groups.select(F.col("_rep"), F.explode("_members").alias("_m"))
    cross = (
        rep_pairs
        .join(
            mem.select(F.col("_rep").alias("doc_a"), F.col("_m").alias("_ma")),
            "doc_a",
        )
        .join(
            mem.select(F.col("_rep").alias("doc_b"), F.col("_m").alias("_mb")),
            "doc_b",
        )
        .select(
            F.least("_ma", "_mb").alias("doc_a"),
            F.greatest("_ma", "_mb").alias("doc_b"),
            "jaccard",
        )
    )
    nonempty = groups.where(
        (F.size("_members") > 1)
        & (F.size(word_shingles(F.col("_text"), k)) > 0)
    ).select("_rep", "_members")
    within = (
        nonempty.select(F.explode("_members").alias("_a"), "_rep", "_members")
        .select("_a", F.explode("_members").alias("_b"))
        .where(F.col("_a") < F.col("_b"))
        .select(
            F.col("_a").alias("doc_a"), F.col("_b").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Chunk-level (paragraph-granular) dedup — the C4/RefinedWeb-style rule
# "drop a document when too many of its chunks appear elsewhere".
# ---------------------------------------------------------------------------

def chunk_dup_stats(
    df: DataFrame,
    chunk_tokens: int = 32,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-chunk panel: split each document into
    NON-overlapping `chunk_tokens`-token windows (chunk_documents with
    overlap=0), hash each chunk, and count how many of a document's
    chunks also occur in at least one OTHER document. Returns
    (doc_id, n_chunks, n_dup_chunks, dup_fraction, drop_flag) where
    drop_flag marks dup_fraction >= threshold — the sub-document dedup
    rule production corpora apply between exact dedup (whole-doc) and
    MinHash (near-whole-doc): it catches boilerplate-heavy pages and
    partially-copied documents neither of those sees.

    Scale shape: chunking is a narrow map; then ONE hash aggregate on
    the chunk hash (count_distinct docs — partial-aggregatable), a join
    back on the same hash key (co-partitioned with the aggregate's
    shuffle, so AQE reuses the exchange), and one aggregate on doc_id.
    Three key-hashed shuffles total, no all-pairs anywhere — the same
    100 TB-safe shape as exact dedup, applied at chunk granularity.

    Round 11 (guide §2.2/§1.2): the (id, chunk-hash) table is computed
    ONCE — spread off the narrow scan (the codegen'd split+md5 chain
    collapses below a bare repartition, hence the barrier helper) and
    materialized before its two consumers; previously each consumer
    re-evaluated the whole chunking on the 1-2 scan partitions
    (measured: two 3.0 s single-task stages of a 7 s query at sf1).
    The materialized rows are (id, md5) only — ~1/6 the corpus text
    bytes, the winnowing-fingerprint discipline.
    """
    from orion_spark.llm.textstats import chunk_documents

    chunks = (
        chunk_documents(
            spread_narrow_input(df, id_col, text_col),
            chunk_tokens=chunk_tokens, overlap=0,
            text_col=text_col, id_col=id_col,
        )
        .select(F.col(id_col), F.md5("chunk_text").alias("_h"))
        .localCheckpoint(eager=True)
    )
    cross = chunks.groupBy("_h").agg(
        F.count_distinct(id_col).alias("_ndocs")
    )
    ratio = F.col("n_dup_chunks") / F.col("n_chunks")
    return (
        chunks.join(cross, "_h")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum((F.col("_ndocs") >= 2).cast("int")).cast("bigint").alias(
                "n_dup_chunks"
            ),
        )
        .select(
            id_col, "n_chunks", "n_dup_chunks",
            F.round(ratio, 6).alias("dup_fraction"),
            (ratio >= threshold).cast("int").alias("drop_flag"),
        )
    )


def chunk_dup_stats_oracle_sql(
    chunk_tokens: int = 32,
    threshold: float = 0.5,
    table: str = "documents",
) -> str:
    """DuckDB ground truth: identical tokenization, window arithmetic,
    chunk hashing and cross-document counting."""
    ct = chunk_tokens
    return f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\\s+') AS toks,
               len(string_split_regex(trim(text), '\\s+')) AS n
        FROM {table}),
    c AS (
        SELECT doc_id, toks, n,
               greatest(1, CAST(ceil(n / {ct}.0) AS INTEGER)) AS n_chunks
        FROM t),
    chunks AS (
        SELECT doc_id, i AS chunk_id,
               md5(array_to_string(
                   toks[i * {ct} + 1 : i * {ct} + {ct}], ' ')) AS h
        FROM c, range(0, 1000) r(i) WHERE i < n_chunks),
    cross_counts AS (
        SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY h)
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           ROUND(SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_fraction,
           CAST(CASE WHEN SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)
                          / CAST(COUNT(*) AS DOUBLE) >= {threshold}
                     THEN 1 ELSE 0 END AS INT) AS drop_flag
    FROM chunks JOIN cross_counts USING (h)
    GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Substring-level (repeated n-gram span) duplication — the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" family,
# approximated at fixed n-gram granularity: find every length-n token
# window that occurs more than once ANYWHERE in the corpus and measure,
# per document, how many token positions duplicated windows cover.
# ---------------------------------------------------------------------------

def repeated_ngram_spans(
    df: DataFrame,
    n: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document repeated-span panel: (id, n_tokens, n_windows,
    n_dup_windows, dup_covered_tokens, dup_token_fraction).

    A window is duplicated when its md5 occurs >1 time corpus-wide
    (within-doc repeats count — the suffix-array dedup they approximate
    removes those too). Coverage is the exact union length of the
    duplicated [start, start+n) intervals, computed without an interval
    union pass: for starts sorted per doc, each contributes
    min(n, start - prev_start) (fixed-length intervals make the union
    telescoping) — one window function, no UDF.

    Scale shape: windows explode is a narrow map (|tokens| rows with an
    n-token string each); the occurrence count is one hash aggregate on
    the window md5 with map-side combine; the join back is equi on the
    same key (AQE reuses the aggregate's exchange); the per-doc pass is
    one doc-keyed window + aggregate. Same plan family as
    chunk_dup_stats, at stride-1 granularity — nothing quadratic. At
    100 TB the window table is n x corpus tokens; that is the honest
    cost of substring dedup (a suffix array is the same magnitude), and
    the n-gram granularity knob trades recall for volume.

    Docs shorter than n tokens have no windows and are excluded (same
    contract as the shingle ops)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # spread narrow inputs: the md5-per-window projection below is the
    # compute-bound stage and feeds two consumers (round 11)
    base = spread_narrow_input(df, id_col, text_col).select(
        F.col(id_col).alias("_id"),
        toks.alias("_toks"),
        F.size(toks).alias("n_tokens"),
    ).where(F.col("n_tokens") >= n)
    win = base.select(
        "_id",
        "n_tokens",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - n + 1),
                lambda i: F.md5(F.array_join(F.slice(F.col("_toks"), i, n), " ")),
            )
        ).alias("_pos0", "_h"),
    ).select("_id", "n_tokens", (F.col("_pos0") + 1).alias("start"), "_h")
    counts = win.groupBy("_h").agg(F.count("*").alias("_cnt"))
    dup = win.join(counts, "_h").where(F.col("_cnt") > 1)

    from pyspark.sql import Window

    w_doc = Window.partitionBy("_id").orderBy("start")
    contrib = F.least(
        F.lit(n), F.col("start") - F.lag("start").over(w_doc)
    )
    per_doc = (
        dup.withColumn("_c", F.coalesce(contrib, F.lit(n)))
        .groupBy("_id")
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.sum("_c").cast("bigint").alias("dup_covered_tokens"),
        )
    )
    panel = base.select(
        "_id", "n_tokens", (F.col("n_tokens") - n + 1).alias("n_windows")
    )
    return (
        panel.join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias(
                "n_dup_windows"
            ),
            F.coalesce("dup_covered_tokens", F.lit(0)).cast("bigint").alias(
                "dup_covered_tokens"
            ),
            F.round(
                F.coalesce("dup_covered_tokens", F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ).alias("dup_token_fraction"),
        )
    )


def repeated_ngram_spans_oracle_sql(
    n: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB oracle: identical windows, counts, telescoping coverage.
    Window enumeration is a per-row lateral unnest (no token-count
    bound), matching the unbounded Spark side on any corpus."""
    return f"""
    WITH base AS (
        SELECT {id_col} AS doc_id,
               string_split_regex(lower(trim({text_col})), '\\s+') AS w,
               len(string_split_regex(lower(trim({text_col})), '\\s+'))
                   AS n_tokens
        FROM {table}),
    eligible AS (SELECT * FROM base WHERE n_tokens >= {n}),
    win AS (
        SELECT doc_id, n_tokens, CAST(i + 1 AS INT) AS start,
               md5(array_to_string(w[CAST(i + 1 AS INT):CAST(i + {n} AS INT)],
                                   ' ')) AS h
        FROM eligible,
             UNNEST(range(0, GREATEST(n_tokens - {n} + 1, 0))) AS r(i)
        WHERE i <= n_tokens - {n}),
    counts AS (SELECT h, COUNT(*) AS cnt FROM win GROUP BY h),
    dup AS (
        SELECT w.doc_id, w.start,
               COALESCE(LEAST({n}, w.start - lag(w.start) OVER
                   (PARTITION BY w.doc_id ORDER BY w.start)), {n}) AS c
        FROM win w JOIN counts ON w.h = counts.h WHERE counts.cnt > 1),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_dup_windows,
               CAST(SUM(c) AS BIGINT) AS dup_covered_tokens
        FROM dup GROUP BY doc_id)
    SELECT e.doc_id,
           e.n_tokens,
           CAST(e.n_tokens - {n} + 1 AS BIGINT) AS n_windows,
           CAST(COALESCE(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(p.dup_covered_tokens, 0) AS BIGINT)
               AS dup_covered_tokens,
           ROUND(COALESCE(p.dup_covered_tokens, 0)
                 / CAST(e.n_tokens AS DOUBLE), 6) AS dup_token_fraction
    FROM eligible e LEFT JOIN per_doc p ON e.doc_id = p.doc_id
    """


# ---------------------------------------------------------------------------
# Paragraph-level corpus dedup with document reconstruction — the CCNet
# move (Wenzek et al. 2020): drop every repeated paragraph occurrence
# corpus-wide (keeper = globally first by (doc_id, position)), then
# reassemble each document from its surviving paragraphs.
# ---------------------------------------------------------------------------

def paragraph_dedup_rewrite(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_paras, n_kept, new_text): documents rewritten with every
    non-first paragraph occurrence removed (intra- and inter-document).

    Scale shape: two key-hashed shuffles — one `groupBy(md5(para))`
    keep-first aggregate (min over struct(doc_id, idx, para): (doc_id,
    idx) is a total order so ties are impossible, and the paragraph text
    rides in the struct, so no join-back), one groupBy doc_id to
    reassemble. The keep-first is a partial-aggregatable min — on a
    boilerplate-heavy corpus the hot paragraph hash reaches its reducer
    as one pre-combined row per map task, where the previous
    row_number window (the one shuffle AQE cannot skew-split) shipped
    every occurrence into a single task."""
    paras = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("idx", "para"),
    ).where(F.trim("para") != "")
    kept = (
        paras.groupBy(F.md5("para").alias("_h"))
        .agg(F.min(F.struct("doc_id", "idx", "para")).alias("_first"))
        .select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.idx").alias("idx"),
            F.col("_first.para").alias("para"),
        )
    )
    totals = paras.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "para"))),
                lambda s: s["para"],
            ),
            "\n",
        ).alias("new_text"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(totals, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).cast("bigint").alias("n_paras"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("new_text", F.lit("")).alias("new_text"),
        )
    )


def duplicate_span_rewrite(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    n-token window whose text occurs more than once corpus-wide is kept
    only at its globally-first occurrence (total order: doc_id, start);
    tokens covered by any later occurrence are deleted and each document
    is rebuilt from its surviving tokens.

    Output: (doc_id, n_tokens, n_removed, new_text) for every input
    document, where new_text is the surviving tokens joined by single
    spaces (tokenization = lowercase + whitespace split, the same
    contract as repeated_ngram_spans, which reports the *stats* this
    operator acts on).

    Scale shape: one `groupBy(span hash)` keep-first aggregate
    (min(struct(doc_id, start)) — partial-aggregatable, so a
    boilerplate span repeated across millions of docs reaches its
    reducer pre-combined, one row per map task; count > 1 restricts
    the output to duplicated hashes only), one equi-join of the window
    table against that firsts dim to tag non-first occurrences (an
    AQE-skew-splittable join, where the previous row_number window
    shipped every occurrence of a hot span into a single
    un-splittable task), one doc-keyed aggregate of removed positions,
    one doc-keyed join back to the token arrays. This is the same
    volume class as a suffix-array pass — O(n x corpus tokens) hashed
    window rows — with the granularity knob n trading recall for
    shuffle bytes. Nothing is quadratic; the rebuild is a higher-order
    filter over the already-carried token array, so document text
    shuffles exactly once (into the rebuild join)."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # spread narrow inputs: base feeds the window projection AND the
    # rebuild join, both compute-bound on the token arrays (round 11)
    base = spread_narrow_input(df, id_col, text_col).select(
        F.col(id_col).alias("doc_id"),
        toks.alias("_toks"),
        F.size(toks).alias("n_tokens"),
    )
    win = base.where(F.col("n_tokens") >= n).select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("n_tokens") - n + 1),
                lambda i: F.md5(F.array_join(F.slice(F.col("_toks"), i, n), " ")),
            )
        ).alias("_pos0", "_h"),
    ).select("doc_id", (F.col("_pos0") + 1).alias("start"), "_h")

    firsts = (
        win.groupBy("_h")
        .agg(
            F.min(F.struct("doc_id", "start")).alias("_first"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .where(F.col("_cnt") > 1)
        .select("_h", "_first")
    )
    dup_occ = win.join(firsts, "_h").where(
        F.struct("doc_id", "start") != F.col("_first")
    )
    # aggregate the duplicate-occurrence STARTS per doc and expand to
    # covered positions in-row AFTER the doc shuffle: on clone-heavy
    # corpora (where most windows are duplicated) this keeps the
    # doc-keyed exchange at one row per dup occurrence instead of n —
    # the sf10 probe measured the posexplode-first variant at 8x the
    # shuffle volume and ~2x the wall
    removed = dup_occ.groupBy("doc_id").agg(
        F.collect_list("start").alias("_ss")
    )
    # Rebuild via GAP SLICING, not a per-token membership scan: every
    # removal interval has the same length n, so over the SORTED dup
    # starts the running max end is simply prev_start + n - 1 and the
    # kept text is the concatenation of the m+1 inter-interval gaps
    # [prev+n, next-1] (clamped to >= 0 for overlapping occurrences).
    # This is O(tokens + dup occurrences) per document; the previous
    # F.filter(~array_contains(_rm, i)) rebuild re-scanned the removed
    # array per token — O(tokens x removed), quadratic on long
    # heavily-duplicated documents. Sorted starts are materialized as
    # their own projection before the lambda references them (the 5.5x
    # lambda re-evaluation trap, SCALE.md round 7).
    joined = base.join(removed, "doc_id", "left").withColumn(
        "_sss",
        F.coalesce(F.array_sort("_ss"), F.array().cast("array<int>")),
    )
    m = F.size("_sss")
    gap_start = lambda j: F.when(j == 0, F.lit(1)).otherwise(
        F.element_at(F.col("_sss"), j.cast("int")) + n
    )
    gap_end = lambda j: F.when(j == m, F.col("n_tokens")).otherwise(
        F.element_at(F.col("_sss"), (j + 1).cast("int")) - 1
    )
    kept = F.flatten(
        F.transform(
            F.sequence(F.lit(0), m),
            lambda j: F.slice(
                F.col("_toks"),
                gap_start(j),
                F.greatest(F.lit(0), gap_end(j) - gap_start(j) + 1),
            ),
        )
    )
    rebuilt = joined.withColumn("_kept", kept)
    return rebuilt.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("n_tokens") - F.size("_kept")).cast("bigint").alias(
            "n_removed"
        ),
        F.array_join("_kept", " ").alias("new_text"),
    )


def duplicate_span_rewrite_oracle_sql(
    n: int = 8,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB reproduction: identical windows via per-row lateral unnest
    (no token-count bound — matches the unbounded Spark side on any
    corpus), ROW_NUMBER over the span hash with the same (doc_id, start)
    total order, covered positions via range(0, n), tokens rebuilt by
    zipped-unnest + anti-join + ordered string_agg."""
    return f"""
    WITH base AS (
        SELECT {id_col} AS doc_id,
               string_split_regex(lower(trim({text_col})), '\\s+') AS w,
               len(string_split_regex(lower(trim({text_col})), '\\s+'))
                   AS n_tokens
        FROM {table}),
    win AS (
        SELECT doc_id, CAST(i + 1 AS INT) AS start,
               md5(array_to_string(w[CAST(i + 1 AS INT):CAST(i + {n} AS INT)],
                                   ' ')) AS h
        FROM base,
             UNNEST(range(0, GREATEST(n_tokens - {n} + 1, 0))) AS r(i)
        WHERE i <= n_tokens - {n}),
    ranked AS (
        SELECT doc_id, start,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, start) AS rk
        FROM win),
    pos AS (
        SELECT DISTINCT doc_id, start + CAST(j AS INT) AS p
        FROM ranked, range(0, {n}) r(j)
        WHERE rk >= 2),
    removed AS (SELECT doc_id, COUNT(*) AS n_removed FROM pos GROUP BY doc_id),
    toks AS (
        SELECT doc_id, unnest(range(1, len(w) + 1)) AS k, unnest(w) AS tok
        FROM base),
    kept AS (
        SELECT t.doc_id, t.k, t.tok
        FROM toks t LEFT JOIN pos p ON t.doc_id = p.doc_id AND t.k = p.p
        WHERE p.doc_id IS NULL),
    rebuilt AS (
        SELECT doc_id, string_agg(tok, ' ' ORDER BY k) AS new_text
        FROM kept GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(rm.n_removed, 0) AS BIGINT) AS n_removed,
           COALESCE(rb.new_text, '') AS new_text
    FROM base b
    LEFT JOIN removed rm ON b.doc_id = rm.doc_id
    LEFT JOIN rebuilt rb ON b.doc_id = rb.doc_id
    """


def paragraph_dedup_rewrite_oracle_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB reproduction: zipped unnest for (idx, para), ROW_NUMBER over
    md5(para) with the same (doc_id, idx) total order, ordered string_agg."""
    return f"""
    WITH paras AS (
        SELECT * FROM (
            SELECT {id_col} AS doc_id,
                   unnest(range(1, len(p) + 1)) AS idx,
                   unnest(p) AS para
            FROM (SELECT {id_col}, string_split({text_col}, chr(10)) AS p
                  FROM {table}))
        WHERE trim(para) <> ''),
    ranked AS (
        SELECT doc_id, idx, para,
               ROW_NUMBER() OVER (PARTITION BY md5(para)
                                  ORDER BY doc_id, idx) AS rk
        FROM paras),
    totals AS (SELECT doc_id, COUNT(*) AS n_paras FROM paras GROUP BY doc_id),
    rebuilt AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(para, chr(10) ORDER BY idx) AS new_text
        FROM ranked WHERE rk = 1 GROUP BY doc_id)
    SELECT d.{id_col} AS doc_id,
           CAST(coalesce(t.n_paras, 0) AS BIGINT) AS n_paras,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.new_text, '') AS new_text
    FROM {table} d
    LEFT JOIN totals t ON d.{id_col} = t.doc_id
    LEFT JOIN rebuilt r ON d.{id_col} = r.doc_id
    """


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
# the MOSS algorithm): hash every k-token gram, slide a w-hash window,
# select each window's minimum hash (rightmost on ties). The selected
# (hash, position) set is a provably-dense, position-robust fingerprint:
# any shared substring of length >= w + k - 1 tokens is guaranteed to
# share at least one fingerprint.
# ---------------------------------------------------------------------------

def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Selected winnowing fingerprints, one row per (doc_id, pos, fp).

    Hashes are the 32-bit md5-prefix integers the MinHash path already
    uses (shingle_hashes), so both engines compute identical values.
    Window s covers k-gram positions [s, min(s+w-1, m)]; docs with fewer
    than w k-grams get a single whole-doc window (the standard short-doc
    fallback); docs with no k-grams yield no rows.

    Scale shape: the k-gram explode is a narrow map; each position lands
    in at most w windows (a bounded in-row sequence explode, no join);
    the per-window argmin is one (doc, window) hash aggregate of a
    (hash, -pos) struct min — map-side combinable — and the distinct
    collapses selected repeats. One corpus-keyed shuffle end to end."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    m = F.size(toks) - k + 1
    # the md5-per-k-gram projection below is the compute-bound stage;
    # spread narrow inputs so it runs on every core (round 11 — measured
    # two 2-task ~1.2 s stages at sf0.1 without this)
    base = spread_narrow_input(df, id_col, text_col).select(
        F.col(id_col).alias("doc_id"), toks.alias("_toks"), m.alias("m")
    ).where(F.col("m") >= 1)
    grams = base.select(
        "doc_id",
        "m",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.col("m")),
                lambda i: F.conv(
                    F.substring(
                        F.md5(F.array_join(F.slice(F.col("_toks"), i, k), " ")),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
            )
        ).alias("_p0", "h"),
    ).select("doc_id", "m", (F.col("_p0") + 1).alias("p"), "h")
    n_windows = F.greatest(F.col("m") - w + 1, F.lit(1))
    starts = grams.select(
        "doc_id",
        "p",
        "h",
        F.explode(
            F.sequence(
                F.greatest(F.col("p") - w + 1, F.lit(1)),
                F.least(F.col("p"), n_windows),
            )
        ).alias("s"),
    )
    sel = starts.groupBy("doc_id", "s").agg(
        F.min(F.struct(F.col("h"), (-F.col("p")).alias("_np"))).alias("_m")
    )
    return sel.select(
        "doc_id",
        (-F.col("_m._np")).cast("int").alias("pos"),
        F.col("_m.h").alias("fp"),
    ).distinct()


def winnowing_panel(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fingerprint panel: (doc_id, n_kgrams, n_fingerprints,
    fp_density) for every input document (0s for docs shorter than k
    tokens)."""
    fps = winnowing_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
    per_doc = fps.groupBy("doc_id").agg(F.count("*").alias("n_fingerprints"))
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(F.size(toks) - k + 1, F.lit(0)).alias("n_kgrams"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.col("n_kgrams").cast("bigint").alias("n_kgrams"),
        F.coalesce("n_fingerprints", F.lit(0)).cast("bigint").alias(
            "n_fingerprints"
        ),
        F.round(
            F.coalesce("n_fingerprints", F.lit(0))
            / F.greatest(F.col("n_kgrams"), F.lit(1)).cast("double"),
            6,
        ).alias("fp_density"),
    )


def winnowing_matches(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_doc_freq: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style match report: document pairs ranked by the number of
    distinct shared fingerprint hashes. Fingerprints present in more
    than max_doc_freq documents are dropped first (ubiquitous k-grams
    carry no plagiarism signal and would otherwise drive a quadratic
    hot-key join — the same hub-cap discipline as the graph operators).

    Scale shape: distinct (doc, fp) -> doc-frequency filter (one hash
    aggregate, broadcast back as a semi structure via join on fp) ->
    self-equi-join on fp (bucketed, bounded fan-out <= max_doc_freq per
    key) -> pair count aggregate."""
    # fps feeds the doc-frequency aggregate AND both self-join sides;
    # materialize once (localCheckpoint, GC-released) instead of
    # re-running the fingerprint computation per consumer
    fps = (
        winnowing_fingerprints(df, k=k, w=w, text_col=text_col, id_col=id_col)
        .select("doc_id", "fp")
        .distinct()
        .localCheckpoint(eager=True)
    )
    dfreq = fps.groupBy("fp").agg(F.count("*").alias("_df"))
    rare = fps.join(
        dfreq.where(F.col("_df") <= max_doc_freq).select("fp"), "fp"
    )
    a = rare.select(F.col("doc_id").alias("a"), "fp")
    b = rare.select(F.col("doc_id").alias("b"), F.col("fp").alias("fp2"))
    return (
        a.join(b, (a["fp"] == b["fp2"]) & (a["a"] < b["b"]))
        .groupBy("a", "b")
        .agg(F.count("*").alias("shared_fingerprints"))
        .where(F.col("shared_fingerprints") >= min_shared)
        .select(
            "a",
            "b",
            F.col("shared_fingerprints").cast("bigint").alias(
                "shared_fingerprints"
            ),
        )
    )


def _winnowing_fp_ctes(
    k: int, w: int, table: str, id_col: str, text_col: str
) -> str:
    """Shared DuckDB CTE chain producing selected fingerprints
    (doc_id, pos, fp) — the exact mirror of winnowing_fingerprints.

    The k-gram enumeration bound is derived per document (a lateral
    unnest over range(0, m)), never hardcoded: the Spark side is
    unbounded, so a fixed constant here would silently under-report
    windows on longer-document corpora and read as a false engine
    mismatch."""
    return f"""
    base AS (
        SELECT {id_col} AS doc_id,
               string_split_regex(lower(trim({text_col})), '\\s+') AS tk,
               len(string_split_regex(lower(trim({text_col})), '\\s+'))
                   - {k} + 1 AS m
        FROM {table}),
    grams AS (
        SELECT doc_id, m, CAST(i + 1 AS INT) AS p,
               ('0x' || substr(md5(array_to_string(
                   tk[CAST(i + 1 AS INT):CAST(i + {k} AS INT)], ' ')), 1, 8)
               )::BIGINT AS h
        FROM base, UNNEST(range(0, GREATEST(m, 0))) AS r(i)
        WHERE m >= 1 AND i < m),
    starts AS (
        SELECT doc_id, p, h, CAST(p - j AS INT) AS s
        FROM grams, range(0, {w}) r(j)
        WHERE p - j >= 1 AND p - j <= GREATEST(m - {w} + 1, 1)),
    sel AS (
        SELECT doc_id, s, p, h,
               ROW_NUMBER() OVER (PARTITION BY doc_id, s
                                  ORDER BY h ASC, p DESC) AS rk
        FROM starts),
    fps AS (
        SELECT DISTINCT doc_id, p AS pos, h AS fp FROM sel WHERE rk = 1)
    """


def winnowing_panel_oracle_sql(
    k: int = 3,
    w: int = 4,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    WITH {_winnowing_fp_ctes(k, w, table, id_col, text_col)},
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_fingerprints FROM fps GROUP BY doc_id),
    sizes AS (
        SELECT {id_col} AS doc_id,
               GREATEST(len(string_split_regex(lower(trim({text_col})),
                        '\\s+')) - {k} + 1, 0) AS n_kgrams
        FROM {table})
    SELECT s.doc_id,
           CAST(s.n_kgrams AS BIGINT) AS n_kgrams,
           CAST(COALESCE(p.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
           ROUND(COALESCE(p.n_fingerprints, 0)
                 / CAST(GREATEST(s.n_kgrams, 1) AS DOUBLE), 6) AS fp_density
    FROM sizes s LEFT JOIN per_doc p ON s.doc_id = p.doc_id
    """


def winnowing_matches_oracle_sql(
    k: int = 3,
    w: int = 4,
    min_shared: int = 3,
    max_doc_freq: int = 10,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    return f"""
    WITH {_winnowing_fp_ctes(k, w, table, id_col, text_col)},
    docfp AS (SELECT DISTINCT doc_id, fp FROM fps),
    dfreq AS (SELECT fp, COUNT(*) AS df FROM docfp GROUP BY fp),
    rare AS (
        SELECT d.doc_id, d.fp FROM docfp d
        JOIN dfreq f ON d.fp = f.fp WHERE f.df <= {max_doc_freq})
    SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
    FROM rare x JOIN rare y ON x.fp = y.fp AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
    HAVING COUNT(*) >= {min_shared}
    """


def leakage_free_split(
    docs: DataFrame,
    clusters: DataFrame | None = None,
    threshold: float = 0.5,
    salt: str = "split",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Leakage-free train/val/test split: near-duplicate CLUSTERS (not
    documents) are the unit of assignment, so no near-dup pair ever
    straddles a split boundary — the standard guard against
    train-to-eval leakage when splitting a deduplicated-but-kept corpus.

    `clusters` injection: pass the (doc_id, cluster_id) frame from a
    PRIOR dedup pass (dedup_clusters output, or its persisted parquet)
    and the LSH + connected-components stages — by far the heaviest
    machinery in the composition — are skipped entirely; the split
    itself is one md5 projection + a doc-keyed left join. With
    clusters=None the full MinHash-LSH -> path-halving components chain
    runs inline (the already-scale-checked dedup_clusters plan).
    Singletons (docs absent from `clusters`) are their own cluster.

    Returns (doc_id, cluster, split) with an 8/1/1 train/val/test
    hash assignment keyed on the cluster's canonical id."""
    if clusters is None:
        pairs = minhash_lsh_pairs(
            docs, threshold=threshold, id_col=id_col, text_col=text_col
        )
        clusters = dedup_clusters(pairs)
    cluster = F.coalesce(F.col("cluster_id"), F.col(id_col)).cast("bigint")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), cluster.cast("string"))),
                1, 8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    return (
        docs.select(id_col)
        .join(clusters.select(F.col("doc_id").alias(id_col), "cluster_id"),
              id_col, "left")
        .select(
            id_col,
            cluster.alias("cluster"),
            F.when(bucket <= 7, F.lit("train"))
            .when(bucket == 8, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
