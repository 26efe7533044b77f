"""Text-analysis operators for LLM training-data pipelines (BASELINE.json
north star: language-ID, quality scoring, token counting, fingerprinting).

All operators are pure column expressions (JVM-side, whole-stage codegen) —
no Python UDFs anywhere, so they run at scan speed on 100 TB of documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from orion_spark.sources.kgx import read_parquet

# deliberately tiny, deterministic marker sets (the container has no langid
# model; an n-gram marker heuristic is the classic fallback)
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "das"],
    "fr": ["le", "et", "la"],
    "es": ["el", "y", "de"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in"]


def words(text: Column) -> Column:
    """Whitespace tokenization as an array column."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


# GPT2-style pretokenizer, simplified to the RE2-compatible subset (no
# lookahead) so any engine — including the DuckDB oracle — reproduces it.
BPE_ISH_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-pretokenizer-shaped token count: runs of letters, runs of digits,
    and runs of punctuation each count separately (with their leading
    space), approximating how a GPT-2-family tokenizer splits before BPE
    merges. A much better LLM-cost proxy than whitespace tokens."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0))


def char_count(text: Column) -> Column:
    return F.length(text)


def stopword_ratio(text: Column, stopwords: list[str] = STOPWORDS) -> Column:
    w = words(F.lower(text))
    sw = F.size(F.filter(w, lambda x: x.isin(*stopwords)))
    return sw.cast("double") / F.size(w)


def mean_word_length(text: Column) -> Column:
    w = words(text)
    total = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    return total.cast("double") / F.size(w)


def quality_score(text: Column) -> Column:
    """Deterministic composite quality score in [0, ~1]: favors mid-length
    documents with a sane stopword ratio and word lengths (the
    length/punct/stopword-ratio family of heuristic filters)."""
    toks = token_count(text).cast("double")
    length_score = F.least(toks / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.lit(1.0) - F.abs(sw - F.lit(0.08)) * F.lit(4.0)
    mwl = mean_word_length(text)
    mwl_score = F.lit(1.0) - F.abs(mwl - F.lit(4.5)) / F.lit(10.0)
    return F.round(
        F.greatest(
            (length_score + F.greatest(sw_score, F.lit(0.0)) + mwl_score) / F.lit(3.0),
            F.lit(0.0),
        ),
        6,
    )


def lang_id(text: Column) -> Column:
    """Marker-word language heuristic: count hits per language's marker set,
    argmax with a fixed preference order on ties; 'und' when nothing hits."""
    w = words(F.lower(text))

    def _marker_filter(markers):
        # factory, not default-arg lambda: Spark maps a 2-arg lambda to the
        # (element, index) form and the marker set would bind to the index
        return lambda x: x.isin(*markers)

    scores = {
        lang: F.size(F.filter(w, _marker_filter(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    # fixed evaluation order = deterministic tie-break
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(LANG_MARKERS):  # alphabetical preference on ties
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def doc_fingerprint(text: Column) -> Column:
    """Order-insensitive 60-bit document fingerprint: sum of per-word md5
    prefixes. Deterministic, engine-portable (md5 + integer sum), and cheap;
    collisions need identical multisets of words."""
    w = words(F.lower(text))
    hashes = F.transform(
        w, lambda x: F.conv(F.substring(F.md5(x), 1, 8), 16, 10).cast("bigint")
    )
    return F.aggregate(hashes, F.lit(0).cast("bigint"), lambda a, x: a + x)


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass per-document stat panel. The panel is a pure narrow map
    with NO exchange of its own, so a narrow parquet input would run the
    whole interpreted stat/fingerprint chain on 1-2 scan tasks (round 11,
    measured 1.48 s of a 1.9 s query on 2 tasks at sf0.1):
    spread_narrow_input parallelizes exactly that case and is a no-op on
    wide inputs."""
    from orion_spark.llm.dedup import spread_narrow_input

    df = spread_narrow_input(df, id_col, text_col)
    t = F.col(text_col)
    return df.select(
        id_col,
        token_count(t).alias("n_tokens"),
        char_count(t).alias("n_chars"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(mean_word_length(t), 6).alias("mean_word_len"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        doc_fingerprint(t).alias("fingerprint"),
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's DISTINCT
    k-word shingles whose corpus-wide first occurrence (minimum doc id)
    is this doc. The diminishing-returns signal data selection wants:
    a late near-copy scores ~0 even when per-doc quality filters pass it,
    and a doc full of never-seen phrasing scores ~1 — orthogonal to both
    quality scoring (doc-local) and near-dup detection (pairwise).

    Docs with fewer than k words have no shingles and are excluded from
    the output (the shingling convention the minhash oracle also uses).

    Scale shape: explode distinct shingles per doc, then TWO chained
    partial-aggregatable aggregates — `groupBy(shingle).agg(min(doc_id))`
    (map-side combine caps the hot-shingle reducer input at one row per
    map task, so a boilerplate phrase shared by millions of docs is
    harmless) followed by `groupBy(first_doc).count()` — and a doc-keyed
    join of the two per-doc panels. n_novel(doc) = #shingles whose
    corpus-wide min doc is this doc, so no corpus-wide join-back on the
    shingle key is needed at all; the previous window over the shingle
    (the one shuffle AQE cannot skew-split) is gone. No UDFs, no driver
    state. Returns (doc_id, n_shingles, n_novel, novelty)."""
    from orion_spark.llm.dedup import word_shingles

    # Round 11 (guide §2.3/§2.4): evaluate the interpreted word_shingles
    # higher-order chain ONCE per document and materialize the arrays
    # (localCheckpoint — blocks release on GC). Both panels then read the
    # materialized arrays: n_shingles is just size() of the
    # already-distinct array — the previous shape exploded the corpus a
    # second time and ran a whole groupBy+exchange to recount what size()
    # knows — and the novelty branch explodes without re-shingling. (A
    # first cut computed size(word_shingles(text)) as a narrow projection
    # instead: the optimizer evaluates the HOF chain in BOTH the filter
    # and the project, tripling the dominant per-row cost — measured
    # 3.9 s -> 14.6 s at sf0.1. Materialize-once is the stable shape.)
    # spread_narrow_input: spread + materialization barrier only when the
    # input actually arrives narrow (small parquet files -> 1-2 scan
    # partitions), so the shingling below runs on every core; generated
    # fixtures that are range-parallel from birth pass through untouched
    # (an unconditional repartition re-shuffled their full text for
    # +0.5 s at sf0.1)
    from orion_spark.llm.dedup import spread_narrow_input

    arr = spread_narrow_input(df, id_col, text_col).select(
        F.col(id_col).alias("doc_id"),
        word_shingles(F.col(text_col), k=k).alias("_sh"),
    ).localCheckpoint(eager=True)
    per_doc = arr.select(
        "doc_id", F.size("_sh").cast("long").alias("n_shingles")
    ).where(F.col("n_shingles") > 0)
    sh = arr.select("doc_id", F.explode("_sh").alias("shingle"))
    novel = (
        sh.groupBy("shingle")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id", "n_shingles",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    ).select(
        "doc_id", "n_shingles", "n_novel",
        F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias("novelty"),
    )


def ngram_novelty_oracle_sql(
    k: int = 3,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB ground truth for `ngram_novelty`: identical shingling
    (lowercase, whitespace split, distinct k-grams, <k-word docs dropped),
    first-seen = MIN(doc_id) per shingle, same rounding."""
    return f"""
    WITH docs AS (
        SELECT {id_col} AS doc_id,
               list_distinct([array_to_string(w[i:i+{k - 1}], ' ')
                              for i in range(1, len(w) - {k} + 2)]) AS sh
        FROM (SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS w
              FROM {table})
        WHERE len(w) >= {k}),
    s AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc FROM s GROUP BY shingle)
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM s JOIN firsts f USING (shingle)
    GROUP BY s.doc_id
    """


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """TF-IDF top-k terms per document: (doc_id, word, tfidf, rk).

    tfidf = tf * ln(N / df); ties broken lexicographically so the ranking
    is a total order (the score itself is bit-deterministic: integer tf/df
    through one IEEE ln + multiply).

    Scale shape: one explode + two partial-aggregatable groupBys; the
    document-frequency table (distinct vocabulary) broadcasts back onto the
    term-frequency table, and the corpus size joins as a broadcast scalar —
    the per-(doc,word) table never shuffles twice.
    """
    from pyspark.sql import Window

    w = (
        df.select(F.col(id_col).alias("doc_id"),
                  F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
                   .alias("word"))
    )
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = w.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    win = Window.partitionBy("doc_id").orderBy(F.desc("_score"), F.asc("word"))
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(F.broadcast(n_docs))
        .withColumn("_score", score)
        .withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= k)
        .select("doc_id", "word", F.round("_score", 6).alias("tfidf"), "rk")
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
    line_drop_markers: tuple[str, ...] = ("javascript",),
    page_drop_markers: tuple[str, ...] = ("lorem ipsum",),
) -> DataFrame:
    """C4-style line-level boilerplate filtering (Raffel et al. 2020, the
    public C4 cleaning rules): keep only lines that end in terminal
    punctuation, have >= `min_words_per_line` words, and carry no drop
    marker ('javascript'); drop whole pages with fewer than
    `min_kept_lines` surviving lines or a page-level marker
    ('lorem ipsum'). Pure higher-order column functions — the per-line
    loop of the reference implementation is a JVM-side array filter, no
    Python in the row path. Returns a per-page panel
    (n_lines, n_kept, page_kept, clean_chars)."""
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _keep(x: Column) -> Column:
        cond = (
            (F.size(F.split(F.trim(x), r"\s+")) >= min_words_per_line)
            & x.rlike('[.!?"]$')
        )
        for m in line_drop_markers:
            cond = cond & ~F.lower(x).contains(m)
        return cond

    kept = F.filter(lines, _keep)
    page_ok = F.size(kept) >= min_kept_lines
    for m in page_drop_markers:
        page_ok = page_ok & ~F.lower(t).contains(m)
    return df.select(
        id_col,
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        page_ok.cast("int").alias("page_kept"),
        F.length(F.array_join(kept, "\n")).alias("clean_chars"),
    )


def source_mixing_weights(
    df: DataFrame,
    source_col: str = "source",
    weight_by: str = "n_chars",
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-based source mixing (the multinomial alpha-sampling of
    multilingual/multi-corpus pre-training, e.g. the XLM-R recipe):
    natural share p_s of each source (by `weight_by`), tempered share
    q_s = p_s^alpha / sum(p^alpha), and the per-document up/down-sampling
    multiplier q_s/p_s a sampler applies. Two tiny aggregates (per-source,
    then the scalar normalizer broadcast back) — the corpus itself is
    scanned once; at 100 TB the panel is a dimension table."""
    per = df.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(weight_by).cast("double").alias("_w"),
    )
    totals = per.agg(
        F.sum("_w").alias("_tw"),
        F.sum(F.pow(F.col("_w"), F.lit(alpha))).alias("_tq_raw"),
    )
    # _tq_raw is sum(w^alpha); q_s = w^a / sum(w^a) is invariant to
    # normalizing w by total first: (w/T)^a / sum((w/T)^a) == w^a/sum(w^a)
    j = per.crossJoin(F.broadcast(totals))
    p = F.col("_w") / F.col("_tw")
    q = F.pow(F.col("_w"), F.lit(alpha)) / F.col("_tq_raw")
    return j.select(
        source_col,
        "n_docs",
        F.round(p, 6).alias("natural_share"),
        F.round(q, 6).alias("tempered_share"),
        F.round(q / p, 6).alias("mix_weight"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking with overlap — the standard pre-training /
    RAG document splitter: whitespace tokens, windows of `chunk_tokens`
    advancing by `chunk_tokens - overlap`, last window shorter, every
    chunk guaranteed at least one token not in its predecessor (the
    chunk count is ceil((n - overlap) / stride), min 1, so no trailing
    window that is a pure suffix of the previous one).

    Pure JVM expressions: split -> explode(sequence(0, n_chunks-1)) ->
    slice/array_join, so the fan-out stays in whole-stage codegen and
    Catalyst sizes the downstream stage by chunks, not documents. At
    100 TB this is a narrow map — no shuffle at all."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(tokens)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int"),
    )
    return (
        df.select(
            F.col(id_col),
            tokens.alias("_toks"),
            n.alias("_n"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.array_join(
                F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1,
                        chunk_tokens),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_tokens), F.col("_n") - F.col("chunk_id") * stride
            ).alias("n_chunk_tokens"),
        )
    )


def chunk_documents_oracle_sql(
    chunk_tokens: int = 128, overlap: int = 16, table: str = "documents"
) -> str:
    """DuckDB equivalent: identical tokenization, window arithmetic and
    join — chunk text compared via md5 so the hash stays compact."""
    stride = chunk_tokens - overlap
    return f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\\s+') AS toks,
               len(string_split_regex(trim(text), '\\s+')) AS n
        FROM {table}),
    c AS (
        SELECT doc_id, toks, n,
               greatest(1, CAST(ceil((n - {overlap}) / {stride}.0) AS INTEGER))
                   AS n_chunks
        FROM t)
    SELECT doc_id, i AS chunk_id,
           md5(array_to_string(
               toks[i * {stride} + 1 : i * {stride} + {chunk_tokens}], ' '))
               AS chunk_md5,
           least({chunk_tokens}, n - i * {stride}) AS n_chunk_tokens
    FROM c, range(0, 1000) r(i)
    WHERE i < n_chunks
    """


# ---------------------------------------------------------------------------
# Distributed BPE tokenizer training (word-frequency algorithm)
# ---------------------------------------------------------------------------

def bpe_train_merges(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
) -> DataFrame:
    """Learn the first *n_merges* BPE merge rules from a corpus — the
    tokenizer-training step of a pre-training pipeline, distributed the
    way production trainers (HF tokenizers) do it: collapse the corpus
    to a DISTINCT-WORD frequency table first (one big shuffle over
    pretokens; everything after operates on the vastly smaller word
    table), then per round (a) count adjacent symbol pairs weighted by
    word frequency, (b) take the argmax pair with a total-order
    tie-break (count desc, then lexicographic), (c) greedily merge that
    pair left-to-right in every word. Rounds are inherently sequential
    (round r+1's counts depend on round r's merge) — each round is one
    small-table aggregate + a 1-row collect + a narrow map, so k merges
    cost k small shuffles regardless of corpus size.

    Words are pretokenized with BPE_ISH_PATTERN (leading spaces become
    the GPT-2-style 'Ġ' marker) and symbolized as single-space-wrapped,
    double-space-joined character strings: pair (l, r) occurs as
    ' l  r ' and merges to ' lr ' via LITERAL left-to-right
    non-overlapping replace — the exact greedy-merge semantics, shared
    byte-for-byte with the unrolled DuckDB oracle
    (bpe_train_merges_oracle_sql), which makes an ITERATIVE training
    algorithm fully value-checkable cross-engine.

    Returns (rank, lhs, rhs, merged, pair_count) — the merge table.
    """
    wdf = _bpe_word_table(df, text_col)
    merges, _ = _bpe_learn(wdf, n_merges)
    return df.sparkSession.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, pair_count bigint"
    )


def _bpe_word_table(df: DataFrame, text_col: str) -> DataFrame:
    """(w, cnt, s): distinct pretokens with corpus frequency and the
    double-space symbol encoding (see bpe_train_merges)."""
    toks = df.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
        ).alias("w")
    ).where(F.length("w") > 0)
    words = toks.groupBy("w").agg(F.count("*").alias("cnt"))
    chars = F.regexp_extract_all(
        F.regexp_replace(F.col("w"), " ", "Ġ"), F.lit("."), 0
    )
    return words.select(
        "w", "cnt",
        F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" ")).alias("s"),
    ).localCheckpoint(eager=True)


def _bpe_learn(
    wdf: DataFrame, n_merges: int
) -> tuple[list[tuple], DataFrame]:
    """The training rounds: returns (merge table rows, word table with
    all learned merges applied to the symbol encoding)."""
    merges = []
    for rank in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("s")), "  ")
        pair_structs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(syms) - 2),
                lambda i: F.struct(
                    F.element_at(syms, i + 1).alias("lhs"),
                    F.element_at(syms, i + 2).alias("rhs"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<lhs:string,rhs:string>>"))
        best = (
            wdf.select("cnt", F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best:
            break  # every word is a single symbol — nothing left to merge
        lhs, rhs, c = best[0].lhs, best[0].rhs, best[0].c
        merges.append((rank, lhs, rhs, lhs + rhs, int(c)))
        wdf = wdf.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f" {lhs}  {rhs} "),
                F.lit(f" {lhs}{rhs} "),
            ),
        ).localCheckpoint(eager=True)
    return merges, wdf


def bpe_encoded_token_counts(
    df: DataFrame,
    n_merges: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The ENCODE side of the learned tokenizer: train n_merges rules
    (bpe_train_merges), apply them to the distinct-word table, then
    count tokens per document under the learned segmentation — the
    token-accounting pass every pre-training data pipeline runs before
    mixing/packing. Returns (doc_id, n_words, n_tokens).

    Scale shape: encoding reuses the DISTINCT-WORD table the trainer
    already built (the merges were applied there — k narrow replaces,
    no per-document work), so the encode step is just the per-doc token
    explode joined to the word map on `w` and one aggregate on the doc
    id. No new scaling term beyond exact dedup's."""
    wdf = _bpe_word_table(df, text_col)
    _, encoded = _bpe_learn(wdf, n_merges)
    wordmap = encoded.select(
        "w", F.size(F.split(F.trim(F.col("s")), "  ")).alias("_nsyms")
    )
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
        ).alias("w"),
    ).where(F.length("w") > 0)
    return (
        toks.join(wordmap, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("_nsyms").cast("bigint").alias("n_tokens"),
        )
    )


def bpe_train_merges_oracle_sql(
    n_merges: int = 6, table: str = "documents", max_word_syms: int = 200
) -> str:
    """DuckDB ground truth: the identical algorithm with the k rounds
    UNROLLED as chained CTEs (the label-propagation oracle treatment
    applied to an argmax-per-round loop). Same symbolization, same
    literal-replace greedy merge, same (count desc, lhs, rhs) total
    order; an exhausted round (no pairs) degrades to a no-op via an
    impossible chr(7) replace pattern."""
    finals = " UNION ALL ".join(
        f"SELECT {r} AS rank, l AS lhs, r2 AS rhs, l || r2 AS merged, "
        f"CAST(c AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return f"WITH {_bpe_oracle_ctes(n_merges, table, max_word_syms)} {finals}"


def bpe_encoded_token_counts_oracle_sql(
    n_merges: int = 6, table: str = "documents", max_word_syms: int = 200
) -> str:
    """DuckDB ground truth for the encode side: the same unrolled
    training chain, then per-doc token counts via the word map join."""
    return f"""WITH {_bpe_oracle_ctes(n_merges, table, max_word_syms)}
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(trim(s), '  '))) AS BIGINT) AS n_tokens
    FROM toks JOIN w{n_merges} USING (w)
    GROUP BY doc_id
    """


def _bpe_oracle_ctes(n_merges: int, table: str, max_word_syms: int) -> str:
    pat = BPE_ISH_PATTERN.replace("\\", "\\\\")
    ctes = [f"""
    toks AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS w
        FROM {table}),
    wf AS (SELECT w, COUNT(*) AS cnt FROM toks WHERE len(w) > 0 GROUP BY w),
    w0 AS (
        SELECT w, cnt,
               ' ' || array_to_string(
                   regexp_extract_all(replace(w, ' ', chr(288)), '.'), '  ')
               || ' ' AS s
        FROM wf)"""]
    for r in range(1, n_merges + 1):
        ctes.append(f"""
    p{r} AS (
        SELECT l, r2, SUM(cnt) AS c FROM (
            SELECT syms[i + 1] AS l, syms[i + 2] AS r2, cnt
            FROM (SELECT cnt, string_split(trim(s), '  ') AS syms
                  FROM w{r - 1}),
                 range(0, {max_word_syms}) t(i)
            WHERE i < len(syms) - 1)
        GROUP BY l, r2),
    b{r} AS (SELECT l, r2, c FROM p{r} ORDER BY c DESC, l, r2 LIMIT 1),
    w{r} AS (
        SELECT w, cnt,
               replace(s,
                   coalesce((SELECT ' ' || l || '  ' || r2 || ' ' FROM b{r}),
                            chr(7)),
                   coalesce((SELECT ' ' || l || r2 || ' ' FROM b{r}), '')) AS s
        FROM w{r - 1})""")
    return ",".join(ctes)


# ---------------------------------------------------------------------------
# N-gram language-model perplexity scoring (extension surface — the
# perplexity quality filter of CCNet/Gopher-style curation pipelines,
# re-expressed as pure DataFrame ops; no model artifacts, the LM is
# trained in-engine from a reference corpus slice)
# ---------------------------------------------------------------------------

def _lm_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, w): lowercased whitespace tokens with positions.
    Empty-after-trim documents are dropped (split('') yields [''], which
    is a phantom token, not a word) — mirrored in the SQL oracle."""
    t = F.trim(F.col(text_col))
    return (
        df.where(t != "")
        .select(
            F.col(id_col).alias("_did"),
            F.posexplode(F.split(F.lower(t), r"\s+")).alias("pos", "w"),
        )
    )


def ngram_lm_score(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Bits-per-token of each `score` document under an add-k-smoothed
    bigram LM trained on `train` — the perplexity quality filter
    (perplexity = 2^bits_per_token; filtering thresholds the same order).

        P(w | prev) = (c(prev, w) + k) / (c(prev) + k·V)
        P(w_first)  = (c(w) + k)       / (N + k·V)

    with V = train vocabulary size, N = train token count. Scale path:
    tokenization is a narrow map; the per-document lag window and the
    count joins are equi-shuffles on doc-id / token keys (Catalyst
    broadcasts the count tables when small); nothing is quadratic and no
    Python crosses the row path. The model "artifact" is two count
    tables — at 100 TB, persist them once and reuse across scoring runs.

    Float note: the per-document sum of log2 terms is order-nondeterministic
    (shuffle order); callers comparing across engines round (the registered
    query rounds to 6 digits, ~7 orders above double-sum jitter).

    Returns (id_col, n_tokens, bits_per_token).
    """
    from pyspark.sql import Window

    ttok = _lm_tokens(train, text_col, id_col)
    uni = ttok.groupBy("w").agg(F.count("*").alias("cu"))
    consts = uni.agg(
        F.sum("cu").alias("n_total"), F.count("*").alias("v_size")
    )
    w_seq = Window.partitionBy("_did").orderBy("pos")
    tpair = ttok.withColumn("prev", F.lag("w").over(w_seq))
    bi = (
        tpair.where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count("*").alias("cb"))
    )

    stok = _lm_tokens(score, text_col, id_col).withColumn(
        "prev", F.lag("w").over(w_seq)
    )
    uni_w = uni.select(F.col("w").alias("_uw"), F.col("cu").alias("cu_w"))
    uni_p = uni.select(F.col("w").alias("_up"), F.col("cu").alias("cu_prev"))
    joined = (
        stok.join(uni_w, stok["w"] == F.col("_uw"), "left")
        .join(uni_p, stok["prev"] == F.col("_up"), "left")
        .join(
            bi,
            (stok["prev"] == bi["prev"]) & (stok["w"] == bi["w"]),
            "left",
        )
        .crossJoin(F.broadcast(consts))
    )
    kv = F.lit(float(k))
    smooth_v = kv * F.col("v_size")
    lp = F.when(
        stok["prev"].isNull(),
        F.log2(
            (F.coalesce(F.col("cu_w"), F.lit(0)) + kv)
            / (F.col("n_total") + smooth_v)
        ),
    ).otherwise(
        F.log2(
            (F.coalesce(F.col("cb"), F.lit(0)) + kv)
            / (F.coalesce(F.col("cu_prev"), F.lit(0)) + smooth_v)
        )
    )
    return (
        joined.select(F.col("_did"), lp.alias("lp"))
        .groupBy("_did")
        .agg(
            F.count("*").alias("n_tokens"),
            (-F.sum("lp") / F.count("*")).alias("bits_per_token"),
        )
        .withColumnRenamed("_did", id_col)
    )


def ngram_lm_score_oracle_sql(
    train_where: str,
    k: float = 0.5,
    round_digits: int = 6,
    max_tokens: int = 256,
) -> str:
    """DuckDB oracle: identical tokenization, counts and smoothing over
    the `documents` view; `train_where` selects the training slice.
    `max_tokens` bounds the constant range used for positional unnesting
    (lateral range(len(ws)) is unsupported) — must exceed the longest
    document's token count (fixture max is 100)."""
    return f"""
    WITH tdocs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents WHERE trim(text) <> '' AND ({train_where})),
    ttok AS (
        SELECT doc_id, CAST(i AS INT) AS pos, ws[CAST(i AS INT) + 1] AS w
        FROM tdocs, range(0, {max_tokens}) r(i) WHERE i < len(ws)),
    uni AS (SELECT w, COUNT(*) AS cu FROM ttok GROUP BY w),
    consts AS (SELECT SUM(cu) AS n_total, COUNT(*) AS v_size FROM uni),
    tpair AS (
        SELECT w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM ttok),
    bi AS (SELECT prev, w, COUNT(*) AS cb FROM tpair
           WHERE prev IS NOT NULL GROUP BY prev, w),
    sdocs AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws
        FROM documents WHERE trim(text) <> ''),
    stok AS (
        SELECT doc_id, CAST(i AS INT) AS pos, ws[CAST(i AS INT) + 1] AS w
        FROM sdocs, range(0, {max_tokens}) r(i) WHERE i < len(ws)),
    spair AS (
        SELECT doc_id, pos, w,
               lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        FROM stok),
    scored AS (
        SELECT s.doc_id,
               CASE WHEN s.prev IS NULL THEN
                   log2((COALESCE(uw.cu, 0) + {k})
                        / ((SELECT n_total FROM consts)
                           + {k} * (SELECT v_size FROM consts)))
               ELSE
                   log2((COALESCE(b.cb, 0) + {k})
                        / (COALESCE(up.cu, 0)
                           + {k} * (SELECT v_size FROM consts)))
               END AS lp
        FROM spair s
        LEFT JOIN uni uw ON s.w = uw.w
        LEFT JOIN uni up ON s.prev = up.w
        LEFT JOIN bi b ON s.prev = b.prev AND s.w = b.w)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(-SUM(lp) / COUNT(*), {round_digits}) AS bits_per_token
    FROM scored GROUP BY doc_id
    """


def save_lm_model(
    train: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Persist the bigram-LM count tables (the model "artifact"): `uni/`,
    `bi/` and a 1-row `consts/` parquet. At 100 TB the training corpus is
    scanned once here; every later scoring run reads vocabulary-sized
    tables instead of re-aggregating the corpus — the same
    train-once/reuse discipline as the persisted IVF index."""
    import os

    from pyspark.sql import Window

    ttok = _lm_tokens(train, text_col, id_col)
    uni = ttok.groupBy("w").agg(F.count("*").alias("cu"))
    uni.write.mode("overwrite").parquet(os.path.join(path, "uni"))
    spark = train.sparkSession
    uni_back = read_parquet(spark, os.path.join(path, "uni"))
    uni_back.agg(
        F.sum("cu").alias("n_total"), F.count("*").alias("v_size")
    ).write.mode("overwrite").parquet(os.path.join(path, "consts"))
    w_seq = Window.partitionBy("_did").orderBy("pos")
    (
        ttok.withColumn("prev", F.lag("w").over(w_seq))
        .where(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count("*").alias("cb"))
        .write.mode("overwrite")
        .parquet(os.path.join(path, "bi"))
    )
    return path


def score_with_lm_model(
    spark,
    score: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Score documents against a persisted LM (save_lm_model) — identical
    arithmetic to ngram_lm_score, with the count tables read instead of
    recomputed. Returns (id_col, n_tokens, bits_per_token)."""
    import os

    from pyspark.sql import Window

    uni = read_parquet(spark, os.path.join(path, "uni"))
    bi = read_parquet(spark, os.path.join(path, "bi"))
    consts = read_parquet(spark, os.path.join(path, "consts"))

    w_seq = Window.partitionBy("_did").orderBy("pos")
    stok = _lm_tokens(score, text_col, id_col).withColumn(
        "prev", F.lag("w").over(w_seq)
    )
    uni_w = uni.select(F.col("w").alias("_uw"), F.col("cu").alias("cu_w"))
    uni_p = uni.select(F.col("w").alias("_up"), F.col("cu").alias("cu_prev"))
    joined = (
        stok.join(uni_w, stok["w"] == F.col("_uw"), "left")
        .join(uni_p, stok["prev"] == F.col("_up"), "left")
        .join(
            bi,
            (stok["prev"] == bi["prev"]) & (stok["w"] == bi["w"]),
            "left",
        )
        .crossJoin(F.broadcast(consts))
    )
    kv = F.lit(float(k))
    smooth_v = kv * F.col("v_size")
    lp = F.when(
        stok["prev"].isNull(),
        F.log2(
            (F.coalesce(F.col("cu_w"), F.lit(0)) + kv)
            / (F.col("n_total") + smooth_v)
        ),
    ).otherwise(
        F.log2(
            (F.coalesce(F.col("cb"), F.lit(0)) + kv)
            / (F.coalesce(F.col("cu_prev"), F.lit(0)) + smooth_v)
        )
    )
    return (
        joined.select(F.col("_did"), lp.alias("lp"))
        .groupBy("_did")
        .agg(
            F.count("*").alias("n_tokens"),
            (-F.sum("lp") / F.count("*")).alias("bits_per_token"),
        )
        .withColumnRenamed("_did", id_col)
    )


def corpus_drift_report(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Distribution drift between two corpus snapshots — the monitoring
    primitive that decides when to retrain the quality LM or re-balance
    the mixture. One row:

      n_docs_old/new, n_tokens_old/new, vocab_old/new/shared,
      kl_old_new_bits — KL(P_old || P_new) over add-k-smoothed unigram
      distributions on the UNION vocabulary (smoothing keeps the
      divergence finite when a token is absent on one side).

    Scale shape: two token-count aggregates (map-side combined) and a
    full-outer join produce a VOCABULARY-sized count table, which is
    localCheckpoint'ed once — the two folds over it (totals, then the
    KL sum with totals broadcast) never re-touch corpus rows. Float
    note: the KL sum is order-nondeterministic — round for cross-engine
    comparison (the registered query rounds to 6 digits)."""

    def counts(df: DataFrame, tag: str):
        return (
            _lm_tokens(df, text_col, id_col)
            .groupBy("w")
            .agg(F.count("*").alias(f"c_{tag}"))
        )

    joined = (
        counts(old, "old")
        .join(counts(new, "new"), "w", "full_outer")
        .select(
            F.coalesce("c_old", F.lit(0)).alias("c_old"),
            F.coalesce("c_new", F.lit(0)).alias("c_new"),
        )
        .localCheckpoint(eager=True)
    )
    docs_old = old.where(F.trim(F.col(text_col)) != "").count()
    docs_new = new.where(F.trim(F.col(text_col)) != "").count()
    totals = joined.agg(
        F.sum("c_old").alias("n_tokens_old"),
        F.sum("c_new").alias("n_tokens_new"),
        F.sum((F.col("c_old") > 0).cast("long")).alias("vocab_old"),
        F.sum((F.col("c_new") > 0).cast("long")).alias("vocab_new"),
        F.sum(
            ((F.col("c_old") > 0) & (F.col("c_new") > 0)).cast("long")
        ).alias("vocab_shared"),
        F.count("*").alias("_v_union"),
    ).localCheckpoint(eager=True)
    kv = float(k)
    p_old = (F.col("c_old") + F.lit(kv)) / (
        F.col("n_tokens_old") + F.lit(kv) * F.col("_v_union")
    )
    p_new = (F.col("c_new") + F.lit(kv)) / (
        F.col("n_tokens_new") + F.lit(kv) * F.col("_v_union")
    )
    kl = joined.crossJoin(F.broadcast(totals)).agg(
        F.sum(p_old * F.log2(p_old / p_new)).alias("kl")
    )
    return totals.crossJoin(kl).select(
        F.lit(docs_old).cast("bigint").alias("n_docs_old"),
        F.lit(docs_new).cast("bigint").alias("n_docs_new"),
        F.col("n_tokens_old").cast("bigint").alias("n_tokens_old"),
        F.col("n_tokens_new").cast("bigint").alias("n_tokens_new"),
        F.col("vocab_old").cast("bigint").alias("vocab_old"),
        F.col("vocab_new").cast("bigint").alias("vocab_new"),
        F.col("vocab_shared").cast("bigint").alias("vocab_shared"),
        F.round("kl", round_digits).alias("kl_old_new_bits"),
    )


def corpus_drift_oracle_sql(
    old_pred: str,
    new_pred: str,
    k: float = 0.5,
    round_digits: int = 6,
    max_tokens: int = 256,
) -> str:
    """DuckDB oracle over the `documents` view: identical tokenization,
    union-vocabulary smoothing and KL fold."""
    tok = f"""
        SELECT doc_id, ws[CAST(i AS INT) + 1] AS w
        FROM (SELECT doc_id,
                     string_split_regex(lower(trim(text)), '\\s+') AS ws
              FROM documents WHERE trim(text) <> '' AND ({{pred}})),
             range(0, {max_tokens}) r(i) WHERE i < len(ws)"""
    return f"""
    WITH co AS (
        SELECT w, COUNT(*) AS c_old FROM ({tok.format(pred=old_pred)})
        GROUP BY w),
    cn AS (
        SELECT w, COUNT(*) AS c_new FROM ({tok.format(pred=new_pred)})
        GROUP BY w),
    j AS (
        SELECT COALESCE(co.c_old, 0) AS c_old, COALESCE(cn.c_new, 0) AS c_new
        FROM co FULL OUTER JOIN cn ON co.w = cn.w),
    t AS (
        SELECT SUM(c_old) AS n_old, SUM(c_new) AS n_new,
               SUM(CASE WHEN c_old > 0 THEN 1 ELSE 0 END) AS v_old,
               SUM(CASE WHEN c_new > 0 THEN 1 ELSE 0 END) AS v_new,
               SUM(CASE WHEN c_old > 0 AND c_new > 0 THEN 1 ELSE 0 END)
                   AS v_shared,
               COUNT(*) AS v_union
        FROM j),
    kl AS (
        SELECT SUM(((c_old + {k}) / (t.n_old + {k} * t.v_union))
                   * log2(((c_old + {k}) / (t.n_old + {k} * t.v_union))
                          / ((c_new + {k}) / (t.n_new + {k} * t.v_union))))
                   AS kl
        FROM j, t)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE trim(text) <> '' AND ({old_pred})) AS n_docs_old,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
            WHERE trim(text) <> '' AND ({new_pred})) AS n_docs_new,
           CAST(t.n_old AS BIGINT) AS n_tokens_old,
           CAST(t.n_new AS BIGINT) AS n_tokens_new,
           CAST(t.v_old AS BIGINT) AS vocab_old,
           CAST(t.v_new AS BIGINT) AS vocab_new,
           CAST(t.v_shared AS BIGINT) AS vocab_shared,
           ROUND((SELECT kl FROM kl), {round_digits}) AS kl_old_new_bits
    FROM t
    """


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models", §A1.1) —
# the full named rule set, as one JVM-side panel. Each rule is its own
# boolean column (so curation can audit WHICH rule rejected a document, the
# way the paper reports per-rule removal rates), plus the conjunction.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> list[Column]:
    """The Gopher repetition-free quality rules as aliased boolean columns
    (+ `gopher_pass`, the conjunction). Pure column expressions: at 100 TB
    this runs inside the scan's codegen stage, no shuffle, no UDF.

    Word tokenization (lowercase, whitespace split, empties dropped) matches
    the module's other operators; "symbols" are the paper's '#' and '...'
    counted as substring occurrences; bullet lines start with -, *, or •
    after leading-space strip; ellipsis lines end with '...'."""
    w = F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda x: x != "")
    n_words = F.size(w)
    # null, not 0, as the divisor for empty docs: double/0 is IEEE Inf/NaN in
    # Spark but engine-dependent elsewhere — null propagates identically and
    # the coalesce(..., False) below settles every rule the same way
    nw = F.when(n_words > 0, n_words.cast("double"))
    mean_wlen = (
        F.aggregate(w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        .cast("double")
        / nw
    )
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / 3
    lines = F.filter(F.split(text, "\n"), lambda x: F.trim(x) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda x: F.substring(F.ltrim(x), 1, 1).isin("-", "*", "•"),
            )
        )
        / n_lines
    )
    ellipsis_frac = (
        F.size(F.filter(lines, lambda x: F.rtrim(x).endswith("..."))) / n_lines
    )
    alpha_frac = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / nw
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(w), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (mean_wlen >= min_mean_word_len)
        & (mean_wlen <= max_mean_word_len),
        "rule_symbol_ratio": (n_hash + n_ellipsis) / nw <= max_symbol_word_ratio,
        "rule_bullet_lines": bullet_frac <= max_bullet_frac,
        "rule_ellipsis_lines": ellipsis_frac <= max_ellipsis_frac,
        "rule_alpha_words": alpha_frac >= min_alpha_word_frac,
        "rule_stopwords": n_stop >= min_stopwords,
    }
    cols = [
        F.coalesce(expr, F.lit(False)).alias(name) for name, expr in rules.items()
    ]
    gopher_pass = F.lit(True)
    for expr in rules.values():
        gopher_pass = gopher_pass & F.coalesce(expr, F.lit(False))
    return cols + [gopher_pass.alias("gopher_pass")]


def gopher_panel(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", **kw
) -> DataFrame:
    """Per-document Gopher rule panel: (id, n_words, rule_*, gopher_pass)."""
    w = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    return df.select(
        F.col(id_col),
        F.size(w).cast("bigint").alias("n_words"),
        *gopher_rules(F.col(text_col), **kw),
    )


def gopher_rules_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> str:
    """DuckDB SQL reproducing gopher_panel bit-for-bit."""
    stop_list = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
    WITH base AS (
        SELECT {id_col},
               [x for x in string_split_regex(lower(trim({text_col})), '\\s+')
                if x <> ''] AS w,
               [x for x in string_split({text_col}, chr(10))
                if trim(x) <> ''] AS lines,
               length({text_col})
                 - length(replace({text_col}, '#', '')) AS n_hash,
               (length({text_col})
                 - length(replace({text_col}, '...', ''))) / 3 AS n_ellipsis
        FROM {table}),
    m AS (
        SELECT {id_col}, w, lines, n_hash, n_ellipsis,
               len(w) AS n_words,
               list_sum([length(x) for x in w])::DOUBLE / nullif(len(w), 0) AS mean_wlen,
               greatest(len(lines), 1)::DOUBLE AS n_lines
        FROM base)
    SELECT {id_col},
           n_words::BIGINT AS n_words,
           coalesce(n_words >= {min_words} AND n_words <= {max_words}, FALSE)
               AS rule_word_count,
           coalesce(mean_wlen >= {min_mean_word_len}
                    AND mean_wlen <= {max_mean_word_len}, FALSE)
               AS rule_mean_word_len,
           coalesce((n_hash + n_ellipsis) / nullif(n_words, 0)::DOUBLE
                    <= {max_symbol_word_ratio}, FALSE) AS rule_symbol_ratio,
           coalesce(len([x for x in lines
                         if substr(ltrim(x), 1, 1) IN ('-', '*', chr(8226))])
                    / n_lines <= {max_bullet_frac}, FALSE) AS rule_bullet_lines,
           coalesce(len([x for x in lines if rtrim(x) LIKE '%...'])
                    / n_lines <= {max_ellipsis_frac}, FALSE)
               AS rule_ellipsis_lines,
           coalesce(len([x for x in w if regexp_matches(x, '[a-z]')])
                    / nullif(n_words, 0)::DOUBLE >= {min_alpha_word_frac}, FALSE)
               AS rule_alpha_words,
           coalesce(len(list_intersect(list_distinct(w), [{stop_list}]))
                    >= {min_stopwords}, FALSE) AS rule_stopwords,
           coalesce(n_words >= {min_words} AND n_words <= {max_words}, FALSE)
           AND coalesce(mean_wlen >= {min_mean_word_len}
                        AND mean_wlen <= {max_mean_word_len}, FALSE)
           AND coalesce((n_hash + n_ellipsis) / nullif(n_words, 0)::DOUBLE
                        <= {max_symbol_word_ratio}, FALSE)
           AND coalesce(len([x for x in lines
                             if substr(ltrim(x), 1, 1) IN ('-', '*', chr(8226))])
                        / n_lines <= {max_bullet_frac}, FALSE)
           AND coalesce(len([x for x in lines if rtrim(x) LIKE '%...'])
                        / n_lines <= {max_ellipsis_frac}, FALSE)
           AND coalesce(len([x for x in w if regexp_matches(x, '[a-z]')])
                        / nullif(n_words, 0)::DOUBLE >= {min_alpha_word_frac}, FALSE)
           AND coalesce(len(list_intersect(list_distinct(w), [{stop_list}]))
                        >= {min_stopwords}, FALSE) AS gopher_pass
    FROM m
    """
