"""LLM-pipeline operator tests: dedup, similarity, text stats."""

import os
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from orion_spark.llm import dedup as DD
from orion_spark.llm import similarity as S
from orion_spark.llm import textstats as TS


def _docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog today"),  # exact dup
        Row(doc_id=3, text="the quick brown fox jumps over the lazy cat today"),  # near dup
        Row(doc_id=4, text="completely different words about spark and data"),
        Row(doc_id=5, text="short"),
    ]
    return spark.createDataFrame(rows)


def test_exact_duplicate_groups(spark):
    groups = DD.exact_duplicate_groups(_docs(spark), ["text"], "doc_id")
    dups = groups.where(F.col("n_docs") > 1).collect()
    assert len(dups) == 1
    assert dups[0].n_docs == 2 and dups[0].keeper_id == 1


def test_drop_exact_duplicates(spark):
    out = DD.drop_exact_duplicates(_docs(spark), ["text"], "doc_id")
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 3, 4, 5]


def test_minhash_lsh_finds_near_dups(spark):
    pairs = DD.minhash_lsh_pairs(_docs(spark), k=3, threshold=0.3).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in got  # exact dup -> jaccard 1.0
    assert (1, 3) in got and (2, 3) in got  # near dup
    exact = [r for r in pairs if (r.doc_a, r.doc_b) == (1, 2)][0]
    assert exact.jaccard == 1.0


def test_simhash_exact_dup_distance_zero(spark):
    df = _docs(spark).select(
        "doc_id", DD.simhash64(F.col("text")).alias("sh")
    ).collect()
    by_id = {r.doc_id: r.sh for r in df}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[4]
    pairs = DD.simhash_near_pairs(_docs(spark), max_hamming=10).collect()
    assert (1, 2) in {(r.doc_a, r.doc_b) for r in pairs}


def test_word_shingles(spark):
    df = spark.createDataFrame([Row(t="a b c d")])
    out = df.select(DD.word_shingles(F.col("t"), 2).alias("s")).collect()[0].s
    assert out == ["a b", "b c", "c d"]
    short = df.select(DD.word_shingles(F.col("t"), 9).alias("s")).collect()[0].s
    assert short == []


def _embs(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),   # closest to 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),   # orthogonal
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),  # opposite
        Row(vec_id=4, embedding=[0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_brute_force_topk_ordering(spark):
    emb = _embs(spark)
    q = emb.where(F.col("vec_id") == 0)
    out = S.brute_force_topk(q, emb, k=4).collect()
    order = [r.neighbor_id for r in sorted(out, key=lambda r: r.rk)]
    assert order == [1, 4, 2, 3]
    assert all(r.query_id == 0 for r in out)


def test_lsh_topk_self_consistent(spark):
    emb = _embs(spark)
    q = emb.where(F.col("vec_id") == 0)
    out = S.lsh_topk(q, emb, dim=3, k=4, n_planes=2).collect()
    # LSH returns a subset of the exact result, correctly ordered
    exact_order = [1, 4, 2, 3]
    got = [r.neighbor_id for r in sorted(out, key=lambda r: r.rk)]
    assert got == [n for n in exact_order if n in set(got)]


def test_text_stats(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="The cat and the dog"), Row(doc_id=2, text="word")]
    )
    out = {r.doc_id: r for r in TS.text_stats(df).collect()}
    assert out[1].n_tokens == 5
    assert out[1].n_chars == 19
    # 'the' twice + 'and' of 5 tokens
    assert abs(out[1].stopword_ratio - 0.6) < 1e-9
    assert out[2].n_tokens == 1
    assert out[1].lang_pred == "en"
    assert isinstance(out[1].fingerprint, int)


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="alpha beta gamma"), Row(doc_id=2, text="gamma alpha beta")]
    )
    out = {r.doc_id: r for r in TS.text_stats(df).collect()}
    assert out[1].fingerprint == out[2].fingerprint


def test_ivf_topk_recall_on_real_embeddings(spark):
    """IVF with full probe == brute force; partial probe returns a correctly
    ordered subset with decent recall on the real embeddings table."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 100 == 0)
    exact = S.brute_force_topk(q, emb, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)

    ivf_full = S.ivf_topk(q, emb, k=5, n_clusters=4, n_probe=4).collect()
    full_sets = {}
    for r in ivf_full:
        full_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert full_sets == exact_sets  # probing every list == brute force

    ivf_partial = S.ivf_topk(q, emb, k=5, n_clusters=8, n_probe=3).collect()
    hits = sum(
        1 for r in ivf_partial if r.neighbor_id in exact_sets.get(r.query_id, set())
    )
    assert hits / max(len(exact), 1) > 0.5  # reasonable recall at 3/8 probes


def test_dedup_clusters_transitive(spark):
    """A-B and B-C pairs must land in one cluster keyed by min id, even
    though A-C never appears as a pair."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a bigint, doc_b bigint"
    )
    out = {r.doc_id: r.cluster_id for r in DD.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def _shuffled_path_pairs():
    """The (doc_a, doc_b) edges of a 100-node path whose ids are shuffled
    along it: path halving needs 57 rounds to carry the min id end to
    end."""
    ids = list(range(1, 101))
    random.Random(1).shuffle(ids)
    return list(zip(ids, ids[1:]))


def _shuffled_path(spark):
    return spark.createDataFrame(
        _shuffled_path_pairs(), "doc_a bigint, doc_b bigint"
    )


def test_dedup_clusters_runs_to_the_fixed_point(spark):
    """A long path ends in one cluster; a round budget that ran out
    early would leave several labels behind."""
    out = DD.dedup_clusters(_shuffled_path(spark)).collect()
    assert len(out) == 100
    assert {r.cluster_id for r in out} == {1}


def test_dedup_clusters_round_cap_raises(spark, monkeypatch):
    """Past the round cap the kernel raises instead of returning
    unconverged labels."""
    from orion_spark.operators import graphalgo

    monkeypatch.setattr(graphalgo, "CC_MAX_ROUNDS", 3)
    with pytest.raises(graphalgo.NotConverged):
        DD.dedup_clusters(_shuffled_path(spark))


def test_dedup_clusters_rejects_null_endpoints(spark):
    """A null endpoint is no document id: a named error, not a (NULL, ?)
    row whose label the two DuckDB oracles disagree on."""
    from orion_spark.operators.graphalgo import NullEndpointError

    pairs = spark.createDataFrame(
        [(1, 2), (None, 2), (5, 7)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(NullEndpointError, match="null endpoints"):
        DD.dedup_clusters(pairs)


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="hello world, it's 42 degrees!")]
    )
    out = df.select(TS.bpe_ish_token_count(F.col("text")).alias("n")).collect()[0]
    # hello | world | , | it | ' | s | 42 | degrees | !
    assert out.n == 9


def _emb(spark):
    # two tight clusters of near-identical vectors + two isolated randoms;
    # fixed values so the md5-derived hyperplanes give a deterministic test
    base_a = [1.0, 0.5, -0.3, 0.8]
    base_b = [-0.9, 0.2, 0.7, -0.1]
    rows = [
        Row(vec_id=1, embedding=base_a),
        Row(vec_id=2, embedding=[x + 0.001 for x in base_a]),
        Row(vec_id=3, embedding=[x - 0.002 for x in base_a]),
        Row(vec_id=4, embedding=base_b),
        Row(vec_id=5, embedding=[x + 0.001 for x in base_b]),
        Row(vec_id=6, embedding=[0.1, -0.9, 0.4, 0.2]),
        Row(vec_id=7, embedding=[0.6, 0.6, 0.6, -0.9]),
    ]
    return spark.createDataFrame(rows)


def test_embedding_near_dup_exact(spark):
    pairs = DD.embedding_near_dup_pairs(_emb(spark), threshold=0.999)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == {(1, 2), (1, 3), (2, 3), (4, 5)}


def test_embedding_near_dup_banded_matches_exact(spark):
    """Banded LSH (the registered scale path) must reproduce the exact
    answer on both synthetic clusters and the real embeddings table with
    injected scaled copies."""
    exact = DD.embedding_near_dup_pairs(_emb(spark), threshold=0.999)
    banded = DD.embedding_near_dup_pairs_banded(
        _emb(spark), dim=4, threshold=0.999, n_bands=6, planes_per_band=4
    )
    assert {(r.id_a, r.id_b, r.cosine) for r in banded.collect()} == {
        (r.id_a, r.id_b, r.cosine) for r in exact.collect()
    }


def test_embedding_near_dup_banded_scaled_copy_recall_one(spark):
    """A x2-scaled copy has sign-identical projections in EVERY band —
    recall 1 by construction, not by luck (this is what the registered
    oracle-checked injection relies on)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2).alias("embedding"),
    )
    pairs = DD.embedding_near_dup_pairs_banded(
        emb.unionByName(copies), dim=64, threshold=0.95
    )
    got = {(r.id_a, r.id_b): r.cosine for r in pairs.collect()}
    assert set(got) == {(i, i + 100000) for i in range(20)}
    assert all(c == 1.0 for c in got.values())


def test_semdedup_prune_keep_rule_and_cluster_scoping(spark):
    """SemDeDup semantics on a hand-built frame (n_clusters=2, so the
    centroids are vectors 0 and 1): (a) within a dup group the member
    FARTHEST from its centroid survives — vector 2 beats vector 0 even
    though 0 has the smaller id; (b) exact centroid-cosine ties fall back
    to min id (1 beats its exact copy 4); (c) a near-dup pair straddling
    two clusters (5, 6 at cosine ~0.995) is never compared — the
    quantizer IS the recall contract — so both survive as singletons."""
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),    # centroid A
        Row(vec_id=1, embedding=[0.0, 1.0]),    # centroid B
        Row(vec_id=2, embedding=[1.0, 0.01]),   # cluster A, ~0.99995 to 0
        Row(vec_id=3, embedding=[0.9, 0.44]),   # cluster A singleton
        Row(vec_id=4, embedding=[0.0, 1.0]),    # exact copy of 1 (cluster B)
        Row(vec_id=5, embedding=[1.0, 0.9]),    # cluster A
        Row(vec_id=6, embedding=[0.9, 1.0]),    # cluster B; cos(5,6)~0.995
    ]
    out = DD.semdedup_prune(
        spark.createDataFrame(rows), n_clusters=2, threshold=0.99
    )
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == 7
    # (a) farthest-from-centroid keep: group {0, 2} keeps 2, prunes 0
    assert got[0].group_id == 0 and got[2].group_id == 0
    assert got[2].kept == 1 and got[0].kept == 0
    # (b) tie on centroid_cos (both exactly 1.0) -> min id: keeps 1, prunes 4
    assert got[1].group_id == 1 and got[4].group_id == 1
    assert got[1].kept == 1 and got[4].kept == 0
    # (c) cross-cluster near pair never compared: both singletons, both kept
    assert got[5].list_id != got[6].list_id
    assert got[5].group_id == 5 and got[6].group_id == 6
    assert got[5].kept == 1 and got[6].kept == 1
    # singleton kept; exactly one keeper per group overall
    assert got[3].kept == 1
    per_group = {}
    for r in got.values():
        per_group[r.group_id] = per_group.get(r.group_id, 0) + r.kept
    assert all(v == 1 for v in per_group.values())


def test_ngram_novelty_first_seen_fractions(spark):
    """Doc 0 introduces everything (novelty 1); doc 1 is an exact copy
    (novelty 0); doc 2 shares one of its two shingles with doc 0
    (novelty 0.5); a doc under k words disappears from the output."""
    rows = [
        (0, "a b c d"),        # shingles: "a b c", "b c d"
        (1, "a b c d"),        # exact copy -> nothing first-seen here
        (2, "b c d e"),        # "b c d" seen; "c d e" novel -> 0.5
        (3, "x y"),            # < k words -> excluded
    ]
    out = TS.ngram_novelty(
        spark.createDataFrame(rows, "doc_id long, text string"), k=3
    )
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {0, 1, 2}
    assert got[0].n_shingles == 2 and got[0].novelty == 1.0
    assert got[1].n_shingles == 2 and got[1].novelty == 0.0
    assert got[2].n_novel == 1 and got[2].novelty == 0.5


def test_semdedup_prune_group_invariants_on_fixture(spark):
    """Structural invariants on the real embeddings fixture: (a) a dup
    group never straddles clusters — group members share one list_id (the
    quantizer IS the candidate scope); (b) exactly one kept per group;
    (c) singletons are always kept; (d) output is one row per input."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    out = DD.semdedup_prune(emb, n_clusters=8, threshold=0.4).collect()
    assert len(out) == emb.count()
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, []).append(r)
    for members in by_group.values():
        assert len({m.list_id for m in members}) == 1
        assert sum(m.kept for m in members) == 1
        if len(members) == 1:
            assert members[0].kept == 1


def test_semdedup_prune_matches_oracle_on_injected_copies(spark):
    """The full (vec_id, list_id, centroid_cos, group_id, kept) output
    equals `semdedup_oracle_sql` on the real fixture with injected
    scaled copies (exact-copy cosine ties, like the registered query's),
    at k = 16: 4 supers, so vectors score through the owner-key join."""
    import duckdb

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2).alias("embedding"),
    )
    src = emb.unionByName(copies)
    got = sorted(
        tuple(r)
        for r in DD.semdedup_prune(src, n_clusters=16, threshold=0.4)
        .select("vec_id", "list_id", "centroid_cos", "group_id", "kept")
        .collect()
    )
    source_sql = f"""
        SELECT vec_id, embedding::DOUBLE[] AS ev FROM '{path}'
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(embedding::DOUBLE[], x -> x * 2) AS ev
        FROM '{path}' WHERE vec_id < 10"""
    want = sorted(
        duckdb.sql(
            DD.semdedup_oracle_sql(16, threshold=0.4, source_sql=source_sql)
        ).fetchall()
    )
    assert got == want
    assert len(got) == src.count()


def test_ngram_contamination_known_overlap(spark):
    """One train doc shares a full 3-gram window with the eval doc; the
    other shares none. Zero-overlap docs must still appear (flag 0)."""
    from orion_spark.llm.dedup import ngram_contamination

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words here nothing shared at all"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "quick brown fox walks away")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in ngram_contamination(train, ev, k=3).collect()
    }
    assert out[1].n_contaminated == 1  # "quick brown fox"
    assert out[1].is_contaminated == 1
    assert out[2].n_contaminated == 0
    assert out[2].is_contaminated == 0
    assert out[2].n_shingles == 6


def test_pii_counts_and_flag(spark):
    rows = [
        Row(doc_id=1, text="mail me at a.b+c@example.org or 555-123-4567"),
        Row(doc_id=2, text="ssn 123-45-6789 from 10.0.0.1"),
        Row(doc_id=3, text="nothing sensitive here"),
    ]
    from orion_spark.llm import pii as P

    out = {r.doc_id: r for r in P.pii_counts(spark.createDataFrame(rows)).collect()}
    assert out[1].n_email == 1 and out[1].n_phone == 1 and out[1].n_ssn == 0
    assert out[2].n_ssn == 1 and out[2].n_ipv4 == 1
    assert out[1].has_pii and out[2].has_pii and not out[3].has_pii


def test_pii_redact_scrubs_everything(spark):
    rows = [
        Row(doc_id=1, text="a@b.co and 123-45-6789 and 555.123.4567 and 8.8.8.8"),
    ]
    from orion_spark.llm import pii as P

    red = P.pii_redact(spark.createDataFrame(rows))
    text = red.collect()[0].text
    assert text == "[EMAIL] and [SSN] and [PHONE] and [IP]"
    # round-trip: scanner finds nothing in redacted text
    residual = P.pii_counts(red).where(F.col("has_pii")).count()
    assert residual == 0


def test_pii_ssn_not_eaten_by_phone(spark):
    # SSN (3-2-4) must redact as SSN, not be half-matched by phone (3-3-4)
    rows = [Row(doc_id=1, text="id 987-65-4321 ok")]
    from orion_spark.llm import pii as P

    assert P.pii_redact(spark.createDataFrame(rows)).collect()[0].text == "id [SSN] ok"


def test_c4_line_filter_rules(spark):
    """Each C4 rule in isolation: punctuation gate, min-words gate, line
    marker, page marker, min-kept-lines page gate."""
    page_good = "\n".join(
        [
            "this is a perfectly fine sentence one.",
            "another good line with enough words here!",
            'a third keeper line with many words, quoted ending"',
            "too short.",                                   # <5 words
            "no terminal punctuation on this line at all",  # no punct
            "a line mentioning javascript should be gone.",  # marker
        ]
    )
    page_thin = "only one good line lives right here."  # < 3 kept lines
    page_lorem = (
        "lorem ipsum dolor sit amet and more words.\n"
        "second fine line with plenty of words here.\n"
        "third fine line with plenty of words too.\n"
        "fourth fine line with plenty of words also."
    )
    df = spark.createDataFrame(
        [(1, page_good), (2, page_thin), (3, page_lorem)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in TS.c4_line_filter(df).collect()}
    assert (out[1].n_lines, out[1].n_kept, out[1].page_kept) == (6, 3, 1)
    assert out[2].n_kept == 1 and out[2].page_kept == 0
    # all 4 lines pass the line rules, but the page marker kills the page
    assert out[3].n_kept == 4 and out[3].page_kept == 0
    kept_len = len(
        "\n".join(page_good.split("\n")[:3])
    )
    assert out[1].clean_chars == kept_len


def test_source_mixing_weights_math(spark):
    """alpha=0.5 over shares 0.8/0.2: tempered shares ~0.667/0.333, so the
    minority source is up-weighted ~1.67x and the majority down-weighted."""
    rows = [("big", 80), ("small", 20)]
    df = spark.createDataFrame(
        [(s, 1) for s, n in rows for _ in range(n)], "source string, n_chars long"
    )
    out = {r.source: r for r in
           TS.source_mixing_weights(df, alpha=0.5).collect()}
    assert out["big"].n_docs == 80 and out["small"].n_docs == 20
    import math

    tq = math.sqrt(80) + math.sqrt(20)
    assert abs(out["small"].tempered_share - math.sqrt(20) / tq) < 1e-6
    assert out["small"].mix_weight > 1.6 and out["big"].mix_weight < 1.0


def test_c4_line_filter_property_random_pages(spark):
    """Randomized cross-check: the Spark higher-order-function filter must
    agree with a direct pure-Python implementation of the same C4 rules
    on generated pages mixing all rule-triggering line shapes."""
    import itertools
    import re

    frags = [
        "this line has plenty of words and ends well.",
        "short one.",
        "no punctuation here but quite a few words indeed",
        "a javascript heavy line with enough words here.",
        'quoted ending line with a good number of words"',
        "x y z.",
    ]
    pages = []
    for n, combo in enumerate(itertools.product(range(len(frags)), repeat=3)):
        body = "\n".join(frags[i] for i in combo)
        if n % 7 == 0:
            body += "\nlorem ipsum dolor sit amet padding words everywhere."
        pages.append((n, body))

    def py_keep(line):
        return (
            len(line.strip().split()) >= 5
            and re.search(r'[.!?"]$', line) is not None
            and "javascript" not in line.lower()
        )

    def py_panel(text):
        lines = text.split("\n")
        kept = [x for x in lines if py_keep(x)]
        page_ok = len(kept) >= 3 and "lorem ipsum" not in text.lower()
        return (len(lines), len(kept), int(page_ok), len("\n".join(kept)))

    df = spark.createDataFrame(pages, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_lines, r.n_kept, r.page_kept, r.clean_chars)
        for r in TS.c4_line_filter(df).collect()
    }
    want = {n: py_panel(t) for n, t in pages}
    assert got == want


def test_minhash_dedup_first_equivalence(spark):
    """The dedup-first LSH path must emit exactly the direct path's pair
    set on a duplicate-heavy corpus (cross-group, within-group, and
    unique-doc pairs all covered)."""
    from orion_spark.llm import dedup as DD

    texts = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog tonight",
        "completely different words about graph engines and parquet",
    ]
    rows = []
    i = 0
    for copies, t in zip([3, 2, 1], texts):
        for _ in range(copies):
            rows.append((i, t))
            i += 1
    df = spark.createDataFrame(rows, "doc_id int, text string")
    direct = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in DD.minhash_lsh_pairs(df, threshold=0.3).collect()
    }
    fast = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in DD.minhash_lsh_pairs_dedup_first(df, threshold=0.3).collect()
    }
    assert direct == fast
    # sanity: within-group pairs for the 3-copy group are present at 1.0
    assert (0, 1, 1.0) in fast and (0, 2, 1.0) in fast and (1, 2, 1.0) in fast


def test_chunk_documents_window_arithmetic(spark):
    """Chunking contract: stride = chunk - overlap, last chunk short,
    sub-chunk-size docs give exactly one chunk, every chunk starts
    overlap tokens before the previous one ends, no pure-suffix tail."""
    import pytest as _pytest

    from orion_spark.llm.textstats import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(25))),   # 25 toks
         (2, "a b c"),                                 # 3 toks -> 1 chunk
         (3, " ".join(f"x{i}" for i in range(12)))],   # exactly n-ov==stride
        "doc_id bigint, text string",
    )
    out = sorted(
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_chunk_tokens)
        for r in chunk_documents(docs, chunk_tokens=10, overlap=2).collect()
    )
    d1 = [o for o in out if o[0] == 1]
    # 25 tokens, stride 8 -> ceil(23/8) = 3 chunks: [0..9], [8..17], [16..24]
    assert [o[1] for o in d1] == [0, 1, 2]
    assert d1[0][2].split() == [f"w{i}" for i in range(10)]
    assert d1[1][2].split() == [f"w{i}" for i in range(8, 18)]
    assert d1[2][2].split() == [f"w{i}" for i in range(16, 25)]
    assert [o[3] for o in d1] == [10, 10, 9]
    d2 = [o for o in out if o[0] == 2]
    assert len(d2) == 1 and d2[0][3] == 3
    # 12 tokens: ceil(10/8) = 2 chunks; second carries 4 fresh tokens
    d3 = [o for o in out if o[0] == 3]
    assert len(d3) == 2 and d3[1][2].split()[0] == "x8"

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


def test_ivf_fixed_centroids_sparse_id_space(spark):
    """Round-4 advisor fix: centroid seeding is first-n BY ID ORDER, so
    an offset/sparse id space yields the same geometry (results shift by
    the id offset, nothing degrades); too few candidates is a hard error
    instead of a silently empty centroid table."""
    import pytest

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    small = emb.where(F.col("vec_id") < 64)
    base = S.ivf_topk_fixed_centroids(
        small.where(F.col("vec_id") % 8 == 0), small,
        k=5, n_clusters=4, n_probe=2,
    ).collect()
    assert base  # sanity: the dense-id run produces neighbors

    OFF = 10_000
    shifted = small.withColumn("vec_id", F.col("vec_id") + OFF)
    got = S.ivf_topk_fixed_centroids(
        shifted.where((F.col("vec_id") - OFF) % 8 == 0), shifted,
        k=5, n_clusters=4, n_probe=2,
    ).collect()
    canon = lambda rows, off: sorted(
        (r.query_id - off, r.neighbor_id - off, r.cosine, r.rk) for r in rows
    )
    assert canon(got, OFF) == canon(base, 0)

    with pytest.raises(ValueError, match="needs >= 16"):
        S.ivf_topk_fixed_centroids(
            small, small.where(F.col("vec_id") < 8), k=5, n_clusters=16
        ).collect()


def test_chunk_dup_stats_cross_doc_only(spark):
    """Chunk-level dedup: only chunks shared ACROSS documents count as
    duplicated (within-doc repetition is repetition, not duplication);
    drop_flag trips at the threshold."""
    from orion_spark.llm.dedup import chunk_dup_stats

    # chunk_tokens=2, so chunks are word pairs
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b c d e f"),        # chunks: "a b","c d","e f"
        Row(doc_id=2, text="a b c d x y"),        # shares 2/3 with doc 1
        Row(doc_id=3, text="p q p q p q"),        # self-repeats only
        Row(doc_id=4, text="z z"),                # unique single chunk
    ])
    out = {r.doc_id: r for r in
           chunk_dup_stats(docs, chunk_tokens=2, threshold=0.5).collect()}
    assert out[1].n_chunks == 3 and out[1].n_dup_chunks == 2
    assert abs(out[1].dup_fraction - 0.666667) < 1e-6
    assert out[1].drop_flag == 1
    assert out[2].n_dup_chunks == 2 and out[2].drop_flag == 1
    # doc 3's "p q" appears 3x but only within itself -> not duplicated
    assert out[3].n_dup_chunks == 0 and out[3].drop_flag == 0
    assert out[4].n_chunks == 1 and out[4].drop_flag == 0


def test_bpe_train_merges_hand_corpus(spark):
    """BPE merge learning on a hand-computable corpus: frequency-weighted
    argmax, deterministic tie-break, greedy left-to-right merge (the
    'aaa' adjacency corner), and the GPT-2-style leading-space marker."""
    from orion_spark.llm.textstats import bpe_train_merges

    #  corpus pretokens: 'low' x4, ' low' x3 (-> Ġlow), 'aaa' x2
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="low low low low aaa"),
         Row(doc_id=2, text="low low aaa")]
    )
    # NOTE the pretokenizer keeps leading spaces: "low low low" yields
    # tokens low, ' low', ' low' -> 1x 'low' + rest 'Ġlow'
    out = bpe_train_merges(docs, n_merges=3).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    # pair counts round 1: (l,o) 6, (o,w) 6, (Ġ,l) 4, (a,a) 2x2=4
    # tie (l,o) vs (o,w) at 6 -> lexicographic: 'l' < 'o'
    r1 = out[0]
    assert (r1.lhs, r1.rhs, r1.merged, r1.pair_count) == ("l", "o", "lo", 6)
    # round 2: (lo,w) 6 wins
    r2 = out[1]
    assert (r2.lhs, r2.rhs, r2.merged, r2.pair_count) == ("lo", "w", "low", 6)
    # round 3: (Ġ,low) 4 vs (a,a) 4 -> 'a' < 'Ġ' (U+0120) lexicographic
    r3 = out[2]
    assert (r3.lhs, r3.rhs, r3.merged) == ("a", "a", "aa")
    # greedy left-to-right: 'aaa' contributes TWO overlapping (a,a)
    # positions to the count ...
    assert r3.pair_count == 4


def test_bpe_merge_greedy_nonoverlap(spark):
    """After merging (a,a), 'aaaa' must re-segment as [aa, aa] and
    'aaa' as [aa, a] — literal replace implements greedy non-overlap."""
    from orion_spark.llm.textstats import bpe_train_merges

    docs = spark.createDataFrame([Row(doc_id=1, text="aaaa aaa aaaa")])
    out = bpe_train_merges(docs, n_merges=2).collect()
    # round 1: (a,a) with count 2*3 + 1*2 = 8
    assert (out[0].lhs, out[0].rhs, out[0].pair_count) == ("a", "a", 8)
    # round 2 counts on re-segmented words: 'aaaa'->[aa,aa] (x2 words),
    # 'aaa'->[aa,a]: pairs (aa,aa) 2, (aa,a) 1, (Ġ,aa)... wait, the
    # second/third tokens carry the space marker: ' aaa'->[Ġ,aa,a],
    # ' aaaa'->[Ġ,aa,aa]; pairs: (aa,aa): 1+1=2, (Ġ,aa): 2, (aa,a): 1
    # tie at 2: (aa,aa) vs (Ġ,aa) -> 'aa' < 'Ġ'
    assert (out[1].lhs, out[1].rhs, out[1].pair_count) == ("aa", "aa", 2)


def test_bpe_encoded_token_counts_hand_corpus(spark):
    """Encode-side token accounting under the learned merges: after
    (l,o), (lo,w), (a,a), 'low'=1 token, 'Ġlow'=2, 'Ġaaa'=3."""
    from orion_spark.llm.textstats import bpe_encoded_token_counts

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="low low low low aaa"),
         Row(doc_id=2, text="low low aaa")]
    )
    out = {r.doc_id: r for r in
           bpe_encoded_token_counts(docs, n_merges=3).collect()}
    assert (out[1].n_words, out[1].n_tokens) == (5, 10)
    assert (out[2].n_words, out[2].n_tokens) == (3, 6)


def test_bpe_train_merges_differential_fuzz(spark):
    """Randomized differential check of the distributed BPE trainer
    against an independent pure-Python reference implementation of the
    word-frequency algorithm (count weighted adjacent pairs -> argmax
    with (count desc, lhs, rhs) tie-break -> greedy left-to-right
    merge). Catches any divergence between the literal-replace merge
    encoding and the list-walk spec."""
    import collections
    import random
    import re

    from orion_spark.llm.textstats import BPE_ISH_PATTERN, bpe_train_merges

    def py_bpe(texts, k):
        words = collections.Counter()
        for t in texts:
            for w in re.findall(BPE_ISH_PATTERN, t):
                if w:
                    words[w.replace(" ", "Ġ")] += 1
        syms = {w: list(w) for w in words}
        merges = []
        for rank in range(1, k + 1):
            counts = collections.Counter()
            for w, c in words.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] += c
            if not counts:
                break
            (lhs, rhs), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, lhs, rhs, lhs + rhs, c))
            for w, s in syms.items():
                new, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == lhs and s[i + 1] == rhs:
                        new.append(lhs + rhs)
                        i += 2
                    else:
                        new.append(s[i])
                        i += 1
                syms[w] = new
        return merges

    rng = random.Random(5)
    vocab = ["ab", "aba", "abab", "ba!", "cc", "c-c", "abc", "a"]
    for trial in range(4):
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12)))
            for _ in range(rng.randint(2, 6))
        ]
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        got = [
            (r.rank, r.lhs, r.rhs, r.merged, r.pair_count)
            for r in bpe_train_merges(docs, n_merges=5).collect()
        ]
        assert got == py_bpe(texts, 5), f"trial {trial}: {texts}"


def test_ngram_lm_score_known_corpus(spark):
    """Hand-computed add-k bigram LM on a 2-doc corpus: uni a=3,b=1,c=1
    (N=5, V=3), bigrams (a,b)=1,(b,a)=1,(a,c)=1, k=0.5."""
    import math

    from orion_spark.llm.textstats import ngram_lm_score

    train = spark.createDataFrame(
        [("t1", "a b a"), ("t2", "a c")], "doc_id string, text string"
    )
    score = spark.createDataFrame(
        [("s1", "a b"), ("s2", "z z"), ("s3", "   ")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in ngram_lm_score(train, score, k=0.5).collect()}
    # s3 is whitespace-only: dropped, not scored as a phantom token
    assert set(out) == {"s1", "s2"}
    exp_s1 = -(math.log2(3.5 / 6.5) + math.log2(1.5 / 4.5)) / 2
    assert out["s1"].n_tokens == 2
    assert abs(out["s1"].bits_per_token - exp_s1) < 1e-9
    # OOV everywhere: first token (0+k)/(N+kV), then (0+k)/(0+kV)
    exp_s2 = -(math.log2(0.5 / 6.5) + math.log2(0.5 / 1.5)) / 2
    assert abs(out["s2"].bits_per_token - exp_s2) < 1e-9


def test_ngram_lm_score_train_text_scores_low(spark):
    """A document straight from the training set must carry fewer
    bits/token than a shuffled-vocabulary one — the property the quality
    filter relies on."""
    from orion_spark.llm.textstats import ngram_lm_score

    train = spark.createDataFrame(
        [(f"t{i}", "the cat sat on the mat") for i in range(5)],
        "doc_id string, text string",
    )
    score = spark.createDataFrame(
        [("in_dist", "the cat sat"), ("ood", "mat the on sat cat")],
        "doc_id string, text string",
    )
    out = {r.doc_id: r.bits_per_token
           for r in ngram_lm_score(train, score).collect()}
    assert out["in_dist"] < out["ood"]


def test_ivf_index_upsert_equals_inmemory_fixed(spark, tmp_path):
    """Persisted build+upsert+search == the in-memory fixed-centroid IVF
    over the full corpus (frozen quantizer == from-scratch quantizer
    because delta ids sort above the seed ids)."""
    from orion_spark.llm import similarity as S

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    base = emb.where(F.col("vec_id") < 250)
    delta = emb.where(F.col("vec_id") >= 250)
    queries_df = emb.where(F.col("vec_id") % 97 == 0)
    path = str(tmp_path / "ivf")
    S.build_ivf_index(spark, base, path, n_clusters=64)
    S.upsert_ivf_index(spark, delta, path)
    got = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.cosine)
        for r in S.search_ivf_index(
            spark, queries_df, path, k=10, n_probe=4
        ).collect()
    )
    want = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.cosine)
        for r in S.ivf_topk_fixed_centroids(
            queries_df, emb, k=10, n_clusters=64, n_probe=4
        ).collect()
    )
    assert got == want and len(got) > 0


def test_ivf_index_search_prunes_partitions(spark, tmp_path):
    """File-level pruning: the probed-list read must only touch files
    under the probed `_list=` partition dirs."""
    from orion_spark.llm import similarity as S
    from orion_spark.llm.similarity import IVF_ASSIGNMENTS

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    S.build_ivf_index(spark, emb, path, n_clusters=64)
    one_query = emb.where(F.col("vec_id") == 0)
    # replicate the probe selection to learn which lists a search reads
    res = S.search_ivf_index(spark, one_query, path, k=5, n_probe=2)
    res.collect()
    # independent check: the filtered scan plans a PartitionFilter on
    # _list (inputFiles() reports the pre-pruning relation, so the plan
    # string is the reliable witness — same pattern as
    # test_io_sinks.py::test_partitioned_bundle_prunes)
    probed = spark.read.parquet(
        os.path.join(path, IVF_ASSIGNMENTS)
    ).where(F.col("_list").isin([0, 1]))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan.split(
        "PartitionFilters"
    )[1][:120]
    assert probed.select("_list").distinct().count() <= 2


def test_lm_persisted_model_equals_inmemory(spark, tmp_path):
    """save_lm_model + score_with_lm_model == ngram_lm_score exactly
    (same arithmetic, counts read from parquet instead of recomputed)."""
    from orion_spark.llm.textstats import (
        ngram_lm_score,
        save_lm_model,
        score_with_lm_model,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.where(F.col("lang") == "en")
    path = str(tmp_path / "lm")
    save_lm_model(train, path)
    got = {
        r.doc_id: (r.n_tokens, round(r.bits_per_token, 9))
        for r in score_with_lm_model(spark, docs, path, k=0.5).collect()
    }
    want = {
        r.doc_id: (r.n_tokens, round(r.bits_per_token, 9))
        for r in ngram_lm_score(train, docs, k=0.5).collect()
    }
    assert got == want and len(got) == 500


def test_repeated_ngram_spans_known_corpus(spark):
    """Hand-checked 3-gram spans: doc A and B share one 3-gram; doc A
    also repeats a 3-gram internally; doc C is unique; doc D too short."""
    from orion_spark.llm.dedup import repeated_ngram_spans

    docs = spark.createDataFrame(
        [
            # windows: "x y z", "y z x", "z x y", "x y z" -> "x y z" twice
            # (internal repeat), covered union of starts {1,4} = min gap
            # telescoping: 3 + min(3, 3) = 6 tokens covered
            ("A", "x y z x y z"),
            # shares "p q r" with C
            ("B", "p q r s"),
            ("C", "t u p q r"),
            ("D", "a b"),  # < n tokens: excluded
        ],
        "doc_id string, text string",
    )
    out = {r.doc_id: r for r in repeated_ngram_spans(docs, n=3).collect()}
    assert set(out) == {"A", "B", "C"}
    a = out["A"]
    assert (a.n_tokens, a.n_windows, a.n_dup_windows) == (6, 4, 2)
    assert a.dup_covered_tokens == 6 and a.dup_token_fraction == 1.0
    b = out["B"]
    assert (b.n_windows, b.n_dup_windows, b.dup_covered_tokens) == (2, 1, 3)
    assert b.dup_token_fraction == 0.75
    c = out["C"]
    assert (c.n_dup_windows, c.dup_covered_tokens) == (1, 3)


def test_repeated_ngram_spans_overlapping_union(spark):
    """Overlapping duplicated windows must union, not double-count:
    starts {1,2} with n=3 cover 4 tokens (3 + min(3, 1))."""
    from orion_spark.llm.dedup import repeated_ngram_spans

    docs = spark.createDataFrame(
        [("A", "m m m m"), ("B", "m m m")],
        "doc_id string, text string",
    )
    # A windows: (m m m)@1, (m m m)@2; B: (m m m)@1 -> all dup
    out = {r.doc_id: r for r in repeated_ngram_spans(docs, n=3).collect()}
    a = out["A"]
    assert a.n_dup_windows == 2
    assert a.dup_covered_tokens == 4  # union of [1,4) and [2,5)
    assert out["B"].dup_covered_tokens == 3


def test_corpus_drift_identical_snapshots(spark):
    """Identical slices: zero KL, full vocabulary overlap."""
    from orion_spark.llm.textstats import corpus_drift_report

    docs = spark.createDataFrame(
        [(1, "a b c a"), (2, "b c d")], "doc_id long, text string"
    )
    r = corpus_drift_report(docs, docs).collect()[0]
    assert r.n_docs_old == r.n_docs_new == 2
    assert r.n_tokens_old == r.n_tokens_new == 7
    assert r.vocab_old == r.vocab_new == r.vocab_shared == 4
    assert r.kl_old_new_bits == 0.0


def test_corpus_drift_disjoint_vocab_kl_positive(spark):
    """Disjoint vocabularies: shared vocab 0, strictly positive KL; KL
    must match the hand-computed smoothed value."""
    import math

    from orion_spark.llm.textstats import corpus_drift_report

    old = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    new = spark.createDataFrame([(2, "x y")], "doc_id long, text string")
    r = corpus_drift_report(old, new, k=0.5).collect()[0]
    assert r.vocab_shared == 0 and r.vocab_old == 2 and r.vocab_new == 2
    # union vocab = 4; P_old over {a:2, b:1, x:0, y:0}, n_old=3;
    # P_new over {a:0, b:0, x:1, y:1}, n_new=2
    def p(c, n):
        return (c + 0.5) / (n + 0.5 * 4)

    kl = sum(
        p(co, 3) * math.log2(p(co, 3) / p(cn, 2))
        for co, cn in [(2, 0), (1, 0), (0, 1), (0, 1)]
    )
    assert abs(r.kl_old_new_bits - round(kl, 6)) <= 1e-6


def test_doubling_oracle_equals_recursive_oracle():
    """The r6 scale-viable components oracle (pointer-doubling min-label)
    computes the same function as the recursive-CTE transitive closure on
    adversarial shapes: a long path (worst case for propagation speed),
    a star, disjoint cliques, and an isolated edge."""
    import duckdb

    from orion_spark.llm.dedup import (
        dedup_clusters_oracle_sql,
        dedup_clusters_oracle_sql_doubling,
    )

    path = " UNION ALL ".join(
        f"SELECT {i} AS doc_a, {i + 1} AS doc_b" for i in range(100, 160)
    )
    star = " UNION ALL ".join(
        f"SELECT 500 AS doc_a, {i} AS doc_b" for i in range(501, 520)
    )
    cliques = " UNION ALL ".join(
        f"SELECT {b + i} AS doc_a, {b + j} AS doc_b"
        for b in (1000, 2000)
        for i in range(4)
        for j in range(i + 1, 4)
    )
    pairs = f"{path} UNION ALL {star} UNION ALL {cliques} UNION ALL SELECT 9, 8"
    con = duckdb.connect()
    old = sorted(con.execute(dedup_clusters_oracle_sql(pairs)).fetchall())
    new = sorted(
        con.execute(dedup_clusters_oracle_sql_doubling(pairs)).fetchall()
    )
    assert old == new
    # the 61-node path needs > 6 plain-propagation rounds but converges
    # under doubling; spot-check its component min
    assert (159, 100) in new and (9, 8) in new


def test_doubling_oracle_converges_or_raises():
    """The unrolled oracle checks one extra round: on the shuffled-id
    path, a round budget too small for the diameter fails loudly instead
    of returning several components, and an ample one matches the
    recursive oracle's single component."""
    import duckdb

    from orion_spark.llm.dedup import (
        dedup_clusters_oracle_sql,
        dedup_clusters_oracle_sql_doubling,
    )

    pairs = " UNION ALL ".join(
        f"SELECT {a} AS doc_a, {b} AS doc_b" for a, b in _shuffled_path_pairs()
    )
    con = duckdb.connect()
    with pytest.raises(duckdb.Error, match="not converged in 24 rounds"):
        con.execute(dedup_clusters_oracle_sql_doubling(pairs)).fetchall()
    want = sorted(con.execute(dedup_clusters_oracle_sql(pairs)).fetchall())
    got = sorted(
        con.execute(dedup_clusters_oracle_sql_doubling(pairs, rounds=80))
        .fetchall()
    )
    assert got == want and {c for _, c in got} == {1}


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """A pool doc written in the target's vocabulary must out-weigh one
    written in a disjoint vocabulary, and the weight panel must cover
    exactly the non-empty pool docs."""
    from orion_spark.llm.dsir import dsir_log_weights

    target = spark.createDataFrame(
        [(i, "gene protein pathway binds receptor") for i in range(5)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (100, "gene protein pathway binds"),
            (101, "stock market futures trading desk"),
            (102, "   "),
        ],
        ["doc_id", "text"],
    )
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(target, raw).collect()
    }
    assert set(w) == {100, 101}
    assert w[100] > w[101]


def test_dsir_single_word_doc_has_no_phantom_bigrams(spark):
    """size(w)==1 must yield exactly one unigram feature — the
    descending-sequence trap (sequence(1,0) == [1,0]) would add two."""
    from orion_spark.llm.dsir import _features

    df = spark.createDataFrame([(1, "hello"), (2, "a b")], ["doc_id", "text"])
    out = _features(df, "text", "doc_id").groupBy("_did").count().collect()
    counts = {r["_did"]: r["count"] for r in out}
    assert counts == {1: 1, 2: 3}  # 1 unigram; 2 unigrams + 1 bigram


def test_dsir_gumbel_selection_is_deterministic(spark):
    """Two runs draw the identical sample (seeded hashing, not rand)."""
    from orion_spark.llm.dsir import dsir_log_weights, dsir_select_topk

    target = spark.createDataFrame(
        [(0, "alpha beta gamma")], ["doc_id", "text"]
    )
    raw = spark.createDataFrame(
        [(i, f"alpha beta tok{i} tok{i + 1}") for i in range(30)],
        ["doc_id", "text"],
    )
    w = dsir_log_weights(target, raw)
    a = [r["doc_id"] for r in dsir_select_topk(w, k=7).collect()]
    b = [r["doc_id"] for r in dsir_select_topk(w, k=7).collect()]
    assert a == b and len(a) == 7


def test_dsir_persisted_model_equals_in_memory(spark, tmp_path):
    """save_dsir_model + score_with_dsir_model must reproduce
    dsir_log_weights exactly on the corpus the model was fit on (the
    train-once/reuse contract), and must score NEVER-SEEN documents —
    including ones hitting buckets absent from both corpora — without
    dropping them."""
    from orion_spark.llm.dsir import (
        dsir_log_weights,
        save_dsir_model,
        score_with_dsir_model,
    )

    target = spark.createDataFrame(
        [(i, "gene protein pathway binds receptor") for i in range(5)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (100, "gene protein pathway binds"),
            (101, "stock market futures trading desk"),
            (102, "protein pathway stock desk"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "dsir_model")
    save_dsir_model(target, raw, path, num_buckets=64)
    assert spark.read.parquet(path).count() == 64  # full bucket spine

    inmem = {
        r["doc_id"]: (r["n_feats"], round(r["log_weight"], 9))
        for r in dsir_log_weights(target, raw, num_buckets=64).collect()
    }
    persisted = {
        r["doc_id"]: (r["n_feats"], round(r["log_weight"], 9))
        for r in score_with_dsir_model(spark, raw, path).collect()
    }
    assert inmem == persisted

    novel = spark.createDataFrame(
        [(200, "completely novel vocabulary here xyzzy")],
        ["doc_id", "text"],
    )
    out = score_with_dsir_model(spark, novel, path).collect()
    assert len(out) == 1 and out[0]["n_feats"] == 9


def test_paragraph_dedup_rewrite_hand_case(spark):
    """Corpus-wide paragraph dedup: doc 1 keeps both paragraphs (first
    occurrences), doc 2 loses the shared one, intra-doc repeats collapse,
    a fully-duplicate doc rewrites to empty."""
    from orion_spark.llm.dedup import paragraph_dedup_rewrite

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\nshared paragraph"),
            (2, "shared paragraph\ngamma delta"),
            (3, "repeat me\nrepeat me\nunique tail"),
            (4, "shared paragraph"),
            (5, "   \n  "),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in paragraph_dedup_rewrite(docs).collect()}
    assert out[1].new_text == "alpha beta\nshared paragraph"
    assert (out[1].n_paras, out[1].n_kept) == (2, 2)
    assert out[2].new_text == "gamma delta"
    assert (out[2].n_paras, out[2].n_kept) == (2, 1)
    assert out[3].new_text == "repeat me\nunique tail"
    assert (out[3].n_paras, out[3].n_kept) == (3, 2)
    assert out[4].new_text == ""
    assert (out[4].n_paras, out[4].n_kept) == (1, 0)
    assert out[5].new_text == ""
    assert (out[5].n_paras, out[5].n_kept) == (0, 0)


def test_paragraph_dedup_rewrite_matches_duckdb(spark):
    import duckdb

    from orion_spark.llm.dedup import (
        paragraph_dedup_rewrite,
        paragraph_dedup_rewrite_oracle_sql,
    )

    docs = spark.createDataFrame(
        [
            (i, f"common header\nbody line {i % 4}\ntail {i}")
            for i in range(20)
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r.doc_id, r.n_paras, r.n_kept, r.new_text)
        for r in paragraph_dedup_rewrite(docs).collect()
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(
        (int(a), int(b), int(c), d)
        for a, b, c, d in con.sql(paragraph_dedup_rewrite_oracle_sql()).fetchall()
    )
    assert got == want


def test_countmin_estimates_never_undercount(spark):
    """Count-Min's one-sided error: estimate >= true count for EVERY word,
    and exact on a corpus far smaller than the sketch width."""
    from orion_spark.llm import sketches as SK

    docs = spark.createDataFrame(
        [(i, f"alpha beta {'gamma ' * (i % 5)}x{i}") for i in range(40)],
        ["doc_id", "text"],
    )
    words = docs.selectExpr(
        "explode(filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')) AS word"
    )
    truth = {r.word: r.cnt for r in words.groupBy("word").count().withColumnRenamed("count", "cnt").collect()}
    sketch = SK.cm_build(docs)
    probes = words.select("word").distinct()
    est = {r.word: r.cm_estimate for r in SK.cm_estimate(sketch, probes).collect()}
    assert set(est) == set(truth)
    assert all(est[w] >= c for w, c in truth.items())


def test_countmin_merge_equals_full_build(spark):
    from orion_spark.llm import sketches as SK

    a = spark.createDataFrame([(i, f"one two {i}") for i in range(20)], ["doc_id", "text"])
    b = spark.createDataFrame([(i, f"two three {i}") for i in range(20)], ["doc_id", "text"])
    merged = SK.cm_merge(SK.cm_build(a), SK.cm_build(b))
    full = SK.cm_build(a.unionByName(b))
    assert (
        merged.orderBy("row", "bucket").collect()
        == full.orderBy("row", "bucket").collect()
    )


def test_countmin_sketch_is_bounded(spark):
    from orion_spark.llm import sketches as SK

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 30))) for i in range(100)],
        ["doc_id", "text"],
    )
    assert SK.cm_build(docs).count() <= SK.CM_DEPTH * SK.CM_WIDTH


def test_duplicate_span_rewrite_hand_case(spark):
    """ExactSubstr-style removal at n=3: the globally-first occurrence
    of a duplicated 3-token window survives; every later occurrence's
    covered tokens are deleted; short docs pass through untouched."""
    from orion_spark.llm.dedup import duplicate_span_rewrite

    docs = spark.createDataFrame(
        [
            (1, "one two three four"),          # first occurrence: kept whole
            (2, "zero one two three tail"),     # 'one two three' dup -> cut
            (3, "tiny doc"),                    # < n tokens: untouched
            (4, "one two three"),               # exact dup of the window
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicate_span_rewrite(docs, n=3).collect()}
    assert out[1].new_text == "one two three four"
    assert out[1].n_removed == 0
    # doc 2: windows 'zero one two' (unique), 'one two three' (dup rk2),
    # 'two three tail' (unique) -> positions 2..4 removed
    assert out[2].new_text == "zero tail"
    assert out[2].n_removed == 3
    assert out[3].new_text == "tiny doc"
    assert out[4].new_text == ""
    assert out[4].n_removed == 3


def test_duplicate_span_rewrite_intra_doc_repeat(spark):
    """Within-document repeats count: the second occurrence inside the
    same doc is removed too (suffix-array semantics)."""
    from orion_spark.llm.dedup import duplicate_span_rewrite

    docs = spark.createDataFrame(
        [(1, "a b c x a b c")], ["doc_id", "text"]
    )
    row = duplicate_span_rewrite(docs, n=3).collect()[0]
    assert row.new_text == "a b c x"
    assert row.n_removed == 3


def test_duplicate_span_rewrite_matches_duckdb(spark):
    import duckdb

    from orion_spark.llm.dedup import (
        duplicate_span_rewrite,
        duplicate_span_rewrite_oracle_sql,
    )

    docs = spark.createDataFrame(
        [
            (i, f"shared prefix tokens here body {i % 3} tail piece {i}")
            for i in range(24)
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_removed, r.new_text)
        for r in duplicate_span_rewrite(docs, n=4).collect()
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(
        (int(a), int(b), int(c), d)
        for a, b, c, d in con.sql(
            duplicate_span_rewrite_oracle_sql(n=4)
        ).fetchall()
    )
    assert got == want


def test_bm25_scores_favor_term_density(spark):
    """A doc stuffed with the hot terms outranks one that mentions them
    once among filler; rank ties break by doc_id."""
    from orion_spark.llm.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark data data"),
            (2, "spark data filler filler filler filler filler filler"),
            (3, "nothing relevant here at all wordsalad"),
            (4, "spark data spark data"),
        ],
        ["doc_id", "text"],
    )
    rows = bm25_topk(docs, n_query_terms=2, k=4).collect()
    ranked = [r.doc_id for r in sorted(rows, key=lambda r: r.rk)]
    # docs 1/4 (dense) above doc 2 (sparse); doc 3 contains no query term
    assert set(ranked[:2]) == {1, 4}
    assert 3 not in ranked
    by_rank = sorted(rows, key=lambda r: r.rk)
    assert all(
        by_rank[i].score >= by_rank[i + 1].score for i in range(len(by_rank) - 1)
    )


def test_bm25_matches_duckdb(spark):
    import duckdb

    from orion_spark.llm.retrieval import bm25_topk, bm25_topk_oracle_sql

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma delta w{i % 5} w{i % 7} alpha " * (1 + i % 3))
            for i in range(30)
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r.doc_id, round(r.score, 6), r.rk)
        for r in bm25_topk(docs, n_query_terms=3, k=10).collect()
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(
        (int(a), round(float(b), 6), int(c))
        for a, b, c in con.sql(
            bm25_topk_oracle_sql(n_query_terms=3, k=10)
        ).fetchall()
    )
    assert got == want


def test_embedding_decontamination_flags_planted_dup(spark):
    """A training vector identical to a benchmark vector is flagged with
    max_cosine 1.0 and the right witness; an orthogonal one is not."""
    from orion_spark.llm.similarity import embedding_decontamination

    bench = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (200, [0.0, 1.0, 0.0])],
        ["vec_id", "embedding"],
    )
    train = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),   # exact copy of bench 100
            (2, [0.0, 0.0, 1.0]),   # orthogonal to both
            (3, [0.6, 0.8, 0.0]),   # closest to bench 200
        ],
        ["vec_id", "embedding"],
    )
    out = {
        r.vec_id: r
        for r in embedding_decontamination(train, bench, threshold=0.95).collect()
    }
    assert out[1].contaminated and out[1].best_bench_id == 100
    assert out[1].max_cosine == 1.0
    assert not out[2].contaminated and out[2].max_cosine == 0.0
    # tie-break: orthogonal vec ties at 0.0 across both benches -> smallest id
    assert out[2].best_bench_id == 100
    assert out[3].best_bench_id == 200 and round(out[3].max_cosine, 2) == 0.8


def test_winnowing_shared_substring_guarantee(spark):
    """The winnowing theorem: two docs sharing a token run of length
    >= w + k - 1 (here 6) must share at least one selected fingerprint."""
    from orion_spark.llm.dedup import winnowing_fingerprints

    shared = "lorem ipsum dolor sit amet consectetur"  # 6 tokens
    docs = spark.createDataFrame(
        [
            (1, f"unrelated prefix {shared} and a tail"),
            (2, f"{shared} entirely different continuation here"),
            (3, "no overlap with anything else at all whatsoever"),
        ],
        ["doc_id", "text"],
    )
    fps = winnowing_fingerprints(docs, k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "docs sharing a 6-token run must collide"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3])


def test_winnowing_panel_short_docs(spark):
    from orion_spark.llm.dedup import winnowing_panel

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d e f g h")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in winnowing_panel(docs, k=3, w=4).collect()}
    assert out[1].n_kgrams == 0 and out[1].n_fingerprints == 0
    # one k-gram -> single whole-doc window -> exactly one fingerprint
    assert out[2].n_kgrams == 1 and out[2].n_fingerprints == 1
    assert out[3].n_kgrams == 6 and 1 <= out[3].n_fingerprints <= 3


def test_winnowing_matches_matches_duckdb(spark):
    import duckdb

    from orion_spark.llm.dedup import (
        winnowing_matches,
        winnowing_matches_oracle_sql,
        winnowing_panel,
        winnowing_panel_oracle_sql,
    )

    docs = spark.createDataFrame(
        [
            (i, f"shared base sentence tokens here run {i % 4} "
                f"unique suffix {i} tail")
            for i in range(16)
        ],
        ["doc_id", "text"],
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    got = sorted(
        (r.a, r.b, r.shared_fingerprints)
        for r in winnowing_matches(docs, k=3, w=4, min_shared=2,
                                   max_doc_freq=20).collect()
    )
    want = sorted(
        (int(a), int(b), int(c))
        for a, b, c in con.sql(
            winnowing_matches_oracle_sql(k=3, w=4, min_shared=2,
                                         max_doc_freq=20)
        ).fetchall()
    )
    assert got == want and got
    gp = sorted(
        (r.doc_id, r.n_kgrams, r.n_fingerprints, round(r.fp_density, 6))
        for r in winnowing_panel(docs, k=3, w=4).collect()
    )
    wp = sorted(
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in con.sql(winnowing_panel_oracle_sql(k=3, w=4)).fetchall()
    )
    assert gp == wp


def test_winnowing_oracle_unbounded_long_docs(spark):
    """Docs far past the old 256-token oracle bound still hash-match:
    the oracle's k-gram enumeration is a per-row lateral unnest, so a
    longer-doc corpus diverges loudly (value mismatch) rather than
    silently under-reporting windows."""
    import duckdb

    from orion_spark.llm.dedup import winnowing_panel, winnowing_panel_oracle_sql

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i % 37}" for i in range(700))),
            (2, " ".join(f"w{i % 11}" for i in range(350))),
            (3, "short doc only"),
        ],
        ["doc_id", "text"],
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    got = sorted(
        (r.doc_id, r.n_kgrams, r.n_fingerprints, round(r.fp_density, 6))
        for r in winnowing_panel(docs, k=3, w=4).collect()
    )
    want = sorted(
        (int(a), int(b), int(c), round(float(d), 6))
        for a, b, c, d in con.sql(winnowing_panel_oracle_sql(k=3, w=4)).fetchall()
    )
    assert got == want
    assert dict((d, n) for d, n, *_ in got)[1] == 698  # truly past 256


def test_kmv_merge_equals_full_build(spark):
    """The union of per-shard bottom-R sketches re-reduced to bottom-R
    must equal the sketch built over the whole input — the mergeability
    contract that makes the sketch shard-parallel."""
    from orion_spark.llm.sketches import kmv_build, kmv_merge

    rows = [(i, float((i * 37) % 101)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["event_id", "value"])
    full = kmv_build(df, r=64).collect()
    a = kmv_build(df.where("event_id % 2 = 0"), r=64)
    b = kmv_build(df.where("event_id % 2 = 1"), r=64)
    merged = kmv_merge(a, b, r=64).collect()
    key = lambda r: (r.hkey, r.key, r.value)  # noqa: E731
    assert sorted(map(key, merged)) == sorted(map(key, full))
    assert len(full) == 64


def test_kmv_sample_is_value_independent(spark):
    """The sample is keyed on id hashes only: scaling every value by 10
    keeps the same sampled keys (no value-distribution bias)."""
    from orion_spark.llm.sketches import kmv_build

    rows = [(i, float(i)) for i in range(500)]
    df1 = spark.createDataFrame(rows, ["event_id", "value"])
    df2 = spark.createDataFrame(
        [(i, v * 10.0) for i, v in rows], ["event_id", "value"]
    )
    k1 = [r.key for r in kmv_build(df1, r=32).collect()]
    k2 = [r.key for r in kmv_build(df2, r=32).collect()]
    assert k1 == k2


def test_kmv_build_is_takeordered(spark):
    """No global sort: the bottom-R must compile to TakeOrdered."""
    from orion_spark.llm.sketches import kmv_build

    df = spark.range(1000).select(
        F.col("id").alias("event_id"), (F.col("id") % 7.0).alias("value")
    )
    plan = kmv_build(df)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_leakage_free_split_colocates_near_dups(spark):
    """The property the split exists for: every near-dup pair (same
    cluster) lands in the same train/val/test bucket; the split labels
    cover the whole corpus deterministically."""
    from orion_spark.plans.queries import QUERIES

    out = QUERIES["documents_leakage_free_split"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 500
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    splits = {r.split for r in out}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # deterministic: a second run produces the identical assignment
    again = QUERIES["documents_leakage_free_split"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sorted((r.doc_id, r.cluster, r.split) for r in out) == sorted(
        (r.doc_id, r.cluster, r.split) for r in again
    )


def test_leakage_free_split_cluster_injection_skips_recompute(spark):
    """Passing clusters= from a prior dedup pass reproduces the inline
    chain's assignment exactly — the amortization contract: a pipeline
    that already ran near-dup clustering pays only the projection+join,
    and the LSH/components stages never appear in the plan."""
    from orion_spark.llm.dedup import (
        dedup_clusters,
        leakage_free_split,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    clusters = dedup_clusters(
        minhash_lsh_pairs(docs, threshold=0.5)
    ).localCheckpoint(eager=True)

    injected = leakage_free_split(docs, clusters=clusters)
    inline = leakage_free_split(docs, threshold=0.5)
    assert sorted(
        (r.doc_id, r.cluster, r.split) for r in injected.collect()
    ) == sorted((r.doc_id, r.cluster, r.split) for r in inline.collect())
    # the injected plan contains no minhash machinery (no band exchange)
    plan = injected._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" not in plan.lower()


def test_span_rewrite_long_heavily_duplicated_docs(spark):
    """10k-token documents with massive cross-doc duplication still
    hash-match the (now unbounded) oracle: exercises both the per-row
    lateral-unnest window enumeration and the gap-slicing rebuild that
    replaced the O(tokens x removed) per-token membership scan."""
    import duckdb

    from orion_spark.llm.dedup import (
        duplicate_span_rewrite,
        duplicate_span_rewrite_oracle_sql,
    )

    shared = " ".join(f"s{i % 97}" for i in range(5000))
    rows = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(5000))),
        (2, shared + " " + " ".join(f"b{i}" for i in range(5000))),
        (3, " ".join(f"c{i}" for i in range(10000))),
        (4, shared),  # entirely duplicated vs doc 1's prefix
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_removed, r.new_text)
        for r in duplicate_span_rewrite(docs, n=8).collect()
    )
    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = sorted(
        (int(a), int(b), int(c), d)
        for a, b, c, d in con.sql(
            duplicate_span_rewrite_oracle_sql(n=8)
        ).fetchall()
    )
    assert got == want
    by_id = {a: (b, c) for a, b, c, _ in got}
    assert by_id[3] == (10000, 0)  # unique doc untouched
    # doc 4 is a verbatim later occurrence of doc 1's prefix: fully removed
    assert by_id[4] == (5000, 5000)
    # doc 1's repeating shared block self-duplicates internally, so it
    # loses tokens too — but strictly fewer than the verbatim copy
    assert 0 < by_id[1][1] < 5000


def test_image_dhash_flat_and_gradient(spark):
    """dHash ground truths: a flat-color image hashes to 0 (no gradient
    anywhere); a strict horizontal gradient hashes to all-56-ones; two
    byte-identical payloads pair at hamming 0."""
    from orion_spark.llm import multimodal as MM

    flat = MM.encode_ppm(8, 8, [77] * (8 * 8 * 3))
    grad = MM.encode_ppm(8, 8, [
        v for r in range(8) for c in range(8) for v in (c * 30,) * 3
    ])
    media = spark.createDataFrame(
        [(1, bytearray(flat)), (2, bytearray(grad)), (3, bytearray(flat))],
        "media_id long, payload binary",
    )
    out = {r.media_id: r.dhash for r in MM.image_dhash(media).collect()}
    assert out[1] == 0 and out[3] == 0
    assert out[2] == (1 << 56) - 1 == 72057594037927935
    pairs = MM.image_near_dup_pairs(media, max_hamming=0).collect()
    assert [(p.media_a, p.media_b, p.hamming) for p in pairs] == [(1, 3, 0)]


def test_image_near_dup_grouped_fixture_matches_duckdb(spark):
    """The registered contract on a small grouped fixture: synthesized
    near-dup groups (real PPM/BMP/PNG bytes decoded by the engine) vs
    the closed-form analytic oracle — candidate blocking, hot-bucket
    cap, and Hamming verify all mirrored."""
    import duckdb

    from orion_spark.llm import multimodal as MM
    from orion_spark.llm.multimodal import image_near_dup_oracle_sql

    docs = spark.range(96).select(F.col("id").alias("media_id"))
    media = MM.synthesize_media(docs, near_dup_groups=4)
    got = sorted(
        (r.media_a, r.media_b, r.hamming)
        for r in MM.image_near_dup_pairs(
            media, max_hamming=6, max_bucket_freq=64
        ).collect()
    )
    con = duckdb.connect()
    con.sql("CREATE TABLE documents AS SELECT range AS doc_id FROM range(96)")
    want = sorted(
        (int(a), int(b), int(c))
        for a, b, c in con.sql(
            image_near_dup_oracle_sql(group_size=4, max_hamming=6,
                                      max_bucket_freq=64)
        ).fetchall()
    )
    assert got == want and got
    # most within-group pairs of the first group are found (members 0..3
    # share a base image; on the tiny 2x2 base a single perturbed pixel
    # covers many grid cells, so ONE pair may legitimately exceed the
    # hamming budget — the contract is blocking+verify, not recall=1)
    first_group = {(a, b) for a, b, _ in got if a < 4 and b < 4}
    assert len(first_group) >= 5 and (0, 1) in first_group


def test_audio_fingerprint_flat_and_rising(spark):
    """Envelope-fingerprint ground truths: silence hashes to 0 (no
    gradient); a strictly rising |amplitude| ramp hashes to all-63-ones;
    byte-identical clips pair at hamming 0."""
    from orion_spark.llm import multimodal as MM

    silence = MM.encode_wav([0] * 128, 1, 8000)
    ramp = MM.encode_wav(list(range(128)), 1, 8000)
    media = spark.createDataFrame(
        [(1, bytearray(silence)), (2, bytearray(ramp)),
         (3, bytearray(silence))],
        "media_id long, payload binary",
    )
    out = {r.media_id: r.afp for r in MM.audio_fingerprint(media).collect()}
    assert out[1] == 0
    assert out[2] == (1 << 63) - 1
    pairs = MM.audio_near_dup_pairs(media, max_hamming=0).collect()
    assert [(p.media_a, p.media_b, p.hamming) for p in pairs] == [(1, 3, 0)]


def test_audio_near_dup_grouped_fixture_matches_duckdb(spark):
    """The registered contract on a small grouped fixture: synthesized
    near-dup WAV groups (real RIFF bytes decoded by the engine) vs the
    closed-form analytic oracle."""
    import duckdb

    from orion_spark.llm import multimodal as MM
    from orion_spark.llm.multimodal import audio_near_dup_oracle_sql

    docs = spark.range(96).select(F.col("id").alias("media_id"))
    media = MM.synthesize_audio(docs, near_dup_groups=4)
    got = sorted(
        (r.media_a, r.media_b, r.hamming)
        for r in MM.audio_near_dup_pairs(
            media, max_hamming=6, max_bucket_freq=64
        ).collect()
    )
    con = duckdb.connect()
    con.sql("CREATE TABLE documents AS SELECT range AS doc_id FROM range(96)")
    want = sorted(
        (int(a), int(b), int(c))
        for a, b, c in con.sql(
            audio_near_dup_oracle_sql(group_size=4, max_hamming=6,
                                      max_bucket_freq=64)
        ).fetchall()
    )
    assert got == want and got
    # within-group perturbations are early-envelope-local: member 0 and 1
    # of the first group stay within the hamming budget
    assert any(a < 4 and b < 4 for a, b, _ in got)


def test_synthesize_audio_rejects_overflowing_group_size(spark):
    """near_dup_groups > 800 would push 2000 + 37*(g-1) past int16 and
    crash struct.pack mid-fixture (round-8 advice) — reject up front."""
    import pytest

    from orion_spark.llm import multimodal as MM

    docs = spark.range(4).select(F.col("id").alias("media_id"))
    with pytest.raises(ValueError, match="near_dup_groups"):
        MM.synthesize_audio(docs, near_dup_groups=801)
    # the registered configuration stays valid
    assert MM.synthesize_audio(docs, near_dup_groups=4).count() == 4


def test_video_fingerprint_identical_and_majority(spark):
    """Ground truths for the temporal fold: byte-identical videos pair at
    hamming 0, and the majority vote tracks the dominant frame (2 frames
    of gradient vs 1 flat frame -> the gradient bits win)."""
    from orion_spark.llm import multimodal as MM

    grad = MM.encode_ppm(8, 8, [
        v for r in range(8) for c in range(8) for v in (c * 30,) * 3
    ])
    flat = MM.encode_ppm(8, 8, [77] * (8 * 8 * 3))

    def mp4(frames):
        import struct
        body = b"".join(frames)
        mdat = struct.pack(">I", 8 + len(body)) + b"mdat" + body
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4
        return ftyp + mdat

    media = spark.createDataFrame(
        [(1, bytearray(mp4([grad, flat, grad]))),
         (2, bytearray(mp4([grad, flat, grad]))),
         (3, bytearray(mp4([flat, grad, flat])))],
        "media_id long, payload binary",
    )
    out = {r.media_id: r for r in
           MM.video_fingerprint(media, frame_step=1).collect()}
    assert out[1].n_frames == 3
    # 2-of-3 gradient frames: every gradient bit wins the majority
    assert out[1].vhash == (1 << 56) - 1
    # 2-of-3 flat frames: no bit reaches a majority
    assert out[3].vhash == 0
    pairs = MM.video_near_dup_pairs(media, max_hamming=0).collect()
    assert [(p.media_a, p.media_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_video_near_dup_grouped_fixture_matches_duckdb(spark):
    """The registered contract on a small grouped fixture: synthesized
    near-dup MP4 groups (real ISO-BMFF + PPM-frame mdat demuxed by the
    engine) vs the closed-form analytic oracle."""
    import duckdb

    from orion_spark.llm import multimodal as MM
    from orion_spark.llm.multimodal import video_near_dup_oracle_sql

    docs = spark.range(64).select(F.col("id").alias("media_id"))
    media = MM.synthesize_video(docs, near_dup_groups=4)
    got = sorted(
        (r.media_a, r.media_b, r.hamming)
        for r in MM.video_near_dup_pairs(
            media, max_hamming=6, max_bucket_freq=64
        ).collect()
    )
    con = duckdb.connect()
    con.sql("CREATE TABLE documents AS SELECT range AS doc_id FROM range(64)")
    want = sorted(
        (int(a), int(b), int(c))
        for a, b, c in con.sql(
            video_near_dup_oracle_sql(group_size=4, max_hamming=6,
                                      max_bucket_freq=64)
        ).fetchall()
    )
    assert got == want and got
    # within-group drift is early-cell-local: member 0 and 1 of the first
    # group stay within the hamming budget
    assert any(a < 4 and b < 4 for a, b, _ in got)


def test_hamming_banded_pairs_guaranteed_recall_property(spark):
    """The round-9 recall guarantee as a property: UNCAPPED banded
    blocking over arbitrary signatures must equal the brute-force
    all-pairs Hamming filter exactly — pigeonhole over max_hamming + 1
    chunks means no true pair can be lost to blocking. Adversarial
    signature set: bit-spread pairs crafted to defeat the old fixed
    4-chunk scheme (differing bits placed one per chunk), plus dense
    random-ish values, zeros, and all-ones."""
    from itertools import combinations

    from orion_spark.llm.dedup import hamming_banded_pairs

    base = 0x0123456789ABCD  # 56-bit
    sigs = [
        base,
        base ^ (1 << 3) ^ (1 << 17) ^ (1 << 31) ^ (1 << 45),  # one flip
        # per 14-bit chunk: exactly the pair a 4-chunk scheme missed
        base ^ (1 << 0) ^ (1 << 55),
        0,
        (1 << 56) - 1,
        0x00FF00FF00FF00,
        0x00FF00FF00FF0F,
    ]
    for max_hamming in (0, 2, 4, 6):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(sigs)], "sid long, sig long"
        )
        got = sorted(
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_banded_pairs(
                df, "sig", "sid", sig_bits=56, max_hamming=max_hamming
            ).collect()
        )
        want = sorted(
            (i, j, bin(sigs[i] ^ sigs[j]).count("1"))
            for i, j in combinations(range(len(sigs)), 2)
            if bin(sigs[i] ^ sigs[j]).count("1") <= max_hamming
        )
        assert got == want, (max_hamming, got, want)
    # the adversarial spread pair IS within hamming 4 and must be found
    df = spark.createDataFrame(
        [(0, sigs[0]), (1, sigs[1])], "sid long, sig long"
    )
    found = hamming_banded_pairs(
        df, "sig", "sid", sig_bits=56, max_hamming=4
    ).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in found] == [(0, 1, 4)]


def test_near_dup_families_share_one_blocking_kernel(spark, monkeypatch):
    """MinHash, SimHash, image dHash and banded embedding near-dup all
    block through `dedup._band_pairs`."""
    from orion_spark.llm import multimodal as MM

    calls = []
    kernel = DD._band_pairs

    def spy(keys, out_a, out_b, max_bucket_freq=None):
        calls.append((out_a, out_b, max_bucket_freq))
        return kernel(keys, out_a, out_b, max_bucket_freq)

    monkeypatch.setattr(DD, "_band_pairs", spy)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat")],
        "doc_id long, text string",
    )
    assert [(r.doc_a, r.doc_b) for r in DD.minhash_lsh_pairs(
        docs, threshold=0.5).collect()] == [(1, 2)]
    DD.simhash_near_pairs(docs).collect()
    media = MM.synthesize_media(
        spark.range(8).select(F.col("id").alias("media_id")), near_dup_groups=4
    )
    MM.image_near_dup_pairs(media).collect()
    DD.embedding_near_dup_pairs_banded(_emb(spark), dim=4).collect()
    assert calls == [
        ("doc_a", "doc_b", None),
        ("doc_a", "doc_b", None),
        ("media_a", "media_b", 64),
        ("id_a", "id_b", None),
    ]


def test_family_positions_match_duckdb_twin(spark):
    """The Spark hash family and its SQL twin give the same positions."""
    import duckdb

    keys = ["", "a", "the quick brown fox", "ünïcödé", "12345"]
    for n, modulus in ((4, 1 << 20), (4, 1024), (7, 13)):
        got = {
            r.k: list(r.pos)
            for r in spark.createDataFrame([(k,) for k in keys], "k string")
            .select("k", DD.family_positions(F.col("k"), n, modulus).alias("pos"))
            .collect()
        }
        want = {
            k: list(pos)
            for k, pos in duckdb.execute(
                f"SELECT k, {DD.family_positions_sql('k', n, modulus)} "
                "FROM (SELECT unnest($1::VARCHAR[]) AS k)",
                [keys],
            ).fetchall()
        }
        assert got == want, (n, modulus)


def test_vectorized_decoder_matches_pure_python_reference():
    """Round 11 (guide §4.2): the by-value closure decoder's NumPy paths
    (BMP gather/flip, PNG Sub-cumsum/Up-wraparound) must stay
    byte-identical to the module-level pure-Python reference decoders
    across every format, dim, and the fixture's exact value streams —
    including the perturbed near-dup streams that wrap mod 256."""
    from orion_spark.llm import multimodal as MM

    dec = MM._by_value_image_decoder()
    for mid in range(0, 48):
        w = 1 + mid % 8
        h = 1 + (mid // 8) % 8
        base = mid - mid % 4
        cut = 3 * (mid % 4)
        vals = [
            ((base * 31 + i) % 256 + (128 if i < cut else 0)) % 256
            for i in range(w * h * 3)
        ]
        for enc, ref in (
            (MM.encode_ppm, MM.decode_ppm),
            (MM.encode_bmp, MM.decode_bmp),
            (MM.encode_png, MM.decode_png),
        ):
            payload = enc(w, h, vals)
            rw, rh, rvals = ref(payload)
            _fmt, cw, ch, cdata = dec(payload)
            assert (cw, ch) == (rw, rh) == (w, h)
            assert list(cdata) == rvals == vals


def test_vectorized_decoder_average_paeth_scalar_fallback():
    """The closure decoder's Average/Paeth PNG rows (never emitted by the
    fixtures) run the scalar fallback; a hand-filtered PNG using ALL five
    filter types must decode identically in closure and reference."""
    import struct
    import zlib

    from orion_spark.llm import multimodal as MM

    w, h, nch = 5, 5, 3
    stride = w * nch
    vals = [(i * 37 + 11) % 256 for i in range(w * h * 3)]
    raw = bytearray()
    prev = bytes(stride)
    for r in range(h):
        row = bytes(vals[r * stride : (r + 1) * stride])
        ft = r % 5  # None, Sub, Up, Average, Paeth
        raw.append(ft)
        if ft == 0:
            raw += row
        elif ft == 1:
            raw += bytes(
                (row[x] - (row[x - nch] if x >= nch else 0)) & 0xFF
                for x in range(stride)
            )
        elif ft == 2:
            raw += bytes((row[x] - prev[x]) & 0xFF for x in range(stride))
        elif ft == 3:
            raw += bytes(
                (row[x] - ((row[x - nch] if x >= nch else 0) + prev[x]) // 2)
                & 0xFF
                for x in range(stride)
            )
        else:
            enc = bytearray()
            for x in range(stride):
                a = row[x - nch] if x >= nch else 0
                b = prev[x]
                c = prev[x - nch] if x >= nch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((row[x] - pred) & 0xFF)
            raw += enc
        prev = row

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    payload = (
        MM.PNG_SIGNATURE
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    rw, rh, rvals = MM.decode_png(payload)
    _fmt, cw, ch, cdata = MM._by_value_image_decoder()(payload)
    assert (cw, ch) == (rw, rh) == (w, h)
    assert list(cdata) == rvals == vals
