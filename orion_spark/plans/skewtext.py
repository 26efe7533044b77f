"""Deterministic power-law (Zipf) TEXT fixture — the registered skew
surface for the crawl-curation operators.

Round-9 verdict: the graph side gained a registered power-law fixture
(`plans/skewgraph.py`) but every registered CORPUS still had near-uniform
content keys — no viral canonical URL, no boilerplate paragraph, no
stop-phrase shingle at power-law frequency — so the content-key dedup
plans (`url_dedup`, `paragraph_dedup_rewrite`, `ngram_novelty`) were
never exercised against the regime that breaks a window-ranked plan at
100 TB (one hot key owning a single un-splittable task; the reference's
RESOURCE_HOGS problem class, orion/data_sources.py:68). This module puts
that regime INTO the correctness gate: pure integer/string arithmetic
over `range`, sized by the lineitem row count (so it scales with the sf
point), replayed exactly in DuckDB — every skew-text query carries a
full value oracle.

Shape, with N = lineitem_rows // 6 docs (1k / 10k / 100k at the driver's
three sf points):
- docs [0, N/2): the VIRAL tier — every doc links the same page under a
  different spelling (scheme case, www., :80, trailing slash, tracking
  params, param order, per-doc fragment; all collapse to
  `http://viral.example.com/story?a=1&b=2`), and every doc's text leads
  with the same boilerplate paragraph (9 words => 7 three-gram shingles,
  each appearing in N/2 docs). One canonical URL with N/2 occurrences,
  one paragraph hash with N/2 occurrences, 7 shingles with N/2
  occurrences each: the hot-reducer regime.
- docs [N/2, 3N/4): the WARM tier — 16 warm URLs (~N/64 occurrences
  each), unique text.
- docs [3N/4, N): the TAIL — unique URL, unique text.
Every doc also carries a unique trailing paragraph (doc_id is embedded),
so the dedup rewrite must keep per-doc content while collapsing the hot
key — group sizes alone can't fake it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orion_spark.plans.skewgraph import skew_n

BOILER = "subscribe to our newsletter for daily updates and offers"
N_WARM = 16
UNIQ_P1 = 7_919
UNIQ_P2 = 104_729
UNIQ_MOD = 9_973


def skew_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, url, text) fixture frame, sized from the sf_dir."""
    return skew_docs_for_n(spark, skew_n(spark, sf_dir))


def skew_docs_for_n(spark: SparkSession, n: int) -> DataFrame:
    """skew_docs with an explicit doc count (measurement tools size the
    fixture directly; registered queries derive n from the sf_dir)."""
    half, q3 = n // 2, (3 * n) // 4
    i = F.col("id")
    s = i.cast("string")

    viral_url = F.concat(
        F.when(i % 2 == 0, F.lit("http")).otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.element_at(
            F.array(
                F.lit("viral.example.com"),
                F.lit("viral.example.com:80"),
                F.lit("WWW.Viral.Example.COM"),
                F.lit("WWW.Viral.Example.COM:80"),
            ),
            (i % 4 + 1).cast("int"),
        ),
        F.lit("/story"),
        F.when(i % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            i % 2 == 0, F.concat(F.lit("?a=1&b=2&utm_source=s"), s)
        ).otherwise(F.concat(F.lit("?b=2&utm_campaign=c&a=1&fbclid=f"), s)),
        F.lit("#sec"), s,
    )
    warm_url = F.concat(
        F.lit("https://warm.example.com/p"), (i % N_WARM).cast("string"),
        F.when(i % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_x=1"),
    )
    tail_url = F.concat(
        F.lit("https://site"), s, F.lit(".example.com/page"), s
    )
    uniq_para = F.concat(
        F.lit("document "), s,
        F.lit(" body w"), ((i * UNIQ_P1) % UNIQ_MOD).cast("string"),
        F.lit(" w"), ((i * UNIQ_P2) % UNIQ_MOD).cast("string"),
        F.lit(" end"),
    )
    return spark.range(n).select(
        i.alias("doc_id"),
        F.when(i < half, viral_url)
        .when(i < q3, warm_url)
        .otherwise(tail_url)
        .alias("url"),
        F.when(i < half, F.concat(F.lit(BOILER), F.lit("\n"), uniq_para))
        .otherwise(uniq_para)
        .alias("text"),
    )


def skew_docs_chain_sql() -> str:
    """DuckDB CTE chain — `params AS (...), skew_docs AS (...)` — for
    oracle builders that splice it as `WITH {chain}, ...`. Identical
    integer/string arithmetic to skew_docs, sized from the same lineitem
    count."""
    return f"""params AS (SELECT (SELECT COUNT(*) FROM lineitem) // 6 AS n),
    skew_docs AS (
        SELECT i.i AS doc_id,
               CASE WHEN i.i < n // 2 THEN
                        (CASE WHEN i.i % 2 = 0 THEN 'http' ELSE 'HTTP' END)
                        || '://'
                        || (CASE i.i % 4
                            WHEN 0 THEN 'viral.example.com'
                            WHEN 1 THEN 'viral.example.com:80'
                            WHEN 2 THEN 'WWW.Viral.Example.COM'
                            ELSE 'WWW.Viral.Example.COM:80' END)
                        || '/story'
                        || (CASE WHEN i.i % 3 = 0 THEN '/' ELSE '' END)
                        || (CASE WHEN i.i % 2 = 0
                            THEN '?a=1&b=2&utm_source=s' || i.i
                            ELSE '?b=2&utm_campaign=c&a=1&fbclid=f' || i.i END)
                        || '#sec' || i.i
                    WHEN i.i < (3 * n) // 4 THEN
                        'https://warm.example.com/p' || (i.i % {N_WARM})
                        || (CASE WHEN i.i % 2 = 0 THEN '/' ELSE '' END)
                        || '?utm_x=1'
                    ELSE 'https://site' || i.i || '.example.com/page' || i.i
               END AS url,
               CASE WHEN i.i < n // 2
                    THEN '{BOILER}' || chr(10)
                         || 'document ' || i.i
                         || ' body w' || ((i.i * {UNIQ_P1}) % {UNIQ_MOD})
                         || ' w' || ((i.i * {UNIQ_P2}) % {UNIQ_MOD}) || ' end'
                    ELSE 'document ' || i.i
                         || ' body w' || ((i.i * {UNIQ_P1}) % {UNIQ_MOD})
                         || ' w' || ((i.i * {UNIQ_P2}) % {UNIQ_MOD}) || ' end'
               END AS text
        FROM params, UNNEST(range(0, n)) AS i(i))"""


def skew_docs_select_sql() -> str:
    """Single-SELECT form (nested WITH) for oracle builders that take a
    `table` argument: pass `f"({skew_docs_select_sql()})"`."""
    return f"WITH {skew_docs_chain_sql()} SELECT doc_id, url, text FROM skew_docs"
