"""URL canonicalization and canonical-URL dedup for web-crawl curation.

The first dedup a crawl pipeline applies is not content-based at all: the
same page is fetched under many URL spellings (scheme/host case, default
ports, `www.` prefixes, tracking parameters, parameter order, fragments,
trailing slashes), and collapsing those BEFORE fetch/parse is the cheapest
volume reduction in the stack (CommonCrawl dedups on canonical URL before
any text processing). This module provides the canonical form as a pure
column expression — regexp/split/array built-ins only, JVM-side, no UDFs —
plus the oracle SQL mirror so the whole normalization is hash-checkable
cross-engine.

Canonicalization rules (deterministic, documented, mirrored in SQL):
  1. scheme and host lowercased
  2. fragment (#...) removed
  3. default port stripped (:80 for http, :443 for https)
  4. leading `www.` stripped from the host (optional, default on)
  5. tracking query parameters removed: any key starting with `utm_`, plus
     the exact keys in `tracking_params` (default TRACKING_PARAMS — only
     unambiguous click-id trackers; keys some sites use functionally,
     like `ref`, are deliberately NOT in the default set and must be
     opted into per-crawl)
  6. remaining query parameters sorted bytewise (order-insensitive form)
  7. ALL trailing slashes stripped from a non-root path (fixed point even
     for `/a//`); empty path -> `/`

Scale shape: everything is per-row expression work inside whole-stage
codegen — no shuffle, no UDF. The dedup stats are one hash aggregate on
the canonical string plus an AQE-splittable join-back (see `url_dedup`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# exact-match tracking keys removed alongside the utm_* prefix family.
# Only unambiguous click-id trackers belong here: a generic key like
# 'ref' is functional on many sites (GitHub's ?ref=<branch> selects
# different content) and stripping it would collapse distinct pages.
TRACKING_PARAMS = ("fbclid", "gclid", "msclkid", "mc_cid", "mc_eid")

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.\-]*)://"


def url_host(url: Column, strip_www: bool = True) -> Column:
    """Lowercased host (no port, no userinfo assumed) of an absolute URL."""
    after = F.regexp_replace(url, _SCHEME_RE, "")
    auth = F.lower(F.regexp_extract(after, r"^([^/?#]*)", 1))
    host = F.regexp_replace(auth, r":\d+$", "")
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    return host


def canonicalize_url(
    url: Column,
    strip_www: bool = True,
    tracking_params: tuple[str, ...] = TRACKING_PARAMS,
) -> Column:
    """Canonical form of an absolute http(s) URL per the module rules.

    Built entirely from regexp_extract/replace + split/filter/array_sort/
    array_join — stays in whole-stage codegen; the identical rule set is
    emitted for DuckDB by `canonical_url_sql` so canonical forms (and any
    dedup keyed on them) hash-match cross-engine.
    """
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    nofrag = F.regexp_replace(F.regexp_replace(url, _SCHEME_RE, ""), r"#.*$", "")
    auth = F.lower(F.regexp_extract(nofrag, r"^([^/?#]*)", 1))
    # default port is scheme-relative: only the scheme's own default drops
    host_port = F.when(
        scheme == "http", F.regexp_replace(auth, r":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(auth, r":443$", "")
    ).otherwise(auth)
    host = (
        F.regexp_replace(host_port, r"^www\.", "") if strip_www else host_port
    )
    pathq = F.regexp_extract(nofrag, r"^[^/?#]*(.*)$", 1)
    raw_path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    # strip ALL trailing slashes from a non-root path ('(.)/+$' keeps the
    # root '/' intact by construction, makes the form a fixed point even
    # for '/a//', and mirrors 1:1 in DuckDB)
    path = F.when(raw_path == "", F.lit("/")).otherwise(
        F.regexp_replace(raw_path, r"(.)/+$", "$1")
    )
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.when(query == "", F.array().cast("array<string>")).otherwise(
        F.split(query, "&")
    )
    tracking = F.array(*[F.lit(t) for t in tracking_params])
    kept = F.filter(
        params,
        lambda p: (~p.startswith("utm_"))
        & (~F.array_contains(tracking, F.split(p, "=").getItem(0)))
        & (p != ""),
    )
    qcanon = F.array_join(F.array_sort(kept), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon == "", F.lit("")).otherwise(F.concat(F.lit("?"), qcanon)),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_www: bool = True,
    tracking_params: tuple[str, ...] = TRACKING_PARAMS,
) -> DataFrame:
    """Canonical-URL dedup: one row per input with the canonical form, its
    host, the canonical-group size, and kept=1 for the group's minimum id
    (first-seen-wins under a deterministic order).

    Scale shape: `groupBy(canon_url).agg(count, min)` (partial-combines
    map-side: the viral URL reaches its reducer as one row per map task)
    + a LEFT join-back against ONLY the duplicated groups (group_size >
    1) — rows that miss are singletons by construction and take
    (group_size=1, kept=1) from a coalesce, so the join's build side is
    the dup-group dim, not every distinct URL. On a mostly-unique
    frontier that dim is tiny and AQE broadcasts it (the whole operator
    is then ONE exchange, the partial-aggregated count/min); on a
    dup-heavy crawl it shuffles but AQE can skew-split it — unlike a
    window partition over the canonical key, which puts every occurrence
    of a viral URL in ONE task, the single construct AQE cannot split
    (measured: the window plan's hot task is the whole critical path
    once the hot key exceeds a core's fair share — SCALE.md, the
    de-windowing A/B).

    Null canonical forms (a null url canonicalizes to null) pass through
    as their own singleton groups via the same left-join miss path: null
    join keys never match, so null is never a page identity and distinct
    null-url docs are never collapsed."""
    # the canonical projection (a dozen regexes per row) feeds BOTH the
    # group aggregate and the join probe side: materialize it once
    # (localCheckpoint — released on GC, the minhash_lsh_pairs pattern)
    # instead of paying the regex pass twice; the checkpointed frame is
    # (id, canon, host) — far narrower than the input. Round 11 (guide
    # §2.2): the (id, url) input is spread off a narrow local scan first
    # — the regex pass otherwise runs in the 1-2 scan tasks (measured
    # 2.3 s single-task of a 3.3 s query at sf1); wide inputs (the skew
    # fixture, any real crawl frontier) pass through untouched. Barrier
    # form: the canonicalization is a deterministic codegen'd projection,
    # exactly the node the optimizer pushes below a bare round-robin
    # exchange onto its narrow map side.
    from orion_spark.llm.dedup import spread_narrow_input

    canon = spread_narrow_input(
        df.select(F.col(id_col), F.col(url_col))
    ).select(
        F.col(id_col).alias("doc_id"),
        canonicalize_url(
            F.col(url_col), strip_www=strip_www, tracking_params=tracking_params
        ).alias("canon_url"),
        url_host(F.col(url_col), strip_www=strip_www).alias("host"),
    ).localCheckpoint(eager=True)
    dup_groups = (
        canon.where(F.col("canon_url").isNotNull())
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).alias("_gs"),
            F.min("doc_id").alias("_keeper"),
        )
        .where(F.col("_gs") > 1)
    )
    return canon.join(dup_groups, "canon_url", "left").select(
        "doc_id", "canon_url", "host",
        F.coalesce("_gs", F.lit(1)).cast("long").alias("group_size"),
        F.when(
            F.col("_keeper").isNull() | (F.col("doc_id") == F.col("_keeper")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("kept"),
    )


def domain_blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_www: bool = True,
    include_subdomains: bool = True,
) -> DataFrame:
    """UT1/FineWeb-style domain blocklist gate: drop every row whose URL
    host (or any parent domain of it, with `include_subdomains`) appears
    in `blocklist` (one `domain` string column). The crawl-curation step
    that runs right after canonicalization and before any text work.

    Scale shape: the row's candidate set is its dot-suffix chain
    (`a.b.example.com` -> [a.b.example.com, b.example.com, example.com]),
    built with pure split/transform expressions and exploded carrying
    only (id, candidate); blocked ids come from ONE semi-join on the
    domain — blocklists are list-shaped dims (UT1 is ~4M rows) so Spark
    broadcasts them outright or AQE picks a skew-splittable shuffle join
    — and survivors from one id-keyed anti-join. No text moves through
    either join. Rows with null/unparseable hosts pass through (their
    candidate chain matches nothing). The blocklist column gets the same
    normalization as the probe host (lower + trim, and a leading `www.`
    strip under `strip_www`) so hand-maintained lists with mixed case or
    `www.`-prefixed entries still match."""
    host = url_host(F.col(url_col), strip_www=strip_www)
    if include_subdomains:
        parts = F.split(host, r"\.")
        n = F.size(parts)
        cands = F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
            lambda i: F.array_join(F.slice(parts, i, n), "."),
        )
    else:
        cands = F.array(host)
    exploded = df.select(
        F.col(id_col).alias("_id"), F.explode(cands).alias("_dom")
    )
    bl_dom = F.lower(F.regexp_replace(F.col("domain"), r"^\s+|\s+$", ""))
    if strip_www:
        bl_dom = F.regexp_replace(bl_dom, r"^www\.", "")
    blocked_ids = (
        exploded.join(
            blocklist.select(bl_dom.alias("_dom")), "_dom", "left_semi"
        )
        .select(F.col("_id").alias(id_col))
        .distinct()
    )
    return df.join(blocked_ids, id_col, "left_anti")


def domain_blocklist_sql(
    probe_sql: str,
    blocklist_sql: str,
    url_expr: str = "url",
    id_col: str = "doc_id",
    strip_www: bool = True,
) -> str:
    """DuckDB mirror of `domain_blocklist_filter` (subdomain-inclusive):
    rows of `probe_sql` whose host suffix chain misses every domain in
    `blocklist_sql` (one `domain` column, normalized the same way as the
    probe host: lower + trim, leading `www.` stripped under `strip_www`)."""
    host = url_host_sql(url_expr, strip_www=strip_www)
    bl_dom = r"lower(regexp_replace(domain, '^\s+|\s+$', '', 'g'))"
    if strip_www:
        bl_dom = f"regexp_replace({bl_dom}, '^www\\.', '')"
    return f"""
    WITH probe AS ({probe_sql}),
    bl AS (SELECT {bl_dom} AS domain FROM ({blocklist_sql})),
    cand AS (
        SELECT {id_col} AS _id,
               unnest([array_to_string(hp[i:], '.')
                       for i in range(1, GREATEST(len(hp), 2))]) AS dom
        FROM (SELECT {id_col}, string_split({host}, '.') AS hp FROM probe)),
    blocked AS (
        SELECT DISTINCT c._id FROM cand c JOIN bl ON c.dom = bl.domain)
    SELECT p.* FROM probe p
    WHERE p.{id_col} NOT IN (SELECT _id FROM blocked)
    """


def url_host_sql(url_expr: str, strip_www: bool = True) -> str:
    """DuckDB expression mirroring `url_host` for `url_expr`."""
    host = (
        "regexp_replace(regexp_replace(lower(regexp_extract("
        "regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),"
        " '^([^/?#]*)', 1)), ':\\d+$', ''), '^www\\.', '')"
        if strip_www
        else "regexp_replace(lower(regexp_extract("
        "regexp_replace({u}, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),"
        " '^([^/?#]*)', 1)), ':\\d+$', '')"
    )
    return host.format(u=url_expr)


def canonical_url_sql(
    url_expr: str,
    strip_www: bool = True,
    tracking_params: tuple[str, ...] = TRACKING_PARAMS,
) -> str:
    """DuckDB expression computing the same canonical form as
    `canonicalize_url` for the URL-valued SQL expression `url_expr`.
    Mirrors every rule including the scheme-relative default port, the
    utm_ prefix family + `tracking_params` removal, bytewise param sort,
    and all-trailing-slash stripping."""
    tracking_list = ", ".join(f"'{t}'" for t in tracking_params)
    www = r"regexp_replace(hp, '^www\.', '')" if strip_www else "hp"
    return f"""(
    WITH u AS (SELECT {url_expr} AS _u),
    parts AS (
        SELECT lower(regexp_extract(_u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
               regexp_replace(regexp_replace(_u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', ''),
                              '#.*$', '') AS nofrag
        FROM u),
    auth AS (
        SELECT scheme, nofrag,
               lower(regexp_extract(nofrag, '^([^/?#]*)', 1)) AS a,
               regexp_extract(nofrag, '^[^/?#]*(.*)$', 1) AS pathq
        FROM parts),
    hostp AS (
        SELECT scheme, pathq,
               CASE WHEN scheme = 'http' THEN regexp_replace(a, ':80$', '')
                    WHEN scheme = 'https' THEN regexp_replace(a, ':443$', '')
                    ELSE a END AS hp
        FROM auth),
    norm AS (
        SELECT scheme, {www} AS host,
               regexp_extract(pathq, '^([^?]*)', 1) AS raw_path,
               regexp_extract(pathq, '\\?(.*)$', 1) AS q
        FROM hostp),
    canon AS (
        SELECT scheme, host,
               CASE WHEN raw_path = '' THEN '/'
                    ELSE regexp_replace(raw_path, '(.)/+$', '\\1') END AS path,
               COALESCE(array_to_string(
                   list_sort(list_filter(
                       CASE WHEN q = '' THEN []::VARCHAR[]
                            ELSE string_split(q, '&') END,
                       p -> NOT starts_with(p, 'utm_')
                            AND NOT list_contains([{tracking_list}],
                                                  string_split(p, '=')[1])
                            AND p <> '')), '&'), '') AS qcanon
        FROM norm)
    SELECT scheme || '://' || host || path ||
           CASE WHEN qcanon = '' THEN '' ELSE '?' || qcanon END
    FROM canon
    )"""
