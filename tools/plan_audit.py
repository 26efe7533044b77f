#!/usr/bin/env python
"""Physical-plan lint over the whole query registry.

For every registered query, compiles the plan at the given sf_dir and
flags the patterns that do not survive scale:

  - BatchEvalPython / ArrowEvalPython   row-at-a-time Python in the plan
  - MapInPandas / MapInArrow            Python over Arrow batches
  - CartesianProduct                    unconstrained cross join
  - BroadcastNestedLoopJoin             O(n*m) fallback join
  - high Exchange count                 shuffle-heavy plans (reported)
  - ContentKeyWindow                    Window.partitionBy over a
    content-derived key (hash/shingle/url/paragraph). Window partitions
    are the ONE shuffle AQE cannot skew-split and have no partial
    aggregation, so a power-law-hot content key (viral URL, boilerplate
    paragraph, stop-phrase shingle) puts every occurrence in a single
    task at 100 TB. Bounded entity keys (user_id, doc-local, query_id,
    NTILE buckets) pass; the fix is a partial-aggregatable aggregate +
    AQE-splittable join-back (round-10 de-windowing).
  - GlobalWindow                        a window with NO partition key
    (single-task by construction) — whitelisted only where the input is
    already bounded (e.g. rank over a TakeOrdered k-row frame).

Intentional exceptions are whitelisted WITH the reason, so a new
offender is a loud diff, not background noise. A whitelist entry whose
audited query no longer carries its pattern is flagged too (it excuses
nothing and would hide a later regression). Exit code 1 on any flag —
usable as a CI gate.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# pattern -> {query_name: reason}
WHITELIST: dict[str, dict[str, str]] = {
    "BroadcastNestedLoopJoin": {
        "ann_cosine_topk": "by design: every (candidate, query) pair is scored; the query side is broadcast",
        "ann_cosine_topk_fixed_batch": "same exact-scoring contract with a fixed 64-query broadcast batch — one candidate scan, O(|C|) per batch",
        "yeast_histone_gene_edges": "deliberate crossJoin of windows x 3-row broadcast PTM dim (yeast_histone_bins); the gene overlap itself is the bin-bucketed equi-join",
        "gse61888_like_edges": "same windows x PTM broadcast cross as yeast_histone_gene_edges; window assignment is the bin-bucketed point-interval equi-join",
        "ann_ivf_topk": "probe-list-limited pair scoring after IVF routing",
        "ann_ivf_topk_fixed": "broadcast centroid cross for assignment/probing (n_clusters rows) + non-equi self-pair filter — the IVF contract",
        "ann_ivf_index_upsert_search": "broadcast centroid cross for assignment/probing (n_clusters rows) + non-equi self-pair filter — the persisted-index IVF contract",
        "dedup_embedding_cosine_exact": "exact variant scores all pairs (dedup_embedding_cosine is the LSH-banded scale path, no BNLJ)",
        "tpch_q11_important_parts": "scalar-aggregate broadcast (1 row) joined under every group",
        "tpch_q22_sales_opportunity": "scalar aggregate (1 row) cross-multiplied against customers",
        "text_tfidf_top_terms": "corpus-size scalar (1 row) broadcast into the score expression",
        "text_ngram_lm_perplexity": "1-row LM constants (N, V) broadcast under every scored token",
        "text_ngram_lm_persisted": "1-row LM constants (N, V) broadcast under every scored token",
        "documents_drift_report": "1-row totals frame broadcast under the vocabulary-sized KL fold + 1-row x 1-row output combine",
        "full_pipeline_counts": "constant predicate is constant-folded out of the join key; the 'join' is a residual filter against the 14-row broadcast closure dim",
        "documents_mixture_report": "corpus-total scalar (1 row) broadcast under every source row",
        "orders_basket_lift": "order-count scalar (1 row) broadcast into the lift expression",
        "text_source_mixing_weights": "normalizer scalars (1 row) broadcast under the 20-row source panel",
        "documents_dsir_weights": "1-row model totals (T, R) broadcast under the bucket-sized log-ratio dim",
        "documents_dsir_selection": "same 1-row DSIR model-totals broadcast as documents_dsir_weights",
        "text_bm25_topk": "1-row corpus stats (N, avgdl) broadcast under every (doc, query-term) contribution",
        "embedding_decontamination": "by design: fixed-size (<= 200 row) benchmark split broadcast against the streaming train side — the eval set is bounded by contract",
        "events_kmv_quantile_accuracy": "two 1-row aggregates (sample quantiles x exact quantiles) combined into the 5-row panel",
        "documents_bloom_history_filter": "single-row packed Bloom bitmap broadcast; the probe is a map-only pass (bloom.py contract)",
        "documents_bloom_fp_accounting": "same single-row Bloom bitmap broadcast as the history filter",
        "documents_quality_clf_scores": "1-row ridge weight vector broadcast onto the corpus for scoring",
    },
    "ArrowEvalPython": {},
    "BatchEvalPython": {},
    "MapInPandas": {
        "multimodal_audio_features": "by design: the PCM16 WAV decode and feature stage is Python over Arrow batches of payloads",
        "multimodal_decode_features": "by design: the image header parse and feature stage is Python over Arrow batches of payloads",
        "multimodal_resize_images": "by design: the resize stage decodes and re-encodes each image in Python over Arrow batches",
        "multimodal_video_metadata": "by design: the MP4 box parse is Python over Arrow batches of payloads",
        "extract_xml_declarative": "by design: sources/readers.read_xml_records parses each whole XML file with ElementTree in Python, one task per file (no JVM XML package)",
        "extract_xml_merged_nodes": "same ElementTree XML reader as extract_xml_declarative",
        "hmdb_like_edges": "same ElementTree XML reader as extract_xml_declarative, over the HMDB-style metabolite file",
    },
    "MapInArrow": {},
    "CartesianProduct": {},
}

# queries allowed to keep a flagged window, WITH the reason
WINDOW_WHITELIST: dict[str, str] = {
    "text_bm25_topk": "GlobalWindow ranks an already-reduced frame: "
    "TakeOrderedAndProject(k=20) runs upstream, the window sees k rows",
}

# partition-key base names that identify a content-derived window key
_CONTENT_KEY_NAMES = {
    "h", "_h", "hash", "_hash", "content_key", "shingle", "canon_url",
    "url", "para", "paragraph", "fingerprint", "md5", "sig", "text",
    "clean_text", "term", "ngram",
}
# substring patterns so a rename (span_hash, _sig, ckey, url2 ...) can't
# slip a content-derived key past the exact-name list (round-10 ADVICE)
_CONTENT_KEY_SUBSTRINGS = (
    "hash", "url", "sig", "shingle", "para", "ngram", "fingerprint",
    "ckey", "span", "token", "term",
)
# graph/entity keys with power-law degree (a hub node = one window task);
# windows partitioned ONLY by these flag as EntityKeyWindow — a bucket
# column alongside (two-level ranking) de-skews and passes
_ENTITY_KEY_NAMES = {
    "src", "dst", "node", "_dsrc", "doc_a", "doc_b", "center", "context",
    "u", "v", "a", "b",
}
_CONTENT_KEY_FUNCS = ("md5(", "sha2(", "sha1(", "hash(", "xxhash64(", "crc32(")


def _split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0 (window spec items may contain
    function calls with their own commas, e.g. md5(text#5))."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def window_flags(plan: str) -> list[str]:
    """ContentKeyWindow / GlobalWindow findings for one physical plan."""
    import re

    flags = []
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        items = _split_top_level(m.group(1).rstrip(", "))
        part_cols = [
            it for it in items if " ASC " not in it and " DESC " not in it
        ]
        if not part_cols:
            flags.append("GlobalWindow")
            continue
        bases = [
            re.sub(r"#\d+L?", "", col).strip().lower() for col in part_cols
        ]
        for col, base in zip(part_cols, bases):
            if (
                base in _CONTENT_KEY_NAMES
                or any(s in base for s in _CONTENT_KEY_SUBSTRINGS)
                or any(f in col.lower() for f in _CONTENT_KEY_FUNCS)
            ):
                flags.append(f"ContentKeyWindow({base})")
        if all(b in _ENTITY_KEY_NAMES for b in bases):
            flags.append(f"EntityKeyWindow({','.join(bases)})")
    return sorted(set(flags))


def pattern_flags(name: str, plan: str) -> list[str]:
    """The `WHITELIST` patterns `plan` carries that are not whitelisted
    for the query `name`."""
    return [p for p, allowed in WHITELIST.items() if p in plan and name not in allowed]


# the pattern name under which WINDOW_WHITELIST entries are checked
WINDOW = "Window"


def stale_entries(found: dict[str, set[str]]) -> list[tuple[str, str]]:
    """(pattern, query) for every whitelist entry whose query was audited
    (a key of `found`, mapped to the whitelisted patterns its plan
    carries, with `WINDOW` for any window flag) and whose plan no longer
    carries the pattern."""
    entries = [(p, q) for p, allowed in WHITELIST.items() for q in allowed]
    entries += [(WINDOW, q) for q in WINDOW_WHITELIST]
    return sorted((p, q) for p, q in entries if q in found and p not in found[q])


EXCHANGE_REPORT_THRESHOLD = 6


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from orion_spark.plans.queries import QUERIES
    from orion_spark.session import get_spark

    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    found: dict[str, set[str]] = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"plan compilation failed: {e}"))
            continue
        found[name] = {p for p in WHITELIST if p in plan}
        unlisted = pattern_flags(name, plan)
        failures += [(name, pattern) for pattern in unlisted]
        for pattern in sorted(found[name].difference(unlisted)):
            print(f"ok    {name}: {pattern} (whitelisted: {WHITELIST[pattern][name]})")
        if window_flags(plan):
            found[name].add(WINDOW)
        for wflag in window_flags(plan):
            if name in WINDOW_WHITELIST:
                print(
                    f"ok    {name}: {wflag} "
                    f"(whitelisted: {WINDOW_WHITELIST[name]})"
                )
            else:
                failures.append((name, wflag))
        # count real shuffles only — BroadcastExchange moves dimension
        # tables, not the data plane — and dedupe by plan_id (cached
        # InMemoryTableScan subtrees re-print their lineage; the same
        # physical exchange appears once per consumer in the text)
        import re

        n_ex = len(
            set(
                re.findall(
                    r"Exchange (?:hashpartitioning|rangepartitioning|"
                    r"SinglePartition)[^\n]*?plan_id=(\d+)",
                    plan,
                )
            )
        )
        if n_ex >= EXCHANGE_REPORT_THRESHOLD:
            print(f"note  {name}: {n_ex} shuffle Exchanges (review chain)")
    for pattern, name in stale_entries(found):
        failures.append((name, f"stale whitelist entry: no {pattern} in the plan"))

    if failures:
        print("\n== FLAGS ==")
        for name, what in failures:
            print(f"FLAG  {name}: {what}")
        return 1
    print("\n== plan audit clean ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
