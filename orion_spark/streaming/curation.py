"""Streaming LLM-corpus curation: the batch curation funnel (quality
score -> language gate -> C4 line rules -> exact dedup) as a Structured
Streaming pipeline over an arriving document feed.

Shape: readStream (file source — at production scale a Kafka/queue source
with the same schema) -> stateless per-document scoring and filtering
(pure column expressions, so they run identically in micro-batch and
continuous modes) -> foreachBatch exact-dedup append sink. Cross-batch
dedup uses the accumulated sink itself as the seen-set (anti-join per
micro-batch), so restarts are idempotent without any driver-side state:
the checkpoint replays a batch, the anti-join drops what already landed.

Near-dup vs the EXISTING corpus is a standing gate: each micro-batch's
MinHash band keys probe a persisted LSH band store (llm/near_dup_history),
the same lifecycle as the exact-key blooms. Corpus-GLOBAL near-dup
clustering (pairing new docs with each other transitively) stays a
periodic batch job over the curated sink — that needs global candidate
generation per-batch streaming state cannot bound; the reference
pipeline batches it too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orion_spark.sources.kgx import read_parquet

DOCS_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)
# crawl-shaped feed: same documents plus the fetched URL, for the
# canonical-URL history gate (the cheapest drop in the funnel — it fires
# before any text processing)
DOCS_URL_SCHEMA = DOCS_SCHEMA + ", url string"


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int = 8,
    with_url: bool = False,
) -> DataFrame:
    return (
        spark.readStream.schema(DOCS_URL_SCHEMA if with_url else DOCS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def curate(
    docs: DataFrame,
    min_quality: float = 0.5,
    langs: tuple[str, ...] = ("en",),
    min_kept_lines: int = 1,
) -> DataFrame:
    """Stateless curation stage: per-document quality/language/C4 gates.
    Works on a stream or a static frame — pure column expressions."""
    from orion_spark.llm.textstats import lang_id, quality_score

    t = F.col("text")
    lines = F.split(t, "\n")
    kept = F.filter(
        lines,
        lambda x: (F.size(F.split(F.trim(x), r"\s+")) >= 5)
        & ~F.lower(x).contains("javascript"),
    )
    return (
        docs.withColumn("quality", quality_score(t))
        .withColumn("lang_pred", lang_id(t))
        .withColumn("clean_text", F.array_join(kept, "\n"))
        .where(
            (F.col("quality") >= min_quality)
            & F.col("lang_pred").isin(*langs)
            & (F.size(kept) >= min_kept_lines)
            & ~F.lower(t).contains("lorem ipsum")
        )
        .select(
            "doc_id", "source", "lang_pred", "quality", "clean_text",
            # crawl-shaped feeds carry the fetched URL through to the
            # sink's canonical-URL gate
            *(["url"] if "url" in docs.columns else []),
        )
    )


def curated_dedup_sink(
    spark: SparkSession,
    out_path: str,
    checkpoint: str,
    lm_model_path: str | None = None,
    max_bits_per_token: float | None = None,
    dsir_model_path: str | None = None,
    min_log_weight: float | None = None,
    bloom_history_path: str | None = None,
    update_bloom_history: bool = False,
    url_bloom_path: str | None = None,
    update_url_bloom: bool = False,
    near_dup_store_path: str | None = None,
    update_near_dup_store: bool = False,
    metrics_path: str | None = None,
    domain_blocklist_path: str | None = None,
    strict_exact: bool = False,
):
    """foreachBatch sink: drop docs whose clean-text hash already exists in
    the curated corpus (first batch wins), then drop intra-batch dups
    (min doc_id wins), then append. Replayed batches are no-ops — the
    anti-join sees their rows already landed.

    When the content bloom is a STANDING gate (`bloom_history_path` +
    `update_bloom_history=True`), the O(corpus)-per-trigger sink re-read
    is SKIPPED by default: the bitmap has no false negatives on the same
    clean-text identity the anti-join keys on, so every doc whose text
    already landed is dropped by the (fixed-size, map-only) bloom probe
    instead, and the intra-batch min-id collapse below still runs. The
    one semantic gap is the crash window between the parquet append and
    the bitmap fold-back — a batch replayed into that window re-appends
    its rows (at-least-once, healed by any dedup-on-read or the next
    compaction). `strict_exact=True` restores the sink re-read for
    exactly-once survivors at the O(corpus) per-trigger price.

    `lm_model_path` + `max_bits_per_token` add the CCNet-style perplexity
    gate: score each batch against a PERSISTED bigram LM
    (llm/textstats.save_lm_model — trained offline on a reference corpus)
    and drop documents above the bits-per-token ceiling. Deliberately
    inside foreachBatch: the scorer needs a per-doc lag window + an
    aggregate, which Structured Streaming forbids on unbounded streams
    but is ordinary static work on a micro-batch; the LM count tables
    are the stream-static side, read once per batch and
    vocabulary-sized. This is the production shape — the model artifact
    refreshes on its own cadence, the stream just joins it. Either
    setting without the other raises ValueError: a gate that filters
    nothing must not pass for one that does. The same holds for the DSIR
    pair below.

    `dsir_model_path` + `min_log_weight` add the DSIR target-likeness
    gate the same way: score each batch against a PERSISTED log-ratio
    dim (llm/dsir.save_dsir_model — fit offline on the target corpus +
    a raw-pool sample) and drop documents below the floor. Same
    foreachBatch rationale as the LM gate (per-doc aggregate), same
    stream-static model artifact, bucket-count-sized.

    `bloom_history_path` adds the historical-corpus gate: a persisted
    Bloom bitmap (llm/bloom.save_bloom — built offline over the existing
    corpus's clean-text) probed per batch as a broadcast map-only pass.
    Unlike the sink anti-join below — which re-reads the accumulated sink
    every batch, O(corpus) per trigger — the bloom is fixed-size however
    large the history, which is what makes "never re-ingest anything from
    the last 100 TB" affordable per micro-batch. Sound (no false
    negatives); over-drops at the filter's FP rate.

    `update_bloom_history=True` makes it a STANDING gate (the same
    lifecycle the batch CLI's `bloom-dedup filter --update` exposes):
    after each batch's survivors land, their clean-text keys are folded
    back into the persisted bitmap (bloom_build delta + bloom_merge +
    save_bloom), so the NEXT micro-batch — and the next stream run —
    sees them without ever re-reading the accumulated sink. A replayed
    batch (checkpoint recovery) finds its own keys already folded and
    drops itself: idempotent restarts through the bitmap alone.

    `url_bloom_path` adds the canonical-URL history gate — the first gate
    WITHIN this sink (curate()'s stateless quality/language/line gates run
    upstream in the stream itself), and the cheapest of the sink gates:
    the batch's `url` column is canonicalized (llm/urls.canonicalize_url —
    pure expressions) and probed against a persisted Bloom of
    previously-fetched canonical URLs, then intra-batch canonical
    duplicates collapse to the minimum doc id. This is the crawl-frontier
    discipline: a re-spelled URL (tracking params, www., fragment, param
    order) never reaches the content gates below. Null/empty canonical
    URLs (a null url canonicalizes to null) pass through ungated as their
    own documents — null is not a page identity, and collapsing all
    null-url docs to one keeper would silently drop distinct documents.
    `update_url_bloom=True` folds survivors' canonical URLs back, making
    it a standing gate with the same idempotent-restart property as the
    content bitmap.

    `near_dup_store_path` adds the NEAR-duplicate history gate
    (llm/near_dup_history): the batch's clean-text MinHash band keys are
    probed against the persisted LSH band store — a document whose
    Jaccard similarity to ANY historical document exceeds the banding's
    threshold collides on some band and is dropped, closing the gap the
    exact-key gates leave (one changed word defeats both blooms).
    `update_near_dup_store=True` appends survivors' band keys — O(batch)
    per trigger, never a history rewrite — so the next micro-batch and
    the next run see them; a replayed batch finds its own keys already
    appended and drops itself (idempotent restarts, same property as the
    bitmap gates).

    `domain_blocklist_path` adds the UT1/FineWeb-style domain gate as the
    FIRST sink gate: a persisted one-column (`domain`) parquet blocklist,
    matched against each url host's dot-suffix chain
    (llm/urls.domain_blocklist_filter), so a blocked domain's subdomains
    drop too, before any history probing.

    `metrics_path` (observability): when set, one JSON line is appended
    per micro-batch recording the surviving row count after every gate
    (batch_id, input, blocklist_gate, url_gate, near_dup_gate,
    bloom_gate, lm_gate, dsir_gate, exact_dedup) — the per-gate drop accounting the batch
    funnel already reports, for streams. Counting is extra work per
    trigger, so it is opt-in; each marked stage is persisted for the
    batch's lifetime so a gate's count executes only the increment since
    the previous gate and the final write reads the last cache — one
    pass over the funnel total, not one full re-execution per gate."""
    for path_arg, path, bound_arg, bound in (
        ("lm_model_path", lm_model_path, "max_bits_per_token", max_bits_per_token),
        ("dsir_model_path", dsir_model_path, "min_log_weight", min_log_weight),
    ):
        if (path is None) != (bound is None):
            raise ValueError(
                f"{path_arg} and {bound_arg} must be set together "
                f"(got {path_arg}={path!r}, {bound_arg}={bound!r})"
            )
    if near_dup_store_path is not None:
        import json as _json
        import warnings

        try:
            with open(
                os.path.join(near_dup_store_path, "_band_store_meta.json")
            ) as fh:
                _n_rpb = _json.load(fh).get("rows_per_band", 1)
        except OSError:
            _n_rpb = None
        if _n_rpb == 1:
            # the gate drops with NO verify stage (history text is not
            # stored), and 1-row bands fire at ~97% for Jaccard 0.3 with
            # the default 16 lanes — merely-similar documents silently
            # vanish from the stream (ADVICE r10)
            warnings.warn(
                "near-dup band store at rows_per_band=1 wired as a DROP "
                "gate: 1-row bands are the maximal-recall candidate-"
                "generation setting (P(hit) ~97% at Jaccard 0.3, 16 "
                "lanes) and this gate has no verification stage. Build "
                "the store with rows_per_band>=4 unless aggressive "
                "over-dropping is intended.",
                stacklevel=2,
            )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        counts: dict[str, int] = {}
        cached: list[DataFrame] = []
        try:
            _run(batch_df, batch_id, counts, cached)
        finally:
            for f in cached:
                f.unpersist()

    def _run(
        batch_df: DataFrame,
        batch_id: int,
        counts: dict[str, int],
        cached: list[DataFrame],
    ) -> None:
        b = batch_df

        def _mark(stage: str, frame: DataFrame) -> DataFrame:
            if metrics_path is not None:
                frame = frame.persist()
                cached.append(frame)
                counts[stage] = frame.count()
            return frame

        b = _mark("input", b)
        if domain_blocklist_path is not None:
            if "url" not in b.columns:
                raise ValueError(
                    "domain_blocklist_path is set but the batch has no "
                    "'url' column — read the stream with with_url=True"
                )
            from orion_spark.llm.urls import domain_blocklist_filter

            bl = read_parquet(spark, domain_blocklist_path)
            b = _mark(
                "blocklist_gate", domain_blocklist_filter(b, bl)
            )
        if url_bloom_path is not None:
            if "url" not in b.columns:
                # a silently-skipped gate is worse than a loud failure:
                # the caller asked for URL-history dedup but the stream
                # was read without with_url=True
                raise ValueError(
                    "url_bloom_path is set but the batch has no 'url' "
                    "column — read the stream with with_url=True"
                )
            from orion_spark.llm.bloom import bloom_probe, load_bloom
            from orion_spark.llm.urls import canonicalize_url

            ubloom, um_bits, uk = load_bloom(spark, url_bloom_path)
            b = b.withColumn("_canon_url", canonicalize_url(F.col("url")))
            # null urls are not a page identity: they skip the probe AND
            # the intra-batch collapse (otherwise all null-url docs form
            # one group and the min-id keep drops distinct documents)
            no_key = b.where(F.col("_canon_url").isNull())
            keyed = b.where(F.col("_canon_url").isNotNull())
            keyed = (
                bloom_probe(keyed, ubloom, "_canon_url", um_bits, uk)
                .where(~F.col("bloom_hit"))
                .drop("bloom_hit")
            )
            ukeep = keyed.groupBy("_canon_url").agg(
                F.min("doc_id").alias("doc_id")
            )
            keyed = keyed.join(ukeep, ["_canon_url", "doc_id"], "left_semi")
            b = _mark("url_gate", keyed.unionByName(no_key))
        if near_dup_store_path is not None:
            from orion_spark.llm.near_dup_history import (
                band_store_probe,
                load_band_store,
            )

            nstore, nk, nh, nr = load_band_store(spark, near_dup_store_path)
            b = _mark(
                "near_dup_gate",
                band_store_probe(
                    b, nstore, text_col="clean_text", id_col="doc_id",
                    k=nk, num_hashes=nh, rows_per_band=nr,
                )
                .where(~F.col("near_dup_hit"))
                .drop("near_dup_hit"),
            )
        if bloom_history_path is not None:
            from orion_spark.llm.bloom import bloom_probe, load_bloom

            bloom, m_bits, k = load_bloom(spark, bloom_history_path)
            b = _mark(
                "bloom_gate",
                bloom_probe(b, bloom, "clean_text", m_bits, k)
                .where(~F.col("bloom_hit"))
                .drop("bloom_hit"),
            )
        if lm_model_path is not None:
            from orion_spark.llm.textstats import score_with_lm_model

            scores = score_with_lm_model(
                spark, b, lm_model_path, text_col="clean_text"
            ).where(F.col("bits_per_token") <= max_bits_per_token)
            b = _mark(
                "lm_gate", b.join(scores.select("doc_id"), "doc_id", "left_semi")
            )
        if dsir_model_path is not None:
            from orion_spark.llm.dsir import score_with_dsir_model

            w = score_with_dsir_model(
                spark, b, dsir_model_path, text_col="clean_text"
            ).where(F.col("log_weight") >= min_log_weight)
            b = _mark(
                "dsir_gate", b.join(w.select("doc_id"), "doc_id", "left_semi")
            )
        b = b.withColumn("content_key", F.md5("clean_text"))
        # the standing content bitmap already drops every previously-
        # landed clean-text identity (no false negatives), so the
        # O(corpus)-per-trigger sink re-read is pure redundancy unless
        # the caller demands exactly-once survivors across the
        # append→fold crash window (strict_exact)
        standing_exact = bloom_history_path is not None and update_bloom_history
        if os.path.exists(out_path) and (strict_exact or not standing_exact):
            seen = read_parquet(spark, out_path).select("content_key").distinct()
            b = b.join(seen, "content_key", "left_anti")
        keep = b.groupBy("content_key").agg(F.min("doc_id").alias("doc_id"))
        out = b.join(keep, ["content_key", "doc_id"], "left_semi")
        if metrics_path is None:
            # the write plus up to three update-delta actions below each
            # re-execute the whole funnel otherwise
            out = out.persist()
            cached.append(out)
        out = _mark("exact_dedup", out)
        out.drop("_canon_url").write.mode("append").parquet(out_path)
        if metrics_path is not None:
            import json

            rec = json.dumps({"batch_id": batch_id, **counts})
            with open(metrics_path, "a") as fh:
                fh.write(rec + "\n")
        if near_dup_store_path is not None and update_near_dup_store:
            from orion_spark.llm.near_dup_history import (
                append_band_store,
                load_band_store as _load_store,
                minhash_band_keys,
            )

            _, nk, nh, nr = _load_store(spark, near_dup_store_path)
            delta_keys = (
                minhash_band_keys(
                    out, text_col="clean_text", id_col="doc_id",
                    k=nk, num_hashes=nh, rows_per_band=nr,
                )
                .select("band", "bv")
                .distinct()
                .localCheckpoint(eager=True)
            )
            if delta_keys.take(1):
                append_band_store(delta_keys, near_dup_store_path)
        if url_bloom_path is not None and update_url_bloom \
                and "_canon_url" in out.columns:
            from orion_spark.llm.bloom import (
                bloom_build, bloom_merge, load_bloom, save_bloom,
            )

            delta_urls = out.select("_canon_url").where(
                F.col("_canon_url").isNotNull()
            )
            if delta_urls.take(1):
                ubloom, um_bits, uk = load_bloom(spark, url_bloom_path)
                delta = bloom_build(
                    delta_urls, key_col="_canon_url", m_bits=um_bits, k=uk
                )
                merged = bloom_merge(ubloom, delta).localCheckpoint(eager=True)
                save_bloom(merged, url_bloom_path, m_bits=um_bits, k=uk)
        if bloom_history_path is not None and update_bloom_history:
            from orion_spark.llm.bloom import (
                bloom_build, bloom_merge, load_bloom, save_bloom,
            )

            # fold only this batch's survivor keys — one batch's worth of
            # rows, not the accumulated sink
            delta_keys = out.select("clean_text")
            if delta_keys.take(1):
                bloom, m_bits, k = load_bloom(spark, bloom_history_path)
                delta = bloom_build(
                    delta_keys, key_col="clean_text", m_bits=m_bits, k=k
                )
                merged = bloom_merge(bloom, delta).localCheckpoint(eager=True)
                save_bloom(merged, bloom_history_path, m_bits=m_bits, k=k)

    return _process


def run_curation_stream(
    spark: SparkSession,
    src_path: str,
    out_path: str,
    checkpoint: str,
    lm_model_path: str | None = None,
    max_bits_per_token: float | None = None,
    dsir_model_path: str | None = None,
    min_log_weight: float | None = None,
    bloom_history_path: str | None = None,
    update_bloom_history: bool = False,
    url_bloom_path: str | None = None,
    update_url_bloom: bool = False,
    near_dup_store_path: str | None = None,
    update_near_dup_store: bool = False,
    metrics_path: str | None = None,
    domain_blocklist_path: str | None = None,
    strict_exact: bool = False,
    **curate_kwargs,
) -> None:
    """availableNow run: process everything currently in the source,
    checkpointed so a rerun only handles new files.

    Observability: the stream carries two `observe` nodes — `funnel_input`
    (rows entering curate) and `funnel_curated` (rows surviving the
    stateless gates) — surfaced in every StreamingQueryProgress
    `observedMetrics` payload; `metrics_path` adds the sink's per-gate
    survivor counts (one JSON line per micro-batch)."""
    docs = read_document_stream(
        spark, src_path,
        with_url=url_bloom_path is not None
        or domain_blocklist_path is not None,
    ).observe("funnel_input", F.count(F.lit(1)).alias("rows"))
    stream = curate(docs, **curate_kwargs).observe(
        "funnel_curated", F.count(F.lit(1)).alias("rows")
    )
    (
        stream.writeStream.foreachBatch(
            curated_dedup_sink(
                spark, out_path, checkpoint,
                lm_model_path=lm_model_path,
                max_bits_per_token=max_bits_per_token,
                dsir_model_path=dsir_model_path,
                min_log_weight=min_log_weight,
                bloom_history_path=bloom_history_path,
                update_bloom_history=update_bloom_history,
                url_bloom_path=url_bloom_path,
                update_url_bloom=update_url_bloom,
                near_dup_store_path=near_dup_store_path,
                update_near_dup_store=update_near_dup_store,
                metrics_path=metrics_path,
                domain_blocklist_path=domain_blocklist_path,
                strict_exact=strict_exact,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
