"""Unit contract for tools/plan_audit.py's window lint: content-derived
window partition keys (the one shuffle AQE cannot skew-split) and
global no-partition windows are flagged; bounded entity keys pass. The
node patterns are pinned too: Python over Arrow batches is flagged.

The full-registry audit (python tools/plan_audit.py) is the CI gate;
this pins the classifier itself so a parser regression can't silently
stop flagging (round-9 verdict: the content-key window family was the
only 100x-scale plan defect — the lint is what keeps it from coming
back)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from plan_audit import window_flags  # noqa: E402

_FRAME = ", specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())"


def _spec(inner: str) -> str:
    return f"Window [row_number() windowspecdefinition({inner}{_FRAME})]"


def test_content_key_partition_flags():
    assert window_flags(_spec("h#14240, doc_id#14235L ASC NULLS FIRST")) == [
        "ContentKeyWindow(h)"
    ]
    assert window_flags(_spec("canon_url#12")) == ["ContentKeyWindow(canon_url)"]
    # expression keys: the hash function marks the key content-derived,
    # and the comma inside md5(...) must not split the item
    assert window_flags(
        _spec("md5(para#3), doc_id#1L ASC NULLS FIRST")
    ) == ["ContentKeyWindow(md5(para))"]


def test_bounded_entity_keys_pass():
    assert window_flags(_spec("user_id#1L, ts#2 ASC NULLS FIRST")) == []
    assert window_flags(_spec("query_id#5L, cosine#9 DESC NULLS LAST")) == []
    assert window_flags(_spec("_bkt#7L, doc_id#1L ASC NULLS FIRST")) == []


def test_global_window_flags():
    assert window_flags(
        _spec("score#5 DESC NULLS LAST, doc_id#6L ASC NULLS FIRST")
    ) == ["GlobalWindow"]


def test_deduped_flags_single_entry():
    two = _spec("h#1, doc_id#2L ASC NULLS FIRST") + _spec(
        "h#1, doc_id#2L ASC NULLS FIRST"
    )
    assert window_flags(two) == ["ContentKeyWindow(h)"]


def test_stale_whitelist_entries_flag():
    """A whitelist entry whose audited query no longer carries its
    pattern is stale; an entry whose query still carries it, or was not
    audited, is not."""
    from plan_audit import WINDOW, stale_entries

    bnlj = "BroadcastNestedLoopJoin"
    assert stale_entries({"ann_cosine_topk": {bnlj}}) == []
    assert stale_entries({"ann_cosine_topk": set()}) == [(bnlj, "ann_cosine_topk")]
    assert stale_entries({"text_bm25_topk": {bnlj, WINDOW}}) == []
    assert stale_entries({"text_bm25_topk": {bnlj}}) == [(WINDOW, "text_bm25_topk")]
    # a query no whitelist names, or none audited, flags nothing
    assert stale_entries({"graph_triangle_count": set()}) == []
    assert stale_entries({}) == []


def test_map_in_pandas_and_arrow_plans_flag(spark):
    """mapInPandas / mapInArrow plans print `MapInPandas` / `MapInArrow`
    (no `ArrowEvalPython`): each is flagged unless the query is
    whitelisted under that pattern."""
    from plan_audit import pattern_flags

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    pandas = plan(spark.range(4).mapInPandas(lambda it: it, schema="id long"))
    arrow = plan(spark.range(4).mapInArrow(lambda it: it, schema="id long"))
    assert pattern_flags("new_query", pandas) == ["MapInPandas"]
    assert pattern_flags("new_query", arrow) == ["MapInArrow"]
    assert pattern_flags("multimodal_decode_features", pandas) == []
