"""Batched external-service map providers (SURVEY §2.6 N1-N3).

The reference POSTs curie batches to NodeNorm / predicate batches to
EdgeNorm inside its single process (orion/normalization.py:134-317,
400-517). The Spark design makes the service call a *map-provider stage*:

    distinct keys  ->  mapInPandas(batched transport)  ->  norm-map table

- distinct() first: the service sees each key once no matter how many
  billions of rows reference it (the reference dedups the same way,
  orion/normalization.py:436-441).
- bounded parallelism: repartition the distinct keys to `max_parallelism`
  partitions; each partition issues sequential batched calls — a 1000-
  executor cluster won't DDoS the service.
- retry with exponential backoff on 5xx/429, mirroring
  orion/normalization.py:378-387 (5 tries, factor 2).
- the resulting map table is persisted + versioned by the caller
  (orion/kgx_file_normalizer.py:183-186 stores norm_node_map.json) so
  reruns never re-call the service.

The transport is injected, so tests run against a static dict and
production swaps in an HTTP POST without touching the plan.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NODE_NORM_SCHEMA = (
    "original_id string, normalized_ids array<string>, normalized_name string, "
    "normalized_categories array<string>, equivalent_identifiers array<string>, "
    "information_content double, taxa array<string>"
)

PREDICATE_NORM_SCHEMA = (
    "original_predicate string, normalized_predicate string, inverted boolean"
)

# Transport: list[str] keys -> dict[key -> result dict]. Missing keys mean
# normalization failure (empty mapping downstream).
Transport = Callable[[list[str]], dict[str, dict]]


def retrying(transport: Transport, retries: int = 5, backoff: float = 2.0) -> Transport:
    """Retry wrapper with exponential backoff (orion/normalization.py:380-387)."""

    def call(keys: list[str]) -> dict[str, dict]:
        delay = 1.0
        for attempt in range(retries):
            try:
                return transport(keys)
            except Exception:
                if attempt == retries - 1:
                    raise
                time.sleep(delay)
                delay *= backoff
        return {}

    return call


def dict_transport(mapping: dict[str, dict]) -> Transport:
    """Static-snapshot transport (tests / pre-downloaded service dumps)."""

    def call(keys: list[str]) -> dict[str, dict]:
        return {k: mapping[k] for k in keys if k in mapping}

    return call


def build_node_norm_map(
    ids: DataFrame,
    transport: Transport,
    batch_size: int = 5000,
    max_parallelism: int = 8,
    id_col: str = "id",
) -> DataFrame:
    """N1: distinct node ids -> normalization-map DataFrame.

    batch_size mirrors the reference's 5000-curie POST chunks
    (orion/normalization.py:157). Every input id gets a row; service misses
    produce an empty normalized_ids (strict mode drops them downstream).
    """
    distinct_ids = ids.select(F.col(id_col).alias("original_id")).distinct()
    distinct_ids = distinct_ids.repartition(max_parallelism)
    call = retrying(transport)

    def lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = pdf["original_id"].tolist()
            for i in range(0, len(keys), batch_size):
                chunk = keys[i : i + batch_size]
                results = call(chunk)
                rows = []
                for k in chunk:
                    r = results.get(k) or {}
                    rows.append(
                        {
                            "original_id": k,
                            "normalized_ids": r.get("normalized_ids", []),
                            "normalized_name": r.get("normalized_name"),
                            "normalized_categories": r.get("normalized_categories"),
                            "equivalent_identifiers": r.get("equivalent_identifiers"),
                            "information_content": r.get("information_content"),
                            "taxa": r.get("taxa"),
                        }
                    )
                yield pd.DataFrame(rows)

    return distinct_ids.mapInPandas(lookup, schema=NODE_NORM_SCHEMA)


def build_predicate_norm_map(
    edges: DataFrame,
    transport: Transport,
    batch_size: int = 100,
    predicate_col: str = "predicate",
) -> DataFrame:
    """N3: distinct predicates -> predicate map (100-per-call chunks,
    orion/normalization.py:427). The distinct predicate set is tiny; a
    single partition is correct — parallel HTTP here would be pure service
    abuse."""
    distinct_preds = (
        edges.select(F.col(predicate_col).alias("original_predicate"))
        .distinct()
        .coalesce(1)
    )
    call = retrying(transport)

    def lookup(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys = pdf["original_predicate"].tolist()
            for i in range(0, len(keys), batch_size):
                chunk = keys[i : i + batch_size]
                results = call(chunk)
                rows = []
                for k in chunk:
                    r = results.get(k) or {}
                    rows.append(
                        {
                            "original_predicate": k,
                            "normalized_predicate": r.get("normalized_predicate"),
                            "inverted": bool(r.get("inverted", False)),
                        }
                    )
                yield pd.DataFrame(rows)

    return distinct_preds.mapInPandas(lookup, schema=PREDICATE_NORM_SCHEMA)
