"""Build orchestration (SURVEY §3): GraphSpec parsing, content-addressed
versioning, stage gating, merge-strategy execution.

This layer is deliberately driver-side Python — the reference's most
valuable "optimization" is its content-addressed rebuild skip
(orion/graph_pipeline.py:84-123), which is orchestration, not dataflow.
Steps 1-3 of the build lifecycle (parse/plan, version resolution, dependency
resolution) stay here; steps 4-5 (merge + artifacts) are DataFrame jobs.

Versioning: build_version = stable hash over
(source_id, source_version, parsing_version, normalization_version,
supplementation_version), composed per-graph from the sorted source
build_versions + merge strategies — the same canonicalization as
orion/metadata.py:229-239 and orion/graph_pipeline.py:319-346, using md5
hex (the engine's stable key family; the reference uses xxh64 — SURVEY
§7.4.2 declares the engine-native key acceptable as long as it is
deterministic end-to-end).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from contextlib import nullcontext
from dataclasses import dataclass, field

import yaml
from pyspark.sql import SparkSession

from orion_spark.operators.merge import (
    connected_edge_subset,
    merge_edges,
    merge_nodes,
    union_all,
)
from orion_spark.sinks.metadata import write_metadata_sidecars
from orion_spark.sources.kgx import read_bundle, write_bundle

STAGES = ("fetch", "parse", "normalize", "supplement", "qc")
STATUS = ("not_started", "in_progress", "stable", "broken", "failed")


def stable_hash(*parts: str) -> str:
    """Deterministic 16-hex-char content key (stands in for the reference's
    xxh64 hex digests, orion/metadata.py:229-239)."""
    return hashlib.md5("_".join(parts).encode()).hexdigest()[:16]


@dataclass
class GraphSource:
    """One source in a graph recipe (orion/kgxmodel.py:90-127)."""

    source_id: str
    source_version: str = "latest"
    parsing_version: str = "1.0"
    normalization_version: str = "1.0"
    supplementation_version: str = "1.0"
    merge_strategy: str = "default"  # default | connected_edge_subset | dont_merge

    @property
    def build_version(self) -> str:
        return stable_hash(
            self.source_id,
            self.source_version,
            self.parsing_version,
            self.normalization_version,
            self.supplementation_version,
        )


@dataclass
class GraphSpec:
    """Declarative build recipe (orion/kgxmodel.py:41-77), YAML-compatible
    with the reference's graph_specs/*.yaml shape."""

    graph_id: str
    sources: list[GraphSource]
    graph_name: str = ""
    output_format: str = "parquet"
    add_edge_id: bool = True
    # 'orion' (md5 hex) | 'uuid' (RFC-4122 v5, reference-exact) | 'uuid_md5'
    # (SQL-reproducible RFC-4122; orion/kgxmodel.py:55-57,
    # graph_pipeline.py:693-694)
    edge_id_type: str = "orion"
    overwrite_edge_ids: bool = True
    edge_merging_attributes: list[str] = field(default_factory=list)

    def __post_init__(self):
        from orion_spark.operators.merge import EDGE_ID_TYPES

        if self.edge_id_type not in EDGE_ID_TYPES:
            raise ValueError(
                f"Invalid edge_id_type: {self.edge_id_type}, "
                f"must be one of {EDGE_ID_TYPES}."
            )

    @property
    def build_version(self) -> str:
        parts = [s.build_version for s in self.sources] + [
            s.merge_strategy for s in self.sources
        ]
        return stable_hash(self.graph_id, *parts)


def parse_graph_spec(yaml_text: str) -> list[GraphSpec]:
    """Parse the reference's graph-spec YAML layout
    (orion/graph_pipeline.py:663-763)."""
    doc = yaml.safe_load(yaml_text)
    specs = []
    for g in doc.get("graphs", []):
        sources = [
            GraphSource(
                source_id=s["source_id"],
                source_version=str(s.get("source_version", "latest")),
                parsing_version=str(s.get("parsing_version", "1.0")),
                normalization_version=str(s.get("normalization_version", "1.0")),
                supplementation_version=str(s.get("supplementation_version", "1.0")),
                merge_strategy=s.get("merge_strategy", "default"),
            )
            for s in g.get("sources", [])
        ]
        if not sources:
            raise ValueError(f"graph {g.get('graph_id')} has no sources")
        specs.append(
            GraphSpec(
                graph_id=g["graph_id"],
                graph_name=g.get("graph_name", ""),
                sources=sources,
                output_format=g.get("output_format", "parquet"),
                add_edge_id=bool(g.get("add_edge_id", True)),
                edge_id_type=g.get("edge_id_type") or "orion",
                overwrite_edge_ids=bool(g.get("overwrite_edge_ids", True)),
                edge_merging_attributes=list(g.get("edge_merging_attributes", [])),
            )
        )
    ids = [s.graph_id for s in specs]
    if len(set(ids)) != len(ids):
        raise ValueError(f"duplicate graph ids in spec: {ids}")
    return specs


# ---------------------------------------------------------------------------
# Release versioning (orion/graph_versioning.py:50-72, release selection
# orion/graph_pipeline.py:384-397)
# ---------------------------------------------------------------------------

def bump_semver(version: str, part: str = "patch") -> str:
    """Semver arithmetic: bump major/minor/patch, zeroing lower parts."""
    major, minor, patch = (int(x) for x in version.split("."))
    if part == "major":
        return f"{major + 1}.0.0"
    if part == "minor":
        return f"{major}.{minor + 1}.0"
    if part == "patch":
        return f"{major}.{minor}.{patch + 1}"
    raise ValueError(f"unknown semver part {part}")


def select_release_version(
    build_version: str,
    existing_releases: dict[str, str],
    bump: str = "minor",
    base: str = "1.0.0",
) -> str:
    """Pick the release semver for a build: reuse the release already mapped
    to this content hash (rebuilds are no-ops), else bump the highest
    existing release (first release gets `base`)."""
    for release, bv in existing_releases.items():
        if bv == build_version:
            return release
    if not existing_releases:
        return base
    latest = max(
        existing_releases, key=lambda v: tuple(int(x) for x in v.split("."))
    )
    return bump_semver(latest, bump)


# ---------------------------------------------------------------------------
# Stage-status metadata (orion/metadata.py:10-14, orion/ingest_pipeline.py:107-122)
# ---------------------------------------------------------------------------

class SourceMetadata:
    """Persisted per-source stage gates; a stage marked stable for the
    current composite version is skipped on rebuild."""

    def __init__(self, storage: str, source_id: str):
        self.path = os.path.join(storage, source_id, "metadata.json")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        self._data = {}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self._data = json.load(fh)

    def status(self, stage: str, version: str) -> str:
        return self._data.get(version, {}).get(stage, "not_started")

    def set_status(self, stage: str, version: str, status: str) -> None:
        assert stage in STAGES and status in STATUS
        self._data.setdefault(version, {})[stage] = status
        with open(self.path, "w") as fh:
            json.dump(self._data, fh, indent=2)

    def is_stable(self, stage: str, version: str) -> bool:
        return self.status(stage, version) == "stable"


# ---------------------------------------------------------------------------
# Graph build (step 4-5 of §3.1): merge strategies + artifacts
# ---------------------------------------------------------------------------

def build_graph(
    spark: SparkSession,
    spec: GraphSpec,
    source_bundles: dict[str, str],
    storage: str,
    force: bool = False,
    recorder=None,
) -> str:
    """Merge the spec's sources into one bundle under
    {storage}/graphs/{graph_id}/{build_version}/ with metadata sidecars.
    Returns the bundle path; skips the whole build if it already exists for
    this content hash (the reference's rebuild-avoidance,
    orion/graph_pipeline.py:84-91).

    Merge strategy semantics (orion/kgx_file_merger.py:37-100):
    - `default` sources merge fully (A3 groupBy-agg)
    - `connected_edge_subset` keeps only rows touching the primary set (J4)
    - `dont_merge` appends verbatim after the merge

    `recorder` (plans/stage_metrics.PhaseRecorder) runs the build's
    actions as named phases, each under its own job group, so the status
    tracker or the event log can attribute their jobs, tasks and shuffle
    bytes (see tools/build_stage_metrics.py). The bundle reads stay under
    the caller's job group, and without a recorder the build sets none.
    The phases:
    - write_nodes / write_edges: the merge lineage executes here, and the
      writes observe the merged node and edge counts;
    - metadata_sidecars: the node census, edge census and spo-type census
      over the written bundle, which is read back with the written
      frames' schemas (no inference job);
    - merge_report: one job counting both raw source sides.
    """
    phase = recorder.phase if recorder else lambda _: nullcontext()
    out_dir = os.path.join(storage, "graphs", spec.graph_id, spec.build_version)
    done_marker = os.path.join(out_dir, "_BUILD_COMPLETE")
    if os.path.exists(done_marker) and not force:
        return out_dir

    # size the initial shuffle partitioning to this build's actual inputs
    # (AQE coalesces the over-provision down; see session.autoscale_shuffle)
    from orion_spark.session import autoscale_shuffle

    autoscale_shuffle(spark, *source_bundles.values())

    primary_nodes, primary_edges = [], []
    subset_sources, verbatim = [], []
    for src in spec.sources:
        nodes, edges = read_bundle(spark, source_bundles[src.source_id])
        if src.merge_strategy == "default":
            primary_nodes.append(nodes)
            primary_edges.append(edges)
        elif src.merge_strategy == "connected_edge_subset":
            subset_sources.append((nodes, edges))
        elif src.merge_strategy == "dont_merge":
            verbatim.append((nodes, edges))
        else:
            raise ValueError(f"unknown merge strategy {src.merge_strategy}")

    # source ordinal = spec order: "first wins" is file order in the
    # reference (SURVEY §7.4.1) — stamped per source before the union
    from pyspark.sql import functions as F

    def stamp(dfs):
        return [
            df.withColumn("_source_ordinal", F.lit(i)) for i, df in enumerate(dfs)
        ]

    merged_nodes = merge_nodes(union_all(stamp(primary_nodes)))
    merged_edges = merge_edges(
        union_all(stamp(primary_edges)),
        edge_merging_attributes=spec.edge_merging_attributes or None,
        assign_id=spec.add_edge_id,
        edge_id_type=spec.edge_id_type,
        overwrite_edge_ids=spec.overwrite_edge_ids,
    )

    for sec_nodes, sec_edges in subset_sources:
        keep_nodes, keep_edges = connected_edge_subset(
            merged_nodes, sec_nodes, sec_edges
        )
        merged_nodes = merge_nodes(
            union_all(stamp([merged_nodes, keep_nodes]))
        )
        merged_edges = merge_edges(
            union_all(stamp([merged_edges, keep_edges])),
            edge_merging_attributes=spec.edge_merging_attributes or None,
            assign_id=spec.add_edge_id,
            edge_id_type=spec.edge_id_type,
            overwrite_edge_ids=spec.overwrite_edge_ids,
        )

    for v_nodes, v_edges in verbatim:
        merged_nodes = union_all([merged_nodes, v_nodes]).dropDuplicates(["id"])
        merged_edges = union_all([merged_edges, v_edges])

    merged_counts = write_bundle(
        merged_nodes, merged_edges, out_dir, fmt=spec.output_format,
        recorder=recorder, collect_counts=True,
    )
    nodes_back, edges_back = read_bundle(
        spark, out_dir, fmt=spec.output_format,
        schemas=(merged_nodes.schema, merged_edges.schema),
    )
    with phase("metadata_sidecars"):
        write_metadata_sidecars(
            spec.graph_id, spec.build_version, nodes_back, edges_back, out_dir
        )
    # merge counters sidecar (kgx_file_merger.py:84-100): totals across
    # every source tier (primary + subset + verbatim) vs the final bundle,
    # whose counts the write observed
    from orion_spark.operators.metrics import merge_report
    from orion_spark.sinks.metadata import write_merge_sidecar

    raw_nodes = union_all(
        primary_nodes
        + [n for n, _ in subset_sources]
        + [n for n, _ in verbatim]
    )
    raw_edges = union_all(
        primary_edges
        + [e for _, e in subset_sources]
        + [e for _, e in verbatim]
    )
    with phase("merge_report"):
        write_merge_sidecar(
            merge_report(raw_nodes, raw_edges, *merged_counts), out_dir
        )
    with open(done_marker, "w") as fh:
        fh.write(spec.build_version)
    return out_dir


# ---------------------------------------------------------------------------
# Source resolution (orion/source_resolution.py:39-76): resolve a spec
# source as an on-disk bundle by tier — local, then registry, then produce.
# Only an unpinned source may be produced on a miss; a pinned source that
# misses both local and registry fails to resolve (same contract).
# ---------------------------------------------------------------------------

BUNDLE_MARKER = "_BUNDLE_COMPLETE"


class SourceResolutionError(RuntimeError):
    pass


def _clear_stale_bundle_dir(path: str) -> None:
    """Remove a marker-less leftover bundle directory.

    A producer that crashed mid-write leaves `path` as a dirty directory
    without its _BUNDLE_COMPLETE marker; a later os.rename(staging, path)
    would then raise ENOTEMPTY forever. Only marker-less directories are
    removed — a completed bundle is never touched (same stale-leftover
    discipline as compact_table/publish_graph)."""
    if os.path.isdir(path) and not os.path.exists(
        os.path.join(path, BUNDLE_MARKER)
    ):
        shutil.rmtree(path)


class FileSystemRegistry:
    """Registry client over a shared directory tree — the same protocol
    surface as the reference's GraphRegistryClient (has/fetch/publish by
    (source_id, build_version)), with the transport swapped for copytree;
    an HTTP-backed client is a drop-in replacement. Bundles are stored
    content-addressed under {root}/{source_id}/{build_version}."""

    def __init__(self, root: str):
        self.root = root

    def _dir(self, source_id: str, build_version: str) -> str:
        return os.path.join(self.root, source_id, build_version)

    def has_bundle(self, source_id: str, build_version: str) -> bool:
        return os.path.exists(
            os.path.join(self._dir(source_id, build_version), BUNDLE_MARKER)
        )

    def fetch_bundle(
        self, source_id: str, build_version: str, dest_dir: str
    ) -> bool:
        src = self._dir(source_id, build_version)
        if not os.path.exists(os.path.join(src, BUNDLE_MARKER)):
            return False
        staging = dest_dir + ".fetching"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        shutil.copytree(src, staging)
        _clear_stale_bundle_dir(dest_dir)
        os.rename(staging, dest_dir)  # marker travels inside the copy
        return True

    def publish_bundle(
        self, source_id: str, build_version: str, bundle_dir: str
    ) -> None:
        dest = self._dir(source_id, build_version)
        if os.path.exists(os.path.join(dest, BUNDLE_MARKER)):
            return  # content-addressed: same key -> same bundle
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        staging = dest + ".publishing"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        shutil.copytree(bundle_dir, staging)
        _clear_stale_bundle_dir(dest)
        os.rename(staging, dest)


class SourceResolver:
    """local -> registry -> produce (orion/source_resolution.py:39-43).

    `producers` maps source_id to a zero-arg callable that writes the
    bundle into the given directory (the parse pipeline for a parser
    source, a recursive graph build for a graph dependency). A resolved
    produce is published back to the registry so every later builder gets
    a registry hit — the content key (build_version) makes the reuse safe.
    ``last_tier`` records how the most recent resolve succeeded."""

    def __init__(
        self,
        storage: str,
        registry: FileSystemRegistry | None = None,
        producers: dict | None = None,
    ):
        self.storage = storage
        self.registry = registry
        self.producers = producers or {}
        self.last_tier: str | None = None

    def _local_dir(self, source_id: str, build_version: str) -> str:
        return os.path.join(self.storage, "sources", source_id, build_version)

    def resolve(self, source_id: str, build_version: str, pinned: bool = True) -> str:
        local = self._local_dir(source_id, build_version)
        if os.path.exists(os.path.join(local, BUNDLE_MARKER)):
            self.last_tier = "local"
            return local
        if self.registry is not None and self.registry.fetch_bundle(
            source_id, build_version, local
        ):
            self.last_tier = "registry"
            return local
        producer = self.producers.get(source_id)
        if pinned or producer is None:
            raise SourceResolutionError(
                f"{source_id}@{build_version}: not local, not in registry, "
                + ("pinned sources are never produced" if pinned else "no producer")
            )
        _clear_stale_bundle_dir(local)  # crashed prior produce leaves junk
        os.makedirs(local, exist_ok=True)
        producer(local)
        with open(os.path.join(local, BUNDLE_MARKER), "w") as fh:
            fh.write(build_version)
        if self.registry is not None:
            self.registry.publish_bundle(source_id, build_version, local)
        self.last_tier = "produce"
        return local


# ---------------------------------------------------------------------------
# Supplementation stage (orion/supplementation.py:89-135
# find_supplemental_data): variant nodes -> VCF -> annotator subprocess ->
# annotated VCF -> supplemental KGX merged back into the bundle
# ---------------------------------------------------------------------------

def supplement_graph(
    spark: SparkSession,
    bundle_dir: str,
    workspace_dir: str,
    annotator_command: list[str],
    fmt: str = "parquet",
) -> dict:
    """Run the supplementation stage over a built bundle: extract the
    SequenceVariant nodes, round-trip through the external annotator
    (injectable command — production passes the snpEff java invocation,
    tests a fake binary), parse the annotations declaratively, and merge
    the supplemental gene nodes + variant-gene edges back into the bundle
    (the reference then normalizes the supplemental files; here they join
    the ordinary bundle merge). Returns the reference-shaped metadata dict
    (SnpEffVersion/SnpEffCmd + row counts)."""
    from pyspark.sql import functions as F

    from orion_spark.operators.supplement import (
        parse_snpeff_metadata,
        run_annotator,
        snpeff_annotations_to_kgx,
        variant_nodes_to_vcf,
    )

    nodes, edges = read_bundle(spark, bundle_dir, fmt=fmt)
    os.makedirs(workspace_dir, exist_ok=True)
    vcf_dir = os.path.join(workspace_dir, "variants_vcf")
    annotated = os.path.join(workspace_dir, "variants_ann.vcf")
    variant_nodes_to_vcf(nodes, vcf_dir)
    run_annotator(vcf_dir, annotated, annotator_command)
    supp_nodes, supp_edges = snpeff_annotations_to_kgx(spark, annotated)
    meta = parse_snpeff_metadata(annotated)

    merged_nodes = merge_nodes(
        union_all(
            [
                nodes.withColumn("_source_ordinal", F.lit(0)),
                supp_nodes.withColumn("_source_ordinal", F.lit(1)),
            ]
        )
    )
    merged_edges = union_all(
        [edges, supp_edges]
    )  # supplemental edges are new by construction (distinct provenance)
    out_dir = os.path.join(workspace_dir, "supplemented")
    write_bundle(merged_nodes, merged_edges, out_dir, fmt=fmt)
    meta["supp_node_count"] = supp_nodes.count()
    meta["supp_edge_count"] = supp_edges.count()
    meta["bundle_dir"] = out_dir
    return meta


# ---------------------------------------------------------------------------
# Publish (§3.3: orion/cli/publish_graphs.py:117-143; staged atomic copy
# 55-95) — promote a completed build dir to a release-semver dir
# ---------------------------------------------------------------------------

def publish_graph(
    storage: str, graph_id: str, build_version: str, bump: str = "minor"
) -> tuple[str, str]:
    """Promote `{storage}/graphs/{graph_id}/{build_version}` to
    `{storage}/releases/{graph_id}/{release}`:

    - the release semver comes from `select_release_version` — a
      build_version already published re-returns its existing release
      (publishing is idempotent, like the reference's rebuild skip)
    - the copy is staged into a dot-prefixed temp dir and promoted with an
      atomic rename, so readers never observe a half-copied release
    - `releases.json` maps release -> build_version (the registry the
      version selector consults)

    Returns (release_version, release_dir).
    """
    build_dir = os.path.join(storage, "graphs", graph_id, build_version)
    if not os.path.exists(os.path.join(build_dir, "_BUILD_COMPLETE")):
        raise FileNotFoundError(f"no completed build at {build_dir}")
    releases_dir = os.path.join(storage, "releases", graph_id)
    os.makedirs(releases_dir, exist_ok=True)
    index_path = os.path.join(releases_dir, "releases.json")
    index: dict[str, str] = {}
    if os.path.exists(index_path):
        with open(index_path) as fh:
            index = json.load(fh)
    release = select_release_version(build_version, index, bump=bump)
    release_dir = os.path.join(releases_dir, release)
    marker = os.path.join(release_dir, "_RELEASE_OF")
    if os.path.exists(release_dir):
        # The dir may be a crashed prior publish of a DIFFERENT build that
        # never made it into releases.json — verify provenance before
        # treating it as ours (the marker travels inside the staged copy,
        # so it exists the instant the dir does).
        owner = None
        if os.path.exists(marker):
            with open(marker) as fh:
                owner = fh.read().strip()
        if owner != build_version:
            raise FileExistsError(
                f"release dir {release_dir} belongs to build "
                f"{owner!r}, not {build_version!r}"
            )
        if index.get(release) != build_version:  # crashed before index write
            index[release] = build_version
            with open(index_path, "w") as fh:
                json.dump(index, fh, indent=2)
        return release, release_dir
    staging = os.path.join(releases_dir, f".staging_{release}")
    if os.path.exists(staging):
        shutil.rmtree(staging)
    shutil.copytree(build_dir, staging)
    # provenance marker rides inside the atomic rename: any observer of
    # release_dir can always tell which build produced it, even if we
    # crash before the index write below (recovered on the next publish)
    with open(os.path.join(staging, "_RELEASE_OF"), "w") as fh:
        fh.write(build_version)
    os.rename(staging, release_dir)
    index[release] = build_version
    with open(index_path, "w") as fh:
        json.dump(index, fh, indent=2)
    return release, release_dir
