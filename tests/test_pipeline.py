"""End-to-end build orchestration tests, mirroring the reference's
tests/test_build_graph_end_to_end.py (two overlapping sources -> merged
bundle, content-addressed rebuild skip, merge strategies)."""

import json
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from orion_spark.plans import pipeline as P
from orion_spark.sources.kgx import read_bundle, write_bundle

SPEC_YAML = """
graphs:
  - graph_id: test_graph
    graph_name: Test Graph
    output_format: parquet
    sources:
      - source_id: hgnc_like
      - source_id: ctd_like
      - source_id: extras
        merge_strategy: connected_edge_subset
"""


def _mk_source(spark, path, node_rows, edge_rows):
    nodes = spark.createDataFrame(
        node_rows,
        "id string, name string, category array<string>, publications array<string>",
    )
    edges = spark.createDataFrame(
        edge_rows,
        "subject string, predicate string, object string, "
        "primary_knowledge_source string, publications array<string>",
    )
    write_bundle(nodes, edges, path)


def _sources(spark, tmp_path):
    # HGNC:2 overlaps between the two primary sources (the reference's
    # 4-unique-nodes fixture shape, tests/test_build_graph_end_to_end.py:40-55)
    _mk_source(
        spark, str(tmp_path / "hgnc_like"),
        [Row(id="HGNC:1", name="one", category=["biolink:Gene"], publications=["PMID:1"]),
         Row(id="HGNC:2", name="two", category=["biolink:Gene"], publications=["PMID:2"])],
        [Row(subject="HGNC:1", predicate="biolink:related_to", object="HGNC:2",
             primary_knowledge_source="infores:hgnc", publications=["PMID:10"])],
    )
    _mk_source(
        spark, str(tmp_path / "ctd_like"),
        [Row(id="HGNC:2", name=None, category=["biolink:Gene", "biolink:NamedThing"],
             publications=["PMID:3"]),
         Row(id="MESH:D1", name="disease", category=["biolink:Disease"], publications=None)],
        [Row(subject="HGNC:2", predicate="biolink:treats", object="MESH:D1",
             primary_knowledge_source="infores:ctd", publications=None),
         # duplicate of the hgnc edge with extra publication -> must merge
         Row(subject="HGNC:1", predicate="biolink:related_to", object="HGNC:2",
             primary_knowledge_source="infores:hgnc", publications=["PMID:11"])],
    )
    _mk_source(
        spark, str(tmp_path / "extras"),
        [Row(id="EXTRA:1", name="ex1", category=["biolink:NamedThing"], publications=None),
         Row(id="EXTRA:unlinked", name="ex2", category=["biolink:NamedThing"],
             publications=None)],
        [Row(subject="EXTRA:1", predicate="biolink:related_to", object="HGNC:1",
             primary_knowledge_source="infores:extra", publications=None),
         Row(subject="EXTRA:unlinked", predicate="biolink:related_to",
             object="NOPE:0", primary_knowledge_source="infores:extra",
             publications=None)],
    )
    return {
        "hgnc_like": str(tmp_path / "hgnc_like"),
        "ctd_like": str(tmp_path / "ctd_like"),
        "extras": str(tmp_path / "extras"),
    }


def test_spec_parsing_and_versioning():
    specs = P.parse_graph_spec(SPEC_YAML)
    assert len(specs) == 1
    spec = specs[0]
    assert spec.graph_id == "test_graph"
    assert [s.merge_strategy for s in spec.sources] == [
        "default", "default", "connected_edge_subset"]
    v1 = spec.build_version
    spec.sources[0].parsing_version = "2.0"
    assert spec.build_version != v1  # content-addressed


def test_build_graph_end_to_end(spark, tmp_path):
    spec = P.parse_graph_spec(SPEC_YAML)[0]
    bundles = _sources(spark, tmp_path)
    out = P.build_graph(spark, spec, bundles, str(tmp_path / "storage"))
    nodes, edges = read_bundle(spark, out)
    node_rows = {r.id: r for r in nodes.collect()}
    # 3 primary uniques + EXTRA:1 (connected); EXTRA:unlinked excluded
    assert sorted(node_rows) == ["EXTRA:1", "HGNC:1", "HGNC:2", "MESH:D1"]
    # merged node properties: keep-first name, union publications
    assert node_rows["HGNC:2"].name == "two"
    assert node_rows["HGNC:2"].publications == ["PMID:2", "PMID:3"]
    assert node_rows["HGNC:2"].category == ["biolink:Gene", "biolink:NamedThing"]
    edge_rows = edges.collect()
    assert len(edge_rows) == 3  # dup hgnc edge merged, treats, extra->HGNC:1
    dup = [r for r in edge_rows if r.predicate == "biolink:related_to"
           and r.subject == "HGNC:1"][0]
    assert dup.publications == ["PMID:10", "PMID:11"]
    # metadata sidecars written
    meta = json.load(open(os.path.join(out, "graph-metadata.json")))
    assert meta["node_count"] == 4 and meta["edge_count"] == 3


def test_rebuild_skip(spark, tmp_path):
    spec = P.parse_graph_spec(SPEC_YAML)[0]
    bundles = _sources(spark, tmp_path)
    storage = str(tmp_path / "storage")
    out1 = P.build_graph(spark, spec, bundles, storage)
    marker = os.path.join(out1, "_BUILD_COMPLETE")
    mtime = os.path.getmtime(marker)
    out2 = P.build_graph(spark, spec, bundles, storage)  # skipped
    assert out1 == out2
    assert os.path.getmtime(marker) == mtime


def test_stage_status_gating(tmp_path):
    md = P.SourceMetadata(str(tmp_path), "src1")
    assert md.status("parse", "v1") == "not_started"
    md.set_status("parse", "v1", "stable")
    assert md.is_stable("parse", "v1")
    # a new composite version is independently gated
    assert not md.is_stable("parse", "v2")
    # reload from disk
    md2 = P.SourceMetadata(str(tmp_path), "src1")
    assert md2.is_stable("parse", "v1")


def test_release_version_selection():
    # first release
    assert P.select_release_version("abc", {}) == "1.0.0"
    # same content hash -> same release (rebuild no-op)
    rel = {"1.0.0": "abc", "1.1.0": "def"}
    assert P.select_release_version("abc", rel) == "1.0.0"
    # new content -> bump highest
    assert P.select_release_version("zzz", rel) == "1.2.0"
    assert P.select_release_version("zzz", rel, bump="major") == "2.0.0"
    assert P.select_release_version("zzz", rel, bump="patch") == "1.1.1"
    # 1.10.0 > 1.9.0 numerically, not lexically
    rel2 = {"1.9.0": "a", "1.10.0": "b"}
    assert P.select_release_version("c", rel2) == "1.11.0"


def test_bump_semver():
    assert P.bump_semver("1.2.3", "major") == "2.0.0"
    assert P.bump_semver("1.2.3", "minor") == "1.3.0"
    assert P.bump_semver("1.2.3", "patch") == "1.2.4"


def test_publish_graph(spark, tmp_path):
    spec = P.parse_graph_spec(SPEC_YAML)[0]
    bundles = _sources(spark, tmp_path)
    storage = str(tmp_path / "storage")
    P.build_graph(spark, spec, bundles, storage)

    rel, rel_dir = P.publish_graph(storage, spec.graph_id, spec.build_version)
    assert rel == "1.0.0"
    assert os.path.exists(os.path.join(rel_dir, "_BUILD_COMPLETE"))
    assert os.path.exists(os.path.join(rel_dir, "graph-metadata.json"))
    # no staging leftovers
    releases_dir = os.path.dirname(rel_dir)
    assert not [d for d in os.listdir(releases_dir) if d.startswith(".staging")]
    # publishing the same build again is an idempotent no-op
    rel2, rel_dir2 = P.publish_graph(storage, spec.graph_id, spec.build_version)
    assert (rel2, rel_dir2) == (rel, rel_dir)
    index = json.load(open(os.path.join(releases_dir, "releases.json")))
    assert index == {"1.0.0": spec.build_version}
    # a different build of the same graph gets the next semver
    spec.sources[0].parsing_version = "2.0"
    P.build_graph(spark, spec, bundles, storage)
    rel3, _ = P.publish_graph(storage, spec.graph_id, spec.build_version)
    assert rel3 == "1.1.0"


def test_publish_requires_completed_build(tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        P.publish_graph(str(tmp_path), "nope", "deadbeef")


def test_supplement_graph_with_fake_annotator(spark, tmp_path):
    """N5 orchestration parity (orion/supplementation.py:89-221): bundle ->
    VCF -> subprocess (a fake snpEff that annotates deterministically) ->
    ANN parse -> supplemental KGX merged back. Covers the SO predicate
    map, the fallback predicate, multi-effect '&' and multi-gene '-'
    fan-out, and non-integer distance handling."""
    import os
    import sys

    from pyspark.sql import Row

    # bundle: 2 variants + 1 non-variant node
    nodes = spark.createDataFrame(
        [
            Row(
                id="CAID:CA1", name="v1", category=["biolink:SequenceVariant"],
                chrom="1", pos=1000, ref="A", alt="G",
            ),
            Row(
                id="CAID:CA2", name="v2", category=["biolink:SequenceVariant"],
                chrom="2", pos=2000, ref="", alt="T",
            ),
            Row(
                id="NCBIGene:7157", name="TP53", category=["biolink:Gene"],
                chrom=None, pos=None, ref=None, alt=None,
            ),
        ]
    )
    edges = spark.createDataFrame(
        [Row(subject="CAID:CA1", predicate="biolink:related_to",
             object="NCBIGene:7157", primary_knowledge_source="infores:x")]
    )
    from orion_spark.sources.kgx import write_bundle

    bundle = str(tmp_path / "bundle")
    write_bundle(nodes, edges, bundle)

    # fake snpEff: reads the VCF, emits it back with an ANN INFO field
    fake = tmp_path / "fake_snpeff.py"
    fake.write_text(
        "import sys\n"
        "print('##SnpEffVersion=\"5.1-fake\"')\n"
        "print('##SnpEffCmd=\"SnpEff GRCh38.99 fake\"')\n"
        "anns = {\n"
        "  'CAID:CA1': 'ANN=G|missense_variant&synonymous_variant|MOD|X|"
        "ENSG01-ENSG02|t|||||||||443|',\n"
        "  'CAID:CA2': 'ANN=T|weird_unmapped_effect|MOD|X|ENSG03|t|||||||||"
        "not_a_number|',\n"
        "}\n"
        "for line in open(sys.argv[1]):\n"
        "    if line.startswith('#'): continue\n"
        "    f = line.rstrip('\\n').split('\\t')\n"
        "    f[7] = anns[f[2]]\n"
        "    print('\\t'.join(f))\n"
    )

    import orion_spark.plans.pipeline as P2

    meta = P2.supplement_graph(
        spark,
        bundle,
        str(tmp_path / "ws"),
        annotator_command=[sys.executable, str(fake)],
    )
    assert meta["SnpEffVersion"] == '"5.1-fake"'
    # CA1: 2 effects x 2 genes = 4 edges; CA2: 1 edge
    assert meta["supp_edge_count"] == 5
    assert meta["supp_node_count"] == 3

    from orion_spark.sources.kgx import read_bundle

    out_nodes, out_edges = read_bundle(spark, meta["bundle_dir"])
    e = {
        (r.subject, r.predicate, r.object): r
        for r in out_edges.where(
            F.col("primary_knowledge_source") == "infores:robokop-snpeff"
        ).collect()
    }
    assert set(e) == {
        ("CAID:CA1", "SO:0001583", "ENSEMBL:ENSG01"),
        ("CAID:CA1", "SO:0001583", "ENSEMBL:ENSG02"),
        ("CAID:CA1", "SO:0001819", "ENSEMBL:ENSG01"),
        ("CAID:CA1", "SO:0001819", "ENSEMBL:ENSG02"),
        ("CAID:CA2", "biolink:related_to", "ENSEMBL:ENSG03"),
    }
    missense = e[("CAID:CA1", "SO:0001583", "ENSEMBL:ENSG01")]
    assert missense.snpeff_effect == "missense_variant"
    assert missense.distance_to_feature == 443
    assert missense.knowledge_level == "prediction"
    unmapped = e[("CAID:CA2", "biolink:related_to", "ENSEMBL:ENSG03")]
    assert unmapped.distance_to_feature is None  # 'not_a_number' dropped
    # gene nodes merged into the bundle alongside originals
    ids = {r.id for r in out_nodes.collect()}
    assert {"ENSEMBL:ENSG01", "ENSEMBL:ENSG02", "ENSEMBL:ENSG03"} <= ids
    assert "NCBIGene:7157" in ids


def test_run_annotator_failure_raises(tmp_path):
    import sys

    from orion_spark.operators.supplement import (
        SupplementationFailedError,
        run_annotator,
    )

    vcf_dir = tmp_path / "v"
    vcf_dir.mkdir()
    (vcf_dir / "00_header.vcf").write_text("#CHROM\n")
    bad = tmp_path / "bad.py"
    bad.write_text("import sys; sys.stderr.write('boom'); sys.exit(3)\n")
    import pytest as _pytest

    with _pytest.raises(SupplementationFailedError, match="ExitCode 3.*boom"):
        run_annotator(
            str(vcf_dir), str(tmp_path / "ann.vcf"), [sys.executable, str(bad)]
        )


def test_source_resolver_tiers(spark, tmp_path):
    """orion/source_resolution.py:39-76 parity: local -> registry ->
    produce. A registry hit materializes locally and SKIPS produce; a
    produced bundle publishes back so the next resolver gets a registry
    hit; a pinned source that misses both tiers fails instead of
    producing."""
    import pytest as _pytest

    registry = P.FileSystemRegistry(str(tmp_path / "registry"))
    calls = []

    def producer(dest):
        calls.append(dest)
        nodes = spark.createDataFrame(
            [Row(id="A:1", name="a", category=["biolink:NamedThing"])]
        )
        edges = spark.createDataFrame(
            [Row(subject="A:1", predicate="biolink:related_to", object="A:1")]
        )
        write_bundle(nodes, edges, dest)

    r1 = P.SourceResolver(
        str(tmp_path / "builder1"), registry, producers={"src_a": producer}
    )
    # unpinned miss -> produce (and publish to the registry)
    out1 = r1.resolve("src_a", "v1", pinned=False)
    assert r1.last_tier == "produce" and len(calls) == 1
    assert registry.has_bundle("src_a", "v1")
    # second resolve on the same builder -> local, no new produce
    r1.resolve("src_a", "v1", pinned=False)
    assert r1.last_tier == "local" and len(calls) == 1

    # a DIFFERENT builder resolves the same content key from the registry
    # and never calls its producer — the content-addressed reuse
    r2 = P.SourceResolver(
        str(tmp_path / "builder2"), registry, producers={"src_a": producer}
    )
    out2 = r2.resolve("src_a", "v1", pinned=False)
    assert r2.last_tier == "registry" and len(calls) == 1
    nodes2, _ = read_bundle(spark, out2)
    assert nodes2.count() == 1

    # pinned source missing everywhere -> hard failure, not produce
    with _pytest.raises(P.SourceResolutionError, match="pinned"):
        r2.resolve("src_a", "v2", pinned=True)
    # unpinned with no producer for the id -> failure too
    with _pytest.raises(P.SourceResolutionError, match="no producer"):
        r2.resolve("unknown_src", "v1", pinned=False)


def test_source_resolver_recovers_from_crashed_produce(spark, tmp_path):
    """A producer that crashes mid-write leaves a dirty, marker-less local
    directory. A later resolve must (a) not treat it as a local hit,
    (b) fetch/produce into it without ENOTEMPTY, and (c) a registry
    publish over a marker-less leftover must also succeed — the
    stale-leftover discipline of compact_table applied to the registry
    tier."""
    import pytest as _pytest

    registry = P.FileSystemRegistry(str(tmp_path / "registry"))

    def crashing(dest):
        with open(os.path.join(dest, "partial.parquet"), "w") as fh:
            fh.write("torn")
        raise RuntimeError("simulated crash mid-produce")

    r1 = P.SourceResolver(
        str(tmp_path / "b1"), registry, producers={"src_a": crashing}
    )
    with _pytest.raises(RuntimeError, match="simulated crash"):
        r1.resolve("src_a", "v1", pinned=False)
    dirty = r1._local_dir("src_a", "v1")
    assert os.path.isdir(dirty) and not os.path.exists(
        os.path.join(dirty, P.BUNDLE_MARKER)
    )

    # someone else published the bundle meanwhile; our fetch into the
    # dirty dir must succeed (pre-fix: os.rename raised ENOTEMPTY forever)
    good = tmp_path / "good_bundle"
    good.mkdir()
    (good / "data.txt").write_text("ok")
    (good / P.BUNDLE_MARKER).write_text("v1")
    registry.publish_bundle("src_a", "v1", str(good))
    out = r1.resolve("src_a", "v1", pinned=False)
    assert r1.last_tier == "registry"
    assert open(os.path.join(out, "data.txt")).read() == "ok"
    assert not os.path.exists(os.path.join(out, "partial.parquet"))

    # a marker-less leftover in the REGISTRY tree (crashed publish staging
    # promoted by an older version, or manual junk) is likewise replaced
    reg_dir = registry._dir("src_b", "v1")
    os.makedirs(reg_dir)
    with open(os.path.join(reg_dir, "junk"), "w") as fh:
        fh.write("x")
    registry.publish_bundle("src_b", "v1", str(good))
    assert registry.has_bundle("src_b", "v1")
    assert not os.path.exists(os.path.join(reg_dir, "junk"))

    # crashed produce followed by RE-produce (no registry copy available)
    calls = []

    def producer(dest):
        calls.append(dest)
        with open(os.path.join(dest, "data.txt"), "w") as fh:
            fh.write("fresh")

    r2 = P.SourceResolver(str(tmp_path / "b2"), None, producers={"src_c": producer})
    os.makedirs(r2._local_dir("src_c", "v1"))
    with open(os.path.join(r2._local_dir("src_c", "v1"), "stale"), "w") as fh:
        fh.write("x")
    out2 = r2.resolve("src_c", "v1", pinned=False)
    assert r2.last_tier == "produce" and len(calls) == 1
    assert not os.path.exists(os.path.join(out2, "stale"))


def _start_registry_server(root):
    """Local HTTP server with GET (files under root) + PUT (write under
    root) — the minimal surface both registry clients speak."""
    import http.server
    import threading

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(root), **kw)

        def do_PUT(self):
            length = int(self.headers.get("Content-Length", 0))
            body = self.rfile.read(length)
            target = os.path.join(str(root), self.path.lstrip("/"))
            os.makedirs(os.path.dirname(target), exist_ok=True)
            with open(target, "wb") as fh:
                fh.write(body)
            self.send_response(201)
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_http_bundle_registry_resolver_tiers(spark, tmp_path):
    """orion/graph_registry.py parity for the bundle tier: the HTTP
    registry is a drop-in for FileSystemRegistry in SourceResolver's
    local -> registry -> produce ladder. A produced bundle publishes
    (manifest last); a second builder fetches from HTTP and SKIPS its
    producer; a fetch over a crashed-produce leftover dir succeeds."""
    from orion_spark.plans.registry_http import HttpBundleRegistry

    serve_root = tmp_path / "registry_root"
    serve_root.mkdir()
    srv, base = _start_registry_server(serve_root)
    try:
        registry = HttpBundleRegistry(base)
        assert not registry.has_bundle("src_a", "v1")

        calls = []

        def producer(dest):
            calls.append(dest)
            os.makedirs(os.path.join(dest, "sub"), exist_ok=True)
            with open(os.path.join(dest, "data.txt"), "w") as fh:
                fh.write("payload")
            with open(os.path.join(dest, "sub", "extra.txt"), "w") as fh:
                fh.write("nested")

        r1 = P.SourceResolver(
            str(tmp_path / "b1"), registry, producers={"src_a": producer}
        )
        out1 = r1.resolve("src_a", "v1", pinned=False)
        assert r1.last_tier == "produce" and len(calls) == 1
        assert registry.has_bundle("src_a", "v1")
        # manifest excludes the local completeness marker
        import json as _json

        manifest = _json.loads(
            (serve_root / "src_a" / "v1" / "_MANIFEST").read_text()
        )
        assert manifest == ["data.txt", "sub/extra.txt"]

        # second builder: registry hit over HTTP, producer never called
        r2 = P.SourceResolver(
            str(tmp_path / "b2"), registry, producers={"src_a": producer}
        )
        # simulate a crashed prior produce in b2's local tree
        dirty = r2._local_dir("src_a", "v1")
        os.makedirs(dirty)
        with open(os.path.join(dirty, "torn"), "w") as fh:
            fh.write("x")
        out2 = r2.resolve("src_a", "v1", pinned=False)
        assert r2.last_tier == "registry" and len(calls) == 1
        assert open(os.path.join(out2, "data.txt")).read() == "payload"
        assert open(os.path.join(out2, "sub", "extra.txt")).read() == "nested"
        assert not os.path.exists(os.path.join(out2, "torn"))
        assert os.path.exists(os.path.join(out2, P.BUNDLE_MARKER))

        # idempotent republish is a no-op (content-addressed)
        registry.publish_bundle("src_a", "v1", out1)
    finally:
        srv.shutdown()


def test_http_graph_registry_client_protocol(tmp_path):
    """Release-catalog protocol (graph_registry.py:42-133): cached
    versions, build->release mapping, metadata by release/latest, file
    manifest (missing -> error), and download with the three
    distribution contentUrl resolution fallbacks."""
    import json as _json

    import pytest as _pytest

    from orion_spark.plans.registry_http import (
        GraphRegistryError,
        HttpGraphRegistryClient,
    )

    serve_root = tmp_path / "catalog"
    (serve_root / "versions").mkdir(parents=True)
    (serve_root / "graph_metadata" / "g1").mkdir(parents=True)
    (serve_root / "files" / "g1").mkdir(parents=True)
    (serve_root / "bundles" / "g1" / "r2").mkdir(parents=True)
    (serve_root / "versions" / "g1").write_text(_json.dumps([
        {"version": "r1", "build_version": "b1", "latest": False},
        {"version": "r2", "build_version": "b2", "latest": True},
    ]))
    (serve_root / "bundles" / "g1" / "r2" / "nodes.jsonl").write_text(
        '{"id": "A:1"}\n'
    )
    (serve_root / "bundles" / "g1" / "r2" / "schema.json").write_text("{}")
    srv, base = _start_registry_server(serve_root)
    try:
        meta = {
            "distribution": [
                {"contentUrl": f"{base}/bundles/g1/r2/nodes.jsonl"}
            ]
        }
        (serve_root / "graph_metadata" / "g1" / "r2").write_text(
            _json.dumps(meta)
        )
        (serve_root / "files" / "g1" / "r2").write_text(_json.dumps(
            [{"file_path": "g1/r2/nodes.jsonl", "file_size_bytes": 14}]
        ))

        client = HttpGraphRegistryClient(base)
        assert client.release_version_for_build_version("g1", "b2") == "r2"
        assert client.release_version_for_build_version("g1", "bX") is None
        # versions are cached: a second call never re-fetches (delete the
        # backing file and ask again)
        (serve_root / "versions" / "g1").unlink()
        assert client.release_version_for_build_version("g1", "b1") == "r1"

        got = client.get_graph_metadata("g1", "r2")
        assert got["distribution"] == meta["distribution"]
        assert client.get_graph_metadata("g1", "r9") is None

        files = client.list_files("g1", "r2")
        assert files[0]["file_path"] == "g1/r2/nodes.jsonl"
        with _pytest.raises(GraphRegistryError, match="no file manifest"):
            client.list_files("g1", "r9")

        # fallback 1: exact-file distribution entry
        dest = tmp_path / "dl" / "nodes.jsonl"
        client.download_file("g1", "nodes.jsonl", str(dest), got)
        assert dest.read_text() == '{"id": "A:1"}\n'
        # fallback 2: file not listed -> shares a listed file's directory
        dest2 = tmp_path / "dl" / "schema.json"
        client.download_file("g1", "schema.json", str(dest2), got)
        assert dest2.read_text() == "{}"
        # fallback 3: legacy directory-style contentUrl
        legacy = {"distribution": [{"contentUrl": f"{base}/bundles/g1/r2/"}]}
        dest3 = tmp_path / "dl" / "nodes2.jsonl"
        client.download_file("g1", "nodes.jsonl", str(dest3), legacy)
        assert dest3.read_text() == '{"id": "A:1"}\n'
        # no resolvable URL -> loud error
        with _pytest.raises(GraphRegistryError, match="contentUrl"):
            client.download_file("g1", "x", str(tmp_path / "x"), {})
    finally:
        srv.shutdown()


def test_build_worker_file_spool_queue(spark, tmp_path):
    """celery_worker.py counterpart: submit -> atomic claim -> in-process
    build -> done/failed records; a bad task is recorded to failed/ and
    the worker keeps draining; a claimed task can't be double-claimed."""
    from orion_spark.plans import worker as W

    bundles = _sources(spark, tmp_path)
    shared = tmp_path / "shared"
    shared.mkdir()
    (shared / "graphs.yaml").write_text(SPEC_YAML)
    spool = str(tmp_path / "spool")
    storage = str(tmp_path / "storage")

    t1 = W.submit_task(spool, "test_graph", "graphs.yaml")
    t2 = W.submit_task(spool, "no_such_graph", "graphs.yaml")
    W.submit_task(spool, "test_graph", "missing.yaml", task_id="t3")

    results = W.run_worker(spark, spool, str(shared), storage, bundles)
    by_id = {r["task_id"]: r for r in results}
    assert len(results) == 3
    assert by_id[t1]["status"] == "success"
    assert os.path.isdir(by_id[t1]["path"])
    assert by_id[t2]["status"] == "failure" and "no_such_graph" in by_id[t2]["error"]
    assert by_id["t3"]["status"] == "failure"
    # result records landed in the right outcome dirs; queue is drained
    assert len(os.listdir(os.path.join(spool, "done"))) == 1
    assert len(os.listdir(os.path.join(spool, "failed"))) == 2
    assert os.listdir(os.path.join(spool, "pending")) == []
    assert W.claim_next(spool, "w2") is None

    # claim atomicity: a second worker can't steal a claimed task
    t4 = W.submit_task(spool, "test_graph", "graphs.yaml")
    claim = W.claim_next(spool, "w1")
    assert claim is not None and claim[1]["task_id"] == t4
    assert W.claim_next(spool, "w2") is None

    # missing shared dir is a hard error (celery_worker.py:29-31)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="shared data dir"):
        W.run_claimed_task(spark, claim[1], "", storage, bundles)


def test_worker_reclaim_stale_claims(tmp_path):
    """Dead-worker recovery (round-4 verdict gap #2): a claim whose
    heartbeat went stale is requeued to pending/; a fresh claim is not;
    --worker-id reclaims regardless of age; the heartbeat thread keeps a
    live claim's lease fresh."""
    import time as _time

    from orion_spark.plans import worker as W

    spool = str(tmp_path / "spool")
    t1 = W.submit_task(spool, "g1", "graphs.yaml", task_id="a-stale-task")
    t2 = W.submit_task(spool, "g2", "graphs.yaml", task_id="b-fresh-task")
    p1, _ = W.claim_next(spool, "dead-worker")
    p2, _ = W.claim_next(spool, "live-worker")
    assert W.claim_next(spool, "w3") is None

    # backdate the dead worker's lease past the TTL; the live one is fresh
    os.utime(p1, (_time.time() - 3600, _time.time() - 3600))
    requeued = W.reclaim_stale(spool, ttl_seconds=600)
    assert requeued == [f"{t1}.json"]
    assert os.path.exists(os.path.join(spool, "pending", f"{t1}.json"))
    assert os.path.exists(p2)  # fresh claim untouched

    # the requeued task is claimable again
    p1b, task = W.claim_next(spool, "w3")
    assert task["task_id"] == t1

    # worker-id mode: requeue everything that worker holds, age ignored
    assert W.reclaim_stale(spool, worker_id="live-worker") == [f"{t2}.json"]
    assert not os.path.exists(p2)

    # heartbeat keeps the lease fresh: backdate, beat, then a TTL sweep
    # must NOT steal the claim
    os.utime(p1b, (_time.time() - 3600, _time.time() - 3600))
    with W._Heartbeat(p1b, interval=0.05):
        _time.sleep(0.3)
        assert W.reclaim_stale(spool, ttl_seconds=600) == []
    assert os.path.exists(p1b)


def test_cli_worker_reclaim(tmp_path, capsys):
    """worker-reclaim CLI requeues a stale claim and reports it."""
    import json as _json
    import time as _time

    from orion_spark import cli
    from orion_spark.plans import worker as W

    spool = str(tmp_path / "spool")
    tid = W.submit_task(spool, "g1", "graphs.yaml", task_id="cli-task")
    p, _ = W.claim_next(spool, "w1")
    os.utime(p, (_time.time() - 3600, _time.time() - 3600))
    rc = cli.main(["worker-reclaim", "--spool", spool, "--ttl", "600"])
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["requeued"] == [f"{tid}.json"]
    assert os.path.exists(os.path.join(spool, "pending", f"{tid}.json"))


def test_phase_recorder_restores_the_callers_job_group(spark):
    """Each phase's jobs land in `{tag}.{name}`; after the phase, normal
    or raising, the caller's job group and description are back, so a
    job run between phases stays in the caller's group."""
    import pytest as _pytest

    from orion_spark.plans.stage_metrics import PhaseRecorder

    sc = spark.sparkContext
    caller = f"recorder-caller-{id(sc)}"
    rec = PhaseRecorder(spark, f"recorder-nesting-{id(sc)}")

    def current():
        return (sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"))

    sc.setJobGroup(caller, "caller")
    try:
        with rec.phase("ok"):
            assert current() == (rec.group("ok"), "ok")
            spark.range(3).collect()
        assert current() == (caller, "caller")
        with _pytest.raises(ValueError):
            with rec.phase("boom"):
                spark.range(4).collect()
                raise ValueError("phase failed")
        assert current() == (caller, "caller")
        spark.range(5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rec.jobs("ok") >= 1 and rec.jobs("boom") >= 1
    assert len(sc.statusTracker().getJobIdsForGroup(caller)) >= 1
    assert list(rec.walls) == ["ok", "boom"]


def test_build_stage_metrics_tool_measures_shuffles(tmp_path):
    """End-to-end measured build (tools/build_stage_metrics.py) at
    sf0.001 in its own session with the event log on: every build phase
    is recorded in both passes, and the merge-bearing write phases run
    jobs and tasks and write shuffle bytes (the A3 groupBy-agg
    exchange). Subprocess on purpose — the event log is fixed at context
    creation, so the shared session can't host this."""
    import json as _json
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [
            _sys.executable,
            os.path.join(repo, "tools", "build_stage_metrics.py"),
            "/root/testdata/sf0.001",
            str(tmp_path / "work"),
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env={**os.environ, "SPARK_GRAFT_CPUS": "8"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    payload = _json.loads(proc.stdout.strip().splitlines()[-1])
    # round-9 cold/warm contract: both passes fully recorded
    for key in ("phases_cold", "phases_warm"):
        phases = {p["phase"]: p for p in payload[key]}
        assert set(phases) == {
            "source_prep",
            "write_nodes",
            "write_edges",
            "metadata_sidecars",
            "merge_report",
        }
        # the node/edge writes execute the merge lineage: real exchanges
        for name in ("write_nodes", "write_edges"):
            assert phases[name]["jobs"] > 0, phases[name]
            assert phases[name]["tasks"] > 0, phases[name]
            assert phases[name]["shuffle_write_mb"] > 0, phases[name]
    # both passes read shuffle data back (the merge exchanges), and
    # caching moves walls, never shuffle volume: at sf0.001 the two
    # passes must account identical shuffle bytes
    for key in ("totals_cold", "totals_warm"):
        assert payload[key]["shuffle_read_mb"] > 0, payload[key]
    assert payload["byte_drift"] == []
