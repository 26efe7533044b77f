"""KGX I/O + sink tests (SURVEY §2.1), mirroring the reference's writer and
converter tests (tests/test_file_writer.py)."""

import glob
import gzip
import json
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from orion_spark.sinks import graph_csv as GC
from orion_spark.sinks import metadata as MD
from orion_spark.sources import kgx as K


def _nodes(spark):
    return spark.createDataFrame(
        [
            Row(id="HGNC:1", name="alpha", category=["biolink:Gene"],
                equivalent_identifiers=["HGNC:1", "NCBIGene:10"], score=1.5,
                flag=True, empty_str="", empty_arr=[]),
            Row(id="HGNC:2", name="beta", category=["biolink:Gene"],
                equivalent_identifiers=None, score=None, flag=False,
                empty_str="x", empty_arr=["y"]),
        ],
        schema="id string, name string, category array<string>, "
        "equivalent_identifiers array<string>, score double, flag boolean, "
        "empty_str string, empty_arr array<string>",
    )


def _edges(spark):
    return spark.createDataFrame(
        [
            Row(subject="HGNC:1", predicate="biolink:related_to", object="HGNC:2",
                primary_knowledge_source="infores:x",
                publications=["PMID:1"], p_value=0.05),
        ]
    )


def test_kgx_roundtrip_with_gzip(spark, tmp_path):
    path = str(tmp_path / "nodes_jsonl")
    K.write_kgx(_nodes(spark), path, gzip=True)
    assert glob.glob(os.path.join(path, "*.json.gz"))
    back = K.read_kgx_nodes(spark, path)
    rows = {r.id: r for r in back.collect()}
    assert rows["HGNC:1"].name == "alpha"
    assert rows["HGNC:1"].category == ["biolink:Gene"]
    # P6: empty string/array pruned to null on write
    lines = []
    for fp in glob.glob(os.path.join(path, "*.json.gz")):
        lines += [ln for ln in gzip.open(fp).read().splitlines() if ln.strip()]
    raw = json.loads([ln for ln in lines if b"HGNC:1" in ln][0])
    assert "empty_str" not in raw and "empty_arr" not in raw


def test_bundle_roundtrip_parquet(spark, tmp_path):
    path = str(tmp_path / "bundle")
    K.write_bundle(_nodes(spark), _edges(spark), path)
    nodes, edges = K.read_bundle(spark, path)
    assert nodes.count() == 2 and edges.count() == 1


def test_write_bundle_observed_counts(spark, tmp_path):
    """collect_counts rides observe() on the write actions — the sidecar
    writer's counts and first-category vocabulary without whole-bundle
    re-scan jobs (both formats)."""
    assert K.write_bundle(
        _nodes(spark), _edges(spark), str(tmp_path / "b1"), collect_counts=True
    ) == (2, 1, ["biolink:Gene"])
    assert K.write_bundle(
        _nodes(spark), _edges(spark), str(tmp_path / "b2"), fmt="jsonl",
        collect_counts=True,
    ) == (2, 1, ["biolink:Gene"])
    assert K.write_bundle(_nodes(spark), _edges(spark), str(tmp_path / "b3")) is None


def test_neo4j_csv_sink(spark, tmp_path):
    out = str(tmp_path / "neo4j")
    manifest = GC.write_neo4j_csv(_nodes(spark), _edges(spark), out)
    assert "id:ID" in manifest["nodes_header"]
    assert "category:LABEL" in manifest["nodes_header"]
    assert "score:float" in manifest["nodes_header"]
    assert "flag:boolean" in manifest["nodes_header"]
    assert "subject:START_ID" in manifest["edges_header"]
    assert "predicate:TYPE" in manifest["edges_header"]
    data = []
    for fp in glob.glob(os.path.join(out, "nodes", "part-*")):
        data += open(fp).read().splitlines()
    assert len(data) == 2
    row = [r for r in data if r.startswith("HGNC:1")][0]
    fields = row.split("\t")
    # array joined with unit separator chr(31)
    assert "HGNC:1" + chr(31) + "NCBIGene:10" in fields
    assert "true" in fields


def test_metadata_sidecars(spark, tmp_path):
    out = str(tmp_path / "meta")
    MD.write_metadata_sidecars("g1", "v1", _nodes(spark), _edges(spark), out)
    meta = json.load(open(os.path.join(out, "graph-metadata.json")))
    assert meta["node_count"] == 2 and meta["edge_count"] == 1
    qc = json.load(open(os.path.join(out, "qc-results.json")))
    assert qc["predicate_totals"] == {"biolink:related_to": 1}
    assert qc["node_curie_prefixes"] == {"HGNC": 2}
    schema = json.load(open(os.path.join(out, "schema.json")))
    assert schema["nodes"]["score"] == "double"
    assert schema["nodes"]["equivalent_identifiers"] == "string[]"


def test_partitioned_bundle_prunes(spark, tmp_path):
    """Hive-partitioned edge bundle: a predicate filter must prune to one
    partition directory (PartitionFilters in the scan)."""
    path = str(tmp_path / "pbundle")
    edges = _edges(spark).unionByName(
        spark.createDataFrame(
            [Row(subject="HGNC:2", predicate="biolink:affects", object="HGNC:1",
                 primary_knowledge_source="infores:y",
                 publications=None, p_value=None)],
            schema=_edges(spark).schema,
        )
    )
    K.write_bundle(_nodes(spark), edges, path, edge_partition_by=["predicate"])
    import os as _os

    assert _os.path.isdir(
        _os.path.join(path, "edges", "predicate=biolink%3Aaffects")
    ) or any("predicate=" in d for d in _os.listdir(_os.path.join(path, "edges")))
    back = spark.read.parquet(_os.path.join(path, "edges"))
    filtered = back.where(F.col("predicate") == "biolink:affects")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(predicate" in plan
    assert filtered.count() == 1


def test_fold_property_tail(spark):
    """Open-schema policy: non-core properties fold into a MAP tail
    (SURVEY §7.4.4 — keeps 40-source unions narrow at scale)."""
    from orion_spark.model import fold_property_tail

    df = _nodes(spark)
    folded = fold_property_tail(df, keep=["id", "name", "category"])
    assert folded.columns == ["id", "name", "category", "properties"]
    rows = {r.id: r for r in folded.collect()}
    assert rows["HGNC:2"].properties["empty_str"] == "x"
    assert rows["HGNC:2"].properties["flag"] == "false"
    # null-valued properties are dropped from the map
    assert "score" not in rows["HGNC:2"].properties
    assert float(rows["HGNC:1"].properties["score"]) == 1.5


def test_date_partitioned_events_prune(spark, tmp_path):
    """Time-series layout: events written partitioned by event_date; a ts
    range filter prunes to the matching date directories (the 100 TB
    events table is read per-day, never full-scanned)."""
    import datetime

    path = str(tmp_path / "events_by_date")
    rows = [
        Row(event_id=i, ts=datetime.datetime(2024, 1, 1 + (i % 3), 12, 0, 0),
            user_id=i, event_type="click", value=float(i), props="{}")
        for i in range(9)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("event_date", F.to_date("ts"))
    df.write.mode("overwrite").partitionBy("event_date").parquet(path)

    back = spark.read.parquet(path).where(
        F.col("event_date") == datetime.date(2024, 1, 2)
    )
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1][:200]
    assert back.count() == 3


def test_compact_table_reduces_file_count(spark, tmp_path):
    """64 tiny files -> 1 compacted file; data identical; original dir
    replaced atomically."""
    from orion_spark.sources.kgx import compact_table

    path = str(tmp_path / "small_files")
    spark.range(10000).repartition(64).write.parquet(path)
    import os as _os

    before = sum(f.endswith(".parquet") for f in _os.listdir(path))
    assert before == 64
    n = compact_table(spark, path, target_file_bytes=1 << 30)
    assert n == 1
    after = sum(f.endswith(".parquet") for f in _os.listdir(path))
    assert after == 1
    assert spark.read.parquet(path).count() == 10000
    assert not _os.path.exists(path + "__compact_tmp")
    assert not _os.path.exists(path + "__compact_old")


def test_merge_and_normalization_sidecars(spark, tmp_path):
    """Split/merge counter sidecars (kgx_file_merger.py:84-100,
    kgx_file_normalizer.py:355-364) land as JSON next to the bundle."""
    from pyspark.sql import Row

    from orion_spark.operators import metrics as MX

    raw = spark.createDataFrame(
        [Row(id="HGNC:1"), Row(id="HGNC:1"), Row(id="HGNC:2")]
    )
    merged = raw.dropDuplicates(["id"])
    raw_e = spark.createDataFrame(
        [Row(subject="HGNC:1", object="HGNC:2"),
         Row(subject="HGNC:1", object="HGNC:2")]
    )
    merged_e = raw_e.dropDuplicates()
    out = str(tmp_path / "sidecars")
    MD.write_merge_sidecar(
        MX.merge_report(raw.count(), raw_e.count(), merged.count(),
                        merged_e.count()), out
    )
    rep = json.load(open(os.path.join(out, "merge-metadata.json")))
    assert rep["source_nodes"] == 3 and rep["merged_nodes"] == 2
    assert rep["nodes_merged_away"] == 1
    assert rep["source_edges"] == 2 and rep["edges_merged_away"] == 1

    norm_map = spark.createDataFrame(
        [Row(original_id="HGNC:1", normalized_ids=["N:1", "N:1b"]),
         Row(original_id="HGNC:2", normalized_ids=["N:2"])],
        "original_id string, normalized_ids array<string>",
    )
    MD.write_normalization_sidecar(
        MX.normalization_report(merged, merged_e, norm_map), out
    )
    nrep = json.load(open(os.path.join(out, "normalization-metadata.json")))
    assert nrep["edge_splits"] == 1  # 1x2 fan-out over one surviving edge
    assert nrep["node_splits"] == 1


def test_build_graph_writes_merge_sidecar(spark, tmp_path):
    """build_graph emits merge-metadata.json alongside the other sidecars
    with the reference's source-vs-final counts."""
    from orion_spark.plans import pipeline as P
    from orion_spark.sources.kgx import write_bundle

    from pyspark.sql import Row

    def bundle(dirname, ids):
        nodes = spark.createDataFrame(
            [Row(id=i, name=i.lower(), category=["biolink:NamedThing"]) for i in ids]
        )
        edges = spark.createDataFrame(
            [Row(subject=ids[0], predicate="biolink:related_to", object=ids[-1],
                 primary_knowledge_source="infores:t")]
        )
        d = str(tmp_path / dirname)
        write_bundle(nodes, edges, d)
        return d

    b1 = bundle("s1", ["A:1", "A:2"])
    b2 = bundle("s2", ["A:2", "A:3"])  # A:2 merges away
    spec = P.GraphSpec(
        graph_id="gtest",
        sources=[
            P.GraphSource(source_id="s1"),
            P.GraphSource(source_id="s2"),
        ],
    )
    out = P.build_graph(spark, spec, {"s1": b1, "s2": b2}, str(tmp_path / "st"))
    rep = json.load(open(os.path.join(out, "merge-metadata.json")))
    assert rep["source_nodes"] == 4 and rep["merged_nodes"] == 3
    assert rep["nodes_merged_away"] == 1


def test_neo4j_dump_orchestration_with_fake_binaries(spark, tmp_path):
    """K5 (neo4j_tools.py:255-338): the import->start->index->stop->dump
    subprocess chain runs in order against fake executables; the dump step
    creates the file the chain renames into place; a failing step aborts
    with the captured stderr."""
    import stat
    import sys

    from orion_spark.sinks import neo4j_dump as ND

    def fake(name, body):
        p = tmp_path / name
        p.write_text(f"#!{sys.executable}\nimport sys\n{body}\n")
        p.chmod(p.stat().st_mode | stat.S_IEXEC)
        return [str(p)]

    calls = tmp_path / "calls.log"
    record = (
        f"open({str(calls)!r}, 'a').write(' '.join(sys.argv[1:]) + '\\n')\n"
    )
    out_dir = str(tmp_path / "dump_out")
    admin = fake(
        "fake_admin.py",
        record
        + "if sys.argv[1:3] == ['database', 'dump']:\n"
        + f"    open('{out_dir}/neo4j.dump', 'w').write('DUMP')\n",
    )
    neo = fake("fake_neo4j.py", record)
    shell = fake("fake_cypher.py", record)

    ok, log = ND.create_neo4j_dump(
        _nodes(spark), _edges(spark), out_dir,
        neo4j_admin=admin, neo4j=neo, cypher_shell=shell,
    )
    assert ok and os.path.exists(os.path.join(out_dir, "neo4j.dump"))
    steps = calls.read_text().splitlines()
    verbs = [s.split()[0] for s in steps]
    assert verbs == ["dbms", "database", "start", "-f", "stop", "database"]
    assert "--delimiter=TAB" in steps[1] and "--array-delimiter=U+001F" in steps[1]
    # the staging CSVs and the concatenated import inputs are gone: the
    # directory holds only the chain's artifacts
    assert sorted(os.listdir(out_dir)) == ["indexes.cypher", "neo4j.dump"]
    # index cypher derived from the data's labels
    cypher = open(os.path.join(out_dir, "indexes.cypher")).read()
    assert "REQUIRE n.id IS UNIQUE" in cypher
    # idempotent: second call short-circuits, no new commands
    ok2, log2 = ND.create_neo4j_dump(
        _nodes(spark), _edges(spark), out_dir,
        neo4j_admin=admin, neo4j=neo, cypher_shell=shell,
    )
    assert ok2 and log2 == []

    # failure path: import exits nonzero -> chain aborts with stderr
    bad_admin = fake(
        "bad_admin.py",
        "sys.stderr.write('no space'); sys.exit(2)",
    )
    import pytest as _pytest

    with _pytest.raises(ND.Neo4jDumpError, match="ExitCode 2.*no space"):
        ND.create_neo4j_dump(
            _nodes(spark), _edges(spark), str(tmp_path / "dump2"),
            neo4j_admin=bad_admin, neo4j=neo, cypher_shell=shell,
        )


def test_neo4j_dump_failure_removes_staged_csvs(spark, tmp_path):
    """A tool-chain step that fails leaves no copy of the graph behind:
    the staging CSVs and the concatenated import inputs are removed
    before the error propagates."""
    import stat
    import sys

    import pytest as _pytest

    from orion_spark.sinks import neo4j_dump as ND

    admin = tmp_path / "failing_admin.py"
    admin.write_text(f"#!{sys.executable}\nimport sys\nsys.exit(2)\n")
    admin.chmod(admin.stat().st_mode | stat.S_IEXEC)
    out_dir = tmp_path / "dump_out"
    with _pytest.raises(ND.Neo4jDumpError, match="ExitCode 2"):
        ND.create_neo4j_dump(
            _nodes(spark), _edges(spark), str(out_dir),
            neo4j_admin=[str(admin)], neo4j=["true"], cypher_shell=["true"],
        )
    assert os.listdir(out_dir) == []


def test_memgraph_dump_files_and_load_orchestration(spark, tmp_path):
    """memgraph_tools.py:9-48 parity: node csv + index cypher + one edge
    csv per predicate with a manifest, idempotent per artifact; then the
    injectable-mgconsole load chain runs indexes -> nodes -> per-type
    LOAD CSV, gating on exit codes."""
    import stat
    import sys

    from pyspark.sql import Row as R

    from orion_spark.sinks import memgraph_dump as MD

    edges = spark.createDataFrame(
        [
            R(subject="HGNC:1", predicate="biolink:related_to",
              object="HGNC:2", primary_knowledge_source="infores:x"),
            R(subject="HGNC:2", predicate="biolink:treats",
              object="HGNC:1", primary_knowledge_source="infores:x"),
            R(subject="HGNC:1", predicate="biolink:treats",
              object="HGNC:2", primary_knowledge_source="infores:x"),
        ]
    )
    out = str(tmp_path / "mgdump")
    manifest = MD.create_memgraph_dump(
        _nodes(spark), edges, out, graph_id="g1", release_version="1.0.0",
        node_property_ignore_list={"empty_str", "empty_arr"},
    )
    # node csv: header + 2 rows, ignored properties dropped
    lines = open(manifest["nodes_csv"]).read().splitlines()
    assert len(lines) == 3
    assert lines[0].split("\t")[:3] == ["id", "name", "category"]
    assert "empty_str" not in lines[0]
    # index cypher: root name index + per-label id indexes
    cypher = open(manifest["indexes_cypher"]).read().splitlines()
    assert cypher[0] == "CREATE INDEX ON :`biolink:NamedThing`(name);"
    assert "CREATE INDEX ON :`biolink:Gene`(id);" in cypher
    # per-predicate edge csvs + manifest
    assert [e["rel_type"] for e in manifest["edge_csvs"]] == [
        "biolink_related_to", "biolink_treats"
    ]
    treats = [e for e in manifest["edge_csvs"]
              if e["rel_type"] == "biolink_treats"][0]
    tlines = open(os.path.join(out, treats["file"])).read().splitlines()
    assert len(tlines) == 3  # header + 2 treats rows
    mlines = open(manifest["edge_manifest"]).read().splitlines()
    assert mlines == [e["file"] for e in manifest["edge_csvs"]]

    # idempotent: artifacts untouched on re-run (mtime preserved)
    mtime = os.path.getmtime(manifest["nodes_csv"])
    manifest2 = MD.create_memgraph_dump(
        _nodes(spark), edges, out, graph_id="g1", release_version="1.0.0",
    )
    assert os.path.getmtime(manifest2["nodes_csv"]) == mtime
    assert manifest2["edge_csvs"] == manifest["edge_csvs"]

    # load orchestration against a fake mgconsole that records stdin
    calls = tmp_path / "mg_calls.log"
    fake = tmp_path / "fake_mgconsole.py"
    fake.write_text(
        f"#!{sys.executable}\nimport sys\n"
        f"open({str(calls)!r}, 'a').write(sys.stdin.read() + '\\x00')\n"
    )
    fake.chmod(fake.stat().st_mode | stat.S_IEXEC)
    ok, log = MD.load_memgraph_dump(manifest, mgconsole=[str(fake)])
    assert ok and len(log) == 4  # indexes + nodes + 2 edge types
    batches = calls.read_text().split("\x00")
    assert "CREATE INDEX ON :`biolink:NamedThing`(name);" in batches[0]
    assert "LOAD CSV" in batches[1] and "nodes.csv" in batches[1]
    assert "biolink_related_to" in batches[2]
    assert "biolink_treats" in batches[3]

    # failing step aborts with captured stderr
    bad = tmp_path / "bad_mgconsole.py"
    bad.write_text(
        f"#!{sys.executable}\nimport sys\n"
        "sys.stderr.write('connection refused'); sys.exit(3)\n"
    )
    bad.chmod(bad.stat().st_mode | stat.S_IEXEC)
    import pytest as _pytest

    with _pytest.raises(MD.MemgraphDumpError, match="ExitCode 3.*refused"):
        MD.load_memgraph_dump(manifest, mgconsole=[str(bad)])


def test_memgraph_dump_rerun_after_a_crash_mid_concat(spark, tmp_path, monkeypatch):
    """The per-artifact existence gates trust only complete files: a crash
    while the node csv is concatenated leaves no node csv, so the rerun
    writes it whole."""
    import shutil

    import pytest as _pytest

    from orion_spark.sinks import memgraph_dump as MD

    def disk_full(*args, **kwargs):
        raise OSError("disk full")

    out = str(tmp_path / "mg")
    monkeypatch.setattr(shutil, "copyfileobj", disk_full)
    with _pytest.raises(OSError, match="disk full"):
        MD.create_memgraph_dump(_nodes(spark), _edges(spark), out)
    monkeypatch.undo()
    manifest = MD.create_memgraph_dump(_nodes(spark), _edges(spark), out)
    assert len(open(manifest["nodes_csv"]).read().splitlines()) == 3


def test_neo4j_meta_kg_verification(spark, tmp_path):
    """orion/neo4j_meta_kg.py counterpart: the post-dump check extracts
    the meta-KG from the loaded instance via an injectable cypher-shell
    and diffs it against the build frames — a faithful instance passes,
    one with a dropped edge type / spurious label / wrong prefixes is
    detected."""
    import stat
    import sys

    from orion_spark.sinks import neo4j_meta_kg as MK

    nodes = spark.createDataFrame(
        [
            Row(id="HGNC:1", category=["biolink:Gene", "biolink:NamedThing"]),
            Row(id="NCBIGene:7", category=["biolink:Gene", "biolink:NamedThing"]),
            Row(id="MONDO:5", category=["biolink:Disease", "biolink:NamedThing"]),
        ]
    )
    edges = spark.createDataFrame(
        [
            Row(subject="HGNC:1", predicate="biolink:related_to", object="MONDO:5"),
            Row(subject="NCBIGene:7", predicate="biolink:affects", object="MONDO:5"),
        ]
    )
    expected_triples = [
        "biolink:Gene|biolink:related_to|biolink:Disease",
        "biolink:Gene|biolink:affects|biolink:Disease",
    ]
    assert MK.expected_schema_triples(nodes, edges) == set(expected_triples)
    assert MK.expected_label_prefixes(nodes) == {
        "biolink:Gene": {"HGNC", "NCBIGene"},
        "biolink:Disease": {"MONDO"},
    }

    def fake_shell(name, triples, gene_prefixes, disease_prefixes):
        body = (
            f"#!{sys.executable}\n"
            "import sys\n"
            "q = open(sys.argv[sys.argv.index('-f') + 1]).read()\n"
            "if 'UNWIND labels' in q:\n"
            "    print('triple')\n"
            f"    [print(t) for t in {triples!r}]\n"
            "elif 'biolink:Gene' in q:\n"
            "    print('pre')\n"
            f"    [print(p) for p in {gene_prefixes!r}]\n"
            "else:\n"
            "    print('pre')\n"
            f"    [print(p) for p in {disease_prefixes!r}]\n"
        )
        p = tmp_path / name
        p.write_text(body)
        p.chmod(p.stat().st_mode | stat.S_IEXEC)
        return [str(p)]

    good = fake_shell(
        "good_shell.py", expected_triples, ["HGNC", "NCBIGene"], ["MONDO"])
    report = MK.verify_dump_meta_kg(nodes, edges, good, str(tmp_path / "w1"))
    assert report["ok"] and not report["prefix_mismatches"]

    # instance lost the affects edge type, grew a bogus one, and reports a
    # wrong prefix set for Gene
    bad = fake_shell(
        "bad_shell.py",
        ["biolink:Gene|biolink:related_to|biolink:Disease",
         "biolink:Gene|biolink:bogus|biolink:Gene"],
        ["HGNC"], ["MONDO"],
    )
    report = MK.verify_dump_meta_kg(nodes, edges, bad, str(tmp_path / "w2"))
    assert not report["ok"]
    assert report["schema_missing_in_db"] == [
        "biolink:Gene|biolink:affects|biolink:Disease"]
    assert report["schema_unexpected_in_db"] == [
        "biolink:Gene|biolink:bogus|biolink:Gene"]
    assert report["prefix_mismatches"] == {
        "biolink:Gene": {"expected": ["HGNC", "NCBIGene"], "db": ["HGNC"]}}

    # a failing shell surfaces, not silently passes
    import pytest as _pytest

    err = tmp_path / "err_shell.py"
    err.write_text(f"#!{sys.executable}\nimport sys\nsys.exit(3)\n")
    err.chmod(err.stat().st_mode | 0o111)
    with _pytest.raises(MK.MetaKGVerifyError, match="ExitCode 3"):
        MK.run_cypher([str(err)], MK.SCHEMA_QUERY, str(tmp_path / "w3"), "q")
