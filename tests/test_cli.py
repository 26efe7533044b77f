"""CLI smoke tests (reference parity: tests/test_cli_smoke.py) — run each
subcommand in-process against a tiny bundle."""

import json
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from orion_spark import cli
from orion_spark.sources.kgx import write_bundle, write_kgx


def _bundle(spark, path):
    nodes = spark.createDataFrame(
        [Row(id="A:1", name="a", category=["biolink:Gene"]),
         Row(id="B:2", name="b", category=["biolink:Disease"])]
    )
    edges = spark.createDataFrame(
        [Row(subject="A:1", predicate="biolink:related_to", object="B:2",
             primary_knowledge_source="infores:x")]
    )
    write_bundle(nodes, edges, path)
    return nodes, edges


def test_cli_qc_and_meta_kg(spark, tmp_path):
    bundle = str(tmp_path / "bundle")
    _bundle(spark, bundle)
    qc_out = str(tmp_path / "qc.json")
    assert cli.main(["qc", "--bundle", bundle, "--out", qc_out]) == 0
    qc = json.load(open(qc_out))
    assert qc["predicate_totals"] == {"biolink:related_to": 1}

    mk_out = str(tmp_path / "meta.json")
    assert cli.main(["meta-kg", "--bundle", bundle, "--out", mk_out]) == 0
    mk = json.load(open(mk_out))
    assert mk["edges"][0]["subject_type"] == "biolink:Gene"


def test_cli_qc_flags_an_invalid_node_type_in_one_census(spark, tmp_path):
    """`qc --valid-node-types` reports the out-of-model category from the
    census aggregate: two jobs, as validation without the type check."""
    bundle = str(tmp_path / "bundle")
    nodes = spark.createDataFrame(
        [Row(id="A:1", name="a", category=["biolink:Gene"]),
         Row(id="B:2", name="b", category=["biolink:MadeUpThing",
                                           "biolink:Gene"])]
    )
    edges = spark.createDataFrame(
        [Row(subject="A:1", predicate="biolink:related_to", object="B:2",
             primary_knowledge_source="infores:x")]
    )
    write_bundle(nodes, edges, bundle)
    types = str(tmp_path / "types.txt")
    with open(types, "w") as fh:
        fh.write("biolink:Gene\nbiolink:Disease\n")
    qc_out = str(tmp_path / "qc.json")
    sc = spark.sparkContext
    sc.setJobGroup("cli-qc-types", "qc")
    try:
        assert cli.main(["qc", "--bundle", bundle, "--out", qc_out,
                         "--valid-node-types", types]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    qc = json.load(open(qc_out))
    assert qc["warnings"] == {"invalid_node_types": ["biolink:MadeUpThing"]}
    assert len(sc.statusTracker().getJobIdsForGroup("cli-qc-types")) == 2


def test_cli_merge_jsonl_inputs(spark, tmp_path):
    nodes_a = spark.createDataFrame(
        [Row(id="A:1", name="a", category=["biolink:Gene"], publications=["PMID:1"])]
    )
    nodes_b = spark.createDataFrame(
        [Row(id="A:1", name=None, category=["biolink:Gene"], publications=["PMID:2"])],
        schema=nodes_a.schema,
    )
    edges = spark.createDataFrame(
        [Row(subject="A:1", predicate="p", object="A:1",
             primary_knowledge_source="infores:x")]
    )
    pa, pb, pe = (str(tmp_path / x) for x in ("na", "nb", "e"))
    write_kgx(nodes_a, pa)
    write_kgx(nodes_b, pb)
    write_kgx(edges, pe)
    out = str(tmp_path / "merged")
    assert cli.main(["merge", "--nodes", pa, pb, "--edges", pe, "--out", out]) == 0
    merged = spark.read.parquet(os.path.join(out, "nodes"))
    row = merged.collect()[0]
    assert row.publications == ["PMID:1", "PMID:2"]
    assert row.name == "a"


def test_cli_neo4j_csv(spark, tmp_path):
    bundle = str(tmp_path / "bundle2")
    _bundle(spark, bundle)
    out = str(tmp_path / "csvs")
    assert cli.main(["neo4j-csv", "--bundle", bundle, "--out", out]) == 0
    assert os.path.exists(os.path.join(out, "nodes-header.csv"))
    assert os.path.exists(os.path.join(out, "manifest.json"))


def test_cli_publish(spark, tmp_path, capsys):
    # lay a completed build where publish expects it
    storage = str(tmp_path / "storage")
    build_dir = os.path.join(storage, "graphs", "g1", "cafebabe")
    _bundle(spark, build_dir)
    with open(os.path.join(build_dir, "_BUILD_COMPLETE"), "w") as fh:
        fh.write("cafebabe")
    assert cli.main(["publish", "--storage", storage, "--graph-id", "g1",
                     "--build-version", "cafebabe"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["release"] == "1.0.0"
    assert os.path.exists(os.path.join(out["dir"], "_BUILD_COMPLETE"))


def test_cli_compact(spark, tmp_path):
    from orion_spark.cli import main

    path = str(tmp_path / "to_compact")
    spark.range(1000).repartition(16).write.parquet(path)
    rc = main(["compact", "--path", path, "--target-mb", "1024"])
    assert rc == 0
    import os as _os

    assert sum(f.endswith(".parquet") for f in _os.listdir(path)) == 1


def test_cli_supplement(spark, tmp_path, capsys):
    """supplement subcommand over a bundle with one variant node, driven
    by a fake annotator binary."""
    import sys

    bundle = str(tmp_path / "b_supp")
    nodes = spark.createDataFrame(
        [Row(id="CAID:CA1", name="v", category=["biolink:SequenceVariant"],
             chrom="1", pos=10, ref="A", alt="G")]
    )
    edges = spark.createDataFrame(
        [Row(subject="CAID:CA1", predicate="biolink:related_to",
             object="CAID:CA1", primary_knowledge_source="infores:x")]
    )
    write_bundle(nodes, edges, bundle)
    fake = tmp_path / "ann.py"
    fake.write_text(
        "import sys\n"
        "print('##SnpEffVersion=\"cli-fake\"')\n"
        "for line in open(sys.argv[1]):\n"
        "    if line.startswith('#'): continue\n"
        "    f = line.rstrip('\\n').split('\\t')\n"
        "    f[7] = 'ANN=G|missense_variant|M|X|ENSGX|t|||||||||12|'\n"
        "    print('\\t'.join(f))\n"
    )
    rc = cli.main([
        "supplement", "--bundle", bundle,
        "--workspace", str(tmp_path / "ws"),
        "--annotator-cmd", f"{sys.executable} {fake}",
    ])
    assert rc == 0
    meta = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert meta["supp_edge_count"] == 1
    assert meta["SnpEffVersion"] == '"cli-fake"'


def test_cli_neo4j_dump(spark, tmp_path, capsys):
    import stat
    import sys

    bundle = str(tmp_path / "b_dump")
    _bundle(spark, bundle)
    out_dir = str(tmp_path / "dump")
    # PATH-resolvable fakes named neo4j-admin/neo4j/cypher-shell
    bindir = tmp_path / "bin"
    bindir.mkdir()
    for name in ("neo4j-admin", "neo4j", "cypher-shell"):
        fp = bindir / name
        fp.write_text(
            f"#!{sys.executable}\nimport sys\n"
            "if sys.argv[1:3] == ['database', 'dump']:\n"
            f"    open({out_dir!r} + '/neo4j.dump', 'w').write('D')\n"
        )
        fp.chmod(fp.stat().st_mode | stat.S_IEXEC)
    old = os.environ.get("PATH", "")
    os.environ["PATH"] = f"{bindir}:{old}"
    try:
        rc = cli.main(["neo4j-dump", "--bundle", bundle, "--out", out_dir])
    finally:
        os.environ["PATH"] = old
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["success"] and os.path.exists(os.path.join(out_dir, "neo4j.dump"))


def test_cli_memgraph_dump(spark, tmp_path, capsys):
    bundle = str(tmp_path / "b_mg")
    _bundle(spark, bundle)
    out_dir = str(tmp_path / "mg_out")
    rc = cli.main(["memgraph-dump", "--bundle", bundle, "--out", out_dir,
                   "--graph-id", "g1", "--release-version", "v2"])
    assert rc == 0
    manifest = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert os.path.exists(manifest["nodes_csv"])
    assert os.path.exists(manifest["indexes_cypher"])
    assert manifest["edge_csvs"]
    assert "g1" in os.path.basename(manifest["nodes_csv"])


def test_cli_neo4j_verify(spark, tmp_path, capsys):
    import stat
    import sys

    bundle = str(tmp_path / "b_ver")
    _bundle(spark, bundle)
    shell = tmp_path / "shell.py"
    shell.write_text(
        f"#!{sys.executable}\nimport sys\n"
        "q = open(sys.argv[sys.argv.index('-f') + 1]).read()\n"
        "if 'UNWIND labels' in q:\n"
        "    print('triple')\n"
        "    print('biolink:Gene|biolink:related_to|biolink:Disease')\n"
        "elif 'biolink:Gene' in q:\n"
        "    print('pre'); print('A')\n"
        "else:\n"
        "    print('pre'); print('B')\n"
    )
    shell.chmod(shell.stat().st_mode | stat.S_IEXEC)
    rc = cli.main(["neo4j-verify", "--bundle", bundle,
                   "--workspace", str(tmp_path / "ws"),
                   "--cypher-shell", str(shell)])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip())
    assert report["ok"]


def test_cli_build_worker_queue(spark, tmp_path, capsys):
    """submit-build enqueues; worker drains the spool and reports."""
    import yaml  # noqa: F401  (spec is plain text; yaml just documents intent)

    from orion_spark.sources.kgx import write_bundle as _wb

    nodes = spark.createDataFrame(
        [Row(id="A:1", name="a", category=["biolink:Gene"],
             publications=["PMID:1"])])
    edges = spark.createDataFrame(
        [Row(subject="A:1", predicate="biolink:related_to", object="A:1",
             primary_knowledge_source="infores:x",
             publications=["PMID:2"])])
    src = str(tmp_path / "only_src")
    _wb(nodes, edges, src)
    shared = tmp_path / "shared"
    shared.mkdir()
    (shared / "g.yaml").write_text(
        "graphs:\n  - graph_id: g1\n    sources:\n      - source_id: only_src\n")
    spool = str(tmp_path / "spool")

    rc = cli.main(["submit-build", "--spool", spool, "--graph-id", "g1",
                   "--spec-filename", "g.yaml"])
    assert rc == 0
    task = json.loads(capsys.readouterr().out.strip())
    rc = cli.main(["worker", "--spool", spool, "--shared-dir", str(shared),
                   "--storage", str(tmp_path / "storage"),
                   "--source-bundle", f"only_src={src}"])
    assert rc == 0
    results = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert results[0]["task_id"] == task["task_id"]
    assert results[0]["status"] == "success"
    assert os.path.isdir(results[0]["path"])


def test_cli_qc_verdict_with_catalogs(spark, tmp_path):
    """qc CLI emits the pass/warnings/errors verdict when catalog
    snapshots are supplied."""
    bundle = str(tmp_path / "bundle")
    _bundle(spark, bundle)
    status = tmp_path / "infores.json"
    status.write_text('{"infores:test": "deprecated"}')
    types = tmp_path / "types.txt"
    types.write_text("biolink:NamedThing\n")
    out = str(tmp_path / "qc_verdict.json")
    rc = cli.main(["qc", "--bundle", bundle, "--out", out,
                   "--infores-status", str(status),
                   "--valid-node-types", str(types)])
    assert rc == 0
    res = json.load(open(out))
    assert res["pass"] is True
    assert "warnings" in res and "errors" in res


def test_cli_upsert_with_qc_refresh(spark, tmp_path):
    """upsert CLI: delta merged into the sharded bundle, QC partials
    refreshed for the touched shards only, no stale shards afterwards."""
    from orion_spark.operators.merge import merge_edges
    from orion_spark.sinks import incremental as INC
    from orion_spark.sinks import qc_incremental as QCI

    base = spark.createDataFrame(
        [Row(subject=f"S:{i}", predicate="p", object="O:1",
             primary_knowledge_source="infores:x",
             publications=[f"PMID:{i}"], _source_ordinal=i)
         for i in range(10)]
    )
    bundle = str(tmp_path / "bundle")
    INC.write_sharded_bundle(merge_edges(base), bundle, ["subject"], n_shards=4)
    QCI.write_qc_partials(spark, bundle, "edges")
    QCI.write_hll_partials(spark, bundle)

    delta_path = str(tmp_path / "delta")
    spark.createDataFrame(
        [Row(subject="S:0", predicate="p2", object="O:9",
             primary_knowledge_source="infores:y",
             publications=["PMID:new"], _source_ordinal=0)]
    ).write.parquet(delta_path)

    assert cli.main([
        "upsert", "--bundle", bundle, "--delta", delta_path,
        "--kind", "edges", "--n-shards", "4", "--refresh-qc",
    ]) == 0
    totals = {(r.metric, r.key): r.n
              for r in QCI.qc_totals(spark, bundle).collect()}
    assert totals[("predicate", "p")] == 10
    assert totals[("predicate", "p2")] == 1
    assert QCI.verify_partials(spark, bundle) == []
    # the HLL sketch partials must be refreshed in lockstep (ADVICE r5):
    # the new delta's knowledge source shows up in the folded totals and
    # no sketch shard is stale
    hll = {r.primary_knowledge_source: r.n_edges
           for r in QCI.knowledge_source_hll_totals(spark, bundle).collect()}
    assert hll.get("infores:y") == 1
    assert QCI.verify_partials(spark, bundle, QCI.HLL_PARTIALS_DIR) == []


def test_cli_ivf_search_requires_out(tmp_path):
    """`ivf-index search` without --out is a clean usage error (exit 2),
    not a traceback from parquet(None) (ADVICE r5)."""
    rc = cli.main(["ivf-index", "search", "--index", str(tmp_path / "idx"),
                   "--vectors", str(tmp_path / "q")])
    assert rc == 2


def test_cli_ivf_index_lifecycle(spark, tmp_path):
    """build -> add -> search through the CLI equals the in-memory
    fixed-centroid IVF over the full corpus."""
    from orion_spark.llm import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base_p, delta_p, q_p = (
        str(tmp_path / "base"), str(tmp_path / "delta"), str(tmp_path / "q"))
    emb.where(F.col("vec_id") < 250).write.parquet(base_p)
    emb.where(F.col("vec_id") >= 250).write.parquet(delta_p)
    emb.where(F.col("vec_id") % 97 == 0).write.parquet(q_p)
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "hits")
    assert cli.main(["ivf-index", "build", "--index", idx,
                     "--vectors", base_p, "--n-clusters", "64"]) == 0
    assert cli.main(["ivf-index", "add", "--index", idx,
                     "--vectors", delta_p]) == 0
    assert cli.main(["ivf-index", "search", "--index", idx,
                     "--vectors", q_p, "--k", "10", "--n-probe", "4",
                     "--out", out]) == 0
    got = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.cosine)
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r.query_id, r.rk, r.neighbor_id, r.cosine)
        for r in S.ivf_topk_fixed_centroids(
            emb.where(F.col("vec_id") % 97 == 0), emb, k=10,
            n_clusters=64, n_probe=4,
        ).collect()
    )
    assert got == want and len(got) > 0


def test_cli_compact_sharded(spark, tmp_path):
    from orion_spark.operators.merge import merge_edges
    from orion_spark.sinks import incremental as INC

    base = spark.createDataFrame(
        [Row(subject=f"S:{i}", predicate="p", object="O:1",
             primary_knowledge_source="infores:x",
             publications=[f"PMID:{i}"], _source_ordinal=i)
         for i in range(48)]
    )
    path = str(tmp_path / "bundle")
    INC.write_sharded_bundle(
        merge_edges(base).repartition(12), path, ["subject"], n_shards=4
    )
    n_before = INC.read_sharded_bundle(spark, path).count()
    assert cli.main(["compact", "--path", path, "--sharded"]) == 0
    assert INC.read_sharded_bundle(spark, path).count() == n_before


def test_cli_commands_autoscale_from_their_inputs(spark, tmp_path, monkeypatch):
    """Round-6 verdict item 6: every CLI entry must size shuffle
    partitions from its ACTUAL bundle inputs, not inherit a session
    default sized to $SPARK_GRAFT_SF_DIR. A tiny bundle must floor the
    count back to the CPU floor even when the session starts with a
    wildly wrong inherited value."""
    import orion_spark.session as SESS

    bundle = str(tmp_path / "bundle")
    _bundle(spark, bundle)
    monkeypatch.delenv("ORION_SPARK_SHUFFLE_PARTITIONS", raising=False)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    expected = SESS.scaled_shuffle_partitions(
        SESS.input_size_bytes(bundle), cpus=cpus
    )

    spark.conf.set("spark.sql.shuffle.partitions", "999")
    qc_out = str(tmp_path / "qc_auto.json")
    assert cli.main(["qc", "--bundle", bundle, "--out", qc_out]) == 0
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == expected

    spark.conf.set("spark.sql.shuffle.partitions", "999")
    mk_out = str(tmp_path / "meta_auto.json")
    assert cli.main(["meta-kg", "--bundle", bundle, "--out", mk_out]) == 0
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == expected


def test_cli_every_bundle_command_passes_inputs_to_spark():
    """Static contract: each CLI command that reads distributed input
    hands those paths to _spark() so autoscale_shuffle can size the
    session for them. Guards new commands against silently inheriting
    the benchmark-sized default (round-6 verdict item 6)."""
    import ast
    import inspect

    import orion_spark.cli as CLI

    # build/worker autoscale inside build_graph; fetch/publish/submit/
    # reclaim are driver-side only (no Spark reads)
    exempt = {
        "cmd_build", "cmd_worker", "cmd_fetch", "cmd_publish",
        "cmd_submit_build", "cmd_worker_reclaim",
    }
    tree = ast.parse(inspect.getsource(CLI))
    offenders = []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef) or not fn.name.startswith("cmd_"):
            continue
        if fn.name in exempt:
            continue
        calls = [
            node
            for node in ast.walk(fn)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "_spark"
        ]
        if not calls or any(len(c.args) == 0 for c in calls):
            offenders.append(fn.name)
    assert not offenders, f"CLI commands not autoscaling from inputs: {offenders}"


def test_cli_split_lifecycle(spark, tmp_path, capsys):
    """split end-to-end: inline chain with --save-clusters, then a second
    invocation reusing --clusters must produce the identical assignment
    (the amortization contract) while skipping the LSH/components work."""
    docs = spark.createDataFrame(
        [(i, ("common shared text body " * 5) + (f"tail {i % 7}"))
         for i in range(40)]
        + [(100 + i, f"unique document number {i} " * 3) for i in range(10)],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out1 = str(tmp_path / "split1")
    clusters = str(tmp_path / "clusters")
    assert cli.main([
        "split", "--docs", src, "--out", out1,
        "--save-clusters", clusters,
    ]) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["clusters_reused"] is False
    assert rep1["saved_clusters"] == clusters
    assert sum(rep1["splits"].values()) == 50

    out2 = str(tmp_path / "split2")
    assert cli.main([
        "split", "--docs", src, "--out", out2, "--clusters", clusters,
    ]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["clusters_reused"] is True

    a = sorted(map(tuple, spark.read.parquet(out1)
                   .select("doc_id", "cluster", "split").collect()))
    b = sorted(map(tuple, spark.read.parquet(out2)
                   .select("doc_id", "cluster", "split").collect()))
    assert a == b
    # near-dup co-location: every cluster lives in exactly one split
    from collections import defaultdict
    by_cluster = defaultdict(set)
    for _, c, s in a:
        by_cluster[c].add(s)
    assert all(len(v) == 1 for v in by_cluster.values())
    # partitioned layout: a trainer can point at split=train directly
    assert os.path.isdir(os.path.join(out1, "split=train"))


def test_cli_bloom_dedup_incremental(spark, tmp_path, capsys):
    """bloom-dedup end-to-end: build on history, filter a batch (drops the
    already-seen row), then --update folds survivors into the persisted
    bitmap so a REPLAY of the same batch drops everything."""
    hist = str(tmp_path / "hist")
    spark.createDataFrame(
        [(i, f"history doc {i}") for i in range(50)], ["doc_id", "text"]
    ).write.parquet(hist)
    bloom = str(tmp_path / "bloom")
    assert cli.main([
        "bloom-dedup", "build", "--bloom", bloom, "--history", hist,
        "--m-bits", str(1 << 16),
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_keys"] == 50 and rep["fp_rate_design"] < 0.01

    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(1000, "history doc 7"), (1001, "genuinely new doc A"),
         (1002, "genuinely new doc B")],
        ["doc_id", "text"],
    ).write.parquet(batch)
    out = str(tmp_path / "survivors")
    assert cli.main([
        "bloom-dedup", "filter", "--bloom", bloom, "--batch", batch,
        "--out", out, "--update",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["kept"] == 2 and rep["dropped"] == 1
    assert rep["history_updated"] is True
    kept = {r.text for r in spark.read.parquet(out).collect()}
    assert kept == {"genuinely new doc A", "genuinely new doc B"}

    # replay: the survivors are now history — everything drops
    out2 = str(tmp_path / "survivors2")
    assert cli.main([
        "bloom-dedup", "filter", "--bloom", bloom, "--batch", batch,
        "--out", out2,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["kept"] == 0 and rep["dropped"] == 3


def test_cli_bloom_dedup_argument_validation(tmp_path):
    assert cli.main([
        "bloom-dedup", "build", "--bloom", str(tmp_path / "b"),
    ]) == 2
    assert cli.main([
        "bloom-dedup", "filter", "--bloom", str(tmp_path / "b"),
    ]) == 2


def test_cli_split_clusters_and_save_clusters_copies(spark, tmp_path, capsys):
    """Passing BOTH --clusters and --save-clusters must re-persist the
    reused labels at the new path (round-8 advice: the elif silently
    ignored --save-clusters) and still produce the identical split."""
    docs = spark.createDataFrame(
        [(i, ("common shared text body " * 5) + (f"tail {i % 7}"))
         for i in range(40)],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    out1 = str(tmp_path / "split1")
    clusters1 = str(tmp_path / "clusters1")
    assert cli.main([
        "split", "--docs", src, "--out", out1,
        "--save-clusters", clusters1,
    ]) == 0
    capsys.readouterr()

    out2 = str(tmp_path / "split2")
    clusters2 = str(tmp_path / "clusters2")
    assert cli.main([
        "split", "--docs", src, "--out", out2,
        "--clusters", clusters1, "--save-clusters", clusters2,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["clusters_reused"] is True
    assert rep["saved_clusters"] == clusters2
    # the copy exists and carries the same labels
    a = sorted(map(tuple, spark.read.parquet(clusters1).collect()))
    b = sorted(map(tuple, spark.read.parquet(clusters2).collect()))
    assert a == b and a
    # and the split built from the reused labels is identical
    s1 = sorted(map(tuple, spark.read.parquet(out1)
                    .select("doc_id", "split").collect()))
    s2 = sorted(map(tuple, spark.read.parquet(out2)
                    .select("doc_id", "split").collect()))
    assert s1 == s2


def test_cli_bloom_dedup_intra_batch_duplicates(spark, tmp_path, capsys):
    """Duplicate keys WITHIN one batch must collapse to a single survivor
    before the history probe (round-8 advice: they all survived and were
    folded into the bitmap together)."""
    hist = str(tmp_path / "hist")
    spark.createDataFrame(
        [(i, f"history doc {i}") for i in range(20)], ["doc_id", "text"]
    ).write.parquet(hist)
    bloom = str(tmp_path / "bloom")
    assert cli.main([
        "bloom-dedup", "build", "--bloom", bloom, "--history", hist,
        "--m-bits", str(1 << 16),
    ]) == 0
    capsys.readouterr()

    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(1, "repeated new doc"), (2, "repeated new doc"),
         (3, "repeated new doc"), (4, "history doc 3"),
         (5, "another new doc")],
        ["doc_id", "text"],
    ).write.parquet(batch)
    out = str(tmp_path / "survivors")
    assert cli.main([
        "bloom-dedup", "filter", "--bloom", bloom, "--batch", batch,
        "--out", out,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 5 raw rows -> 2 intra-batch dupes dropped -> 3 distinct keys ->
    # history drops 1 -> 2 survivors with distinct keys
    assert rep["intra_batch_dropped"] == 2
    assert rep["kept"] == 2 and rep["dropped"] == 1
    kept = [r.text for r in spark.read.parquet(out).collect()]
    assert sorted(kept) == ["another new doc", "repeated new doc"]


def test_cli_semdedup_prune_and_keep_only(spark, tmp_path, capsys):
    """semdedup end-to-end: label frame has one keeper per group; the
    --keep-only pass writes exactly the pruned corpus (exact ×2-scaled
    copies collapse onto their originals, farthest-from-centroid wins)."""
    base = [(i, [float(i % 5 + 1), float((i * 7) % 11 + 1)]) for i in range(20)]
    copies = [(100 + i, [2.0 * v for v in vec]) for i, vec in base[:5]]
    emb = str(tmp_path / "emb")
    spark.createDataFrame(
        base + copies, ["vec_id", "embedding"]
    ).write.parquet(emb)

    labels_out = str(tmp_path / "labels")
    assert cli.main([
        "semdedup", "--embeddings", emb, "--out", labels_out,
        "--n-clusters", "4", "--threshold", "0.999",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_in"] == 25
    assert rep["n_kept"] + rep["n_pruned"] == 25
    assert rep["n_pruned"] >= 5  # every scaled copy is cosine-1.0 to its base
    lab = spark.read.parquet(labels_out)
    per_group = {
        r.group_id: r.n for r in
        lab.groupBy("group_id").agg(F.sum("kept").alias("n")).collect()
    }
    assert all(n == 1 for n in per_group.values())

    pruned_out = str(tmp_path / "pruned")
    assert cli.main([
        "semdedup", "--embeddings", emb, "--out", pruned_out,
        "--n-clusters", "4", "--threshold", "0.999", "--keep-only",
    ]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["n_kept"] == rep["n_kept"]
    assert spark.read.parquet(pruned_out).count() == rep["n_kept"]
    assert set(spark.read.parquet(pruned_out).columns) == {"vec_id", "embedding"}


def test_cli_url_dedup_keep_only(spark, tmp_path, capsys):
    """url-dedup end-to-end: three spellings of one page collapse to the
    minimum-id row; --keep-only writes surviving input rows only."""
    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [
            (1, "http://www.A.com/x?utm_s=1", "one"),
            (2, "HTTP://a.COM:80/x#frag", "two"),
            (3, "http://a.com/y", "three"),
            (0, "http://A.com/x/", "zero"),
        ],
        ["doc_id", "url", "text"],
    ).write.parquet(docs)
    out = str(tmp_path / "kept")
    assert cli.main([
        "url-dedup", "--docs", docs, "--out", out, "--keep-only",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_in"] == 4 and rep["n_kept"] == 2 and rep["n_pruned"] == 2
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {0, 3}


def test_cli_near_dup_history_lifecycle(spark, tmp_path, capsys):
    """near-dup-history end-to-end: build a band store from history,
    filter a batch (the near-duplicate — one word changed, exact-key
    dedup would miss it — drops; the fresh doc survives), --update
    appends the survivor's keys so a second batch's near-dup of IT also
    drops, and compact collapses the appended keys without changing
    probe semantics."""
    hist_text = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "today while the afternoon sun warms the quiet meadow beyond"
    )
    near_text = hist_text.replace("warms", "heats")
    fresh_text = (
        "completely different content about distributed query engines and "
        "the cost model of shuffle exchanges on large analytical clusters"
    )
    near_fresh = fresh_text.replace("cost", "price")

    hist = str(tmp_path / "hist")
    spark.createDataFrame(
        [(1, hist_text)], "doc_id long, text string"
    ).write.parquet(hist)
    store = str(tmp_path / "store")
    assert cli.main([
        "near-dup-history", "build", "--store", store, "--history", hist,
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["n_band_keys"] > 0 and rep["num_hashes"] == 16

    batch1 = str(tmp_path / "b1")
    spark.createDataFrame(
        [(10, near_text), (11, fresh_text)], "doc_id long, text string"
    ).write.parquet(batch1)
    out1 = str(tmp_path / "out1")
    assert cli.main([
        "near-dup-history", "filter", "--store", store,
        "--batch", batch1, "--out", out1, "--update",
    ]) == 0
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["kept"] == 1 and rep1["dropped"] == 1
    assert rep1["history_updated"] is True
    assert {r.doc_id for r in spark.read.parquet(out1).collect()} == {11}

    batch2 = str(tmp_path / "b2")
    spark.createDataFrame(
        [(20, near_fresh)], "doc_id long, text string"
    ).write.parquet(batch2)
    out2 = str(tmp_path / "out2")
    assert cli.main([
        "near-dup-history", "filter", "--store", store,
        "--batch", batch2, "--out", out2,
    ]) == 0
    rep2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep2["kept"] == 0 and rep2["dropped"] == 1

    assert cli.main(["near-dup-history", "compact", "--store", store]) == 0
    repc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert repc["keys_after"] <= repc["keys_before"]
    out3 = str(tmp_path / "out3")
    assert cli.main([
        "near-dup-history", "filter", "--store", store,
        "--batch", batch2, "--out", out3,
    ]) == 0
    rep3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep3["kept"] == 0  # semantics unchanged by compaction


def test_cli_curate_stream(spark, tmp_path, capsys):
    """End-to-end streaming funnel via the CLI: domain blocklist + exact
    dedup drop their targets, metrics land, and a second invocation with
    the same checkpoint only processes new files."""
    import json as _json

    from orion_spark.streaming import curation as C

    good = (
        "the allowed document has one long clean english line right here\n"
        "and a second long line that keeps the quality gate clearly happy"
    )
    blocked = (
        "the blocked document also has one long clean english line here\n"
        "with a second long line that would otherwise pass every gate"
    )
    src = str(tmp_path / "feed")
    out = str(tmp_path / "curated")
    ck = str(tmp_path / "ck")
    bl = str(tmp_path / "bl")
    metrics = str(tmp_path / "metrics.jsonl")
    spark.createDataFrame([("spam.bad.org",)], "domain string").write.parquet(bl)
    spark.createDataFrame(
        [
            (1, good, "en", "s1", len(good), "http://news.example.com/a"),
            (2, blocked, "en", "s1", len(blocked), "http://cdn.spam.bad.org/b"),
        ],
        C.DOCS_URL_SCHEMA,
    ).coalesce(1).write.mode("overwrite").parquet(src)
    rc = cli.main([
        "curate-stream", "--src", src, "--out", out, "--checkpoint", ck,
        "--domain-blocklist", bl, "--metrics", metrics,
    ])
    assert rc == 0
    rec = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["curated_rows"] == 1
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}
    gate = _json.loads(open(metrics).readline())
    assert gate["input"] == 2 and gate["blocklist_gate"] == 1

    # second run, same checkpoint: a new file with one dup of doc 1's
    # text and one new doc — only the new doc lands
    fresh = (
        "a genuinely new document shows up with its own long english line\n"
        "and one more long sentence so every stateless gate lets it pass"
    )
    spark.createDataFrame(
        [
            (3, good, "en", "s2", len(good), "http://other.example.com/c"),
            (4, fresh, "en", "s2", len(fresh), "http://other.example.com/d"),
        ],
        C.DOCS_URL_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    rc = cli.main([
        "curate-stream", "--src", src, "--out", out, "--checkpoint", ck,
        "--domain-blocklist", bl, "--metrics", metrics,
    ])
    assert rc == 0
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 4}


def test_cli_near_dup_filter_r1_warns(spark, tmp_path):
    """The CLI filter is a verify-less drop gate like the streaming
    sink: an r=1 store warns loudly, an r=4 store filters silently."""
    import warnings as _w

    import pytest

    hist = str(tmp_path / "hist")
    spark.createDataFrame(
        [(1, "one long historical sentence with many plain english words inside")],
        "doc_id long, text string",
    ).write.parquet(hist)
    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(2, "a completely different and unrelated document about engines")],
        "doc_id long, text string",
    ).write.parquet(batch)

    s1 = str(tmp_path / "s1")
    assert cli.main(["near-dup-history", "build", "--store", s1,
                     "--history", hist]) == 0
    with pytest.warns(UserWarning, match="rows_per_band=1"):
        assert cli.main(["near-dup-history", "filter", "--store", s1,
                         "--batch", batch,
                         "--out", str(tmp_path / "o1")]) == 0

    s4 = str(tmp_path / "s4")
    assert cli.main(["near-dup-history", "build", "--store", s4,
                     "--history", hist, "--rows-per-band", "4"]) == 0
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert cli.main(["near-dup-history", "filter", "--store", s4,
                         "--batch", batch,
                         "--out", str(tmp_path / "o4")]) == 0
