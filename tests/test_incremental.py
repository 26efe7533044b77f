"""Incremental sharded-bundle upsert tests (round-4 verdict ask #6):
a small delta rewrites a strict subset of bundle files, and the result
equals a full rebuild under the A3 merge semantics."""

import glob
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from orion_spark.operators.merge import merge_edges
from orion_spark.sinks import incremental as INC


def _edges(spark, rows):
    return spark.createDataFrame(
        rows,
        "subject string, predicate string, object string, "
        "primary_knowledge_source string, publications array<string>, "
        "score double",
    )


def _base_rows():
    return [
        Row(subject=f"G:{i}", predicate="biolink:related_to",
            object=f"D:{i % 7}", primary_knowledge_source="infores:a",
            publications=[f"PMID:{i}"], score=float(i))
        for i in range(200)
    ]


def _file_state(path):
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
        if not p.endswith(".crc")
    }


def _canon(df):
    return sorted(
        (r.subject, r.predicate, r.object, r.primary_knowledge_source,
         tuple(r.publications or []), r.score)
        for r in df.select("subject", "predicate", "object",
                           "primary_knowledge_source", "publications",
                           "score").collect()
    )


def test_upsert_rewrites_only_touched_shards(spark, tmp_path):
    path = str(tmp_path / "bundle")
    base = merge_edges(_edges(spark, _base_rows()))
    INC.write_sharded_bundle(base, path, ["subject"], n_shards=16)
    before = _file_state(path)
    assert len(glob.glob(os.path.join(path, "_shard=*"))) > 4

    # delta: one duplicate edge (new publication) + one brand-new edge,
    # two subjects -> at most two shards
    delta = _edges(spark, [
        Row(subject="G:3", predicate="biolink:related_to", object="D:3",
            primary_knowledge_source="infores:a",
            publications=["PMID:999"], score=0.0),
        Row(subject="G:new", predicate="biolink:related_to", object="D:1",
            primary_knowledge_source="infores:b",
            publications=["PMID:7"], score=9.0),
    ])
    touched = INC.upsert_sharded_edges(spark, delta, path, n_shards=16)
    assert 1 <= len(touched) <= 2

    after = _file_state(path)
    changed_dirs = {
        os.path.basename(os.path.dirname(p))
        for p in (set(before) ^ set(after))
        | {p for p in before if p in after and before[p] != after[p]}
    }
    expected_dirs = {f"_shard={t}" for t in touched}
    # a strict subset of partitions was rewritten; untouched shards kept
    # their exact files
    assert changed_dirs == expected_dirs
    assert len(expected_dirs) < len(glob.glob(os.path.join(path, "_shard=*")))

    # equality with the full rebuild: merge everything from scratch
    full = merge_edges(
        _edges(spark, _base_rows()).withColumn("_source_ordinal", F.lit(0))
        .unionByName(delta.withColumn("_source_ordinal", F.lit(1)))
    )
    got = INC.read_sharded_bundle(spark, path)
    assert _canon(got) == _canon(full)
    # the duplicate edge merged its publications, the new edge arrived
    merged_row = [r for r in got.collect()
                  if r.subject == "G:3" and r.object == "D:3"][0]
    assert "PMID:999" in merged_row.publications
    assert any(r.subject == "G:new" for r in got.collect())


def test_upsert_nodes_and_ordinal_precedence(spark, tmp_path):
    path = str(tmp_path / "nodes_bundle")
    nodes = spark.createDataFrame(
        [Row(id=f"N:{i}", name=f"old{i}", category=["biolink:Gene"])
         for i in range(50)]
    )
    from orion_spark.operators.merge import merge_nodes

    INC.write_sharded_bundle(merge_nodes(nodes), path, ["id"], n_shards=8)
    delta = spark.createDataFrame(
        [Row(id="N:1", name="new1", category=["biolink:NamedThing"])]
    )
    touched = INC.upsert_sharded_nodes(spark, delta, path, n_shards=8)
    assert len(touched) == 1
    got = {r.id: r for r in INC.read_sharded_bundle(spark, path).collect()}
    assert len(got) == 50
    # persisted value wins scalar conflicts (bundle = earlier source),
    # array properties union
    assert got["N:1"].name == "old1"
    assert sorted(got["N:1"].category) == ["biolink:Gene", "biolink:NamedThing"]


def test_streaming_incremental_sink(spark, tmp_path):
    """The foreachBatch incremental sink bootstraps the sharded layout on
    batch 0 and upserts on later batches."""
    from orion_spark.streaming.events import merge_upsert_sink_incremental

    path = str(tmp_path / "stream_bundle")
    sink = merge_upsert_sink_incremental(path, n_shards=8)
    b0 = _edges(spark, _base_rows()[:20]).withColumn(
        "ts", F.current_timestamp())
    sink(b0, 0)
    assert os.path.isdir(path)
    n0 = INC.read_sharded_bundle(spark, path).count()
    assert n0 == 20
    b1 = _edges(spark, [
        Row(subject="G:0", predicate="biolink:related_to", object="D:0",
            primary_knowledge_source="infores:a",
            publications=["PMID:x"], score=1.0),
    ]).withColumn("ts", F.current_timestamp())
    sink(b1, 1)
    out = INC.read_sharded_bundle(spark, path)
    assert out.count() == 20  # merged into the existing group
    row = [r for r in out.collect() if r.subject == "G:0"][0]
    assert "PMID:x" in row.publications


def test_upsert_lock_excludes_concurrent_writer(spark, tmp_path):
    """Single-writer is enforced, not documented: a held lock turns a
    second upsert into ConcurrentUpsertError instead of a silent race."""
    import pytest

    path = str(tmp_path / "locked_bundle")
    base = merge_edges(_edges(spark, _base_rows()[:20]))
    INC.write_sharded_bundle(base, path, ["subject"], n_shards=8)

    with open(os.path.join(path, INC.LOCK_NAME), "w") as fh:
        fh.write('{"pid": 99999}')
    delta = _edges(spark, [_base_rows()[0]])
    with pytest.raises(INC.ConcurrentUpsertError, match="locked"):
        INC.upsert_sharded_edges(spark, delta, path, n_shards=8)

    # clearing the stale lock unblocks the writer
    assert INC.break_upsert_lock(path)
    INC.upsert_sharded_edges(spark, delta, path, n_shards=8)
    assert not os.path.exists(os.path.join(path, INC.LOCK_NAME))


def test_upsert_crash_after_commit_point_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """A crash after the journal rename (the commit point) — including
    halfway through the per-shard swaps — is completed by
    recover_sharded_bundle, and the result equals a from-scratch merge."""
    import pytest

    path = str(tmp_path / "crash_bundle")
    base = merge_edges(_edges(spark, _base_rows()))
    INC.write_sharded_bundle(base, path, ["subject"], n_shards=16)

    delta = _edges(spark, [
        Row(subject="G:3", predicate="biolink:related_to", object="D:3",
            primary_knowledge_source="infores:a",
            publications=["PMID:999"], score=0.0),
        Row(subject="G:new", predicate="biolink:related_to", object="D:1",
            primary_knowledge_source="infores:b",
            publications=["PMID:7"], score=9.0),
    ])

    seen = {}

    def crash(p, txid, shards):
        seen["txid"], seen["shards"] = txid, shards
        raise RuntimeError("simulated crash at the commit point")

    monkeypatch.setattr(INC, "_commit_staged", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        INC.upsert_sharded_edges(spark, delta, path, n_shards=16)
    monkeypatch.undo()

    # the crash state: journal + full staging present, live untouched; a
    # real kill -9 would also leave the lock file behind — recreate it
    assert os.path.exists(os.path.join(path, INC.JOURNAL_NAME))
    staging = os.path.join(path, INC.STAGING_DIR, seen["txid"])
    assert os.path.isdir(staging)
    with open(os.path.join(path, INC.LOCK_NAME), "w") as fh:
        fh.write("{}")

    # go one step further: hand-complete the swap for ONE shard so
    # recovery must handle the mixed already-committed/still-staged state
    s0 = seen["shards"][0]
    live0 = os.path.join(path, f"{INC.SHARD_COL}={s0}")
    bak_root = os.path.join(path, INC.BACKUP_DIR, seen["txid"])
    os.makedirs(bak_root, exist_ok=True)
    if os.path.isdir(live0):
        os.rename(live0, os.path.join(bak_root, f"{INC.SHARD_COL}={s0}"))
    os.rename(os.path.join(staging, f"{INC.SHARD_COL}={s0}"), live0)

    assert INC.recover_sharded_bundle(path) == "rolled_forward"
    for leftover in (INC.JOURNAL_NAME, INC.LOCK_NAME,
                     INC.STAGING_DIR, INC.BACKUP_DIR):
        assert not os.path.exists(os.path.join(path, leftover))

    full = merge_edges(
        _edges(spark, _base_rows()).withColumn("_source_ordinal", F.lit(0))
        .unionByName(delta.withColumn("_source_ordinal", F.lit(1)))
    )
    assert _canon(INC.read_sharded_bundle(spark, path)) == _canon(full)
    # recovery is idempotent
    assert INC.recover_sharded_bundle(path) == "clean"


def test_upsert_crash_before_commit_point_rolls_back(spark, tmp_path):
    """Staging debris with NO journal means the upsert never committed:
    recovery discards it and the live bundle is untouched."""
    path = str(tmp_path / "rollback_bundle")
    base = merge_edges(_edges(spark, _base_rows()[:30]))
    INC.write_sharded_bundle(base, path, ["subject"], n_shards=8)
    before = _canon(INC.read_sharded_bundle(spark, path))

    debris = os.path.join(path, INC.STAGING_DIR, "tx-dead", "_shard=0")
    os.makedirs(debris)
    with open(os.path.join(debris, "part-junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    with open(os.path.join(path, INC.LOCK_NAME), "w") as fh:
        fh.write("{}")

    assert INC.recover_sharded_bundle(path) == "rolled_back"
    assert not os.path.exists(os.path.join(path, INC.STAGING_DIR))
    assert not os.path.exists(os.path.join(path, INC.LOCK_NAME))
    assert _canon(INC.read_sharded_bundle(spark, path)) == before
    assert INC.recover_sharded_bundle(path) == "clean"


def test_upsert_staging_invisible_to_readers(spark, tmp_path):
    """Dot-prefixed staging/backup dirs and the underscore journal are
    ignored by parquet readers of the bundle path — a reader racing the
    stage phase sees only the committed bundle."""
    path = str(tmp_path / "vis_bundle")
    base = merge_edges(_edges(spark, _base_rows()[:30]))
    INC.write_sharded_bundle(base, path, ["subject"], n_shards=8)
    n = INC.read_sharded_bundle(spark, path).count()

    extra = merge_edges(_edges(spark, _base_rows()[30:60]))
    staged = os.path.join(path, INC.STAGING_DIR, "tx-live")
    extra.withColumn(INC.SHARD_COL, INC.shard_of(["subject"], 8)) \
        .write.partitionBy(INC.SHARD_COL).parquet(staged)
    with open(os.path.join(path, INC.JOURNAL_NAME), "w") as fh:
        fh.write('{"txid": "tx-live", "shards": []}')

    assert INC.read_sharded_bundle(spark, path).count() == n


def test_upsert_schema_evolution(spark, tmp_path):
    """A delta that adds a column widens only the touched shards; reads
    merge footers so the new column is surfaced deterministically (null
    on untouched shards) regardless of file listing order, and a SECOND
    upsert against an un-touched shard still sees the widened schema."""
    path = str(tmp_path / "evolve_bundle")
    from orion_spark.operators.merge import merge_nodes

    nodes = spark.createDataFrame(
        [Row(id=f"N:{i}", name=f"n{i}") for i in range(50)]
    )
    INC.write_sharded_bundle(merge_nodes(nodes), path, ["id"], n_shards=8)

    delta1 = spark.createDataFrame([Row(id="N:1", name="x", extra_prop="NEW")])
    INC.upsert_sharded_nodes(spark, delta1, path, n_shards=8)
    out = INC.read_sharded_bundle(spark, path)
    assert "extra_prop" in out.columns
    got = {r.id: r for r in out.collect()}
    assert len(got) == 50
    assert got["N:1"].extra_prop == "NEW"
    assert got["N:2"].extra_prop is None

    # second upsert touching a DIFFERENT node: the widened column must
    # survive the read-merge-rewrite cycle of its shard
    delta2 = spark.createDataFrame([Row(id="N:2", name="y")])
    INC.upsert_sharded_nodes(spark, delta2, path, n_shards=8)
    out2 = {r.id: r for r in INC.read_sharded_bundle(spark, path).collect()}
    assert out2["N:1"].extra_prop == "NEW"
    assert out2["N:2"].name == "n2"  # persisted truthy scalar still wins


def test_upsert_retry_idempotent(spark, tmp_path):
    """foreachBatch redelivery safety: re-applying the SAME delta is a
    no-op under A3 semantics (scalars: the persisted value wins as the
    earlier source; arrays: union+dedup absorbs repeats) — so a crashed
    micro-batch that retries after recovery cannot corrupt the bundle."""
    path = str(tmp_path / "retry_bundle")
    base = merge_edges(_edges(spark, _base_rows()[:50]))
    INC.write_sharded_bundle(base, path, ["subject"], n_shards=8)

    delta = _edges(spark, [
        Row(subject="G:1", predicate="biolink:related_to", object="D:1",
            primary_knowledge_source="infores:a",
            publications=["PMID:retry"], score=777.0),
    ])
    INC.upsert_sharded_edges(spark, delta, path, n_shards=8)
    once = _canon(INC.read_sharded_bundle(spark, path))
    INC.upsert_sharded_edges(spark, delta, path, n_shards=8)  # the retry
    assert _canon(INC.read_sharded_bundle(spark, path)) == once
    row = [r for r in INC.read_sharded_bundle(spark, path).collect()
           if r.subject == "G:1" and r.object == "D:1"][0]
    assert "PMID:retry" in row.publications
    assert row.score == 1.0  # persisted truthy scalar beat the delta's 777


def test_qc_partials_full_build_matches_direct(spark, tmp_path):
    """Folded partials == direct QC aggregates on the same bundle."""
    from orion_spark.operators.merge import merge_edges
    from orion_spark.sinks import incremental as INC
    from orion_spark.sinks import qc_incremental as QCI

    edges = spark.createDataFrame(
        [
            Row(subject="A:1", predicate="p1", object="B:1",
                primary_knowledge_source="infores:x",
                publications=["PMID:1", "PMID:2"], _source_ordinal=0),
            Row(subject="A:2", predicate="p2", object="B:1",
                primary_knowledge_source="infores:y",
                publications=["PMID:3"], _source_ordinal=1),
            Row(subject="C:3", predicate="p1", object="B:2",
                primary_knowledge_source="infores:x",
                publications=None, _source_ordinal=2),
        ]
    )
    path = str(tmp_path / "bundle")
    INC.write_sharded_bundle(merge_edges(edges), path, ["subject"], n_shards=4)
    QCI.write_qc_partials(spark, path, "edges")
    totals = {
        (r.metric, r.key): r.n for r in QCI.qc_totals(spark, path).collect()
    }
    assert totals[("predicate", "p1")] == 2
    assert totals[("predicate", "p2")] == 1
    assert totals[("subject_prefix", "A")] == 2
    assert totals[("subject_prefix", "C")] == 1
    assert totals[("primary_knowledge_source", "infores:x")] == 2
    assert totals[("publications_per_predicate", "p1")] == 2
    assert totals[("publications_per_predicate", "p2")] == 1
    assert QCI.verify_partials(spark, path) == []


def test_qc_partials_refresh_prunes_untouched_shards(spark, tmp_path):
    """The refresh must rewrite ONLY touched partials partitions: delete
    an untouched shard's partials first — if the refresh rewrote
    everything, the hole would be refilled; staying missing proves the
    partition-pruned write, and verify_partials must then report exactly
    that shard as stale."""
    import shutil as _shutil

    from orion_spark.operators.merge import merge_edges
    from orion_spark.sinks import incremental as INC
    from orion_spark.sinks import qc_incremental as QCI
    from orion_spark.sinks.incremental import SHARD_COL

    base = spark.createDataFrame(
        [
            Row(subject=f"S:{i}", predicate="p", object="O:1",
                primary_knowledge_source="infores:x",
                publications=[f"PMID:{i}"], _source_ordinal=i)
            for i in range(40)
        ]
    )
    path = str(tmp_path / "bundle")
    INC.write_sharded_bundle(merge_edges(base), path, ["subject"], n_shards=8)
    QCI.write_qc_partials(spark, path, "edges")

    delta = spark.createDataFrame(
        [Row(subject="S:0", predicate="p", object="O:1",
             primary_knowledge_source="infores:x",
             publications=["PMID:new"], _source_ordinal=0)]
    )
    touched = INC.upsert_sharded_edges(spark, delta, path, n_shards=8)
    assert len(touched) == 1
    pdir = os.path.join(path, QCI.PARTIALS_DIR)
    victims = [
        int(d.split("=")[1]) for d in os.listdir(pdir)
        if d.startswith(f"{SHARD_COL}=")
        and int(d.split("=")[1]) not in touched
    ]
    victim = victims[0]
    _shutil.rmtree(os.path.join(pdir, f"{SHARD_COL}={victim}"))

    QCI.refresh_qc_partials(spark, path, touched, "edges")
    # the untouched victim stays missing: refresh pruned to touched only
    assert not os.path.isdir(os.path.join(pdir, f"{SHARD_COL}={victim}"))
    assert QCI.verify_partials(spark, path) == [victim]
    # full rebuild repairs it, and the refreshed totals reflect the delta
    QCI.write_qc_partials(spark, path, "edges")
    assert QCI.verify_partials(spark, path) == []
    totals = {
        (r.metric, r.key): r.n for r in QCI.qc_totals(spark, path).collect()
    }
    assert totals[("predicate", "p")] == 40  # merged, not 41
    assert totals[("publications_per_predicate", "p")] == 41  # union grew


def test_qc_partials_node_bundle(spark, tmp_path):
    from orion_spark.operators.merge import merge_nodes
    from orion_spark.sinks import incremental as INC
    from orion_spark.sinks import qc_incremental as QCI

    nodes = spark.createDataFrame(
        [
            Row(id="HGNC:1", name="a",
                category=["biolink:Gene", "biolink:NamedThing"],
                _source_ordinal=0),
            Row(id="MESH:2", name="b", category=["biolink:Disease"],
                _source_ordinal=1),
        ]
    )
    path = str(tmp_path / "nbundle")
    INC.write_sharded_bundle(merge_nodes(nodes), path, ["id"], n_shards=4)
    QCI.write_qc_partials(spark, path, "nodes")
    totals = {
        (r.metric, r.key): r.n for r in QCI.qc_totals(spark, path).collect()
    }
    assert totals[("curie_prefix", "HGNC")] == 1
    assert totals[("category", "biolink:NamedThing")] == 1
    assert totals[("category", "biolink:Gene")] == 1


def test_compact_sharded_bundle_preserves_data_and_layout(spark, tmp_path):
    """A bundle written from a many-partition frame leaves one file per
    task per shard dir (the real fragmentation source — upserts rewrite
    whole shards, so fragmentation comes from write parallelism, not
    accumulation). Compaction must collapse only the fragmented shards,
    byte-identically preserve the data, leave sub-threshold shards'
    files alone, and release the lock."""
    from orion_spark.operators.merge import merge_edges
    from orion_spark.sinks import incremental as INC
    from orion_spark.sinks.incremental import SHARD_COL

    base = spark.createDataFrame(
        [Row(subject=f"S:{i}", predicate="p", object="O:1",
             primary_knowledge_source="infores:x",
             publications=[f"PMID:{i}"], _source_ordinal=i)
         for i in range(48)]
    )
    path = str(tmp_path / "bundle")
    # 12-way parallel write: every shard dir collects up to 12 small files
    INC.write_sharded_bundle(
        merge_edges(base).repartition(12), path, ["subject"], n_shards=4
    )

    def files_of(shard):
        d = os.path.join(path, f"{SHARD_COL}={shard}")
        if not os.path.isdir(d):
            return []
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    per_shard_before = {s: files_of(s) for s in range(4)}
    frag_expected = sorted(
        s for s, fs in per_shard_before.items() if len(fs) > 2
    )
    assert frag_expected, per_shard_before  # the fixture must fragment

    before_rows = sorted(
        (r.subject, r.predicate, ",".join(r.publications))
        for r in INC.read_sharded_bundle(spark, path).collect()
    )
    compacted = INC.compact_sharded_bundle(
        spark, path, max_files_per_shard=2
    )
    assert compacted == frag_expected
    for s in frag_expected:
        assert len(files_of(s)) == 1
    for s in range(4):
        if s not in frag_expected:
            assert files_of(s) == per_shard_before[s]
    after_rows = sorted(
        (r.subject, r.predicate, ",".join(r.publications))
        for r in INC.read_sharded_bundle(spark, path).collect()
    )
    assert after_rows == before_rows
    # lock released; compacted bundle is a no-op on re-run
    assert INC.compact_sharded_bundle(spark, path, max_files_per_shard=2) == []
    # and an upsert still works after compaction (protocol state clean)
    delta = spark.createDataFrame(
        [Row(subject="S:0", predicate="p", object="O:1",
             primary_knowledge_source="infores:x",
             publications=["PMID:post"], _source_ordinal=0)]
    )
    assert len(INC.upsert_sharded_edges(spark, delta, path, n_shards=4)) == 1


def test_hll_partials_fold_equals_full_sketch(spark, tmp_path):
    """Per-shard HLL sketches unioned must equal a direct full-scan
    sketch EXACTLY (same estimate — sketches are order/duplicate
    insensitive), and at small cardinality the estimate equals the exact
    distinct count; the post-upsert refresh keeps the equivalence."""
    from pyspark.sql import functions as SF

    from orion_spark.operators.merge import merge_edges
    from orion_spark.sinks import incremental as INC
    from orion_spark.sinks import qc_incremental as QCI

    schema = (
        "subject string, predicate string, object string, "
        "primary_knowledge_source string, publications array<string>, "
        "_source_ordinal long"
    )
    base = spark.createDataFrame(
        [(f"S:{i}", "p", f"O:{i % 7}", f"infores:{i % 2}", None, i)
         for i in range(30)],
        schema,
    )
    path = str(tmp_path / "bundle")
    INC.write_sharded_bundle(merge_edges(base), path, ["subject"], n_shards=4)
    QCI.write_hll_partials(spark, path)

    def totals():
        return {
            (r.aggregator_sources, r.primary_knowledge_source):
                (r.n_edges, r.approx_distinct_nodes)
            for r in QCI.knowledge_source_hll_totals(spark, path).collect()
        }

    got = totals()
    # exact reference over the same merged bundle
    merged = INC.read_sharded_bundle(spark, path)
    exact = {
        (r.aggregator_sources, r.primary_knowledge_source): (r.n, r.d)
        for r in merged.select(
            SF.lit("").alias("aggregator_sources"),
            "primary_knowledge_source",
            SF.explode(SF.array("subject", "object")).alias("_node"),
        )
        .groupBy("aggregator_sources", "primary_knowledge_source")
        .agg((SF.count("*") / 2).cast("long").alias("n"),
             SF.countDistinct("_node").alias("d"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, (n, approx) in got.items():
        assert n == exact[k][0]
        # dense-mode HLL is exact at this cardinality
        assert approx == exact[k][1], (k, approx, exact[k])

    # upsert a delta introducing a new node + source, refresh, re-check
    delta = spark.createDataFrame(
        [("S:0", "p", "O:new", "infores:0", None, 0)], schema
    )
    touched = INC.upsert_sharded_edges(spark, delta, path, n_shards=4)
    QCI.refresh_hll_partials(spark, path, touched)
    merged2 = INC.read_sharded_bundle(spark, path)
    exact2 = {
        (r.aggregator_sources, r.primary_knowledge_source): (r.n, r.d)
        for r in merged2.select(
            SF.lit("").alias("aggregator_sources"),
            "primary_knowledge_source",
            SF.explode(SF.array("subject", "object")).alias("_node"),
        )
        .groupBy("aggregator_sources", "primary_knowledge_source")
        .agg((SF.count("*") / 2).cast("long").alias("n"),
             SF.countDistinct("_node").alias("d"))
        .collect()
    }
    got2 = totals()
    assert set(got2) == set(exact2)
    for k, (n, approx) in got2.items():
        assert (n, approx) == exact2[k], (k, got2[k], exact2[k])


def test_read_sharded_bundle_merges_widened_footers_on_the_driver(spark, tmp_path):
    """After an upsert whose delta carries new columns (top-level and a
    nested struct field), the touched shards are wider than the rest:
    the bundle reads with the same names and types as Spark's
    mergeSchema read of it, and the read starts no Spark job."""
    import uuid

    path = str(tmp_path / "bundle")
    INC.write_sharded_bundle(
        merge_edges(_edges(spark, _base_rows()[:40]).withColumn(
            "attrs", F.struct(F.lit(1).alias("a")))),
        path, ["subject"], n_shards=8)
    delta = _edges(spark, _base_rows()[:2]).select(
        "*", F.lit("x").alias("extra"),
        F.struct(F.lit(2).alias("a"), F.lit("b").alias("b")).alias("attrs"))
    touched = INC.upsert_sharded_edges(spark, delta, path, n_shards=8)
    assert 1 <= len(touched) < 8

    sc = spark.sparkContext
    group = f"sharded-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read")
    try:
        got = INC.read_sharded_bundle(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    want = spark.read.option("mergeSchema", "true").parquet(path).drop(
        INC.SHARD_COL)
    assert got.dtypes == want.dtypes
    assert "extra" in got.columns and "b" in got.schema["attrs"].dataType.names
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def _tree(path):
    """Every file under `path` (relative path -> bytes)."""
    out = {}
    for dp, _, files in os.walk(path):
        for f in files:
            full = os.path.join(dp, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


def test_touched_shards_is_one_job_and_an_empty_delta_changes_nothing(
        spark, tmp_path):
    """The touched shard set is observed on one no-op scan of the delta
    (one job, where distinct + collect took two); an empty delta touches
    no shard, and the upsert and the QC refresh leave the shards and
    their partials as they were."""
    from orion_spark.sinks import qc_incremental as QCI

    path = str(tmp_path / "bundle")
    INC.write_sharded_bundle(merge_edges(_edges(spark, _base_rows())), path,
                             ["subject"], n_shards=16)
    QCI.write_qc_partials(spark, path, "edges")
    delta = _edges(spark, _base_rows()[:5]).withColumn(
        INC.SHARD_COL, INC.shard_of(["subject"], 16))
    want = sorted({r[INC.SHARD_COL] for r in delta.collect()})

    sc = spark.sparkContext
    sc.setJobGroup("touched-shards", "touched shards")
    try:
        assert INC.touched_shards(delta) == want
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("touched-shards")) == 1

    before = _tree(path)
    empty = _edges(spark, [])
    assert INC.upsert_sharded_edges(spark, empty, path, n_shards=16) == []
    QCI.refresh_qc_partials(spark, path, [], "edges")
    assert _tree(path) == before


def test_empty_partials_refresh_starts_no_job(spark, tmp_path):
    """An empty touched list refreshes neither partials table: no Spark
    job starts and no file changes."""
    from orion_spark.sinks import qc_incremental as QCI

    path = str(tmp_path / "bundle")
    INC.write_sharded_bundle(merge_edges(_edges(spark, _base_rows())), path,
                             ["subject"], n_shards=16)
    QCI.write_qc_partials(spark, path, "edges")
    QCI.write_hll_partials(spark, path)
    before = _tree(path)

    sc = spark.sparkContext
    sc.setJobGroup("empty-refresh", "empty refresh")
    try:
        QCI.refresh_qc_partials(spark, path, [], "edges")
        QCI.refresh_hll_partials(spark, path, [])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("empty-refresh")) == []
    assert _tree(path) == before
