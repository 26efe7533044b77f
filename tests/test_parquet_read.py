"""The parquet read boundary (`sources/kgx.read_parquet`): the schema it
reads from a footer on the driver equals the one Spark infers, the read
starts no Spark job, inputs it cannot map exactly fall back to Spark's
own inference, and the engine has no other plain parquet read."""

import ast
import glob
import os
import pathlib
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from orion_spark.sources.kgx import (
    _footer_schema,
    parquet_num_rows,
    read_parquet,
    write_bundle,
)

ENGINE = pathlib.Path(__file__).resolve().parent.parent / "orion_spark"


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"parquet-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    """name -> parquet path, one per writer and layout the engine reads."""
    root = tmp_path_factory.mktemp("parquet_read")
    paths = {}

    paths["pyarrow_table"] = str(root / "arrow.parquet")
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([0, 1_000_000, None], pa.timestamp("us")),
        "ts_utc": pa.array([0, 1, 2], pa.timestamp("ms", tz="UTC")),
        "vec": pa.array([[1.0, 2.0], [], None], pa.list_(pa.float32())),
        "name": pa.array(["a", None, "c"]),
        "small": pa.array([1, 2, 3], pa.int16()),
        "amount": pa.array([1, 2, 3], pa.decimal128(12, 2)),
        "day": pa.array([0, 1, 2], pa.date32()),
        "blob": pa.array([b"x", b"y", None]),
    }), paths["pyarrow_table"])

    # a DuckDB-written KGX bundle, as the benchmark's source bundles are
    duck_dir = root / "duck"
    con = duckdb.connect()
    for part, sql in (
        ("nodes", "SELECT 'N:' || i AS id, 'n' || i AS name, "
                  "['biolink:Gene'] AS category FROM range(5) t(i)"),
        ("edges", "SELECT 'N:' || i AS subject, 'biolink:related_to' AS "
                  "predicate, 'N:' || (i + 1) AS object, i::INTEGER AS rank, "
                  "[i, i + 1] AS publications FROM range(4) t(i)"),
    ):
        os.makedirs(duck_dir / part)
        con.execute(f"COPY ({sql}) TO '{duck_dir / part / 'part-0.parquet'}' "
                    "(FORMAT parquet)")
        paths[f"duckdb_{part}"] = str(duck_dir / part)

    # a Spark-written bundle with nested and all-null columns
    spark_dir = str(root / "spark_bundle")
    nodes = spark.range(6).select(
        F.concat(F.lit("N:"), F.col("id").cast("string")).alias("id"),
        F.array(F.lit("biolink:Gene"), F.lit("biolink:NamedThing")).alias("category"),
        F.struct(F.col("id").alias("k"), F.lit("v").alias("v")).alias("attrs"),
        F.create_map(F.lit("source"), F.col("id").cast("string")).alias("props"),
        F.lit(None).cast("string").alias("description"),
        F.lit(None).alias("nothing"),
    )
    edges = nodes.select(F.col("id").alias("subject"),
                         F.lit("biolink:related_to").alias("predicate"),
                         F.col("id").alias("object"))
    write_bundle(nodes, edges, spark_dir)
    paths["spark_nodes"] = os.path.join(spark_dir, "nodes")
    paths["spark_edges"] = os.path.join(spark_dir, "edges")

    # a _shard= partitioned directory; Spark leaves _SUCCESS and .crc files
    sharded = str(root / "sharded")
    spark.range(40).select(
        F.col("id").alias("key"), (F.col("id") % 4).alias("_shard"),
        F.col("id").cast("double").alias("score"),
    ).write.partitionBy("_shard").parquet(sharded)
    assert os.path.exists(os.path.join(sharded, "_SUCCESS"))
    assert glob.glob(os.path.join(sharded, "*", ".*.crc"))
    paths["sharded"] = sharded
    return paths


READ_INPUTS = ["pyarrow_table", "duckdb_nodes", "duckdb_edges",
               "spark_nodes", "spark_edges", "sharded"]


@pytest.mark.parametrize("name", READ_INPUTS)
def test_footer_schema_equals_inferred_and_starts_no_job(spark, inputs, name):
    path = inputs[name]
    assert _footer_schema(spark, path) is not None
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(df.collect()) == sorted(spark.read.parquet(path).collect())


def test_naive_timestamps_follow_the_session_ntz_setting(spark, inputs):
    path = inputs["pyarrow_table"]
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "false")
    try:
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.unset(key)
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"


@pytest.mark.parametrize("name", READ_INPUTS)
def test_footer_row_count_equals_count(spark, inputs, name):
    path = inputs[name]
    n, jobs = _jobs(spark, lambda: parquet_num_rows(spark, path))
    assert jobs == 0
    assert n == spark.read.parquet(path).count()


def test_inputs_the_map_does_not_cover_fall_back_to_spark(spark, tmp_path):
    """Unsigned ints and INT96 timestamps are typed by Spark's own
    inference, never by a guess; so is a data column that is also a
    partition key."""
    unsigned = str(tmp_path / "unsigned.parquet")
    pq.write_table(pa.table({"u": pa.array([1, 2], pa.uint32())}), unsigned)
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"t": pa.array([0, 1], pa.timestamp("us"))}),
                   int96, use_deprecated_int96_timestamps=True)
    overlap = tmp_path / "overlap" / "k=1"
    overlap.mkdir(parents=True)
    pq.write_table(pa.table({"x": [1], "k": ["a"]}), str(overlap / "p.parquet"))
    for path in (unsigned, int96, str(tmp_path / "overlap")):
        assert _footer_schema(spark, path) is None
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema


def test_summary_file_is_preferred_as_spark_does(spark, tmp_path):
    """Spark's inference reads `_common_metadata` before any data file."""
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "part-0.parquet"))
    pq.write_metadata(pa.schema([("b", pa.string())]),
                      str(tmp_path / "_common_metadata"))
    df, jobs = _jobs(spark, lambda: read_parquet(spark, str(tmp_path)))
    assert jobs == 0
    assert df.schema == spark.read.parquet(str(tmp_path)).schema


def test_unreadable_paths_raise_as_spark_does(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "missing"), str(empty)):
        with pytest.raises(Exception) as spark_err:
            spark.read.parquet(path)
        with pytest.raises(Exception) as ours:
            read_parquet(spark, path)
        assert type(ours.value) is type(spark_err.value)


def _batch_parquet_reads(tree):
    """(enclosing function, line) of each `<x>.read...parquet(...)` or
    `<x>.read...load(..., "parquet")` call; streaming reads excluded."""

    def chain(node):
        while isinstance(node, (ast.Call, ast.Attribute)):
            node = node.func if isinstance(node, ast.Call) else node.value
            yield node

    def literals(call):
        return [a.value for a in [*call.args, *(k.value for k in call.keywords)]
                if isinstance(a, ast.Constant)]

    found = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, ast.FunctionDef) else func
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and any(isinstance(n, ast.Attribute) and n.attr == "read"
                            for n in chain(child.func))):
                fmt_calls = [n for n in chain(child.func) if isinstance(n, ast.Call)]
                is_parquet = child.func.attr == "parquet" or (
                    child.func.attr == "load"
                    and "parquet" in literals(child)
                    + [v for c in fmt_calls for v in literals(c)])
                if is_parquet:
                    found.append((func, child.lineno))
            visit(child, inner)

    visit(tree, None)
    return found


def _merge_schema_options(tree):
    """(enclosing function, line) of each call that passes a `mergeSchema`
    option: `.option("mergeSchema", ...)`, `.options(mergeSchema=...)`,
    or a conf key such as `spark.sql.parquet.mergeSchema`."""
    found = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, ast.FunctionDef) else func
            if isinstance(child, ast.Call) and (
                    any(isinstance(a, ast.Constant) and isinstance(a.value, str)
                        and a.value.endswith("mergeSchema") for a in child.args)
                    or any(k.arg == "mergeSchema" for k in child.keywords)):
                found.append((func, child.lineno))
            visit(child, inner)

    visit(tree, None)
    return found


def test_every_plain_parquet_read_goes_through_read_parquet():
    """`read_parquet` is the engine's one batch parquet read and the one
    place that may ask Spark to merge schemas: every `mergeSchema` read
    folds its footers on the driver (`read_parquet(merge_schema=True)`)
    and falls back to Spark's merge only there."""
    stray = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        tree = ast.parse(path.read_text())
        for func, line in set(_batch_parquet_reads(tree)
                              + _merge_schema_options(tree)):
            if (rel, func) != ("sources/kgx.py", "read_parquet"):
                stray.append(f"{rel}:{line} ({func})")
    assert stray == [], "parquet reads outside read_parquet: " + ", ".join(stray)


def test_read_guard_sees_each_read_form():
    src = (
        "def f(spark):\n"
        "    a = spark.read.parquet('p')\n"
        "    b = spark.read.load('p', 'parquet')\n"
        "    c = spark.read.format('parquet').load('p')\n"
        "    d = spark.read.option('mergeSchema', 'true').parquet('p')\n"
        "    e = spark.readStream.schema('a int').parquet('p')\n"
        "    g = spark.read.json('p')\n"
    )
    assert [line for _, line in _batch_parquet_reads(ast.parse(src))] == [2, 3, 4, 5]


def test_merge_schema_guard_sees_each_option_form():
    src = (
        "def f(spark, df):\n"
        "    'mergeSchema in a docstring is no option'\n"
        "    a = spark.read.option('mergeSchema', 'true')\n"
        "    b = spark.read.options(mergeSchema=True)\n"
        "    spark.conf.set('spark.sql.parquet.mergeSchema', 'true')\n"
        "    c = df.option('mergeSchemaX', 'true')\n"
    )
    assert [line for _, line in _merge_schema_options(ast.parse(src))] == [3, 4, 5]


def test_merged_footers_equal_spark_merge_schema(spark, tmp_path):
    """`read_parquet(merge_schema=True)` folds every footer on the driver
    as Spark's mergeSchema does: new top-level and nested fields land in
    the same order with the same types, and the read starts no job.
    `partitions` narrows the fold to the named partition directories."""
    root = tmp_path / "widened"
    base = spark.range(6).select(
        F.col("id"), (F.col("id") % 3).alias("k"),
        F.struct(F.col("id").alias("a")).alias("s"))
    base.write.partitionBy("k").parquet(str(root))
    spark.range(2).select(
        F.col("id"), F.lit(1).alias("k"), F.lit("x").alias("extra"),
        F.struct(F.col("id").alias("a"), F.lit(1.5).alias("b")).alias("s"),
        F.array(F.struct(F.lit(1).alias("c"))).alias("arr"),
    ).write.mode("append").partitionBy("k").parquet(str(root))
    path = str(root)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path, merge_schema=True))
    assert jobs == 0
    want = spark.read.option("mergeSchema", "true").parquet(path)
    assert df.schema == want.schema
    assert sorted(map(str, df.collect())) == sorted(map(str, want.collect()))
    narrow = _footer_schema(spark, path, merge=True, partitions=["k=0"])
    assert narrow.simpleString() == spark.read.parquet(
        os.path.join(path, "k=0")).schema.simpleString()


def test_merge_conflicts_fall_back_to_spark(spark, tmp_path):
    """Files whose columns disagree in type are merged by Spark itself
    (which widens or rejects by its own rules), never by a guess."""
    for name, other in (("long_vs_int", pa.int32()), ("long_vs_str", pa.string())):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(pa.table({"v": pa.array([1], pa.int64())}),
                       str(d / "part-0.parquet"))
        pq.write_table(pa.table({"v": pa.array([2], pa.int64()).cast(other)}),
                       str(d / "part-1.parquet"))
        assert _footer_schema(spark, str(d), merge=True) is None
        try:
            want = spark.read.option("mergeSchema", "true").parquet(str(d))
        except Exception as spark_err:
            with pytest.raises(type(spark_err)):
                read_parquet(spark, str(d), merge_schema=True)
        else:
            got = read_parquet(spark, str(d), merge_schema=True)
            assert got.schema == want.schema
