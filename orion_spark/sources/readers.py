"""Source readers beyond parquet/jsonl (SURVEY §2.1 S3-S8).

Each reference extractor becomes a declarative Spark reader:
- S3 CSV/TSV: `spark.read.csv` options cover comment chars / headers /
  delimiters (orion/extractor.py:26-66)
- S4 SQL: `spark.read.jdbc` with partitioned pushdown (orion/db_connectors.py)
- S6 RDF N-Triples: line-based text scan + regex projection — distributed,
  no pyoxigraph needed (parsers/UberGraph/src/loadUG.py:47-110)
- S7 XML: whole-file read + mapInPandas ElementTree — the reference's SAX
  loop per file, parallelized per file (parsers/ViralProteome/loadUniRef.py)
- S8 VCF: csv reader with '#' comments + tab sep; writer re-emits the
  header driver-side (orion/supplementation.py:156-259)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_tabular(
    spark: SparkSession,
    path: str,
    sep: str = "\t",
    header: bool = True,
    comment: str = "#",
    infer_schema: bool = True,
) -> DataFrame:
    """S3: delimited source with comment-line and header handling (P2 is a
    reader option, not an operator)."""
    return (
        spark.read.option("sep", sep)
        .option("header", header)
        .option("comment", comment)
        .option("inferSchema", infer_schema)
        .csv(path)
    )


def read_jdbc(
    spark: SparkSession,
    url: str,
    query: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """S4: SQL extract (DrugCentral-style, orion/extractor.py:68-82). The
    query runs DB-side (pushdown); partition_column splits the read across
    executors — the scale path the reference's single cursor lacks.

    Spark rejects `query` + `partitionColumn` together, so the partitioned
    path wraps the query as a dbtable subquery (the documented idiom);
    partition_column must then reference a column of the query's output.
    """
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column:
        reader = (
            reader.option("dbtable", f"({query}) AS part_sub")
            .option("partitionColumn", partition_column)
            .option("numPartitions", num_partitions)
            .option("lowerBound", lower_bound or 0)
            .option("upperBound", upper_bound or 1_000_000)
        )
    else:
        reader = reader.option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


# N-Triples line: <subj> <pred> <obj> .   (object may be an IRI or literal)
_NT_PATTERN = r'^<([^>]*)>\s+<([^>]*)>\s+(<[^>]*>|"(?:[^"\\]|\\.)*"(?:\^\^<[^>]*>|@[A-Za-z\-]+)?)\s*\.\s*$'


def read_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """S6: distributed N-Triples scan -> (subject, predicate, object,
    is_literal). Line-oriented, so it parallelizes like any text scan; TTL
    ontologies are converted to N-Triples upstream (riot/rapper) the same
    way the reference materializes via pyoxigraph."""
    lines = spark.read.text(path).where(
        ~F.col("value").startswith("#") & (F.length(F.trim("value")) > 0)
    )
    parsed = lines.select(
        F.regexp_extract("value", _NT_PATTERN, 1).alias("subject"),
        F.regexp_extract("value", _NT_PATTERN, 2).alias("predicate"),
        F.regexp_extract("value", _NT_PATTERN, 3).alias("raw_object"),
    ).where(F.col("subject") != "")
    return parsed.select(
        "subject",
        "predicate",
        F.when(
            F.col("raw_object").startswith("<"),
            F.regexp_replace("raw_object", r"^<|>$", ""),
        )
        .otherwise(F.regexp_extract("raw_object", r'^"((?:[^"\\]|\\.)*)"', 1))
        .alias("object"),
        (~F.col("raw_object").startswith("<")).alias("is_literal"),
    )


def curie_contract(col, prefix_map: dict[str, str]):
    """IRI -> CURIE contraction with a literal prefix map (longest prefix
    wins), e.g. http://purl.obolibrary.org/obo/GO_ -> GO:."""
    expr = col
    for iri_prefix, curie_prefix in sorted(
        prefix_map.items(), key=lambda kv: -len(kv[0])
    ):
        expr = F.when(
            col.startswith(iri_prefix),
            F.concat(F.lit(curie_prefix + ":"), F.substring(col, len(iri_prefix) + 1, 100_000)),
        ).otherwise(expr)
    return expr


def read_xml_records(
    spark: SparkSession,
    path: str,
    record_tag: str,
    fields: dict[str, str],
    list_fields: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """S7: XML ingest. Reads each file whole (wholetext) and parses records
    of `record_tag` with ElementTree inside mapInPandas — Arrow-batched, one
    task per file, no JVM xml package needed. `fields` maps output column ->
    relative xpath: '@attr' reads a record attribute, 'tag/subtag' reads
    element text (falling back to its `value` attribute, the UniProt
    property convention), and 'tag/subtag@attr' reads a nested element's
    attribute; ElementTree predicates like 'property[@type="x"]' work in
    the path part.

    `list_fields` maps output column -> (repeat_path, sub_xpath) for
    REPEATED children (HMDB-style protein/disease lists): one
    array<string> per column, index-aligned across columns sharing a
    repeat_path (missing sub-elements keep their slot as null), so
    arrays_zip + explode downstream reconstructs the per-child rows. A
    sub_xpath ending in '*' is itself a findall whose texts join with '|'
    (doubly-nested repeats like per-disease pubmed reference lists);
    '@attr' reads an attribute of the repeated child itself and
    'path@attr' a nested element's attribute, same as `fields`."""
    lf = list_fields or {}
    schema = ", ".join(
        [f"{name} string" for name in fields]
        + [f"{name} array<string>" for name in lf]
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import xml.etree.ElementTree as ET

        def resolve(el, xpath):
            # '@attr' on the element itself; else 'path' or 'path@attr',
            # splitting a trailing @attr only OUTSIDE any [...] predicate
            # (predicates contain @ too)
            if xpath.startswith("@"):
                return el.get(xpath[1:])
            path, attr = xpath, None
            at = xpath.rfind("@")
            if at > xpath.rfind("]"):
                path, attr = (
                    xpath[: at - 1] if xpath[at - 1] == "/" else xpath[:at]
                ), xpath[at + 1 :]
            found = el.find(path)
            if found is None:
                return None
            if attr is not None:
                return found.get(attr)
            return found.text or found.get("value")

        for pdf in batches:
            rows = []
            for content in pdf["value"]:
                root = ET.fromstring(content)
                it = root.iter(record_tag) if root.tag != record_tag else [root]
                for rec in it:
                    row = {}
                    for name, xpath in fields.items():
                        row[name] = resolve(rec, xpath)
                    for name, (repeat_path, sub) in lf.items():
                        vals = []
                        for child in rec.findall(repeat_path):
                            if sub.endswith("*"):
                                inner = [
                                    e.text
                                    for e in child.findall(sub[:-1])
                                    if e.text is not None
                                ]
                                vals.append("|".join(inner) if inner else None)
                            elif sub == ".":
                                vals.append(child.text)
                            else:
                                vals.append(resolve(child, sub))
                        row[name] = vals
                    rows.append(row)
            yield pd.DataFrame(
                rows, columns=list(fields) + list(lf)
            )

    raw = spark.read.text(path, wholetext=True)
    return raw.mapInPandas(parse, schema=schema)


VCF_COLUMNS = ["chrom", "pos", "id", "ref", "alt", "qual", "filter", "info"]
# the file write_vcf puts the ## header in, next to the data part files
VCF_HEADER = "00_header.vcf"


def read_vcf(spark: SparkSession, path: str) -> DataFrame:
    """S8: VCF scan — tab-separated with '#' meta/header lines skipped
    (orion/supplementation.py:156-221 reads SNPEFF-annotated VCF this way)."""
    df = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .option("header", False)
        .csv(path)
    )
    cols = df.columns[: len(VCF_COLUMNS)]
    renamed = df.select(
        *[F.col(c).alias(VCF_COLUMNS[i]) for i, c in enumerate(cols)]
    )
    return renamed.withColumn("pos", F.col("pos").cast("bigint"))


def write_vcf(df: DataFrame, path: str, assembly: str = "GRCh38") -> None:
    """S8 sink: variant rows -> VCF lines; the ## header is prepended
    driver-side as its own file so the data write stays distributed
    (orion/supplementation.py:223-259)."""
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, VCF_HEADER), "w") as fh:
        fh.write("##fileformat=VCFv4.2\n")
        fh.write(f"##reference={assembly}\n")
        fh.write("#" + "\t".join(c.upper() for c in VCF_COLUMNS) + "\n")
    line = F.concat_ws(
        "\t", *[F.coalesce(F.col(c).cast("string"), F.lit(".")) for c in VCF_COLUMNS]
    )
    df.select(line.alias("value")).write.mode("append").text(path)
