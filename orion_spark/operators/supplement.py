"""N5: SNPEFF supplementation orchestration (orion/supplementation.py).

The reference's pipeline stage is: variant nodes -> VCF -> snpEff
subprocess -> annotated VCF -> KGX nodes/edges via the SO-term predicate
map. This module keeps that orchestration shape — the external annotator
is a genuine subprocess hook (`run_annotator`, command injectable so tests
use a fake binary) — while everything around it is distributed:

- the VCF is written by the distributed sink (sources/readers.write_vcf)
- the annotated VCF is re-read with the distributed scan (read_vcf)
- the ANN= field parse (supplementation.py:156-221's per-line Python) is a
  declarative split/explode pipeline: one row per
  (variant, annotation, effect, gene), predicate via a literal SO-term map
  with the reference's fallback

At cluster scale the subprocess hop is the bottleneck by design (the
reference runs one JVM on one VCF); operators/range_join.py is the native
alternative that computes variant-gene proximity edges without leaving
Spark. Both are kept: this module is drop-in parity, the range join is the
100 TB path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orion_spark.sinks.external import concat_parts, run_tool

# orion/supplementation.py:25-52 (SO effect term -> biolink/SO predicate)
SNPEFF_SO_PREDICATES = {
    "3_prime_UTR_variant": "biolink:is_non_coding_variant_of",
    "5_prime_UTR_premature_start_codon_gain_variant": "biolink:is_non_coding_variant_of",
    "5_prime_UTR_variant": "biolink:is_non_coding_variant_of",
    "conservative_inframe_deletion": "SO:0001825",
    "conservative_inframe_insertion": "SO:0001823",
    "disruptive_inframe_deletion": "SO:0001826",
    "disruptive_inframe_insertion": "SO:0001824",
    "downstream_gene_variant": "biolink:is_nearby_variant_of",
    "frameshift_variant": "SO:0001589",
    "initiator_codon_variant": "SO:0001583",
    "intergenic_region": "biolink:is_nearby_variant_of",
    "conserved_intergenic_region": "biolink:is_nearby_variant_of",
    "intragenic_variant": "biolink:is_non_coding_variant_of",
    "intron_variant": "biolink:is_non_coding_variant_of",
    "missense_variant": "SO:0001583",
    "non_coding_transcript_exon_variant": "biolink:is_non_coding_variant_of",
    "non_coding_transcript_variant": "biolink:is_non_coding_variant_of",
    "splice_acceptor_variant": "SO:0001629",
    "splice_donor_variant": "SO:0001629",
    "splice_region_variant": "SO:0001629",
    "start_lost": "SO:0001589",
    "start_retained_variant": "SO:0001819",
    "stop_gained": "SO:0002054",
    "stop_lost": "SO:0001589",
    "synonymous_variant": "SO:0001819",
    "upstream_gene_variant": "biolink:is_nearby_variant_of",
}
FALLBACK_EDGE_PREDICATE = "biolink:related_to"  # orion/normalization.py:38
SNPEFF_PROVENANCE = "infores:robokop-snpeff"  # orion/supplementation.py:19


class SupplementationFailedError(RuntimeError):
    pass


def variant_nodes_to_vcf(nodes: DataFrame, vcf_dir: str) -> None:
    """SequenceVariant nodes -> VCF via the distributed sink
    (supplementation.py:223-259). Expects chrom/pos/ref/alt columns (the
    declarative analogue of the robokop_variant_id key unpack); applies
    the reference's empty-allele N-padding and the +1 position shift for
    substitutions."""
    from orion_spark.sources.readers import write_vcf

    v = nodes.where(F.array_contains("category", "biolink:SequenceVariant"))
    ref_empty = F.coalesce(F.col("ref"), F.lit("")) == ""
    alt_empty = F.coalesce(F.col("alt"), F.lit("")) == ""
    rows = v.select(
        F.col("chrom").cast("string").alias("chrom"),
        F.when(~ref_empty & ~alt_empty, F.col("pos") + 1)
        .otherwise(F.col("pos"))
        .alias("pos"),
        F.col("id"),
        F.when(ref_empty, F.lit("N"))
        .when(alt_empty, F.concat(F.lit("N"), F.col("ref")))
        .otherwise(F.col("ref"))
        .alias("ref"),
        F.when(ref_empty, F.concat(F.lit("N"), F.col("alt")))
        .when(alt_empty, F.lit("N"))
        .otherwise(F.col("alt"))
        .alias("alt"),
        F.lit(None).cast("string").alias("qual"),
        F.lit(None).cast("string").alias("filter"),
        F.lit(None).cast("string").alias("info"),
    )
    write_vcf(rows, vcf_dir)


def run_annotator(
    vcf_dir: str,
    annotated_vcf_path: str,
    command: list[str],
    workdir: str | None = None,
) -> None:
    """The subprocess hook (supplementation.py:136-154 run_snpeff): runs
    `command + [concatenated VCF]` through sinks/external.run_tool with
    stdout streamed into the annotated file, raising with the captured
    stderr on a nonzero exit. The real deployment passes ['java',
    '-Xmx12g', '-jar', 'snpEff.jar', '-noStats', '-ud', '100000',
    'GRCh38.99']; tests pass a fake binary."""
    from orion_spark.sources.readers import VCF_HEADER

    # the sink writes a directory (header file + part files); the
    # annotator wants one file — concatenate driver-side, header first
    with open(os.path.join(vcf_dir, VCF_HEADER)) as fh:
        header = fh.read().rstrip("\n")
    single = annotated_vcf_path + ".input.vcf"
    concat_parts(vcf_dir, header, single)
    with open(annotated_vcf_path, "w") as out:
        run_tool(
            command + [single], SupplementationFailedError, cwd=workdir, stdout=out
        )


def snpeff_annotations_to_kgx(
    spark: SparkSession, annotated_vcf_path: str
) -> tuple[DataFrame, DataFrame]:
    """Annotated VCF -> (gene nodes, variant-gene edges): the declarative
    re-expression of supplementation.py:156-221's per-line loop. One
    explode per nesting level (ANN entries, '&'-joined effects,
    '-'-joined gene ids); the SO-term predicate lookup is a literal map —
    JVM-side, no Python in the row path."""
    from orion_spark.operators.extract import predicate_remap
    from orion_spark.sources.readers import read_vcf

    vcf = read_vcf(spark, annotated_vcf_path)
    ann = (
        vcf.select(
            F.col("id").alias("variant_id"),
            F.explode(F.split(F.col("info"), ";")).alias("_kv"),
        )
        .where(F.col("_kv").startswith("ANN="))
        .select(
            "variant_id",
            F.explode(F.split(F.expr("substring(_kv, 5)"), ",")).alias("_ann"),
        )
        .select("variant_id", F.split(F.col("_ann"), r"\|").alias("_f"))
        .select(
            "variant_id",
            F.explode(F.split(F.col("_f").getItem(1), "&")).alias("effect"),
            F.col("_f").getItem(4).alias("_genes"),
            F.col("_f").getItem(14).alias("_distance"),
        )
        .select(
            "variant_id",
            "effect",
            F.explode(F.split(F.col("_genes"), "-")).alias("gene_id"),
            "_distance",
        )
    )
    typed = ann.select(
        "variant_id",
        F.concat(F.lit("ENSEMBL:"), F.col("gene_id")).alias("gene_curie"),
        "effect",
        predicate_remap(
            F.col("effect"), SNPEFF_SO_PREDICATES, default=FALLBACK_EDGE_PREDICATE
        ).alias("predicate"),
        # int(distance) with the reference's try/except -> regex gate
        F.when(
            F.col("_distance").rlike("^-?[0-9]+$"),
            F.col("_distance").cast("int"),
        ).alias("distance_to_feature"),
    )
    edges = typed.select(
        F.col("variant_id").alias("subject"),
        "predicate",
        F.col("gene_curie").alias("object"),
        F.lit(SNPEFF_PROVENANCE).alias("primary_knowledge_source"),
        F.lit("prediction").alias("knowledge_level"),
        F.lit("computational_model").alias("agent_type"),
        F.col("effect").alias("snpeff_effect"),
        "distance_to_feature",
    )
    gene_nodes = typed.select(
        F.col("gene_curie").alias("id"),
        F.lit("").alias("name"),
        F.array(F.lit("biolink:NamedThing")).alias("category"),
    ).dropDuplicates(["id"])
    return gene_nodes, edges


def parse_snpeff_metadata(annotated_vcf_path: str) -> dict:
    """Header scrape (supplementation.py:166-172): SnpEffVersion/Cmd from
    the ## lines — driver-side, the header is O(lines-of-header)."""
    meta: dict[str, str] = {}
    with open(annotated_vcf_path) as fh:
        for line in fh:
            if not line.startswith("#"):
                break
            if "SnpEffVersion" in line:
                meta["SnpEffVersion"] = line.split("=", 1)[1].strip()
            if "SnpEffCmd" in line:
                meta["SnpEffCmd"] = line.split("=", 1)[1].strip()
    return meta
