"""Golden-file parser tests (reference: tests/test_loaders.py pattern —
small real-format fixtures, assert node/edge counts and spot contents)."""

import glob
import json
import os

import pytest

from orion_spark.plans import parsers as PP

CTD_TSV = """\
# CTD chemical-gene interactions (fixture)
chemical_id\tchemical_name\tgene_id\tgene_symbol\tdirection\tinteraction_type\tpubmed_ids\tevidence_count
D000082\tAcetaminophen\t1544\tCYP1A2\tincreases\texpression\t111|222\t3
D000082\tAcetaminophen\t1571\tCYP2E1\tdecreases\tactivity\t333\t2
D000535\tAspirin\t5743\tPTGS2\taffects\tbinding\t\t5
D000535\tAspirin\t9999\tFAKE1\tincreases\texpression\t444\t1
D000999\tMystery\t1111\tGENE1\tweird\tthing\t555\t9
"""


def test_ctd_like_parser(spark, tmp_path):
    p = tmp_path / "ctd.tsv"
    p.write_text(CTD_TSV)
    subj, obj, edges = PP.ctd_like(spark, str(p))
    e = {(r.subject, r.object): r for r in edges.collect()}
    # row 4 fails evidence threshold (P9); row 5 has unmapped predicate (P5)
    assert len(e) == 3
    ace = e[("MESH:D000082", "NCBIGene:1544")]
    assert ace.predicate == "biolink:increases_expression_of"
    assert ace.publications == ["PMID:111", "PMID:222"]
    asp = e[("MESH:D000535", "NCBIGene:5743")]
    assert asp.predicate == "biolink:binds"
    assert asp.publications is None
    assert {r.id: r.name for r in subj.collect()}["MESH:D000082"] == "Acetaminophen"


HETIO_JSON = {
    "nodes": [
        {"ident": "7157", "kind": "Gene", "name": "TP53"},
        {"ident": "1612", "kind": "Disease", "name": "some disease"},
        {"ident": "00945", "kind": "Compound", "name": "aspirin"},
    ],
    "edges": [
        {"source_id": ["Compound", "00945"], "target_id": ["Disease", "1612"],
         "kind": "treats"},
        {"source_id": ["Gene", "7157"], "target_id": ["Disease", "1612"],
         "kind": "associates"},
        {"source_id": ["Gene", "7157"], "target_id": ["Disease", "1612"],
         "kind": "unmapped_kind"},
    ],
}


def test_hetio_like_parser(spark, tmp_path):
    p = tmp_path / "hetio.json"
    p.write_text(json.dumps(HETIO_JSON))
    nodes, edges = PP.hetio_like(spark, str(p))
    n = {r.id: r for r in nodes.collect()}
    assert n["NCBIGene:7157"].name == "TP53"
    assert n["DB:00945"].category == ["biolink:Compound"]
    e = sorted((r.subject, r.predicate, r.object) for r in edges.collect())
    assert e == [
        ("DB:00945", "biolink:treats", "DOID:1612"),
        ("NCBIGene:7157", "biolink:associated_with", "DOID:1612"),
    ]


GWAS_TSV = """\
chrom\tpos\tref\talt\ttrait_id\ttrait_name\tp_value
1\t1000\tA\tG\tEFO:0001\theight\t1e-12
2\t2000\tC\tT\tEFO:0002\tweight\t3e-6
3\t3000\tG\tGAA\tEFO:0003\tbmi\t0.0
"""


def test_gwas_like_parser(spark, tmp_path):
    p = tmp_path / "gwas.tsv"
    p.write_text(GWAS_TSV)
    subj, obj, edges = PP.gwas_like(spark, str(p))
    e = {r.object: r for r in edges.collect()}
    # row 2 fails genome-wide significance
    assert sorted(e) == ["EFO:0001", "EFO:0003"]
    assert e["EFO:0001"].subject == "HGVS:NC_000001:g.1000A>G"
    assert e["EFO:0003"].subject == "HGVS:NC_000003:g.3000_3001insAA"
    # p-value floor keeps -log10 finite for p=0
    assert e["EFO:0003"].p_value > 0
    assert e["EFO:0003"].neg_log_p < 321


UG_NT = """\
<http://purl.obolibrary.org/obo/GO_0001> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://purl.obolibrary.org/obo/GO_0002> .
<http://purl.obolibrary.org/obo/GO_0001> <http://www.w3.org/2000/01/rdf-schema#label> "mitotic cell cycle" .
<http://purl.obolibrary.org/obo/GO_0002> <http://www.w3.org/2000/01/rdf-schema#label> "cell cycle" .
<http://purl.obolibrary.org/obo/CHEBI_99> <http://www.w3.org/2000/01/rdf-schema#subClassOf> <http://purl.obolibrary.org/obo/CHEBI_100> .
"""


def test_ubergraph_like_parser(spark, tmp_path):
    p = tmp_path / "ug.nt"
    p.write_text(UG_NT)
    nodes, edges = PP.ubergraph_like(spark, str(p))
    e = {(r.subject, r.object) for r in edges.collect()}
    assert e == {("GO:0001", "GO:0002"), ("CHEBI:99", "CHEBI:100")}
    n = {r.id: r.name for r in nodes.collect()}
    assert n["GO:0001"] == "mitotic cell cycle"
    assert n["CHEBI:99"] is None  # no label triple
    assert len(n) == 4


GAF = """\
!gaf-version: 2.2
!generated-by: fixture
UniProtKB\tP04637\tTP53\tenables\tGO:0003677\tPMID:1234\tIDA\t\tF\tCellular tumor antigen p53\t\tprotein\ttaxon:9606\t20240101\tUniProt\t\t
UniProtKB\tP04637\tTP53\tNOT|enables\tGO:0005515\tPMID:5678\tIEA\t\tF\t\t\tprotein\ttaxon:9606\t20240101\tUniProt\t\t
UniProtKB\tQ00987\tMDM2\tinvolved_in\tGO:0006355\tGO_REF:0000001\tIEA\t\tP\t\t\tprotein\ttaxon:9606\t20240101\tUniProt\t\t
"""


def test_goa_like_parser(spark, tmp_path):
    p = tmp_path / "goa.gaf"
    p.write_text(GAF)
    subj, obj, edges = PP.goa_like(spark, str(p))
    e = {r.object: r for r in edges.collect()}
    # NOT-qualified row dropped
    assert sorted(e) == ["GO:0003677", "GO:0006355"]
    tp53 = e["GO:0003677"]
    assert tp53.subject == "UniProtKB:P04637"
    assert tp53.predicate == "biolink:enables"
    assert tp53.publications == ["PMID:1234"]
    mdm2 = e["GO:0006355"]
    assert mdm2.predicate == "biolink:actively_involved_in"
    assert mdm2.publications is None  # GO_REF is not a PMID


STRING = """\
protein1 protein2 combined_score
9606.ENSP00000269305 9606.ENSP00000258149 900
9606.ENSP00000269305 9606.ENSP00000000001 400
"""


def test_string_db_like_parser(spark, tmp_path):
    p = tmp_path / "string.txt"
    p.write_text(STRING)
    _, _, edges = PP.string_db_like(spark, str(p), min_combined_score=700)
    rows = edges.collect()
    assert len(rows) == 1  # score threshold drops the 400 row
    assert rows[0].subject == "ENSEMBL:ENSP00000269305"
    assert rows[0].object == "ENSEMBL:ENSP00000258149"
    assert rows[0].predicate == "biolink:interacts_with"
    assert rows[0].combined_score == 900


UNIREF = """\
<UniRef>
  <entry id="UniRef50_Q123">
    <name>Cluster: Capsid protein</name>
    <property type="common taxon ID" value="10493"/>
    <representativeMember>
      <dbReference type="UniProtKB ID" id="CAPSD_VIRUS">
        <property type="NCBI taxonomy" value="654924"/>
        <property type="protein name" value="Capsid protein"/>
      </dbReference>
    </representativeMember>
    <member>
      <dbReference type="UniProtKB ID" id="CAPSD_FROG3">
        <property type="NCBI taxonomy" value="2219562"/>
      </dbReference>
    </member>
    <member>
      <dbReference type="UniProtKB ID" id="CAPSD_NOTAX"/>
    </member>
  </entry>
  <entry id="UniRef50_Q999">
    <name>Cluster: Human keratin</name>
    <property type="common taxon ID" value="9606"/>
    <representativeMember>
      <dbReference type="UniProtKB ID" id="KRT_HUMAN">
        <property type="NCBI taxonomy" value="9606"/>
      </dbReference>
    </representativeMember>
  </entry>
  <entry id="UniRef50_Q777">
    <name>Cluster: Orphan, no member taxon</name>
    <property type="common taxon ID" value="10493"/>
    <representativeMember>
      <dbReference type="UniProtKB ID" id="ORPHAN_1"/>
    </representativeMember>
  </entry>
</UniRef>
"""


def test_uniref_like_parser_golden_counts(spark, tmp_path):
    """Reference fixture style (tests/test_loaders.py:33-40 golden counts):
    3 entries -> 2 edges (representative + plain member, matching
    loadUniRef.py:332-340's iteration over both tags). The human cluster
    fails the taxon row_filter; members without a taxonomy property yield
    a null object id and so no edge."""
    p = tmp_path / "uniref50.xml"
    p.write_text(UNIREF)
    subj, obj, edges = PP.uniref_like(
        spark, str(p), target_taxa={"10493", "2219562"}
    )
    e = {r.object: r for r in edges.collect()}
    assert sorted(e) == ["NCBITaxon:2219562", "NCBITaxon:654924"]
    row = e["NCBITaxon:654924"]
    assert row.subject == "UniRef50:Q123"
    assert row.predicate == "biolink:similar_to"
    assert row.similarity_bin == "UniRef50"
    assert row.primary_knowledge_source == "infores:uniref"
    assert e["NCBITaxon:2219562"].subject == "UniRef50:Q123"
    s = {r.id: r for r in subj.collect()}
    # the orphan survives the row_filter (it IS a target taxon) and has a
    # valid subject id — only the human cluster is filtered out
    assert sorted(s) == ["UniRef50:Q123", "UniRef50:Q777"]
    assert s["UniRef50:Q123"].name == "Cluster: Capsid protein"
    assert s["UniRef50:Q123"].category == ["biolink:GeneFamily"]
    o = {r.id: r for r in obj.collect()}
    assert sorted(o) == ["NCBITaxon:2219562", "NCBITaxon:654924"]
    assert o["NCBITaxon:654924"].name == "CAPSD_VIRUS"
    assert o["NCBITaxon:2219562"].name == "CAPSD_FROG3"


def test_uniref_like_empty_taxon_set(spark, tmp_path):
    """An empty target set captures nothing instead of raising on the
    empty isin() (the reference's membership test can never hit)."""
    p = tmp_path / "uniref50.xml"
    p.write_text(UNIREF)
    subj, obj, edges = PP.uniref_like(spark, str(p), target_taxa=set())
    assert edges.count() == 0 and subj.count() == 0 and obj.count() == 0


def test_drugcentral_like_jdbc_end_to_end(spark, tmp_path):
    """S4 source-to-KGX (parsers/drugcentral/src/loaddrugcentral.py): a
    real embedded-Derby DB with the five reference tables, three extract
    queries -> specs -> merged KGX nodes+edges with structures
    enrichment. Golden counts + semantics: STY exclusion, FAERS llr
    threshold, bioactivity predicate fallback and per-source pks."""
    url = f"jdbc:derby:{tmp_path}/dcdb;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    ddl = [
        "CREATE TABLE omop_relationship (struct_id INT, relationship_name "
        "VARCHAR(40), umls_cui VARCHAR(20), cui_semantic_type VARCHAR(8))",
        "CREATE TABLE faers (struct_id INT, meddra_code VARCHAR(20), "
        "llr DOUBLE, llr_threshold DOUBLE, drug_ae INT)",
        "CREATE TABLE act_table_full (struct_id INT, target_id INT, "
        "act_value DOUBLE, act_unit VARCHAR(10), act_type VARCHAR(10), "
        "act_source VARCHAR(30), action_type VARCHAR(30))",
        "CREATE TABLE td2tc (target_id INT, component_id INT)",
        "CREATE TABLE target_component (id INT, accession VARCHAR(20))",
        "CREATE TABLE structures (id INT, smiles VARCHAR(60), "
        "mrdef VARCHAR(60))",
        # omop: row 1 kept, row 2 dropped by STY exclusion, row 3 null cui
        # dropped DB-side
        "INSERT INTO omop_relationship VALUES "
        "(1, 'indication', 'C0004096', 'T047'), "
        "(1, 'indication', 'C0032285', 'T059'), "
        "(2, 'off-label use', NULL, NULL), "
        "(2, 'contraindication', 'C0011849', NULL)",
        # faers: first passes both gates, second fails llr threshold,
        # third fails drug_ae floor
        "INSERT INTO faers VALUES (1, '10019211', 9.5, 5.0, 100), "
        "(1, '10028596', 3.0, 5.0, 100), (2, '10019211', 9.5, 5.0, 10)",
        # bioactivity: action_type wins over act_type; empty action_type
        # falls back to act_type; CHEMBL maps to infores:chembl
        "INSERT INTO act_table_full VALUES "
        "(1, 7, 8.2, NULL, 'Ki', 'CHEMBL', 'INHIBITOR'), "
        "(2, 7, 6.1, NULL, 'EC50', 'SCIENTIFIC LITERATURE', '')",
        "INSERT INTO td2tc VALUES (7, 70)",
        "INSERT INTO target_component VALUES (70, 'P35372')",
        "INSERT INTO structures VALUES (1, 'CC(=O)OC1=CC=CC=C1C(=O)O', "
        "'an analgesic'), (2, 'CN1CCC23C4C1CC5=C2C(=C(C=C5)O)OC3C(C=C4)O', "
        "NULL), (99, 'XX', 'unextracted structure')",
    ]
    for q in ddl:
        st.execute(q)
    st.close()
    conn.close()

    import orion_spark.plans.parsers as PP2

    nodes, edges = PP2.drugcentral_like(spark, url)
    e = edges.collect()
    by = {(r.subject, r.predicate, r.object): r for r in e}
    assert set(by) == {
        ("DrugCentral:1", "RO:0002606", "UMLS:C0004096"),
        ("DrugCentral:2", "NCIT:C37933", "UMLS:C0011849"),
        ("DrugCentral:1", "biolink:has_adverse_event", "MEDDRA:10019211"),
        ("DrugCentral:1", "biolink:decreases_activity_of", "UniProtKB:P35372"),
        ("DrugCentral:2", "biolink:increases_activity_of", "UniProtKB:P35372"),
    }
    ae = by[("DrugCentral:1", "biolink:has_adverse_event", "MEDDRA:10019211")]
    assert ae.primary_knowledge_source == "infores:faers"
    assert ae.FAERS_llr == 9.5
    chembl = by[
        ("DrugCentral:1", "biolink:decreases_activity_of", "UniProtKB:P35372")
    ]
    assert chembl.primary_knowledge_source == "infores:chembl"
    assert chembl.aggregator_knowledge_sources == ["infores:drugcentral"]
    assert chembl.affinity_parameter == "pKi"
    lit = by[
        ("DrugCentral:2", "biolink:increases_activity_of", "UniProtKB:P35372")
    ]
    assert lit.primary_knowledge_source == "infores:drugcentral"
    assert lit.aggregator_knowledge_sources is None

    n = {r.id: r for r in nodes.collect()}
    # 2 drugs + 2 UMLS + 1 MEDDRA + 1 protein; struct 99 never extracted
    assert len(n) == 6 and "DrugCentral:99" not in n
    assert n["DrugCentral:1"].smiles == "CC(=O)OC1=CC=CC=C1C(=O)O"
    assert n["UniProtKB:P35372"].smiles is None
    assert n["DrugCentral:1"].category == ["biolink:Drug"]


HMDB = """\
<hmdb>
  <metabolite>
    <accession>HMDB0000001</accession>
    <name>1-Methylhistidine</name>
    <protein_associations>
      <protein>
        <uniprot_id>P05091</uniprot_id>
        <name>Aldehyde dehydrogenase</name>
        <protein_type>Enzyme</protein_type>
      </protein>
      <protein>
        <uniprot_id>Q9UHI5</uniprot_id>
        <name>Large neutral amino acids transporter</name>
        <protein_type>Transporter</protein_type>
      </protein>
      <protein>
        <uniprot_id>A0A0B4</uniprot_id>
        <name>Mystery protein</name>
        <protein_type>Unknown</protein_type>
      </protein>
      <protein>
        <uniprot_id>NOTYPE1</uniprot_id>
        <name>No type, must be skipped</name>
      </protein>
    </protein_associations>
    <diseases>
      <disease>
        <name>Kidney disease</name>
        <omim_id>613677</omim_id>
        <references>
          <reference><pubmed_id>111</pubmed_id></reference>
          <reference><pubmed_id>222</pubmed_id></reference>
        </references>
      </disease>
      <disease>
        <name>No omim, skipped</name>
        <references><reference><pubmed_id>333</pubmed_id></reference></references>
      </disease>
    </diseases>
  </metabolite>
  <metabolite>
    <accession>HMDB0000002</accession>
  </metabolite>
</hmdb>
"""


def test_hmdb_like_parser_golden_counts(spark, tmp_path):
    """Repeated-children XML family (loadHMDB.py): 4 proteins -> 3 edges
    (typeless one skipped) with the Enzyme/Transport direction flip, 2
    diseases -> 1 edge (no-omim skipped) carrying the nested pubmed list;
    the nameless metabolite record is dropped entirely."""
    p = tmp_path / "hmdb_metabolites.xml"
    p.write_text(HMDB)
    nodes, edges = PP.hmdb_like(spark, str(p))
    e = {(r.subject, r.predicate, r.object): r for r in edges.collect()}
    assert set(e) == {
        ("UniProtKB:P05091", "CTD:affects_abundance_of", "HMDB:HMDB0000001"),
        ("UniProtKB:Q9UHI5", "CTD:increases_transport_of", "HMDB:HMDB0000001"),
        ("HMDB:HMDB0000001", "CTD:related_to", "UniProtKB:A0A0B4"),
        ("HMDB:HMDB0000001", "SEMMEDDB:ASSOCIATED_WITH", "OMIM:613677"),
    }
    dis = e[("HMDB:HMDB0000001", "SEMMEDDB:ASSOCIATED_WITH", "OMIM:613677")]
    assert dis.publications == ["PMID:111", "PMID:222"]
    assert dis.knowledge_level == "knowledge_assertion"
    n = {r.id: r for r in nodes.collect()}
    assert len(n) == 5  # metabolite + 3 proteins + 1 disease
    assert n["HMDB:HMDB0000001"].category == ["biolink:SmallMolecule"]
    assert n["OMIM:613677"].name == "Kidney disease"
    assert n["UniProtKB:P05091"].name == "Aldehyde dehydrogenase"
    assert "UniProtKB:NOTYPE1" not in n


BINDING = """\
pubchem_cid\tuniprot_chain\tki_nm\tic50_nm\tkd_nm\tec50_nm\tpmid\tpubchem_aid\tpatent_number
101\tP35372\t10\t\t\t\t11111\tAID1\t
101\tP35372\t30\t\t\t\t22222\t\tUS123
101\tP35372\t>5000\t\t\t\t33333\t\t
101\tP35372\t0\t\t\t\t44444\t\t
102\tP35372\t\t<1,000\t\t\t\t\t
\tP35372\t7\t\t\t\t\t\t
103\t\t7\t\t\t\t\t\t
104\tQ00987\t\t\t\t200 \t55555\t\t
"""


def test_binding_like_parser_golden(spark, tmp_path):
    """Unit-normalizing melt family (loadBINDINGDB.py): four nM measure
    columns unpivot to per-(ligand,protein,measure) edges; '>' dead
    compounds and zero readings are skipped BEFORE averaging, '<'/commas/
    spaces are stripped, and the affinity is the negative log10 of the
    averaged molar concentration."""
    import math

    p = tmp_path / "binding.tsv"
    p.write_text(BINDING)
    nodes, edges = PP.binding_like(spark, str(p))
    e = {(r.subject, r.predicate, r.object): r for r in edges.collect()}
    assert set(e) == {
        ("PUBCHEM.COMPOUND:101", "DGIdb:inhibitor", "UniProtKB:P35372"),
        ("PUBCHEM.COMPOUND:102", "CTD:decreases_activity_of", "UniProtKB:P35372"),
        ("PUBCHEM.COMPOUND:104", "CTD:increases_activity_of", "UniProtKB:Q00987"),
    }
    ki = e[("PUBCHEM.COMPOUND:101", "DGIdb:inhibitor", "UniProtKB:P35372")]
    # rows 10 and 30 nM average to 20 nM -> pKi = -log10(20e-9) = 7.70
    assert ki.affinity == round(-math.log10(20e-9), 2)
    assert ki.publications == ["PMID:11111", "PMID:22222"]
    assert ki.pubchem_assay_ids == ["PUBCHEM.AID:AID1"]
    assert ki.patent_ids == ["PATENT:US123"]
    assert ki.affinity_parameter == "pKi"
    ic = e[("PUBCHEM.COMPOUND:102", "CTD:decreases_activity_of", "UniProtKB:P35372")]
    assert ic.affinity == round(-math.log10(1000e-9), 2)  # '<1,000' cleaned
    assert ic.publications is None
    n = {r.id for r in nodes.collect()}
    assert n == {
        "PUBCHEM.COMPOUND:101", "PUBCHEM.COMPOUND:102", "PUBCHEM.COMPOUND:104",
        "UniProtKB:P35372", "UniProtKB:Q00987",
    }
    # threshold path: pKi >= 7 keeps 101 (7.7) drops 102 (6.0) and 104 (6.7)
    _, strong = PP.binding_like(spark, str(p), affinity_threshold=7.0)
    assert {r.subject for r in strong.collect()} == {"PUBCHEM.COMPOUND:101"}


HGNC = """\
hgnc_id\tname\tsymbol\tlocus_group\tlocation\tgene_group_id\tgene_group\tpubmed_id
HGNC:5\talpha-1-B glycoprotein\tA1BG\tprotein-coding gene\t19q13.43\t594\tImmunoglobulin like domain containing\t2591067
HGNC:37133\tA1BG antisense RNA 1\tA1BG-AS1\tnon-coding RNA\t19q13.43\t1234|594\tAntisense RNAs|Immunoglobulin like domain containing\t111|222
HGNC:99999\tno group gene\tNOGRP\tprotein-coding gene\t1p1.1\t\t\t
"""


def test_hgnc_like_parser_golden(spark, tmp_path):
    """Parallel pipe-list zip family (loadHGNC.py): two groups on one row
    fan out to two membership edges; the groupless row is skipped; family
    nodes dedup across genes."""
    p = tmp_path / "hgnc.tsv"
    p.write_text(HGNC)
    nodes, edges = PP.hgnc_like(spark, str(p))
    e = {(r.subject, r.object): r for r in edges.collect()}
    assert set(e) == {
        ("HGNC:5", "HGNC.FAMILY:594"),
        ("HGNC:37133", "HGNC.FAMILY:1234"),
        ("HGNC:37133", "HGNC.FAMILY:594"),
    }
    assert e[("HGNC:5", "HGNC.FAMILY:594")].publications == ["PMID:2591067"]
    assert e[("HGNC:37133", "HGNC.FAMILY:594")].publications == [
        "PMID:111", "PMID:222",
    ]
    n = {r.id: r for r in nodes.collect()}
    assert "HGNC:99999" not in n
    assert n["HGNC:5"].symbol == "A1BG"
    assert n["HGNC.FAMILY:594"].name == "Immunoglobulin like domain containing"
    assert n["HGNC.FAMILY:594"].category == ["biolink:GeneFamily"]
    assert len(n) == 4  # 2 genes + 2 families


def _write_gtex_file(dirpath, tissue, rows, sqtl=False):
    """One per-tissue signif-pairs file in the extracted-tar layout
    (12 tab-separated columns, loadGTEx.py:303 column-count check)."""
    import gzip
    import os

    os.makedirs(dirpath, exist_ok=True)
    kind = "sqtl_signifpairs" if sqtl else "signif_variant_gene_pairs"
    hdr = [
        "variant_id", "gene_id", "tss_distance", "ma_samples", "ma_count",
        "maf", "pval_nominal", "slope", "slope_se",
        "pval_nominal_threshold", "min_pval_nominal", "pval_beta",
    ]
    path = os.path.join(dirpath, f"{tissue}.v8.{kind}.txt.gz")
    with gzip.open(path, "wt") as fh:
        fh.write("\t".join(hdr) + "\n")
        for variant, gene, pval, slope in rows:
            cells = [variant, gene, "0", "1", "1", "0.1", str(pval),
                     str(slope), "0.01", "0.05", "0.001", "0.002"]
            fh.write("\t".join(cells) + "\n")


def test_gtex_like_parser_golden_counts(spark, tmp_path):
    """loadGTEx.py end-to-end semantics on a reference-style fixture:
    tissue melt, anatomy lookup, HGVS conversion (SNP / insert / delete /
    unsupported structural allele), slope-signed predicates, sqtl
    phenotype-field gene extraction, unknown-tissue file skip."""
    eqtl = str(tmp_path / "eqtl")
    sqtl = str(tmp_path / "sqtl")
    _write_gtex_file(eqtl, "Brain_Cortex", [
        ("chr1_100_T_C_b38", "ENSG00000001.5", 1e-8, 0.5),      # SNP, up
        ("chr2_200_A_AGG_b38", "ENSG00000002.1", 1e-9, -0.25),  # ins, down
        ("chrX_300_CTT_C_b38", "ENSG00000003.2", 1e-10, 1.5),   # del, X=23
        ("chr3_400_G_<CN0>_b38", "ENSG00000004.1", 1e-7, 2.0),  # skip
        ("chrM_500_T_C_b38", "ENSG00000005.1", 1e-7, 2.0),      # skip (no MT)
    ])
    _write_gtex_file(eqtl, "Liver", [
        ("chr1_100_T_C_b38", "ENSG00000001.5", 1e-6, -0.5),     # dup variant
    ])
    _write_gtex_file(eqtl, "Mystery_Tissue", [
        ("chr9_900_T_C_b38", "ENSG00000009.1", 1e-6, 1.0),      # file skipped
    ])
    _write_gtex_file(sqtl, "Whole_Blood", [
        ("chr4_1000_TA_T_b38", "chr4:100:200:clu_12:ENSG00000777.11",
         1e-11, -0.33),                                          # splicing
    ], sqtl=True)

    variants, genes, edges = PP.gtex_like(spark, eqtl, sqtl)
    e = edges.collect()
    assert len(e) == 5  # 3 Brain_Cortex + 1 Liver + 1 sqtl
    by_subj = {}
    for r in e:
        by_subj.setdefault(r.subject, []).append(r)
    # SNP in two tissues -> same HGVS id, opposite predicates
    snp = sorted(
        by_subj["HGVS:NC_000001.11:g.100T>C"], key=lambda r: r.expressed_in
    )
    assert [r.predicate for r in snp] == [
        "CTD:increases_expression_of",  # UBERON:0001851 Brain_Cortex, +0.5
        "CTD:decreases_expression_of",  # UBERON:0002107 Liver, -0.5
    ]
    assert snp[0].expressed_in == "UBERON:0001851"
    assert snp[0].p_value == 1e-8 and snp[0].slope == 0.5
    assert snp[0].knowledge_level == "prediction"
    assert snp[0].agent_type == "computational_model"
    # insertion after shared prefix: pos+len_ref-1 _ pos+len_ref ins GG
    assert "HGVS:NC_000002.12:g.200_201insGG" in by_subj
    # deletion with X->23: pos+len_alt _ pos+len_ref-1 del
    assert "HGVS:NC_000023.11:g.301_302del" in by_subj
    # sqtl: gene from phenotype field 5, version stripped, 1bp del
    sq = by_subj["HGVS:NC_000004.12:g.1001del"][0]
    assert sq.predicate == "CTD:affects_splicing_of"
    assert sq.object == "ENSEMBL:ENSG00000777"
    assert sq.expressed_in == "UBERON:0000178"

    vids = sorted(r.id for r in variants.collect())
    assert vids == [
        "HGVS:NC_000001.11:g.100T>C",
        "HGVS:NC_000002.12:g.200_201insGG",
        "HGVS:NC_000004.12:g.1001del",
        "HGVS:NC_000023.11:g.301_302del",
    ]
    g = {r.id for r in genes.collect()}
    assert g == {
        "ENSEMBL:ENSG00000001", "ENSEMBL:ENSG00000002",
        "ENSEMBL:ENSG00000003", "ENSEMBL:ENSG00000777",
    }
    cats = {tuple(r.category) for r in variants.collect()}
    assert cats == {("biolink:SequenceVariant",)}


def _write_intact_zip(path, lines):
    """PSI-MI TAB 2.7 fixture zip: header line + 42-column rows
    (reference fixture: tests/resources/intact.zip)."""
    import zipfile

    def row(id_a, id_b, alias_a, alias_b, detect, pub, tax_a, tax_b):
        cells = [""] * 42
        cells[0], cells[1] = id_a, id_b
        cells[4], cells[5] = alias_a, alias_b
        cells[6] = detect
        cells[8] = pub
        cells[9], cells[10] = tax_a, tax_b
        return "\t".join(cells)

    hdr = "#ID(s) interactor A\tID(s) interactor B" + "\t" * 40
    body = "\n".join([hdr] + [row(*ln) for ln in lines]) + "\n"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("intact.txt", body)


def test_intact_like_parser_golden_counts(spark, tmp_path):
    """loadIA.py end-to-end on a synthesized archive: zip-member
    extraction, uniprotkb row gate, publication priority chain
    (pubmed > imex > doi), isoform hyphen trim, alias cut at '(',
    detection methods of an experiment group pipe-joined onto its
    interaction edges, in_taxon edges, node dedup."""
    zp = str(tmp_path / "intact.zip")
    _write_intact_zip(zp, [
        # same (pub, a, b) group, two detection methods -> one edge, joined
        ("uniprotkb:P100-2", "uniprotkb:P200", "uniprotkb:alpha_human(display)",
         "uniprotkb:beta_human", 'psi-mi:"MI:0018"(two hybrid)',
         "pubmed:111|mint:MINT-1", "taxid:9606(human)", "taxid:10090(mouse)"),
        ("uniprotkb:P100", "uniprotkb:P200", "uniprotkb:alpha_human",
         "uniprotkb:beta_human", 'psi-mi:"MI:0006"(anti bait coip)',
         "pubmed:111", "taxid:9606", "taxid:10090"),
        # imex fallback (no pubmed), same proteins -> separate group
        ("uniprotkb:P100", "uniprotkb:P200", "uniprotkb:alpha_human",
         "uniprotkb:beta_human", 'psi-mi:"MI:0018"(two hybrid)',
         "imex:IM-555", "taxid:9606", "taxid:10090"),
        # doi fallback
        ("uniprotkb:P300", "uniprotkb:P400", "uniprotkb:gamma_rat",
         "uniprotkb:delta_rat", 'psi-mi:"MI:0096"(pull down)',
         'doi:10.1234/j.cell.2020', "taxid:10116", "taxid:10116"),
        # non-uniprot interactor -> skipped (and the header line too)
        ("chebi:15377", "uniprotkb:P200", "-", "-",
         'psi-mi:"MI:0018"(two hybrid)', "pubmed:999", "taxid:1", "taxid:1"),
    ])
    nodes, edges = PP.intact_like(spark, zp)
    e = edges.collect()
    inter = {(r.subject, r.object, r.publications): r
             for r in e if r.predicate == "RO:0002436"}
    assert len(inter) == 3
    grp = inter[("UniProtKB:P100", "UniProtKB:P200", "PMID:111")]
    # NOTE the raw ids differ (P100-2 vs P100) so the reference groups
    # them apart — but the hyphen trim makes the parsed curies equal and
    # detection methods distinct per group; the deduped group rows carry
    # their own sorted methods
    assert grp.detection_method in ("MI:0006", "MI:0018", "MI:0006|MI:0018")
    imex = inter[("UniProtKB:P100", "UniProtKB:P200", "IM:555")]
    assert imex.detection_method == "MI:0018"
    doi = inter[("UniProtKB:P300", "UniProtKB:P400", "DOI:10.1234/j.cell.2020")]
    assert doi.detection_method == "MI:0096"
    assert doi.knowledge_level == "not_provided"

    taxa = {(r.subject, r.object) for r in e if r.predicate == "RO:0002162"}
    assert ("UniProtKB:P100", "NCBITaxon:9606") in taxa
    assert ("UniProtKB:P200", "NCBITaxon:10090") in taxa
    assert ("UniProtKB:P300", "NCBITaxon:10116") in taxa

    n = {r.id: r for r in nodes.collect()}
    assert n["UniProtKB:P100"].name == "alpha_human"
    assert n["UniProtKB:P100"].in_taxon == "NCBITaxon:9606"
    assert n["UniProtKB:P300"].category == ["biolink:NamedThing"]
    assert "biolink:OrganismTaxon" in n["NCBITaxon:9606"].category
    assert "UniProtKB:P999" not in n  # skipped row contributes nothing


def _reactome_graph(spark):
    """Synthetic graph-DB export: a pathway with an equivalent GO term,
    a reaction with an input protein (EWAS -> UniProt via
    referenceEntity), a species link, and a complex with a component."""
    from pyspark.sql import Row as R

    nodes = spark.createDataFrame(
        [
            R(db_id=1, labels=["DatabaseObject", "Event", "Pathway"],
              st_id="R-HSA-1", display_name="Cell Cycle", database_name=None,
              identifier=None, accession=None, tax_id=None,
              definition=None, url=None),
            R(db_id=2, labels=["DatabaseObject", "Event", "ReactionLikeEvent"],
              st_id="R-HSA-2", display_name="Phosphorylation",
              database_name=None, identifier=None, accession=None,
              tax_id=None, definition=None, url=None),
            R(db_id=3,
              labels=["DatabaseObject", "PhysicalEntity",
                      "EntityWithAccessionedSequence"],
              st_id="R-HSA-3", display_name="CDK1 protein",
              database_name=None, identifier=None, accession=None,
              tax_id=None, definition="a kinase", url=None),
            R(db_id=4, labels=["DatabaseObject", "ReferenceSequence"],
              st_id=None, display_name="UniProt:P06493", database_name="UniProt",
              identifier="P06493", accession=None, tax_id=None,
              definition=None, url="https://uniprot.org/P06493"),
            R(db_id=5, labels=["DatabaseObject", "GO_Term"],
              st_id=None, display_name="cell-cycle", database_name="GO",
              identifier=None, accession="0007049", tax_id=None,
              definition=None, url=None),
            R(db_id=6, labels=["DatabaseObject", "Species"],
              st_id=None, display_name="Homo sapiens", database_name=None,
              identifier=None, accession=None, tax_id="9606",
              definition=None, url=None),
            R(db_id=7, labels=["DatabaseObject", "PhysicalEntity", "Complex"],
              st_id="R-HSA-7", display_name="MPF complex", database_name=None,
              identifier=None, accession=None, tax_id=None,
              definition=None, url=None),
            # an EWAS with NO referenceEntity -> falls back to REACT stId
            R(db_id=8,
              labels=["DatabaseObject", "PhysicalEntity",
                      "EntityWithAccessionedSequence"],
              st_id="R-HSA-8", display_name="Orphan protein",
              database_name=None, identifier=None, accession=None,
              tax_id=None, definition=None, url=None),
        ]
    )
    edges = spark.createDataFrame(
        [
            (1, 2, "hasEvent"),        # Pathway contains reaction
            (2, 3, "input"),           # reaction has input protein
            (3, 4, "referenceEntity"), # protein -> UniProt reference
            (1, 5, "goBiologicalProcess"),  # pathway == GO term (name match)
            (7, 6, "species"),         # complex in taxon
            (7, 3, "hasComponent"),    # complex has the protein
            (2, 8, "output"),          # orphan output
        ],
        "src long, dst long, rel_type string",
    )
    return nodes, edges


def test_reactome_like_graph_extraction(spark):
    """loadReactome.py parity on a synthetic export: triple-spec-driven
    extraction, predicate map, the id-resolution hierarchy (on-node,
    pathway-prefers-GO, referenceEntity lookup with REACT fallback),
    SwitchSO direction flip, complex context."""
    gn, ge = _reactome_graph(spark)
    specs = [
        ("Pathway", "hasEvent", "ReactionLikeEvent", "Include"),
        # SwitchSO: emitted as protein -> reaction
        ("ReactionLikeEvent", "input", "EntityWithAccessionedSequence",
         "Include/SwitchSO"),
        ("Complex", "species", "Species", "Include"),
        ("ReactionLikeEvent", "output", "EntityWithAccessionedSequence",
         "Include"),
        ("Pathway", "somethingIgnored", "Species", "NotIncluded"),
    ]
    nodes, edges = PP.reactome_like(spark, gn, ge, specs)
    e = {(r.subject, r.predicate, r.object) for r in edges.collect()}
    assert e == {
        # pathway resolved to its equivalent GO term, not REACT
        ("GO:0007049", "biolink:contains_process", "REACT:R-HSA-2"),
        # SwitchSO: protein (mapped via referenceEntity) -> reaction
        ("UniProtKB:P06493", "biolink:has_input", "REACT:R-HSA-2"),
        ("REACT:R-HSA-7", "biolink:in_taxon", "NCBITaxon:9606"),
        # orphan EWAS falls back to its REACT stId
        ("REACT:R-HSA-2", "biolink:has_output", "REACT:R-HSA-8"),
    }
    n = {r.id: r for r in nodes.collect()}
    assert n["GO:0007049"].name == "Cell Cycle"  # pathway node, GO id
    assert n["UniProtKB:P06493"].definition == "a kinase"
    assert n["REACT:R-HSA-7"].category == [
        "biolink:NamedThing", "biolink:MacromolecularComplex"
    ]
    assert n["NCBITaxon:9606"].name == "Homo sapiens"


def test_reactome_complex_context_and_unmapped_predicate(spark):
    """The Include/Complex mode carries the owning complex's displayName;
    an unmapped rel_type keeps itself as predicate (visible, like the
    unmapped databaseName prefix fall-through)."""
    gn, ge = _reactome_graph(spark)
    specs = [
        ("Complex", "species", "Species", "Include/Complex"),
        ("Pathway", "goBiologicalProcess", "GO_Term", "Include"),
    ]
    _, edges = PP.reactome_like(spark, gn, ge, specs)
    rows = {(r.subject, r.predicate): r for r in edges.collect()}
    cx = rows[("REACT:R-HSA-7", "biolink:in_taxon")]
    assert cx.complex_context == "MPF complex"
    # goBiologicalProcess IS in the predicate map
    assert ("GO:0007049", "biolink:subclass_of") in rows


def test_drugmechdb_like_parser(spark, tmp_path):
    """loadDrugMechDB.py semantics on a hand-built two-doc array: curie
    fixups + node-map override, predicate/qualifier mapping with raw-key
    fall-through, cross-doc path-id aggregation, direct and lookahead
    target_for derivation, and the no-next-link drop."""
    import json

    docs = [
        {
            "graph": {"_id": "DB1", "drug": "aspirin", "drug_mesh": "MESH:D1",
                      "drugbank": "DB:100", "disease": "pain",
                      "disease_mesh": "MESH:DIS1"},
            "nodes": [
                {"id": "UniProt:P1", "label": "Protein", "name": "PTGS2"},
            ],
            "links": [
                {"source": "MESH:D1", "key": "decreases activity of",
                 "target": "UniProt:P1"},
                {"source": "UniProt:P1", "key": "treats",
                 "target": "MESH:DIS1"},
            ],
        },
        {
            # same mechanism link again -> path ids aggregate across docs
            "graph": {"_id": "DB2", "drug": "naproxen", "drug_mesh": "MESH:D2",
                      "drugbank": "DB:200", "disease": "pain",
                      "disease_mesh": "MESH:DIS1"},
            "nodes": [
                {"id": "DB:C2", "label": "ChemicalSubstance", "name": "meta"},
                {"id": "UniProt:P1", "label": "Protein", "name": "PTGS2"},
            ],
            "links": [
                {"source": "MESH:D2", "key": "positively regulates",
                 "target": "DB:C2"},
                {"source": "DB:C2", "key": "decreases activity of",
                 "target": "UniProt:P1"},
                {"source": "MESH:D1", "key": "decreases activity of",
                 "target": "UniProt:P1"},
            ],
        },
        {
            # drug link is the final link -> lookahead join finds nothing
            "graph": {"_id": "DB3", "drug": "x", "drug_mesh": "MESH:D3",
                      "drugbank": "DB:300", "disease": "y",
                      "disease_mesh": "MESH:DIS3"},
            "nodes": [{"id": "DB:C3", "label": "Drug", "name": "c3"}],
            "links": [
                {"source": "MESH:D3", "key": "positively regulates",
                 "target": "DB:C3"},
            ],
        },
    ]
    path = tmp_path / "indication_paths.json"
    path.write_text(json.dumps(docs))
    mapping = {
        "biolink:decreases_activity_of":
            ("biolink:affects", "biolink:causes", "decreased", "activity"),
    }
    nodes, edges = PP.drugmechdb_like(
        spark, str(path), mapping, {"MESH:DIS1": "MONDO:7"}
    )
    rows = edges.collect()
    e = {}
    for r in rows:
        e.setdefault((r.subject, r.predicate, r.object), []).append(
            (list(r.drugmechdb_path_id), r.qualified_predicate,
             r.object_direction_qualifier, r.object_aspect_qualifier)
        )
    # shared mechanism edge aggregates both docs' path ids, sorted
    assert e[("MESH:D1", "biolink:affects", "UniProtKB:P1")] == [(
        ["DB1", "DB2"], "biolink:causes", "decreased", "activity")]
    # unmapped key falls through with empty (nulled) qualifiers
    assert e[("UniProtKB:P1", "biolink:treats", "MONDO:7")] == [(
        ["DB1"], None, None, None)]
    # positively regulates is unmapped here -> raw biolink-ified key
    assert ("MESH:D2", "biolink:positively_regulates", "DRUGBANK:C2") in e
    # direct target_for from doc 1 and lookahead target_for from doc 2 are
    # separate edges: the reference keys target_for on the full 7-tuple
    # including drug_name (loadDrugMechDB.py:292), and the two docs differ
    assert sorted(
        pids for pids, *_ in e[("UniProtKB:P1", "biolink:target_for", "MONDO:7")]
    ) == [["DB1"], ["DB2"]]
    # doc 3: drug link last -> no lookahead row, no target_for
    assert not any(
        k[1] == "biolink:target_for" and k[0].endswith("C3") for k in e
    )
    assert len(rows) == 7
    ids = {r.id for r in nodes.collect()}
    assert "DRUGBANK:C3" in ids and "UniProtKB:P1" in ids


def test_tmkp_like_parser(spark, tmp_path):
    """loadTMKP.py semantics: nested TRAPI attribute walk (last-wins
    supporting_text, 'NA' document default, decoy filtered), qualifier
    null-out, pipe-list splits, exact skip-gate boolean, and nodes
    written before the gate."""
    attrs = (
        '[{"value_type_id":"biolink:TextMiningResult","attributes":'
        '[{"attribute_type_id":"biolink:supporting_text","value":"old"},'
        '{"attribute_type_id":"biolink:supporting_text","value":"new"}]},'
        '{"value_type_id":"biolink:Other","attributes":'
        '[{"attribute_type_id":"biolink:supporting_text","value":"no"}]}]'
    )
    rows = []
    good = [""] * 19
    good[0], good[1], good[2] = "CHEBI:1", "biolink:affects", "PR:2"
    good[8], good[15] = "expression", "0.93"
    good[16], good[17], good[18] = "t:1|t:2", "PMID:9", attrs
    rows.append("\t".join(good))
    # subject-less row with object+predicate -> skipped, object node kept
    bad = [""] * 19
    bad[1], bad[2], bad[15], bad[16], bad[17], bad[18] = (
        "biolink:affects", "MESH:GONE", "0.1", "t:x", "PMID:1", "[]")
    rows.append("\t".join(bad))
    p = tmp_path / "edges.tsv"
    p.write_text("\n".join(rows) + "\n")

    nodes, edges = PP.tmkp_like(spark, str(p))
    e = edges.collect()
    assert len(e) == 1
    r = e[0]
    assert (r.subject, r.predicate, r.object) == (
        "CHEBI:1", "biolink:affects", "PR:2")
    assert r.sentences == "new|NA"  # last-wins text, missing doc -> NA
    assert r.tmkp_confidence_score == 0.93
    assert r.publications == ["PMID:9"]
    assert r.tmkp_ids == ["t:1", "t:2"]
    assert r.object_aspect_qualifier == "expression"
    assert r.subject_aspect_qualifier is None  # empty -> nulled
    assert r.agent_type == "text_mining_agent"
    ids = {r.id for r in nodes.collect()}
    assert ids == {"CHEBI:1", "PR:2", "MESH:GONE"}


def test_pharos_like_jdbc_end_to_end(spark, tmp_path):
    """S4 multi-query extraction (parsers/PHAROS/src/loadPHAROS.py): an
    embedded-Derby TCRD subset driven through the three reference
    queries. Asserts curie repair (UMLS/Orphanet/MIM), target_for vs
    genetic-association predicate branch, TIGA/self-edge/unknown-dtype
    drops, DGIdb predicate mapping with interacts_with fallback, the
    provenance branch, affinity props and PMID lists."""
    url = f"jdbc:derby:{tmp_path}/pharosdb;create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    ddl = [
        'CREATE TABLE xref (protein_id INT, xtype VARCHAR(10), '
        '"value" VARCHAR(30))',
        "CREATE TABLE protein (id INT, sym VARCHAR(30))",
        "CREATE TABLE disease (protein_id INT, did VARCHAR(30), "
        "name VARCHAR(40), dtype VARCHAR(40), score DOUBLE)",
        "CREATE TABLE drug_activity (target_id INT, drug VARCHAR(40), "
        "cmpd_chemblid VARCHAR(30), act_value DOUBLE, act_type VARCHAR(10), "
        "action_type VARCHAR(30))",
        "CREATE TABLE cmpd_activity (target_id INT, cmpd_name_in_src "
        "VARCHAR(40), cmpd_id_in_src VARCHAR(30), catype VARCHAR(30), "
        "act_value DOUBLE, act_type VARCHAR(10), pubmed_ids VARCHAR(60))",
        "INSERT INTO xref VALUES (1, 'HGNC', 'HGNC:11998'), "
        "(2, 'HGNC', 'HGNC:1100'), (1, 'ENSEMBL', 'ENSG1')",
        "INSERT INTO protein VALUES (1, 'TP53'), (2, 'BRçA1')",
        "INSERT INTO disease VALUES "
        "(1, 'C0006142', 'breast cancer', 'DisGeNET', 0.5), "
        "(1, 'Orphanet:145', 'orpha disease', 'UniProt Disease', NULL), "
        "(2, 'MIM:114480', 'omim disease', 'DrugCentral Indication', NULL), "
        "(1, 'C0001', 'tiga disease', 'JensenLab Experiment TIGA', 1.0), "
        "(1, NULL, 'no id', 'CTD', NULL), "
        "(1, 'ENSP00001', 'excluded', 'CTD', NULL), "
        "(1, 'HGNC:11998', 'self', 'CTD', NULL), "
        "(1, 'C0009', 'mystery', 'UnknownSource', NULL)",
        "INSERT INTO drug_activity VALUES "
        "(1, 'Vemurafenib', 'CHEMBL1229517', 7.1, 'Ki', 'INHIBITOR'), "
        "(2, 'Plain', 'CHEMBL99', NULL, '', '')",
        "INSERT INTO cmpd_activity VALUES "
        "(1, 'cmpdA', '12345', 'Guide to Pharmacology', 5.5, 'IC50', "
        "'111|222'), "
        "(1, 'NA', '77', 'ChEMBL', 1.0, 'Ki', NULL), "
        "(1, 'US patent thing', '88', 'ChEMBL', 1.0, 'Ki', NULL)",
    ]
    for q in ddl:
        st.execute(q)
    st.close()
    conn.close()

    nodes, edges = PP.pharos_like(spark, f"jdbc:derby:{tmp_path}/pharosdb")
    e = {(r.subject, r.object): r for r in edges.collect()}
    assert len(e) == 6

    dg = e[("HGNC:11998", "UMLS:C0006142")]
    assert dg.predicate == "WIKIDATA_PROPERTY:P2293"
    assert dg.primary_knowledge_source == "infores:disgenet"
    assert dg.aggregator_knowledge_sources == ["infores:pharos"]
    assert dg.knowledge_level == "not_provided"
    assert dg.score == 0.5
    orpha = e[("HGNC:11998", "ORPHANET:145")]
    assert orpha.knowledge_level == "knowledge_assertion"
    assert orpha.agent_type == "manual_agent"
    omim = e[("HGNC:1100", "OMIM:114480")]
    assert omim.predicate == "biolink:target_for"
    assert omim.primary_knowledge_source == "infores:drugcentral"
    # tiga, null-did, self-edge, unknown-dtype all dropped
    assert not any(o == "C0001" or o == "UMLS:C0001" for _, o in e)

    vem = e[("CHEMBL.COMPOUND:CHEMBL1229517", "HGNC:11998")]
    assert vem.predicate == "DGIdb:inhibitor"
    assert vem.affinity == 7.1
    assert vem.affinity_parameter == "pKi"
    assert vem.primary_knowledge_source == "infores:pharos"
    assert vem.aggregator_knowledge_sources is None
    plain = e[("CHEMBL.COMPOUND:CHEMBL99", "HGNC:1100")]
    assert plain.predicate == "RO:0002434"  # interacts_with fallback
    assert plain.affinity is None and plain.affinity_parameter is None
    gtop = e[("GTOPDB:12345", "HGNC:11998")]
    assert gtop.predicate == "DGIdb:inhibitor"
    assert gtop.publications == ["PMID:111", "PMID:222"]

    n = {r.id: r for r in nodes.collect()}
    assert n["HGNC:1100"].name == "BR?A1"  # non-ascii sanitized
    assert n["CHEMBL.COMPOUND:CHEMBL1229517"].name == "Vemurafenib"
    assert "UMLS:C0006142" in n


def test_chebi_like_role_closure(spark, tmp_path, monkeypatch):
    """loadChebiProperties.py semantics: swapped relation columns, role
    ancestor closure from the root (multi-parent dedupe), ignore-list
    filtering, orphan roles, fixname formatting, roleless-compound skip,
    the pivoted wide variant, and the closure's round cap."""
    (tmp_path / "compounds.tsv").write_text(
        "chebi_accession\tascii_name\n"
        "CHEBI:50906\trole\n"
        "CHEBI:24432\tbiological role\n"
        "CHEBI:900001\tanti-infective agent (drug)\n"
        "CHEBI:900002\tantibacterial agent\n"
        "CHEBI:900009\torphan role\n"
        "CHEBI:101\taspirin\n"
        "CHEBI:102\twater\n"
        "CHEBI:103\tnothing\n"
    )
    # is_a: 24432 under root; 900001 under 24432 AND root (two paths);
    # 900002 under 900001. has_role: 101->900002, 102->900009
    (tmp_path / "relation.tsv").write_text(
        "rel_id\ttype_id\tfinal_id\tinit_id\n"
        "1\t5\t24432\t50906\n"
        "2\t5\t900001\t24432\n"
        "3\t5\t900001\t50906\n"
        "4\t5\t900002\t900001\n"
        "5\t4\t101\t900002\n"
        "6\t4\t102\t900009\n"
        "7\t9\t101\t900009\n"  # unrelated relation type ignored
    )
    nodes, flags = PP.chebi_like(
        spark, str(tmp_path / "compounds.tsv"), str(tmp_path / "relation.tsv")
    )
    by_id = {}
    for r in flags.collect():
        by_id.setdefault(r.id, set()).add(r.role_property)
    assert by_id == {
        "CHEBI:101": {
            "CHEBI_ROLE_antibacterial_agent",
            "CHEBI_ROLE_anti_infective_agent_drug_",
        },
        "CHEBI:102": {"CHEBI_ROLE_orphan_role"},
    }
    n = {r.id: r for r in nodes.collect()}
    assert n["CHEBI:101"].chebi_roles == [
        "CHEBI_ROLE_anti_infective_agent_drug_",
        "CHEBI_ROLE_antibacterial_agent",
    ]
    assert "CHEBI:103" not in n  # no roles -> skipped

    wide, _ = PP.chebi_like(
        spark, str(tmp_path / "compounds.tsv"), str(tmp_path / "relation.tsv"),
        pivot=True,
    )
    w = {r.id: r for r in wide.collect()}
    assert w["CHEBI:101"].CHEBI_ROLE_antibacterial_agent is True
    assert w["CHEBI:102"].CHEBI_ROLE_antibacterial_agent is None

    # the closure alone: a diamond (D1 -> D2, D3 -> D4) and a three-level
    # chain (C1 -> C2 -> C3) under the root, plus a chain off the root
    root = PP.CHEBI_ROLE_ROOT
    is_a = spark.createDataFrame(
        [("D1", root), ("D2", "D1"), ("D3", "D1"), ("D4", "D2"), ("D4", "D3"),
         ("C1", root), ("C2", "C1"), ("C3", "C2"), ("X2", "X1")],
        "child string, parent string",
    )
    up = {"D1": [root], "D2": ["D1", root], "D3": ["D1", root],
          "D4": ["D2", "D3", "D1", root], "C1": [root], "C2": ["C1", root],
          "C3": ["C2", "C1", root]}
    got = [tuple(r) for r in PP.chebi_role_ancestors(is_a).collect()]
    assert sorted(got) == sorted((c, a) for c, ancs in up.items() for a in ancs)

    from orion_spark.operators.graphalgo import NotConverged

    monkeypatch.setattr(PP, "CHEBI_ROLE_MAX_DEPTH", 2)
    with pytest.raises(NotConverged):
        PP.chebi_role_ancestors(is_a)


def _signor_row(**kw):
    cells = [""] * 26
    idx = {"sname": 0, "stype": 1, "sid": 2, "sdb": 3, "oname": 4,
           "otype": 5, "oid": 6, "odb": 7, "effect": 8, "mechanism": 9,
           "aa": 10, "taxon": 12, "cell": 13, "tissue": 14, "pub": 21,
           "desc": 25}
    for k, v in kw.items():
        cells[idx[k]] = v
    return "\t".join(cells)


def test_signor_like_parser(spark, tmp_path):
    """loadSIGNOR.py semantics: CV GO-term resolution, prefix fixups with
    CID:/-PRO_ surgery, the effect-keyed mechanism edge (PTM path with
    forced AA part override), effect_mapping multi-edge fan-out,
    related_to fallback, and per-anatomical-context edge splitting."""
    (tmp_path / "phen.csv").write_text(
        "SIGNOR ID;NAME;DESCRIPTION\n"
        'SIGNOR-PH1;apoptosis;"A process GO:0008150 related"\n'
        'SIGNOR-X;noterm;"nothing here"\n'
    )
    (tmp_path / "stim.csv").write_text("SIGNOR ID;NAME;DESCRIPTION\n")
    rows = [
        "\t".join(f"c{i}" for i in range(26)),  # header
        _signor_row(sname="AKT1", stype="protein", sid="P1-PRO_0001",
                    sdb="UNIPROT", oname="GSK3B", otype="protein", oid="Q2",
                    odb="UNIPROT", effect="phosphorylation",
                    mechanism="phosphorylation", aa="Ser473", taxon="9606",
                    pub="111", desc="descA"),
        _signor_row(sname="apoptosis", stype="phenotype", sid="SIGNOR-PH1",
                    sdb="SIGNOR", oname="chem", otype="smallmolecule",
                    oid="CID:444", odb="PUBCHEM",
                    effect="up-regulates quantity by expression",
                    taxon="-1", cell="epithelial;neuron", tissue="liver",
                    pub="222", desc="descB"),
        _signor_row(sname="drug", stype="chemical", sid="DB123",
                    sdb="DRUGBANK", oname="rna", otype="rna", oid="R5",
                    odb="RNAcentral", effect="unknown", pub="333",
                    desc="descC"),
        _signor_row(sname="ghost", stype="phenotype", sid="SIGNOR-X",
                    sdb="SIGNOR", oname="x", otype="protein", oid="Q7",
                    odb="UNIPROT", effect="up-regulates", pub="444",
                    desc="descD"),
        _signor_row(sname="A", stype="protein", sid="P9", sdb="UNIPROT",
                    oname="B", otype="protein", oid="Q9", odb="UNIPROT",
                    effect="binding", mechanism="binding", pub="555",
                    desc="descE"),
    ]
    (tmp_path / "signor.tsv").write_text("\n".join(rows) + "\n")

    nodes, edges = PP.signor_like(
        spark, str(tmp_path / "signor.tsv"), str(tmp_path / "phen.csv"),
        str(tmp_path / "stim.csv"),
    )
    e = edges.collect()
    assert len(e) == 9

    ptm = [r for r in e if r.subject == "UniProtKB:P1"]
    assert len(ptm) == 1
    assert ptm[0].predicate == "biolink:affects"
    assert ptm[0].qualified_predicate == "RO:0003303"
    assert ptm[0].object_direction_qualifier == "increased"
    assert ptm[0].object_aspect_qualifier == "phosphorylation"
    assert ptm[0].object_part_qualifier == "Ser473"
    assert ptm[0].subject_part_qualifier == "PRO_0001"
    assert ptm[0].species_context_qualifier == "NCBITaxon:9606"
    assert ptm[0].publications == ["PMID:111"]

    up = [r for r in e if r.subject == "GO:0008150"]
    assert len(up) == 6  # 2 effect variants x 3 anatomical contexts
    assert all(r.object == "PUBCHEM.COMPOUND:444" for r in up)
    assert {r.predicate for r in up} == {"RO:0002448", "biolink:affects"}
    assert {r.anatomical_context_qualifier for r in up} == {
        "epithelial", "neuron", "liver"}
    aff = [r for r in up if r.predicate == "biolink:affects"][0]
    assert aff.object_aspect_qualifier == "expression"
    assert aff.species_context_qualifier is None  # taxon -1

    rel = [r for r in e if r.subject == "DRUGBANK:DB123"]
    assert len(rel) == 1
    assert rel[0].predicate == "biolink:related_to"
    assert rel[0].object == "RNACENTRAL:R5"
    assert rel[0].qualified_predicate is None

    bind = [r for r in e if r.subject == "UniProtKB:P9"]
    assert len(bind) == 1 and bind[0].predicate == "RO:0002436"

    ids = {r.id for r in nodes.collect()}
    assert "GO:0008150" in ids and "UniProtKB:Q2" in ids
    assert not any("SIGNOR-X" in i or "Q7" in i for i in ids)  # row skipped


def test_panther_like_parser(spark, tmp_path):
    """loadPanther.py semantics: subfamily->family hierarchy, gene edges
    to both curie levels with the GeneID skip and '='->':' uppercase,
    annotation name#accession fan-out with per-type KL/AT, pathway
    first-segment extraction and direction, short-gene-name fallback."""
    rows = [
        "\t".join([
            "HUMAN|HGNC=10590|UniProtKB=P63104", "UniProtKB=P63104", "x",
            "PTHR19:SF1", "famname", "subname",
            "kinase activity#GO:0016301",
            "proc a#GO:0008150;proc b#GO:0009987",
            "nucleus#GO:0005634", "kinase",
            "Apoptosis#P00006>comp#P9",
        ]),
        "\t".join([
            "HUMAN|GeneID=999|UniProtKB=Q1", "UniProtKB=Q1", "skipme",
            "PTHR19:SF2", "famname", "subname2", "", "", "", "", "",
        ]),
    ]
    p = tmp_path / "PTHR19.0_human"
    p.write_text("\n".join(rows) + "\n")
    nodes, edges = PP.panther_like(spark, str(p))
    e = {(r.subject, r.predicate, r.object): r for r in edges.collect()}

    fam, sub1 = "PANTHER.FAMILY:PTHR19", "PANTHER.FAMILY:PTHR19:SF1"
    assert (f"{fam}:SF1", "RO:0002350", fam) in e
    assert (f"{fam}:SF2", "RO:0002350", fam) in e
    # gene edge to both levels; '=' -> ':' + upper
    assert ("HGNC:10590", "RO:0002350", fam) in e
    assert ("HGNC:10590", "RO:0002350", sub1) in e
    assert not any(s.startswith("GENEID") for s, _, _ in e)  # GeneID skip
    mf = e[(fam, "RO:0002327", "GO:0016301")]
    assert mf.knowledge_level == "knowledge_assertion"
    cc = e[(sub1, "RO:0001025", "GO:0005634")]
    assert cc.knowledge_level == "not_provided"
    assert (fam, "RO:0002331", "GO:0009987") in e
    # pathway: first '>' segment only, pathway -> family direction
    assert ("PANTHER.PATHWAY:P00006", "RO:0000057", sub1) in e
    assert not any("P9" in o for _, _, o in e)
    # 2 subfam + 2x2 gene... total: subfam 2, gene 2, mf 2, bp 4, cc 2, pw 2
    assert len(e) == 14

    n = {r.id: r.name for r in nodes.collect()}
    assert n["PANTHER.FAMILY:PTHR19"] == "famname"
    assert n["PANTHER.FAMILY:PTHR19:SF1"] == "subname"
    assert n["HGNC:10590"] == "HGNC:10590"  # 1-char gene_name falls back
    assert n["GO:0016301"] == "kinase activity"
    assert n["PANTHER.PATHWAY:P00006"] == "Apoptosis"


def test_ctkp_like_parser(spark, tmp_path):
    """loadCTKP.py semantics: five-list zip truncated to the shortest,
    byte-identical json.dumps study blobs, enrollment -1 fallback,
    max_research_phase float string, provenance branch, unsure flag."""
    (tmp_path / "nodes.tsv").write_text(
        "id\tname\tcategory\nCHEBI:1\taspirin\tbiolink:SmallMolecule\n"
    )
    hdr = "\t".join(f"c{i}" for i in range(23))
    t = [""] * 23
    t[0], t[1], t[2], t[3] = "E1", "CHEBI:1", "biolink:treats", "MONDO:5"
    t[7], t[8] = "knowledge_assertion", "manual_agent"
    t[9], t[10], t[14] = "NCT1,NCT2,NCT3", "2,4", "active,done"
    t[16], t[17] = "50,oops", "actual,actual"
    m = [""] * 23
    m[0], m[1], m[2], m[3] = (
        "E2", "CHEBI:1", "biolink:mentioned_in_trials_for", "MONDO:6")
    m[7], m[8] = "not_provided", "text_mining_agent"
    m[9], m[10], m[14], m[16], m[17] = "NCT9", "1", "done", "10", "actual"
    (tmp_path / "edges.tsv").write_text(
        hdr + "\n" + "\t".join(t) + "\n" + "\t".join(m) + "\n"
    )
    nodes, edges = PP.ctkp_like(
        spark, str(tmp_path / "nodes.tsv"), str(tmp_path / "edges.tsv")
    )
    e = {r.id: r for r in edges.collect()}
    tr = e["E1"]
    # zip truncates to 2 entries (NCT3 dropped)
    assert len(tr.attributes) == 2
    assert json.loads(tr.attributes[0]) == {
        "attribute_type_id": "has_supporting_study_result", "value": "NCT1",
        "attributes": [
            {"attribute_type_id": "id", "value": "NCT1"},
            {"attribute_type_id": "tested_intervention", "value": "yes"},
            {"attribute_type_id": "phase", "value": "2"},
            {"attribute_type_id": "status", "value": "active"},
            {"attribute_type_id": "study_size", "value": 50},
        ],
    }
    # and the serialized text matches json.dumps byte-for-byte
    assert tr.attributes[0] == json.dumps(json.loads(tr.attributes[0]))
    assert json.loads(tr.attributes[1])["attributes"][4]["value"] == -1
    assert tr.max_research_phase == "4.0"
    assert tr.primary_knowledge_source == (
        "infores:biothings-multiomics-clinicaltrials")
    assert tr.aggregator_knowledge_sources == ["infores:aact"]
    assert tr.supporting_data_source == "infores:clinicaltrials"
    men = e["E2"]
    assert men.primary_knowledge_source == "infores:clinicaltrials"
    assert men.supporting_data_source is None
    assert json.loads(men.attributes[0])["attributes"][1]["value"] == "unsure"
    assert {r.id for r in nodes.collect()} == {"CHEBI:1"}


def test_monarchkg_like_parser(spark, tmp_path):
    """loadMonarchKG.py semantics: tar-member staging, knowledge-source
    remap (primary + aggregators), curated filter (predicate whitelist,
    ignore list incl. aggregators, bad curie prefixes), KL/AT defaults,
    publications-if-truthy, qualifiers excluded from passthrough, and the
    Full variant's no-filtering behavior."""
    import io
    import tarfile

    edges = [
        {"subject": "MONDO:1", "predicate": "biolink:causes",
         "object": "HP:2", "primary_knowledge_source": "infores:alliancegenome",
         "aggregator_knowledge_source": ["infores:go-central"],
         "publications": ["PMID:1"], "frequency_qualifier": "HP:0040280",
         "qualifiers": ["dropme"]},
        {"subject": "MONDO:3", "predicate": "biolink:related_to",
         "object": "HP:4", "primary_knowledge_source": "infores:mgi",
         "aggregator_knowledge_source": [], "publications": []},
        {"subject": "ZP:5", "predicate": "biolink:causes", "object": "HP:6",
         "primary_knowledge_source": "infores:mgi",
         "aggregator_knowledge_source": [], "publications": []},
        {"subject": "MONDO:7", "predicate": "biolink:causes", "object": "HP:8",
         "primary_knowledge_source": "infores:mgi",
         "aggregator_knowledge_source": ["infores:wb"], "publications": []},
        {"subject": "", "predicate": "biolink:causes", "object": "HP:9",
         "primary_knowledge_source": "infores:mgi",
         "aggregator_knowledge_source": [], "publications": []},
    ]
    payload = "\n".join(json.dumps(e) for e in edges).encode()
    tar_path = tmp_path / "monarch-kg.jsonl.tar.gz"
    with tarfile.open(tar_path, "w:gz") as tf:
        info = tarfile.TarInfo("monarch-kg_edges.jsonl")
        info.size = len(payload)
        tf.addfile(info, io.BytesIO(payload))

    nodes, kept = PP.monarchkg_like(
        spark, str(tar_path), staging_dir=str(tmp_path / "stage")
    )
    rows = kept.collect()
    assert len(rows) == 1  # related_to, ZP prefix, wb aggregator, bad all drop
    r = rows[0]
    assert r.subject == "MONDO:1"
    assert r.primary_knowledge_source == "infores:agrkb"  # remapped
    assert r.aggregator_knowledge_sources == ["infores:go"]
    assert r.knowledge_level == "not_provided"
    assert r.publications == ["PMID:1"]
    assert r.frequency_qualifier == "HP:0040280"
    assert "qualifiers" not in kept.columns

    _, full = PP.monarchkg_like(
        spark, str(tar_path), staging_dir=str(tmp_path / "stage2"),
        curated=False,
    )
    frows = full.collect()
    assert len(frows) == 4  # only the blank-subject row drops
    mg = {r.subject: r for r in frows}["MONDO:3"]
    assert mg.publications is None  # empty list is not truthy
    assert mg.aggregator_knowledge_sources is None


def test_cohd_like_parser(spark, tmp_path):
    """loadCOHD.py semantics: node passthrough, sources array pivoted to
    per-role columns, unknown roles surfacing as columns."""
    (tmp_path / "nodes.jsonl").write_text(
        json.dumps({"id": "MONDO:1", "name": "d", "category":
                    ["biolink:Disease"]}) + "\n"
    )
    e1 = {"subject": "MONDO:1", "predicate": "biolink:correlated_with",
          "object": "CHEBI:2", "chi_squared_p_value": 0.001,
          "sources": [
              {"resource_role": "primary_knowledge_source",
               "resource_id": "infores:cohd"},
              {"resource_role": "supporting_data_source",
               "resource_id": "infores:columbia-ehr"},
          ]}
    e2 = {"subject": "MONDO:1", "predicate": "biolink:correlated_with",
          "object": "CHEBI:3", "chi_squared_p_value": 0.2,
          "sources": [
              {"resource_role": "primary_knowledge_source",
               "resource_id": "infores:cohd"},
              {"resource_role": "weird_role", "resource_id": "infores:x"},
          ]}
    (tmp_path / "edges.jsonl").write_text(
        json.dumps(e1) + "\n" + json.dumps(e2) + "\n"
    )
    nodes, edges = PP.cohd_like(
        spark, str(tmp_path / "nodes.jsonl"), str(tmp_path / "edges.jsonl")
    )
    assert nodes.collect()[0].id == "MONDO:1"
    e = {r.object: r for r in edges.collect()}
    assert e["CHEBI:2"].primary_knowledge_source == "infores:cohd"
    assert e["CHEBI:2"].supporting_data_source == "infores:columbia-ehr"
    assert e["CHEBI:2"].weird_role is None
    assert e["CHEBI:3"].weird_role == "infores:x"
    assert e["CHEBI:3"].supporting_data_source is None
    assert "sources" not in edges.columns
    assert e["CHEBI:2"].chi_squared_p_value == 0.001


def test_camkp_like_parser(spark, tmp_path):
    """loadCAMKP.py semantics: quote/MGI trim, &&-packed qualifier split
    into one edge per instance, provenance url xref, unsupported
    qualifier keys dropped (reference raises)."""
    rows = [
        "\t".join(['"UniProtKB:P1"', "biolink:affects", "MGI:MGI:88059",
                   "http://model.org/1", "infores:go-cam",
                   "(biolink:anatomical_context_qualifier=GO:0005634)&&"
                   "(biolink:anatomical_context_qualifier=CL:0008019)"]),
        "\t".join(["CHEBI:1", "biolink:related_to", "GO:2",
                   "http://model.org/2", "infores:go-cam", ""]),
        "\t".join(["CHEBI:9", "biolink:related_to", "GO:9",
                   "http://model.org/3", "infores:go-cam",
                   "(biolink:species_context_qualifier=NCBITaxon:9606)"]),
    ]
    p = tmp_path / "cam-kg.tsv"
    p.write_text("\n".join(rows) + "\n")
    nodes, edges = PP.camkp_like(spark, str(p))
    e = edges.collect()
    dup = [r for r in e if r.subject == "UniProtKB:P1"]
    assert len(dup) == 2  # one edge per qualifier instance
    assert {r.anatomical_context_qualifier for r in dup} == {
        "GO:0005634", "CL:0008019"}
    assert dup[0].object == "MGI:88059"  # double-prefix trim
    assert dup[0].xref == ["http://model.org/1"]
    assert dup[0].aggregator_knowledge_sources == ["infores:cam-kp"]
    plain = [r for r in e if r.subject == "CHEBI:1"]
    assert len(plain) == 1 and plain[0].anatomical_context_qualifier is None
    assert not any(r.subject == "CHEBI:9" for r in e)  # unsupported key
    assert {r.id for r in nodes.collect()} >= {"UniProtKB:P1", "MGI:88059"}


def test_bgee_like_parser(spark, tmp_path):
    """loadBgee.py semantics: required-field/'NA' gate, present-only,
    FDR and score thresholds, zero-clamp to float_info.min, CL∩UBERON
    split with blanked object name, ENSEMBL prefixing, node categories."""
    import sys

    hdr = ("gene_id\tgene_name\tanatomical_entity_id\t"
           "anatomical_entity_name\texpression\tcall_quality\tfdr\t"
           "expression_score\texpression_rank")
    rows = [
        hdr,
        "ENSG01\tTP53\tUBERON:0002107\tliver\tpresent\tgold\t0.00001\t95.5\t12.0",
        "ENSG02\tBRCA\tCL:0000066 ∩ UBERON:0002107\tx\tpresent\tgold\t0\t99.0\t1.0",
        "ENSG03\tG3\tUBERON:1\ty\tabsent\tgold\t0.00001\t95.0\t1.0",
        "ENSG04\tG4\tUBERON:2\tz\tpresent\tgold\t0.5\t95.0\t1.0",
        "ENSG05\tG5\tUBERON:3\tw\tpresent\tgold\t0.00001\t10.0\t1.0",
        "NA\tG6\tUBERON:4\tv\tpresent\tgold\t0.00001\t95.0\t1.0",
        "HGNC:7\tG7\tUBERON:5\tu\tpresent\tsilver\t0.00001\t91.0\t3.5",
    ]
    p = tmp_path / "expr.tsv"
    p.write_text("\n".join(rows) + "\n")
    genes, anat, edges = PP.bgee_like(spark, str(p), "NCBITaxon:9606")
    e = {r.subject: r for r in edges.collect()}
    assert sorted(e) == ["ENSEMBL:ENSG01", "ENSEMBL:ENSG02", "HGNC:7"]
    liver = e["ENSEMBL:ENSG01"]
    assert liver.object == "UBERON:0002107"
    assert liver.adjusted_p_value == 0.00001
    assert liver.has_confidence_score == 95.5
    assert liver.knowledge_level == "observation"
    assert liver.original_subject == "ENSG01"
    inter = e["ENSEMBL:ENSG02"]
    assert inter.object == "CL:0000066"
    assert inter.anatomical_context_qualifier == "UBERON:0002107"
    assert inter.adjusted_p_value == sys.float_info.min  # zero clamp
    g = {r.id: r for r in genes.collect()}
    assert g["ENSEMBL:ENSG01"].taxon == "NCBITaxon:9606"
    a = {r.id: r for r in anat.collect()}
    assert a["CL:0000066"].category == ["biolink:Cell"]
    assert a["CL:0000066"].name == ""  # blanked for intersections
    assert a["UBERON:0002107"].category == ["biolink:AnatomicalEntity"]


def test_clingen_dosage_like_parser(spark, tmp_path):
    """loadClinGenDosageSensitivity.py semantics: 5 metadata rows
    stripped, twin HI/TS edges, score->negation table, human-disease
    fallback object, 'Not yet evaluated' skip, ISCA '-'->':'."""
    meta = "\n".join(f"#meta {i}" for i in range(5))
    gene_hdr = ("Gene Symbol\tGene ID\tHaploinsufficiency Score\t"
                "Haploinsufficiency Description\t"
                "Haploinsufficiency Disease ID\tTriplosensitivity Score\t"
                "Triplosensitivity Description\tTriplosensitivity Disease ID")

    def grow(sym, gid, hs, hd, hdid, ts, td, tsdid):
        return "\t".join([sym, gid, hs, hd, hdid, ts, td, tsdid])

    (tmp_path / "genes.tsv").write_text("\n".join([
        meta, gene_hdr,
        grow("A1", "1", "3", "sufficient", "MONDO:1", "40", "unlikely",
             "MONDO:2"),
        grow("A2", "2", "Not yet evaluated", "", "", "30", "recessive",
             "MONDO:3"),
        grow("A3", "3", "-1", "not planned", "MONDO:4", "1", "little", ""),
        grow("A4", "4", "weird", "desc", "MONDO:5", "7", "bad", "MONDO:6"),
    ]) + "\n")
    region_hdr = gene_hdr.replace("Gene Symbol\tGene ID",
                                  "#ISCA ID\tRegion Name")
    (tmp_path / "regions.tsv").write_text("\n".join([
        meta, region_hdr,
        "\t".join(["ISCA-46295", "region x", "2", "some", "MONDO:7",
                   "Not yet evaluated", "", ""]),
    ]) + "\n")

    gene_edges, region_edges = PP.clingen_dosage_like(
        spark, str(tmp_path / "genes.tsv"), str(tmp_path / "regions.tsv"),
        staging_dir=str(tmp_path / "stage"),
    )
    ge = gene_edges.collect()
    by = {}
    for r in ge:
        by.setdefault(r.subject, []).append(r)
    a1 = sorted(by["NCBIGene:1"], key=lambda r: r.object)
    assert [(r.object, r.negated) for r in a1] == [
        ("MONDO:1", False), ("MONDO:2", True)]
    a2 = by["NCBIGene:2"]
    assert len(a2) == 1  # HI 'Not yet evaluated' skipped
    assert (a2[0].object, a2[0].negated) == ("MONDO:3", False)
    a3 = sorted(by["NCBIGene:3"], key=lambda r: r.object)
    # TS with score 1 and no disease -> human-disease fallback, negated
    assert [(r.object, r.negated, r.status) for r in a3] == [
        ("MONDO:0700096", True, None),
        ("MONDO:4", True, "Not planned to be evaluated"),
    ]
    a4 = by["NCBIGene:4"]
    # unparseable score -> Status row; unexpected int 7 dropped
    assert [(r.object, r.negated, r.status) for r in a4] == [
        ("MONDO:5", None, "Not yet evaluated")]
    re_ = region_edges.collect()
    assert len(re_) == 1
    assert re_[0].subject == "ISCA:46295"
    assert re_[0].predicate == "region associated with condition"


def test_gtopdb_like_parser(spark, tmp_path):
    """loadGtoPdb.py semantics: '"#' comment stripping, human/Ensembl
    gates, bad-type and unmapped-predicate skips, pipe-zipped target
    fan-out, affinity/publication props, peptide-ligand HGNC-map edges,
    peptide subunit has_part edges, non-ascii name scrub."""
    (tmp_path / "interactions.tsv").write_text(
        '"# GtoPdb Version: 2024.1"\n'
        "Ligand ID\tLigand\tLigand Species\tLigand Gene Symbol\t"
        "Target Species\tTarget Ensembl Gene ID\tTarget Gene Symbol\t"
        "Type\tPrimary Target\tAffinity Units\tAffinity Median\t"
        "Endogenous\tPubMed ID\n"
        "1\taspiriné\t\t\tHuman\tENSG01|ENSG02\tPTGS1|PTGS2\t"
        "Inhibitor\ttrue\tpIC50\t5.2\tfalse\t111|222\n"
        "2\tx\t\t\tHuman\tENSG03\tG3\tFusion protein\ttrue\t\t\tfalse\t\n"
        "3\ty\t\t\tHuman\tENSG04\tG4\tWeirdtype\ttrue\t\t\tfalse\t\n"
        "4\tz\t\t\tMouse\tENSG05\tG5\tInhibitor\ttrue\t\t\tfalse\t\n"
        "5\tpeptide1\tHuman\tIns1|INS2\tHuman\tENSG06\tG6\tAgonist\t"
        "false\t\t\ttrue\t333\n"
    )
    (tmp_path / "peptides.tsv").write_text(
        '"# GtoPdb Version: 2024.1"\n'
        "Ligand id\tName\tSpecies\tSubunit ids\tSubunit names\n"
        "7\tcomplexü\tHuman\t8|9\tsub a|sub b\n"
        "10\tmouse thing\tMouse\t11\tsub c\n"
        "12\tno subunits\tHuman\t\t\n"
    )
    (tmp_path / "map.tsv").write_text(
        "HGNC Symbol\tHGNC ID\nINS1\t6081\nOTHER\t1\n"
    )
    nodes, edges = PP.gtopdb_like(
        spark, str(tmp_path / "interactions.tsv"),
        str(tmp_path / "peptides.tsv"), str(tmp_path / "map.tsv"),
    )
    e = sorted(
        ((r.subject, r.predicate, r.object) for r in edges.collect())
    )
    assert ("GTOPDB:1", "DGIdb:inhibitor", "ENSEMBL:ENSG01") in e
    assert ("GTOPDB:1", "DGIdb:inhibitor", "ENSEMBL:ENSG02") in e
    assert ("GTOPDB:5", "DGIdb:agonist", "ENSEMBL:ENSG06") in e
    # peptide ligand gene symbol INS1 (uppercased) -> HGNC map hit; INS2 missed
    assert ("HGNC:6081", "biolink:has_gene_product", "GTOPDB:5") in e
    assert ("GTOPDB:7", "biolink:has_part", "GTOPDB:8") in e
    assert ("GTOPDB:7", "biolink:has_part", "GTOPDB:9") in e
    assert len(e) == 6  # fusion/unmapped/mouse rows all dropped
    rich = [r for r in edges.collect() if r.object == "ENSEMBL:ENSG01"][0]
    assert rich.affinity == 5.2 and rich.affinity_parameter == "pIC50"
    assert rich.primaryTarget is True and rich.endogenous is False
    assert rich.publications == ["PMID:111", "PMID:222"]
    n = {r.id: r.name for r in nodes.collect()}
    assert n["GTOPDB:1"] == "aspirin"  # non-ascii scrubbed
    assert n["GTOPDB:7"] == "complex"
    assert n["ENSEMBL:ENSG01"] == "PTGS1"
    assert n["GTOPDB:8"] == "sub a"


def test_litcoin_like_parser(spark, tmp_path):
    """loadLitCoin.py semantics: required-field gate, abstract lookup
    skip, 'NA' bagelization skip, single-entry bagel map unpack,
    relationship->predicate map with negation, llm_* property carry,
    publication node + mentions edges."""
    abstracts = {
        "a1": {"pmid": "123", "title": "T1", "abstract": "body one",
               "journal_name": "J1"},
        "a2": {"pmid": "456", "title": "T2", "abstract": "body two",
               "journal_name": "J2"},
    }
    (tmp_path / "abstracts.json").write_text(json.dumps(abstracts))
    edges = [
        {"abstract_id": "123", "subject": "aspirin",
         "subject_type": "chemical", "object": "COX-2",
         "object_type": "protein", "relationship": "inhibits",
         "assertion_id": "as1", "subject_qualifier": "low-dose",
         "bagelized_subject": {"CHEBI:15365": {
             "name": "acetylsalicylic acid", "synonym_type": "exact"}},
         "bagelized_object": {"NCBIGene:5743": {
             "name": "PTGS2", "synonym_type": "narrow"}}},
        # missing required field object_type -> skipped
        {"abstract_id": "123", "subject": "x", "subject_type": "chemical",
         "object": "y", "relationship": "inhibits",
         "bagelized_subject": {"C:1": {"name": "x", "synonym_type": "e"}},
         "bagelized_object": {"C:2": {"name": "y", "synonym_type": "e"}}},
        # bagelization NA -> skipped
        {"abstract_id": "123", "subject": "x", "subject_type": "c",
         "object": "y", "object_type": "p", "relationship": "inhibits",
         "bagelized_subject": "NA",
         "bagelized_object": {"C:2": {"name": "y", "synonym_type": "e"}}},
        # abstract id not in abstracts -> skipped
        {"abstract_id": "999", "subject": "x", "subject_type": "c",
         "object": "y", "object_type": "p", "relationship": "inhibits",
         "bagelized_subject": {"C:1": {"name": "x", "synonym_type": "e"}},
         "bagelized_object": {"C:2": {"name": "y", "synonym_type": "e"}}},
        # relationship not in mapping -> skipped
        {"abstract_id": "456", "subject": "x", "subject_type": "c",
         "object": "y", "object_type": "p", "relationship": "mystery",
         "bagelized_subject": {"C:1": {"name": "x", "synonym_type": "e"}},
         "bagelized_object": {"C:2": {"name": "y", "synonym_type": "e"}}},
    ]
    (tmp_path / "llm.jsonl").write_text(
        "\n".join(json.dumps(e) for e in edges) + "\n"
    )
    mapping = spark.createDataFrame(
        [("inhibits", "biolink:inhibits", False)],
        "relationship string, predicate string, negated boolean",
    )
    ents, pubs, out = PP.litcoin_like(
        spark, str(tmp_path / "llm.jsonl"), str(tmp_path / "abstracts.json"),
        mapping,
    )
    rows = out.collect()
    main = [r for r in rows if r.predicate == "biolink:inhibits"]
    assert len(main) == 1
    m = main[0]
    assert (m.subject, m.object) == ("CHEBI:15365", "NCBIGene:5743")
    assert m.publications == ["PMID:123"]
    assert m.llm_subject == "aspirin"
    assert m.llm_subject_qualifier == "low-dose"
    assert m.bagel_subject_synonym_type == "exact"
    assert m.abstract_title == "T1" and m.abstract_text == "body one"
    assert m.negated is False
    mentions = sorted(
        (r.subject, r.object) for r in rows
        if r.predicate == "IAO:0000142"
    )
    assert mentions == [
        ("PMID:123", "CHEBI:15365"), ("PMID:123", "NCBIGene:5743")]
    en = {r.id: r.name for r in ents.collect()}
    assert en == {"CHEBI:15365": "acetylsalicylic acid",
                  "NCBIGene:5743": "PTGS2"}
    pn = {r.id: r for r in pubs.collect()}
    assert pn["PMID:123"].journal == "J1"


def test_ccidb_like_parser(spark, tmp_path):
    """loadCCIDB.py semantics: mapping joins, zip-broadcast repair rules,
    six edge shapes with their qualifier layouts, disease-context
    preference, unmapped-effector tolerance."""
    (tmp_path / "cci.tsv").write_text(
        "source_gene\ttarget_gene\tsource_cell\tliterature_source_cell\t"
        "target_cell\tliterature_target_cell\teffector\t"
        "effectors_function\tphenotype\tmode_of_action\tpmid\n"
        # 2 phenotypes, 1 mode (broadcast); 2 effectors 1 function
        # (broadcast), second effector unmapped
        "TNF\tTNFR1\tmacrophage\tM1\ttumor cell\tTC\tIL6, GHOST\t"
        "secretion\tapoptosis, necrosis\tparacrine\t111\n"
        # phenotype/mode irreparable mismatch -> row dropped
        "TNF\tTNFR1\tmacrophage\tM1\ttumor cell\tTC\t\t\ta, b, c\t"
        "x, y\t222\n"
        # unmapped source gene -> dropped
        "NOPE\tTNFR1\tmacrophage\tM1\ttumor cell\tTC\t\t\tapoptosis\t"
        "paracrine\t333\n"
    )
    genes = spark.createDataFrame(
        [("TNF", "NCBIGene:7124"), ("TNFR1", "NCBIGene:7132"),
         ("IL6", "NCBIGene:3569")],
        "gene string, id string",
    )
    terms = spark.createDataFrame(
        [("macrophage: M1", "CL:0000235", "M1-polarized", "MONDO:0005070",
          ""),
         ("tumor cell: TC", "CL:0001064", "", "", "neoplastic")],
        "combined string, id string, specialization_qualifier string, "
        "context_qualifier string, form_or_variant_qualifier string",
    )
    nodes, edges = PP.ccidb_like(
        spark, str(tmp_path / "cci.tsv"), genes, terms
    )
    rows = edges.collect()
    assert all(r.publications == ["PMID:111"] for r in rows)
    e1 = [r for r in rows
          if r.predicate == "biolink:directly_physically_interacts_with"]
    assert len(e1) == 1
    assert (e1[0].subject, e1[0].object) == ("NCBIGene:7124", "NCBIGene:7132")
    assert e1[0].subject_specialization_qualifier == "M1-polarized"
    assert e1[0].disease_context_qualifier == "MONDO:0005070"
    aff = [r for r in rows if r.predicate == "biolink:affects"]
    # e2+e3: 2 phenotypes x 2 = 4 ; e4+e5: 1 mapped effector x 2 = 2 ;
    # e6: 1 effector x 2 phenotypes = 2
    assert len(aff) == 8
    e2 = [r for r in aff if r.subject == "NCBIGene:7124"
          and r.object == "CL:0001064"]
    assert {r.object_aspect_qualifier for r in e2} == {
        "apoptosis", "necrosis"}
    assert all(r.causal_mechanism_qualifier == "paracrine" for r in e2)
    assert all(r.subject_context_qualifier == "NCBIGene:7132" for r in e2)
    assert all(r.object_form_or_variant_qualifier == "neoplastic"
               for r in e2)
    e4 = [r for r in aff if r.object == "NCBIGene:3569"]
    assert len(e4) == 2  # from source gene and target gene
    assert all(r.object_aspect_qualifier == "secretion" for r in e4)
    e6 = [r for r in aff if r.subject == "NCBIGene:3569"]
    assert len(e6) == 2 and all(r.object == "CL:0001064" for r in e6)
    ids = {r.id for r in nodes.collect()}
    assert ids == {"NCBIGene:7124", "NCBIGene:7132", "NCBIGene:3569",
                   "CL:0000235", "CL:0001064"}


def test_ehr_like_parser(spark, tmp_path):
    """loadEHR.py semantics: ignore-list drop, typed coercion (json list /
    float / int), unparseable-row skip, passthrough of other props."""
    (tmp_path / "edges.csv").write_text(
        "subject,predicate,object,subject_name,auc_roc,"
        "log_odds_ratio_95_ci,positive_patient_count,extra\n"
        'CHEBI:1,biolink:may_treat,MONDO:1,aspirin,0.91,"[0.2, 0.8]",42,x\n'
        "CHEBI:2,biolink:may_treat,MONDO:2,y,notafloat,\"[0.1, 0.2]\",7,y\n"
    )
    nodes, edges = PP.ehr_like(spark, str(tmp_path / "edges.csv"))
    rows = edges.collect()
    assert len(rows) == 1  # bad float row skipped
    r = rows[0]
    assert r.subject == "CHEBI:1" and r.object == "MONDO:1"
    assert r.auc_roc == 0.91
    assert r.log_odds_ratio_95_ci == [0.2, 0.8]
    assert r.positive_patient_count == 42
    assert r.extra == "x"
    assert "subject_name" not in edges.columns
    assert {n.id for n in nodes.collect()} == {"CHEBI:1", "MONDO:1"}


def test_mgi_gene_phenotypes_like_parser(spark, tmp_path):
    """loadMGI.py MGIGenePhenotypes semantics: marker-type lookup with
    gene-only filter, pipe-list marker fan-out, missing-MP drop,
    genotype context props as lists, PMID curies, mouse taxon."""
    (tmp_path / "markers.tsv").write_text(
        "mgi_accession_id\tmarker_symbol\tmarker_name\tmarker_type\n"
        "MGI:97490\tPax6\tpaired box 6\tGene\n"
        "MGI:999\tTg1\ttransgene\tTransgene\n"
    )
    (tmp_path / "genepheno.tsv").write_text(
        "Pax6<+>/Pax6<->\tPax6\tMGI:A1\tB6\tMP:0001262\t111|222\t"
        "MGI:97490|MGI:999|MGI:404\tMGI:G1\n"
        "x\ty\tz\tbg\t\t\tMGI:97490\tMGI:G2\n"  # no MP id -> dropped
    )
    nodes, edges = PP.mgi_gene_phenotypes_like(
        spark, str(tmp_path / "genepheno.tsv"), str(tmp_path / "markers.tsv")
    )
    e = edges.collect()
    assert len(e) == 1  # transgene + unknown markers filtered
    r = e[0]
    assert (r.subject, r.object) == ("MGI:97490", "MP:0001262")
    assert r.publications == ["PMID:111", "PMID:222"]
    assert r.mgi_allelic_composition == ["Pax6<+>/Pax6<->"]
    assert r.mgi_genotype_id == ["MGI:G1"]
    n = {x.id: x for x in nodes.collect()}
    assert n["MGI:97490"].name == "Pax6"
    assert n["MGI:97490"].taxon == "NCBITaxon:10090"
    assert n["MP:0001262"].category == ["biolink:PhenotypicFeature"]


def test_cfde_like_parser(spark, tmp_path):
    """loadLINCS.py / loadMetabolomicsWorkbench.py shared CFDE shape:
    multi-node-file union with secondary-id fill, PUBCHEM re-prefix,
    missing-row node drop + edge kill, original-id edge repair,
    predicate map with passthrough."""
    (tmp_path / "chems.csv").write_text(
        ",primary,secondary,label,type\n"
        "orig1,PUBCHEM123,,aspirin,biolink:SmallMolecule\n"
        "orig2,,CHEBI:2,backup,\n"
        "orig3,,,broken,biolink:SmallMolecule\n"
    )
    (tmp_path / "genes.csv").write_text(
        ",gid,label,type\n"
        "orig4,NCBIGene:4,TP53,\n"
    )
    (tmp_path / "edges.csv").write_text(
        "source,relation,target\n"
        "orig1,in_similarity_relationship_with,orig4\n"
        "orig3,regulates,orig4\n"        # missing subject node -> dropped
        "orig2,unmapped_rel,CURIE:KEPT\n"  # object passthrough
    )
    config = {
        "name": "LINCS",
        "provenance_id": "infores:lincs",
        "predicate_mapping": {
            "in_similarity_relationship_with":
                "biolink:chemically_similar_to",
        },
        "node_files": [
            {"node_file": {"name": "chems.csv", "primary_id_column":
                "primary", "secondary_id_column": "secondary",
                "type": "biolink:ChemicalEntity"}},
            {"node_file": {"name": "genes.csv", "primary_id_column": "gid",
                           "type": "biolink:Gene"}},
        ],
        "edge_file": "edges.csv",
    }
    nodes, edges = PP.cfde_like(spark, config, str(tmp_path))
    n = {r.id: r for r in nodes.collect()}
    assert n["PUBCHEM.COMPOUND123"].name == "aspirin"
    assert n["CHEBI:2"].category == ["biolink:ChemicalEntity"]  # file default
    assert n["NCBIGene:4"].category == ["biolink:Gene"]
    assert len(n) == 3  # broken row dropped
    e = sorted((r.subject, r.predicate, r.object) for r in edges.collect())
    assert e == [
        ("CHEBI:2", "unmapped_rel", "CURIE:KEPT"),
        ("PUBCHEM.COMPOUND123", "biolink:chemically_similar_to",
         "NCBIGene:4"),
    ]


def test_kinace_like_parser(spark, tmp_path):
    (tmp_path / "ksi.csv").write_text(
        "kinase,substrate,p_site,primary_source,publications\n"
        "P31749,Q9Y243,S473,PhosphoSitePlus,111; 222\n"
        "P31749,P49841,T308,iPTMNet,NA\n"
        "P00001,P00002,S1,EPSD,\n"
    )
    _, _, edges = PP.kinace_like(spark, str(tmp_path / "ksi.csv"))
    e = {r.object: r for r in edges.collect()}
    a = e["UniProtKB:Q9Y243"]
    assert a.subject == "UniProtKB:P31749"
    assert a.object_aspect_qualifier == "phosphorylation"
    assert a.publications == ["PMID:111", "PMID:222"]
    assert a.knowledge_level == "knowledge_assertion"
    assert a.primary_knowledge_source == "infores:psite-plus"
    b = e["UniProtKB:P49841"]
    assert b.publications is None and b.agent_type == "text_mining_agent"
    assert e["UniProtKB:P00002"].knowledge_level == "not_provided"


def test_genome_alliance_like_parser(spark, tmp_path):
    (tmp_path / "orth.tsv").write_text(
        "gene_1_id\tgene_1_label\tx1\tx2\tgene_2_id\tgene_2_label\n"
        "HGNC_:11998\tTP53\ta\tb\tMGI_:98834\tTrp53\n"
    )
    subj, obj, edges = PP.genome_alliance_like(
        spark, str(tmp_path / "orth.tsv"))
    r = edges.collect()[0]
    assert (r.subject, r.predicate, r.object) == (
        "HGNC:11998", "biolink:orthologous_to", "MGI:98834")
    assert {x.id: x.name for x in subj.collect()} == {"HGNC:11998": "TP53"}


def test_cord19_like_parser(spark, tmp_path):
    (tmp_path / "sb.tsv").write_text(
        "subject\tobject\teffective_pubs\tenrichment_p\n"
        "CHEBI_:1\tGO_:2\t10.5\t0.001\n"
    )
    (tmp_path / "sg.tsv").write_text(
        "subject\tobject\tnum_publications\n"
        "MONDO:3\tHP:4\t7\n"
    )
    nodes, edges = PP.cord19_like(
        spark, str(tmp_path / "sb.tsv"), str(tmp_path / "sg.tsv"))
    e = {r.subject: r for r in edges.collect()}
    assert e["CHEBI:1"].object == "GO:2"
    assert e["CHEBI:1"].num_publications == 10.5
    assert e["CHEBI:1"].enrichment_p == 0.001
    assert e["MONDO:3"].enrichment_p is None
    assert len({r.id for r in nodes.collect()}) == 4


def test_clingen_validity_like_parser(spark, tmp_path):
    meta = "\n".join(f"#m{i}" for i in range(6))
    (tmp_path / "validity.csv").write_text(meta + "\n" + (
        "gene_symbol,gene_id,disease_label,disease_id,moi,sop,"
        "classification,online_report,classification_date\n"
        "BRCA2,HGNC:1101,breast cancer,MONDO:0007254,AD,SOP7,Definitive,"
        "http://r/1,2020-01-01\n"
        "XY,HGNC:2,z,MONDO:2,WEIRD,SOP7,Limited,http://r/2,2021-02-02\n"
    ))
    _, _, edges = PP.clingen_validity_like(
        spark, str(tmp_path / "validity.csv"),
        staging_dir=str(tmp_path / "stage"))
    e = {r.subject: r for r in edges.collect()}
    a = e["HGNC:1101"]
    assert a.object == "MONDO:0007254"
    assert a.clingen_validity_classification == "Definitive"
    assert a.normalized_mode_of_inheritance == (
        "Autosomal dominant inheritance")
    assert a.hpo_for_normalized_mode_of_inheritance == "HP:0000006"
    b = e["HGNC:2"]
    assert b.normalized_mode_of_inheritance is None  # unmapped moi


def test_upheno_like_parser(spark, tmp_path):
    """loadUPheno.py semantics: OBO stanza parse, obsolete drop, generic-
    parent gating, cross-species pair inference with sorted supporting
    parents, phenotype node emission with names."""
    (tmp_path / "upheno.obo").write_text(
        "format-version: 1.2\n\n"
        "[Term]\nid: UPHENO:1\nname: generic seizure\n\n"
        "[Term]\nid: UPHENO:2\nname: generic tremor\n\n"
        "[Term]\nid: HP:10\nname: human seizure\nis_a: UPHENO:1 ! g\n"
        "is_a: UPHENO:2 ! g2\n\n"
        "[Term]\nid: MP:20\nname: mouse seizure\nis_a: UPHENO:1 ! g\n"
        "is_a: UPHENO:2 ! g2\n\n"
        "[Term]\nid: MP:21\nname: obsolete mouse thing\nis_a: UPHENO:1 ! g\n"
        "is_obsolete: true\n\n"
        "[Term]\nid: HP:11\nname: no generic parent\nis_a: HP:10 ! h\n\n"
        "[Typedef]\nid: part_of\n"
    )
    nodes, edges = PP.upheno_like(
        spark, str(tmp_path / "upheno.obo"), ("HP",), ("MP",)
    )
    e = edges.collect()
    assert len(e) == 1
    r = e[0]
    assert (r.subject, r.predicate, r.object) == (
        "HP:10", "biolink:homologous_to", "MP:20")
    assert r.upheno_generic_parent == ["UPHENO:1", "UPHENO:2"]
    assert r.knowledge_level == "logical_entailment"
    n = {x.id: x.name for x in nodes.collect()}
    assert n == {"HP:10": "human seizure", "MP:20": "mouse seizure"}


def test_mondo_properties_like_parser(spark, tmp_path):
    """loadMP.py semantics: N-Quads scan, IC cutoff property terms,
    direct-superclass flag propagation, label fixups, non-MONDO skip."""
    P = "http://purl.obolibrary.org/obo"
    NIC = "http://example.org/normalizedInformationContent"
    LBL = "http://www.w3.org/2000/01/rdf-schema#label"
    SCO = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    G = "<http://g>"
    lines = [
        f'<{P}/MONDO_0000001> <{NIC}> "50.5" {G} .',
        f'<{P}/MONDO_0000001> <{LBL}> "infectious disease, viral/fungal-x" {G} .',
        f'<{P}/MONDO_0000002> <{NIC}> "95.0" {G} .',
        f'<{P}/MONDO_0000002> <{LBL}> "too specific" {G} .',
        f'<{P}/MONDO_0000009> <{SCO}> <{P}/MONDO_0000001> {G} .',
        f'<{P}/MONDO_0000009> <{SCO}> <{P}/MONDO_0000002> {G} .',
        f'<{P}/MONDO_0000010> <{SCO}> <{P}/MONDO_0000009> {G} .',
        f'<{P}/HP_0000118> <{SCO}> <{P}/MONDO_0000001> {G} .',
        f'<{P}/MONDO_0000011> <{SCO}> <{P}/HP_0000118> {G} .',
    ]
    (tmp_path / "mondo.nq").write_text("\n".join(lines) + "\n")
    nodes, flags = PP.mondo_properties_like(
        spark, str(tmp_path / "mondo.nq"), ic_cutoff=70.0
    )
    f = {(r.id, r.property_name) for r in flags.collect()}
    # only the low-IC labeled superclass generates a flag; commas removed,
    # '/' and '-' -> '_'
    assert f == {
        ("MONDO:0000009",
         "MONDO_SUPERCLASS_infectious_disease_viral_fungal_x"),
    }
    n = nodes.collect()
    assert len(n) == 1 and n[0].id == "MONDO:0000009"


def test_cebs_like_parser(spark, tmp_path):
    """loadCEBS.py semantics: evidence gate/predicate split, morphology
    priority scan (MONDO > compressible non-MPATH > last-element
    fallback), tissue first-element compression, TR space strip."""
    P = "http://purl.obolibrary.org/obo/"
    (tmp_path / "cebs.tsv").write_text(
        "inchikey\tevidence_level\tpublication_number\tspecies_iri\t"
        "strain\tsex\ttissue\tmorphology\n"
        f"AAA\tClear Evidence\tTR 123\t{P}NCBITaxon_10116\tF344/N\tMale\t"
        f"{P}UBERON_0002107;{P}CL_1\t{P}MPATH_268;{P}NCIT_C3271\n"
        f"BBB\tSome Evidence\tTR 9\t{P}NCBITaxon_10090\tB6C3F1\tFemale\t"
        f"{P}UBERON_0002048\thttp://x/unknown;{P}MPATH_99\n"
        f"CCC\tEquivocal Evidence\tTR 5\t{P}NCBITaxon_1\ts\tMale\t\tMONDO:1\n"
    )
    _, _, edges = PP.cebs_like(spark, str(tmp_path / "cebs.tsv"))
    e = {r.subject: r for r in edges.collect()}
    assert len(e) == 2  # equivocal row gated out
    a = e["INCHIKEY:AAA"]
    assert a.predicate == "biolink:associated_with_increased_likelihood_of"
    assert a.object == "NCIT:C3271"  # MPATH skipped, NCIT taken
    assert a.knowledge_level == "knowledge_assertion"
    assert a.publications == ["TR:TR123"]
    assert a.anatomical_context_qualifier == "UBERON:0002107"
    assert a.species_context_qualifier == "NCBITaxon:10116"
    assert a.sex_qualifier == "male"
    b = e["INCHIKEY:BBB"]
    assert b.predicate == "biolink:associated_with_likelihood_of"
    assert b.object == "MPATH:99"  # nothing better -> last-element fallback
    assert b.knowledge_level == "observation"


def test_ohd_like_parser(spark, tmp_path):
    import zipfile

    csv = (
        "subject_id,subject_name,predicate,object_id,object_name,score,"
        "chi_squared_p_value,log_odds_ratio,log_odds_ratio_95_ci,"
        "total_sample_size,primary_knowledge_source\n"
        'SNOMED:1,tooth decay,biolink:correlated_with,MONDO:2,gum disease,'
        '0.9,0.001,1.5,"[1.1, 1.9]",5000,infores:ohd\n'
    )
    zp = tmp_path / "ohd.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr("edges.csv", csv)
    nodes, edges = PP.ohd_like(
        spark, str(zp), staging_dir=str(tmp_path / "stage"))
    r = edges.collect()[0]
    assert (r.subject, r.object) == ("SNOMED:1", "MONDO:2")
    assert r.p_value == 0.001 and r.log_odds_ratio == 1.5
    assert r.log_odds_ratio_95_ci == [1.1, 1.9]
    assert r.total_sample_size == 5000
    assert r.primary_knowledge_source == "infores:ohd"
    assert {n.id: n.name for n in nodes.collect()}["SNOMED:1"] == "tooth decay"


def test_foodb_like_parser(spark, tmp_path):
    (tmp_path / "Food.csv").write_text(
        "id,name,name_scientific,ncbi_taxonomy_id\n"
        "1,Apple,Malus domestica,3750\n"
        "2,Mystery,,\n"          # no taxon -> food dropped
    )
    (tmp_path / "Content.csv").write_text(
        "food_id,source_id,orig_unit,orig_max\n"
        "1,10,mg/100é g,4.5\n"
        "1,11,,\n"
        "1,12,g,1.0\n"
        "2,10,g,1.0\n"
    )
    (tmp_path / "Compound.csv").write_text(
        "id,name,moldb_inchikey,moldb_smiles\n"
        "10,Quercetin,InChIKey=REFJWTPEDVJJIY-UHFFFAOYSA-N,O=C1\n"
        "11,NoKey,,C1CC1\n"
        "12,Nothing,,\n"        # no identifiers -> skipped
    )
    nodes, edges = PP.foodb_like(
        spark, str(tmp_path / "Food.csv"), str(tmp_path / "Content.csv"),
        str(tmp_path / "Compound.csv"))
    e = {r.object: r for r in edges.collect()}
    assert len(e) == 2
    q = e["INCHIKEY:REFJWTPEDVJJIY-UHFFFAOYSA-N"]
    assert q.subject == "NCBITaxon:3750"
    assert q.predicate == "RO:0001019"
    assert q.unit == "mg/100 g"  # non-ascii scrubbed
    assert q.amount == "4.5"
    s = e["SMILES:C1CC1"]
    assert s.unit == "" and s.amount == ""
    n = {x.id: x for x in nodes.collect()}
    assert n["NCBITaxon:3750"].name == "Malus domestica"
    assert n["SMILES:C1CC1"].content_type == "compound"


def test_clingen_variant_pathogenicity_like_parser(spark, tmp_path):
    (tmp_path / "vp.tsv").write_text(
        "variation\tallele_registry_id\thgnc_gene_symbol\tmondo_id\t"
        "assertion\tretracted\n"
        "NM_1:c.100A>G\tCA1\tBRCA2\tMONDO:1\tPathogenic\tfalse\n"
        "NM_2:c.2T>C\tCA2\tTP53\tMONDO:2\tBenign\tfalse\n"
        "NM_3:c.3G>A\tCA3\tMLH1\tMONDO:3\tUncertain Significance\tfalse\n"
        "NM_4:c.4C>T\tCA4\tAPC\tMONDO:4\tWhatever\tfalse\n"
        "NM_5:c.5A>C\tCA5\tRET\tMONDO:5\tPathogenic\ttrue\n"
    )
    subj, _, edges = PP.clingen_variant_pathogenicity_like(
        spark, str(tmp_path / "vp.tsv"))
    e = {r.subject: r for r in edges.collect()}
    assert len(e) == 4  # retracted row dropped
    assert (e["CAID:CA1"].direction, e["CAID:CA1"].negated) == (
        "Supports", False)
    assert (e["CAID:CA2"].direction, e["CAID:CA2"].negated) == (
        "Contradicts", True)
    assert e["CAID:CA3"].direction == "Inconclusive"
    assert e["CAID:CA3"].status is None
    assert e["CAID:CA4"].status == "Not evaluated"
    s = {r.id: r for r in subj.collect()}
    assert s["CAID:CA1"].variation == "NM_1:c.100A>G"


def test_scent_like_parser(spark, tmp_path):
    (tmp_path / "human.csv").write_text(
        "drug_id,verbal_scent,predicate\n"
        "PUBCHEM.COMPOUND:177,sweet vanilla,biolink:has_scent\n"
    )
    (tmp_path / "weighted.csv").write_text(
        "drug_id,verbal_scent,predicate,distance\n"
        "PUBCHEM.COMPOUND:177,floral,biolink:has_scent,0.4\n"
        "PUBCHEM.COMPOUND:178,burnt,biolink:has_scent,1.7\n"
    )
    nodes, edges = PP.scent_like(
        spark, str(tmp_path / "human.csv"), str(tmp_path / "weighted.csv"))
    e = {(r.subject, r.object): r for r in edges.collect()}
    assert len(e) == 2  # over-threshold row dropped
    assert e[("PUBCHEM.COMPOUND:177", "SCENT:sweet_vanilla")].cosine_distance is None
    assert e[("PUBCHEM.COMPOUND:177", "SCENT:floral")].cosine_distance == 0.4
    n = {x.id: x for x in nodes.collect()}
    assert n["SCENT:sweet_vanilla"].name == "sweet vanilla"
    assert n["PUBCHEM.COMPOUND:177"].category == [
        "odorant", "biolink:ChemicalEntity"]


def test_molepro_like_parser(spark, tmp_path):
    (tmp_path / "nodes.tsv").write_text(
        "id\tbiolink:category\tname\tignored_col\n"
        "CHEBI:1\tbiolink:SmallMolecule|biolink:ChemicalEntity\taspirin\tx\n"
    )
    (tmp_path / "edges.tsv").write_text(
        "subject\tpredicate\tobject\tpublications\tnonsense\n"
        "CHEBI:1\tbiolink:affects\tNCBIGene:2\tPMID:1|PMID:2\ty\n"
        "CHEBI:1\tbiolink:related_to\tNCBIGene:3\t\tz\n"
    )
    nodes, edges = PP.molepro_like(
        spark, str(tmp_path / "nodes.tsv"), str(tmp_path / "edges.tsv"),
        node_properties=["id", "category", "name"],
        edge_properties=["subject", "predicate", "object", "publications"],
    )
    n = nodes.collect()[0]
    assert n.category == ["biolink:SmallMolecule", "biolink:ChemicalEntity"]
    assert "ignored_col" not in nodes.columns
    e = {r.object: r for r in edges.collect()}
    assert e["NCBIGene:2"].publications == ["PMID:1", "PMID:2"]
    assert e["NCBIGene:3"].publications is None


def test_gtp_read_stages_a_source_once(spark, tmp_path, monkeypatch):
    """Without a staging directory, a parser stages each source into one
    directory derived from the source's path: a second read of the same
    file makes no new directory and leaves the staged copy as it is."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    src = tmp_path / "interactions.tsv"
    src.write_text('"# GtoPdb Version: 2024.1"\nLigand ID\tType\n1\tInhibitor\n')

    def staged():
        return {p: os.stat(p).st_mtime_ns
                for p in glob.glob(os.path.join(tempfile.tempdir, "**"),
                                   recursive=True)}

    first = PP._gtp_read(spark, str(src))
    assert [r.ligand_id for r in first.collect()] == ["1"]
    after_first = staged()
    second = PP._gtp_read(spark, str(src))
    assert [r.ligand_id for r in second.collect()] == ["1"]
    assert staged() == after_first
