"""Deterministic inputs for the benchmark.

Two generators, both pure functions of their arguments:

* ``write_tables`` writes the ten catalog tables (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``) as parquet,
  with the column names, types and value distributions of the
  driver-provided test data at the same scale factor.
* ``write_corpus`` writes a PubMed/PubTator/MeSH corpus for the
  reference DAG and returns the release it must produce (the planted
  truth), so the pipeline's written output can be checked exactly.
"""

from __future__ import annotations

import gzip
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the table generator changes: it keys the oracle cache.
TABLES_VERSION = "tables-v1"
TABLES_SEED = 42

# Corpus shape: PubMed shards, the share of articles about complex-I
# inhibition, and the size of the compound vocabulary.
CORPUS_SHARDS = 2
TOPICAL_SHARE = 0.25
N_COMPOUNDS = 300

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float) -> None:
    """Write the catalog at scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLES_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_li),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + t0
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(_DOC_WORDS, int(n)))
        for n in rng.integers(10, 101, n_docs)
    ]
    # 5% near-duplicates: another document's text with one extra token.
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })


# ---------------------------------------------------------------------------
# Reference-DAG corpus
# ---------------------------------------------------------------------------

# Raw known-inhibitor list handed to finalize.build_release, and the
# curated list the release must carry (the curation drops Piericidin
# and Bongkrekic and adds their full names).
KNOWN_RAW = ["Rotenone", "Piericidin", "Bongkrekic", "Fenpyroximate", "Pyridaben"]
KNOWN_CURATED = sorted(
    {"Rotenone", "Fenpyroximate", "Pyridaben", "Piericidin A", "Bongkrekic acid"}
)
# Names removed from abstracts before classification (merge_filter).
ANTI_FILTER = ["rotenone", "piericidin"]
BLACKLIST = ["*mitochondr*", "control"]
TYPO_PAIRS = [("analogs", ""), ("analog", "")]
PANEL_SMILES = {
    "metformin": "CN(C)C(=N)NC(=N)N",
    "phenol": "Oc1ccccc1",
    "quinone": "O=C1C=CC(=O)C=C1",
}
BIGUANIDE_REFS = {"biguanide": "NC(=N)NC(=N)N", "biguanide_motif": "NC(=N)N"}
_SMILES_POOL = [
    "CCO", "CCN", "CC(=O)O", "c1ccccc1O", "CN(C)C(=N)NC(=N)N", "NC(=N)NC(=N)N",
    "CCOC(=O)C", "c1ccncc1", "OC(=O)c1ccccc1", "CC(C)O", "O=C1C=CC(=O)C=C1",
    "CCCCCC", "c1ccc2ccccc2c1", "CC(=O)Nc1ccc(O)cc1",
]
_SYLLABLES = "ba be bi bo da de di do fa fe fi ka ke ki ko la le li lo ma me mi mo na ne ni no pa pe pi po ra re ri ro sa se si so ta te ti to va ve vi vo xa xe za ze zi zo".split()
_SUFFIX = ["in", "ol", "ide", "ate", "one", "ine", "amide", "azole"]
_NEUTRAL = (
    "patients cohort outcome analysis samples expression levels response "
    "therapy clinical serum cells tissue model observed measured associated "
    "with in of the and study results data increased baseline function"
).split()
_TISSUES = ["rat liver", "isolated heart", "cultured neurons", "yeast", "tumour cells"]


@dataclass
class Corpus:
    """Paths and planted truth of one generated corpus."""

    pubmed_dir: str
    pubtator_path: str
    desc_path: str
    supp_path: str
    n_articles: int
    pubmed_bytes: int
    total_bytes: int
    smiles_db: dict[str, str]
    fetch_table: dict[str, str]
    # expected processed_new rows (pmid, confidence, compound), sorted
    new_rows: list[tuple[str, str, str]] = field(default_factory=list)
    # expected release rows: (compound, pubmed_references, known_status,
    # confidence_pubmed, pubmed_ids, SMILES), in release order
    all_rows: list[tuple[str, int, str, str, str, str]] = field(default_factory=list)
    # PMIDs that reach the classifier (once per lineage evaluation)
    classified_pmids: int = 0
    # compounds the REST fetcher is asked for (not in smiles_db)
    fetch_keys: int = 0


def _bin(n: int) -> str:
    if n <= 1:
        return "very-low"
    if n <= 2:
        return "low"
    if n <= 4:
        return "medium"
    return "high"


def _write_gz(path: str, lines: list[str]) -> None:
    """Gzip with a fixed header timestamp, so equal seeds give equal bytes."""
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as f:
        f.write("".join(lines).encode("utf-8"))


def _article_xml(pmid: int, year: int, title: str, paragraphs: list[str]) -> str:
    body = "".join(f"<AbstractText>{p}</AbstractText>" for p in paragraphs)
    return (
        f'<PubmedArticle><MedlineCitation><PMID Version="1">{pmid}</PMID>'
        f"<DateCompleted><Year>{year}</Year></DateCompleted>"
        f"<Article><ArticleTitle>{title}</ArticleTitle>"
        f"<Abstract>{body}</Abstract></Article></MedlineCitation></PubmedArticle>\n"
    )


def write_corpus(out_dir: str, seed: int, n_articles: int = 1200) -> Corpus:
    """Write a corpus of `n_articles` PubMed articles in CORPUS_SHARDS
    gzipped XML shards, plus PubTator and MeSH inputs.

    TOPICAL_SHARE of the articles are about complex-I inhibition;
    each is assigned a fate (released, filtered at a named step, or
    classified NO), so the release the DAG must write is known.
    """
    rng = random.Random(seed)
    pubmed_dir = os.path.join(out_dir, "pubmed")
    os.makedirs(pubmed_dir, exist_ok=True)

    names: set[str] = set()
    while len(names) < N_COMPOUNDS:
        stem = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        name = (stem + rng.choice(_SUFFIX)).capitalize()
        if rng.random() < 0.3:
            name += f"-{rng.randint(2, 99)}"
        names.add(name)
    compounds = sorted(names)
    # classified, then dropped by the wildcard and the exact blacklist
    blacklisted = ("Control", "Mitochondrin")

    # MeSH: organic descriptors (D02-D06) and kept SCRs are bioactive;
    # C-branch / D27-only descriptors and unmapped SCRs are not.
    desc_rows, scr_rows, bioactive, inert = [], [], [], []
    for i in range(120):
        ui = f"D{100000 + i:06d}"
        tree = ("D02.455", "D04.210", "C04.557")[i % 3] + f".{i:03d}"
        if i % 10 == 9:
            tree = f"D27.505.{i:03d}"
        desc_rows.append(
            f"<DescriptorRecord><DescriptorUI>{ui}</DescriptorUI><DescriptorName>"
            f"<String>Desc{i}</String></DescriptorName><TreeNumberList>"
            f"<TreeNumber>{tree}</TreeNumber></TreeNumberList></DescriptorRecord>\n"
        )
        (bioactive if tree[:3] in ("D02", "D04") else inert).append(f"MESH:{ui}")
    for i in range(80):
        ui = f"C{500000 + i:06d}"
        if i % 2 == 0:  # CAS registry number: kept
            rn, kept = f"{1000 + i}-{10 + i % 90:02d}-{i % 10}", True
        else:  # no mapping, non-CAS RN, class 2: dropped
            rn, kept = "0", False
        scr_rows.append(
            f'<SupplementalRecord SCRClass="{1 if kept else 2}"><SupplementalRecordUI>{ui}'
            f"</SupplementalRecordUI><SupplementalRecordName><String>scr compound {i}"
            f"</String></SupplementalRecordName><RegistryNumber>{rn}</RegistryNumber>"
            f"</SupplementalRecord>\n"
        )
        (bioactive if kept else inert).append(f"MESH:{ui}")
    desc_path = os.path.join(out_dir, "desc.xml")
    supp_path = os.path.join(out_dir, "supp.xml")
    with open(desc_path, "w") as f:
        f.write("<?xml version='1.0'?><DescriptorRecordSet>\n")
        f.writelines(desc_rows)
        f.write("</DescriptorRecordSet>\n")
    with open(supp_path, "w") as f:
        f.write("<?xml version='1.0'?><SupplementalRecordSet>\n")
        f.writelines(scr_rows)
        f.write("</SupplementalRecordSet>\n")

    fates = [
        ("yes", 40), ("probably", 15), ("no", 8), ("old", 8), ("unannotated", 8),
        ("known", 6), ("complex3", 5), ("bracket", 4), ("blacklisted", 6),
    ]
    fate_names = [f for f, _ in fates]
    fate_weights = [w for _, w in fates]

    shards: list[list[str]] = [[] for _ in range(CORPUS_SHARDS)]
    pubtator: list[str] = []
    hits: dict[str, list[str]] = {}  # released compound -> its PMIDs
    new_rows: list[tuple[str, str, str]] = []
    classified = 0
    for i in range(n_articles):
        pmid = 30_000_000 + i * 7 + rng.randint(0, 6)
        year = rng.randint(2000, 2024)
        tissue = rng.choice(_TISSUES)
        filler = " ".join(rng.choice(_NEUTRAL) for _ in range(rng.randint(20, 60)))
        annotate = bioactive
        if rng.random() < TOPICAL_SHARE:
            fate = rng.choices(fate_names, fate_weights)[0]
            name = rng.choice(compounds)
            verb = {"probably": "impairs", "no": "blocks"}.get(fate, "inhibits")
            tail = "complex III" if fate == "complex3" else "complex I"
            if fate == "blacklisted":
                name = rng.choice(blacklisted)
            title = f"{name} {verb} mitochondrial {tail} in {tissue}"
            paragraphs = [
                f"We show that {name.lower()} {verb} NADH oxidation by mitochondrial "
                f"{tail}. {filler}."
            ]
            if fate == "probably":
                paragraphs.append("Respiration was reduced in treated samples.")
            if fate == "known":
                paragraphs.append("The effect was weaker than that of rotenone.")
            if fate == "bracket":
                title = f"[{title}]"
            if fate == "old":
                year = rng.randint(1985, 1999)
            if fate == "unannotated":
                annotate = inert
            if fate in ("yes", "probably", "blacklisted", "no"):
                classified += 1
            if fate in ("yes", "probably"):
                label = "YES" if fate == "yes" else "probablyYES"
                hits.setdefault(name, []).append(str(pmid))
                new_rows.append((str(pmid), label, name))
        else:
            title = f"Clinical {rng.choice(_NEUTRAL)} {rng.choice(_NEUTRAL)} in {tissue}"
            paragraphs = [filler + "."]
        shards[i % CORPUS_SHARDS].append(_article_xml(pmid, year, title, paragraphs))
        for _ in range(rng.randint(1, 3)):
            tag = rng.choice(annotate)
            pubtator.append(f"{pmid}\tChemical\t{tag}\tmention\tPubTator3\n")
        if rng.random() < 0.3:
            pubtator.append(f"{pmid}\tDisease\t\tdisease mention\tPubTator3\n")

    pubmed_bytes = 0
    for k, rows in enumerate(shards):
        path = os.path.join(pubmed_dir, f"pubmed26n{k + 1:04d}.xml.gz")
        _write_gz(path, ["<?xml version='1.0'?><PubmedArticleSet>\n", *rows, "</PubmedArticleSet>\n"])
        pubmed_bytes += os.path.getsize(path)
    pubtator_path = os.path.join(out_dir, "pubtator.gz")
    _write_gz(pubtator_path, pubtator)

    # SMILES: about half the released names resolve from the internal
    # db, a third of the rest from the REST stub, the others stay ''.
    released = sorted(hits)
    smiles_db = {"Rotenone": _SMILES_POOL[11], "Pyridaben": _SMILES_POOL[12]}
    fetch_table: dict[str, str] = {}
    fetch_keys = len([k for k in KNOWN_CURATED if k not in smiles_db])
    for name in released:
        smi = rng.choice(_SMILES_POOL)
        r = rng.random()
        if r < 0.5:
            smiles_db[name] = smi
        else:
            fetch_keys += 1
            if r < 0.67:
                fetch_table[name] = smi
    resolved = {**fetch_table, **smiles_db}

    rows = []
    for name, pmids in hits.items():
        ids = sorted(set(pmids))
        rows.append((name, len(ids), "new", _bin(len(ids)), ";".join(ids), resolved.get(name, "")))
    for name in KNOWN_CURATED:
        rows.append((name, 100, "known", "high", "", resolved.get(name, "")))
    rows.sort(key=lambda r: (-r[1], r[0]))

    total = pubmed_bytes + sum(
        os.path.getsize(p) for p in (pubtator_path, desc_path, supp_path)
    )
    return Corpus(
        pubmed_dir=pubmed_dir,
        pubtator_path=pubtator_path,
        desc_path=desc_path,
        supp_path=supp_path,
        n_articles=n_articles,
        pubmed_bytes=pubmed_bytes,
        total_bytes=total,
        smiles_db=smiles_db,
        fetch_table=fetch_table,
        new_rows=sorted(new_rows),
        all_rows=rows,
        classified_pmids=classified,
        fetch_keys=fetch_keys,
    )
