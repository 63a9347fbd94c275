"""Deterministic synthetic interleaved text+media corpus (FIXTURES.md).

Generates the BASELINE.json input_hint shape:
    documents(doc_id string, spans array<struct<kind,text,media_ref,offset:int>>)
plus the gazetteer / KB dimension and ground-truth seeding:
  * mentions: 0–3 vocabulary surface forms per text span at known offsets
  * relations: "<alias> <phrase> <alias>." sentences (incl. ~5% deliberately
    reversed "disease treats drug" to exercise swap correction, and invalid
    pairs to exercise constraint rejection)
  * SAME_AS clusters: ~3% of entities appear under 2–4 coreferent
    vocabulary-only surface forms linked by "is also known as" sentences
    with chain length ≥ 3 (exercises transitive connected components)
  * skew: one hot entity appears in ~10% of all documents

Everything is a pure function of (doc_id, seed): generation is distributed
via mapInPandas over spark.range(n) so a 10^8-doc corpus generates with no
driver bottleneck, and any executor produces identical rows."""

from __future__ import annotations

import random
from typing import Iterator

from kgraph_spark.config import ENTITY_TYPES
from kgraph_spark.functions.extraction import GazetteerEntry

SEED = 42

_FILLER = (
    "the study cohort results showed patients clinical observed analysis "
    "measured baseline followup group random effect outcome signal report data notes "
    "trial phase marker level sample tissue control dose response rate"
).split()

_PREFIX = [
    "zel", "cor", "max", "tal", "ven", "dor", "fin", "gal", "hex", "jun",
    "kel", "lum", "mir", "nex", "oct", "pel", "quil", "ros", "sil", "tur",
]
_MID = ["fa", "ne", "ri", "to", "lu", "mi", "da", "xo"]
_SUFFIX = {
    "disease": ["osis", "itis", "oma"],
    "gene": ["g1", "g2", "g4"],
    "drug": ["nib", "mab", "cin"],
    "protein": ["ase", "in", "gen"],
    "symptom": ["algia", "pnea", "emia"],
    "procedure": ["ectomy", "oscopy", "plasty"],
    "biomarker": ["bm", "dx", "mk"],
    "pathway": ["path", "flux", "cycle"],
    "location": ["burg", "ville", "stad"],
    "hormone": ["trope", "sterone", "olin"],
}
_ID_FMT = {
    "disease": lambda k: f"C{900000 + k}",            # UMLS-style
    "gene": lambda k: f"HGNC:{1000 + k}",
    "drug": lambda k: f"RxNorm:{200000 + k}",
    "protein": lambda k: f"UniProt:P{10000 + k}",
}

N_CANONICAL = 240
N_VOCAB_ONLY = 90
HOT_NAME = "zelfatonib"  # the skew entity (drug)
HOT_DOC_FRACTION = 0.10


def _mk_name(rng: random.Random, etype: str, used: set[str]) -> str:
    while True:
        name = rng.choice(_PREFIX) + rng.choice(_MID) + rng.choice(_SUFFIX[etype])
        if name not in used:
            used.add(name)
            return name


def build_vocabulary(seed: int = SEED) -> dict:
    """Deterministic KB + gazetteer + SAME_AS clusters + relation plan.

    Returns dict with:
      kb_rows: [(canonical_id, name, entity_type, synonyms, url)]
      gazetteer: [GazetteerEntry]            (KB aliases + vocab-only forms)
      same_as_clusters: [[surface, ...]]     (first = KB name, rest vocab-only)
      typed: {entity_type: [name, ...]}      (KB names per type, for planting)
      vocab_only: [(name, entity_type)]
    """
    rng = random.Random(seed)
    used: set[str] = set()
    kb_rows: list[tuple] = []
    gaz: list[GazetteerEntry] = []
    typed: dict[str, list[str]] = {t: [] for t in ENTITY_TYPES}

    def add_kb(name: str, etype: str, k: int) -> None:
        cid = _ID_FMT.get(etype, lambda kk: f"MeSH:D{50000 + kk}")(k)
        syns: list[str] = []
        r = rng.random()
        if r < 0.5:  # multi-word alias, conf 0.95
            syns.append(f"{name} compound" if etype == "drug" else f"{name} factor")
        if r < 0.25:  # short alias, conf 0.80
            short = f"{name[:2]}{k % 97:02d}x"
            if short not in used:
                used.add(short)
                syns.append(short)
        kb_rows.append((cid, name, etype, syns, f"https://kb.example/{cid}"))
        typed[etype].append(name)
        gaz.append(GazetteerEntry(name, cid, etype, 1.0))
        for s in syns:
            gaz.append(GazetteerEntry(s, cid, etype, 0.95 if len(s.split()) >= 2 else 0.80))

    # the hot (skew) entity first
    used.add(HOT_NAME)
    add_kb(HOT_NAME, "drug", 0)
    for k in range(1, N_CANONICAL):
        etype = ENTITY_TYPES[k % len(ENTITY_TYPES)]
        add_kb(_mk_name(rng, etype, used), etype, k)

    # British-spelling exercise: KB "leukemia", corpus also writes "leukaemia"
    add_kb("leukemia", "disease", N_CANONICAL + 1)
    gaz.append(GazetteerEntry("leukaemia", None, "disease", 1.0))

    vocab_only: list[tuple[str, str]] = [("leukaemia", "disease")]
    for k in range(N_VOCAB_ONLY):
        etype = ENTITY_TYPES[(k * 3 + 1) % len(ENTITY_TYPES)]
        name = _mk_name(rng, etype, used)
        vocab_only.append((name, etype))
        gaz.append(GazetteerEntry(name, None, etype, 1.0))

    # SAME_AS clusters: KB entity + 2–3 vocab-only coreferent forms (chain ≥ 3)
    clusters: list[list[str]] = []
    cluster_src = [r for r in kb_rows if r[2] in ("drug", "disease", "gene")]
    for ci in range(8):
        base = cluster_src[(ci * 17 + 3) % len(cluster_src)]
        etype = base[2]
        members = [base[1]]
        for j in range(2 + ci % 2):
            alt = _mk_name(rng, etype, used)
            members.append(alt)
            gaz.append(GazetteerEntry(alt, None, etype, 1.0))
            vocab_only.append((alt, etype))
        clusters.append(members)

    return {
        "kb_rows": kb_rows,
        "gazetteer": gaz,
        "same_as_clusters": clusters,
        "typed": typed,
        "vocab_only": vocab_only,
    }


# ---------------------------------------------------------------------------
# per-document generation — pure function of (doc_id, vocab, seed)
# ---------------------------------------------------------------------------

_REL_PLANS = [
    # (phrase, subject_type, object_type)  — valid combinations
    ("treats", "drug", "disease"),
    ("treats", "procedure", "symptom"),
    ("causes", "gene", "disease"),
    ("prevents", "drug", "disease"),
    ("inhibits", "drug", "protein"),
    ("regulates", "gene", "protein"),
    ("interacts with", "protein", "protein"),
    ("is associated with", "biomarker", "disease"),
    ("indicates", "biomarker", "disease"),
]


def _pick(rng: random.Random, names: list[str]) -> str:
    return names[rng.randrange(len(names))]


def make_document(doc_id: int, vocab: dict, seed: int = SEED) -> dict:
    """One interleaved document. Deterministic per (doc_id, seed)."""
    rng = random.Random((seed << 20) ^ doc_id)
    typed = vocab["typed"]
    clusters = vocab["same_as_clusters"]
    vocab_only = vocab["vocab_only"]

    n_spans = rng.randint(3, 12)
    spans: list[dict] = []
    cursor = 0
    media_count = 0
    for si in range(n_spans):
        if rng.random() < 0.25 and 0 < si < n_spans - 1:
            spans.append(
                {
                    "kind": "media",
                    "text": "",
                    "media_ref": f"media://DOC{doc_id:08d}/{media_count}.png",
                    "offset": cursor,
                }
            )
            media_count += 1
            cursor += 1
            continue
        sentences: list[str] = []
        for _ in range(rng.randint(1, 4)):
            r = rng.random()
            if r < 0.42:  # mention sentence with 1–3 embedded surface forms
                words = [rng.choice(_FILLER) for _ in range(rng.randint(4, 9))]
                n_ents = rng.randint(1, 3)
                for _ in range(n_ents):
                    rr = rng.random()
                    if rr < HOT_DOC_FRACTION * 0.6:
                        surface = HOT_NAME
                    elif rr < 0.75:
                        et = rng.choice(list(typed))
                        if not typed[et]:
                            continue
                        surface = _pick(rng, typed[et])
                    else:
                        surface = vocab_only[rng.randrange(len(vocab_only))][0]
                    words.insert(rng.randrange(1, len(words)), surface)
                sentences.append(" ".join(words) + ".")
            elif r < 0.62:  # relation sentence
                phrase, st, ot = _REL_PLANS[rng.randrange(len(_REL_PLANS))]
                subj, obj = _pick(rng, typed[st]), _pick(rng, typed[ot])
                if subj == obj:
                    continue
                rr = rng.random()
                if rr < 0.05:  # deliberately reversed → swap correction
                    subj, obj = obj, subj
                elif rr < 0.10:  # invalid pair → constraint rejection
                    subj = _pick(rng, typed["location"])
                sentences.append(f"{subj} {phrase} {obj}.")
            elif r < 0.68 and clusters:  # SAME_AS chain link
                c = clusters[rng.randrange(len(clusters))]
                j = rng.randrange(len(c) - 1)
                sentences.append(f"{c[j]} is also known as {c[j + 1]}.")
            else:  # pure filler
                words = [rng.choice(_FILLER) for _ in range(rng.randint(5, 12))]
                sentences.append(" ".join(words) + ".")
        text = " ".join(sentences)
        spans.append({"kind": "text", "text": text, "media_ref": None, "offset": cursor})
        cursor += len(text) + 2

    # guarantee ≥1 text span
    if all(s["kind"] != "text" for s in spans):
        spans.append({"kind": "text", "text": "baseline report.", "media_ref": None, "offset": cursor})
    return {"doc_id": f"DOC{doc_id:08d}", "spans": [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans
    ]}


def generate_documents_local(n_docs: int, seed: int = SEED) -> list[dict]:
    vocab = build_vocabulary(seed)
    return [make_document(i, vocab, seed) for i in range(n_docs)]


def documents_df(spark, n_docs: int, seed: int = SEED, partitions: int | None = None):
    """Distributed generation: spark.range → mapInPandas, deterministic per
    doc_id (partition-layout independent). Scales to arbitrary corpus size."""
    import pandas as pd

    from kgraph_spark.schemas import DOCUMENTS

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab = build_vocabulary(seed)
        for pdf in batches:
            rows = [make_document(int(i), vocab, seed) for i in pdf["id"]]
            yield pd.DataFrame(rows)

    rng_df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=DOCUMENTS)


def gazetteer_rows(seed: int = SEED) -> list[tuple]:
    """Plain-tuple form of the gazetteer for broadcasting: (alias, cid, type, conf)."""
    vocab = build_vocabulary(seed)
    return [(e.alias, e.canonical_id, e.entity_type, e.confidence) for e in vocab["gazetteer"]]
