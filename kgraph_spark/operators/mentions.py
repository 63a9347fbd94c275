"""Mention detection + raw relation-pattern extraction (SURVEY.md §2 C1–C5, F1/F2).

The deterministic gazetteer extractor (reference C4,
examples/sherlock/pipeline/mentions.py:17-89) runs as an Arrow-batched
mapInPandas pass fused with chunking (B1): per document we chunk, run the
precompiled alternation regex per chunk, re-base offsets, and apply the
cross-window keep-max-confidence dedup (C5, kgraph/pipeline/streaming.py:345-424)
— all inside one pass so the overlapped chunk text never hits a shuffle.

The gazetteer rows are shipped once per executor via SparkContext.broadcast
and compiled lazily (module-level cache keyed by broadcast id), exactly the
"broadcast alias table + pUDF re.finditer" design from SURVEY.md §2 C4.

Scale: no shuffle at all — output mentions inherit document partitioning.
Skewed hot entities don't matter here (map-side only)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from kgraph_spark.config import ChunkingConfig
from kgraph_spark.functions.extraction import (
    CompiledGazetteer,
    GazetteerEntry,
    chunk_text,
    dedup_keepmax,
    extract_mentions_from_chunks,
    extract_occurrences,
    extract_relations,
)
from kgraph_spark.functions.normalize import norm_dedup_py
from kgraph_spark.operators.chunking import assemble_content

_GAZ_CACHE: dict[int, CompiledGazetteer] = {}


def _compiled(gaz_bcast) -> CompiledGazetteer:
    # key by the broadcast's storage path (unique per broadcast), NOT
    # id(obj): Python reuses object ids after GC, and executor processes
    # outlive individual queries, so an id() key can silently serve a stale
    # gazetteer to a later query with a different broadcast
    key = getattr(gaz_bcast, "_path", None) or id(gaz_bcast)
    g = _GAZ_CACHE.get(key)
    if g is None:
        entries = [GazetteerEntry(*row) for row in gaz_bcast.value]
        g = CompiledGazetteer(entries)
        _GAZ_CACHE.clear()  # one gazetteer at a time per executor
        _GAZ_CACHE[key] = g
    return g


MENTION_SCHEMA = (
    "doc_id string, text string, entity_type string, start_offset int, "
    "end_offset int, confidence double, canonical_id_hint string, para_idx int"
)

def extract_mentions(docs: DataFrame, gaz_bcast, cfg: ChunkingConfig | None = None) -> DataFrame:
    """documents → mentions (deduped per doc by normalized (name, type))."""
    cfg = cfg or ChunkingConfig()
    src = assemble_content(docs).select("doc_id", "content", "paras")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gazc = _compiled(gaz_bcast)
        for pdf in batches:
            rows = []
            for did, content, paras in zip(pdf["doc_id"], pdf["content"], pdf["paras"]):
                paras = list(paras)
                para_starts, off = [], 0
                for p in paras:
                    para_starts.append(off)
                    off += len(p) + 2
                chunks = chunk_text(content or "", cfg)
                for m in extract_mentions_from_chunks(chunks, gazc, para_starts):
                    rows.append(
                        (did, m["text"], m["entity_type"], m["start_offset"],
                         m["end_offset"], m["confidence"], m["canonical_id_hint"],
                         m["para_idx"])
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "text", "entity_type", "start_offset",
                         "end_offset", "confidence", "canonical_id_hint", "para_idx"],
            )

    return src.mapInPandas(gen, schema=MENTION_SCHEMA)


EXTRACTED_SCHEMA = (
    "kind string, doc_id string, text string, entity_type string, "
    "start_offset int, end_offset int, confidence double, canonical_id_hint string, "
    "para_idx int, subject_text string, object_text string, predicate string, "
    "evidence string, win_j int, norm_text string, subject_norm string, object_norm string, "
    "valid_wins array<int>"
)


def extract_all(docs: DataFrame, gaz_bcast, cfg=None) -> DataFrame:
    """Fused single-pass extraction: mentions ('m' rows) + window-presence
    rows ('p') + raw pattern relations ('r' rows) + valid co-occurrence
    windows ('w' rows) in ONE mapInPandas over documents.

    'p' rows carry the reference's co-occurrence presence semantics
    (sherlock relationships.py:81-98: presence = the surface occurs in the
    window text, every occurrence counts): one row per distinct
    (normalized surface, entity_type, para_idx) from the RAW gazetteer
    occurrences — BEFORE the C5 keep-max dedup that the mentions table
    uses. An entity whose surface repeats across paragraphs is present in
    each of them, exactly as a window-text re-scan would find.

    Scale rationale: the unfused pipeline scanned the 100-TB documents table
    three times (mentions, relations, paragraph windows) and needed a
    window-function shuffle just to enumerate valid co-occurrence windows.
    Fusing emits all row kinds from the pass that already has the
    text in hand — one scan, one Python stage, zero extra shuffles. The
    persisted result serves every downstream branch as cached filters."""
    from kgraph_spark.config import PipelineConfig

    pcfg = cfg if isinstance(cfg, PipelineConfig) else PipelineConfig()
    ccfg = pcfg.chunking
    N = pcfg.cooccur_window
    min_chars = pcfg.cooccur_min_chars
    src = assemble_content(docs).select("doc_id", "content", "paras")
    cols = [
        "kind", "doc_id", "text", "entity_type", "start_offset", "end_offset",
        "confidence", "canonical_id_hint", "para_idx", "subject_text",
        "object_text", "predicate", "evidence", "win_j",
        "norm_text", "subject_norm", "object_norm", "valid_wins",
    ]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        gazc = _compiled(gaz_bcast)
        # matched surfaces are a closed set (the gazetteer alternation), so
        # normalization memoizes to once per distinct surface per worker —
        # norm_dedup_py was the hottest per-occurrence call in this loop
        _norm_cache: dict[str, str] = {}

        def _norm(t: str) -> str:
            v = _norm_cache.get(t)
            if v is None:
                v = _norm_cache[t] = norm_dedup_py(t)
            return v

        for pdf in batches:
            rows = []
            for did, content, paras in zip(pdf["doc_id"], pdf["content"], pdf["paras"]):
                paras = list(paras)
                para_starts, off = [], 0
                for p in paras:
                    para_starts.append(off)
                    off += len(p) + 2
                chunks = chunk_text(content or "", ccfg)
                # valid co-occurrence windows (sherlock relationships.py:81-90):
                # j ≤ n_paras - N and joined window text length ≥ min_chars.
                # No dedicated window rows hit the output: presence rows carry
                # valid_wins, which downstream consumers (and
                # windows_from_extracted) derive windows from — a window with
                # no present entity yields no pair anyway.
                P = len(paras)
                valid_set = set()
                for j in range(P - (N - 1)):
                    wlen = sum(len(p) for p in paras[j:j + N]) + (N - 1)
                    if wlen >= min_chars:
                        valid_set.add(j)
                occs = extract_occurrences(chunks, gazc, para_starts)
                for m in dedup_keepmax(occs):
                    rows.append(
                        ("m", did, m["text"], m["entity_type"], m["start_offset"],
                         m["end_offset"], m["confidence"], m["canonical_id_hint"],
                         m["para_idx"], None, None, None, None, None,
                         _norm(m["text"]), None, None, None)
                    )
                # presence rows from RAW occurrences (pre-C5-dedup): one per
                # distinct (norm surface, type, para); valid_wins = windows
                # the paragraph participates in, so co-occurrence needs NO
                # window join downstream
                pres: dict[tuple[str, str, int], dict] = {}
                for o in occs:
                    k = (_norm(o["text"]), o["entity_type"], o["para_idx"])
                    pres.setdefault(k, o)
                for (nt, et, p_i), o in pres.items():
                    vw = [j for j in range(max(0, p_i - (N - 1)), p_i + 1) if j in valid_set]
                    if vw:
                        rows.append(
                            ("p", did, o["text"], et, None, None, None,
                             o["canonical_id_hint"], p_i, None, None, None, None,
                             None, nt, None, None, vw)
                        )
                for r in extract_relations(paras):
                    rows.append(
                        ("r", did, None, None, None, None, r["confidence"], None,
                         r["para_idx"], r["subject_text"], r["object_text"],
                         r["predicate"], r["evidence"], None,
                         None, _norm(r["subject_text"]), _norm(r["object_text"]), None)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return src.mapInPandas(gen, schema=EXTRACTED_SCHEMA)


def mentions_from_extracted(extracted: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return extracted.filter(F.col("kind") == "m").select(
        "doc_id", "text", "entity_type", "start_offset", "end_offset",
        "confidence", "canonical_id_hint", "para_idx", "norm_text",
    )


def presence_from_extracted(extracted: DataFrame) -> DataFrame:
    """Window-presence rows ('p'): the co-occurrence membership input
    (reference presence semantics — every occurrence, pre-C5-dedup)."""
    from pyspark.sql import functions as F

    return extracted.filter(F.col("kind") == "p").select(
        "doc_id", "text", "entity_type", "canonical_id_hint",
        "para_idx", "norm_text", "valid_wins",
    )


def relations_from_extracted(extracted: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return extracted.filter(F.col("kind") == "r").select(
        "doc_id", "subject_text", "predicate", "object_text",
        "confidence", "para_idx", "evidence", "subject_norm", "object_norm",
    )


def windows_from_extracted(extracted: DataFrame) -> DataFrame:
    """Valid co-occurrence windows, derived from the presence rows'
    valid_wins arrays (the extractor emits no dedicated window rows: a
    valid window with no present entity contributes no pair, so the
    presence-derived set is pair-equivalent to the full enumeration)."""
    from pyspark.sql import functions as F

    return (
        extracted.filter(F.col("kind") == "p")
        .select("doc_id", F.explode("valid_wins").alias("win_j"))
        .distinct()
    )


KNOWN_TYPE_LABELS = frozenset(
    # names that are really type labels, never entity names (reference
    # examples/medlit/pipeline/mentions.py:40-81 _is_type_masquerading_as_name)
    ["disease", "gene", "drug", "protein", "symptom", "procedure",
     "biomarker", "pathway", "location", "hormone", "entity", "condition"]
)


def mentions_from_metadata(docs_with_entities: DataFrame) -> DataFrame:
    """C1: pre-extracted entities carried in document metadata →
    mention rows (reference MedLitEntityExtractor.extract,
    mentions.py:183-238): conf 0.9, canonical_id_hint passthrough; drops
    names that are bare type labels or equal to their own type.

    Input: (doc_id, entities: array<struct<name, entity_type,
    canonical_id>>). Pure built-ins: explode + filters."""
    from pyspark.sql import functions as F

    e = docs_with_entities.select("doc_id", F.explode("entities").alias("e"))
    name_l = F.lower(F.trim(F.col("e.name")))
    return (
        e.filter(F.length(F.trim(F.col("e.name"))) >= 3)
        .filter(~name_l.isin(*sorted(KNOWN_TYPE_LABELS)))
        .filter(name_l != F.lower(F.col("e.entity_type")))
        .select(
            "doc_id",
            F.col("e.name").alias("text"),
            F.lower(F.col("e.entity_type")).alias("entity_type"),
            F.lit(0).alias("start_offset"),
            F.lit(0).alias("end_offset"),
            F.lit(0.9).alias("confidence"),
            F.col("e.canonical_id").alias("canonical_id_hint"),
            F.lit(0).alias("para_idx"),
        )
    )
