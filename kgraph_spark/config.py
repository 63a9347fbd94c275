"""Pipeline configuration + domain registry.

Mirrors the reference's ChunkingConfig (kgraph/pipeline/streaming.py:79-94),
PromotionConfig (kgschema/kgschema/promotion.py:21-26 + examples/medlit/domain.py:97-110),
the predicate spec registry (examples/medlit/domain_spec.py:285-399) and the
British→American spelling map (examples/medlit/pipeline/dedup.py:29-35).
All constants are shared between the Spark pipeline, the synthetic-corpus
generator and the pure-Python golden oracle so semantics cannot drift."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ChunkingConfig:
    chunk_size: int = 2000
    overlap: int = 200
    respect_boundaries: bool = True
    min_chunk_size: int = 500


@dataclass(frozen=True)
class PromotionConfig:
    min_usage: int = 1
    min_confidence: float = 0.4
    force_promote_confidence: float = 0.7  # reference promotion.py:86-96


@dataclass(frozen=True)
class PipelineConfig:
    chunking: ChunkingConfig = field(default_factory=ChunkingConfig)
    promotion: PromotionConfig = field(default_factory=PromotionConfig)
    cooccur_window: int = 5          # sherlock relationships.py:81
    cooccur_min_chars: int = 40      # sherlock relationships.py:~90 (len(para_lc) < 40 skip)
    cooccur_max_conf: float = 0.95   # min(0.95, 0.60 + 0.10*n)
    cooccur_base_conf: float = 0.60
    cooccur_step_conf: float = 0.10
    same_as_min_conf: float = 0.85   # dedup.py:379
    appears_in_conf: float = 0.95    # sherlock relationships.py:~50
    cc_max_iterations: int = 20      # hash-to-min bound; synonym clusters are tiny
    # Scale guard: a hot entity pair can co-occur in an unbounded number of
    # documents; the triple row keeps at most this many source ids (sorted,
    # deterministic) while evidence_count stays exact. Per-doc provenance
    # survives in full in the evidence table (normalized layout) — at 100 TB
    # that table, not an in-row array, is the provenance contract.
    max_source_documents: int = 10_000
    # Same scale guard for the G1 entity summary: a hot entity appearing in
    # 10% of a 100-TB corpus would otherwise materialize ~10% of all doc
    # ids (and every distinct surface form) in one reducer row. Sorted
    # deterministic prefix; usage_count/total_mentions stay exact and the
    # mentions table is the full-provenance record.
    max_supporting_documents: int = 10_000
    max_synonyms: int = 1_000
    # two-phase salted (s,p,o) accumulation: bounds the per-reducer
    # collect_set state for hot pairs to O(max_source_documents) per salt
    # (relationships.accumulate_triples_salted — output equivalence-tested
    # against the unsalted form).
    #   None (default) = AUTO: salt with auto_n_salts when the input's
    #     estimated ON-DISK byte size reaches salt_auto_min_input_bytes
    #     (zero-cost file-stat probe, no Spark job, and — unlike a
    #     partition-count proxy — independent of the session's
    #     maxPartitionBytes, which bench/test configs shrink 64×).
    #     In-memory inputs (tests) have no file size; they fall back to
    #     the RDD slice count vs salt_auto_min_partitions. The threshold
    #     is asymmetric on purpose: an unnecessary salt costs one extra
    #     map-side partial agg on ≤ n_salts bounded rows per triple,
    #     while a missing salt at scale is a reducer whose collect_set
    #     buffer holds every distinct doc id of the hottest pair. The
    #     100-TB default therefore must not depend on the operator
    #     remembering a flag (r3 verdict item 8).
    #   0 = force single-phase; n > 0 = force salted with n salts.
    accumulate_n_salts: int | None = None
    # 32 GiB of input — below that a hot pair's doc set fits any reducer.
    salt_auto_min_input_bytes: int = 32 * 1024**3
    # in-memory fallback threshold (slice count; tests flip this)
    salt_auto_min_partitions: int = 256
    auto_n_salts: int = 32


# British → American spelling for dedup lookups (dedup.py:29-35)
SPELLING_NORMALIZATIONS: dict[str, str] = {
    "hyperglycaemia": "hyperglycemia",
    "haemoglobin": "hemoglobin",
    "tumour": "tumor",
    "oesophagus": "esophagus",
    "leukaemia": "leukemia",
}

# entity types from the medlit registry (examples/medlit/domain.py:48-62)
ENTITY_TYPES = [
    "disease", "gene", "drug", "protein", "symptom", "procedure",
    "biomarker", "pathway", "location", "hormone",
]

# relation phrase → (predicate, confidence). Deterministic pattern rules: the
# generator plants sentences "<alias> <phrase> <alias>." and the extractor
# matches them back (the sherlock-style deterministic stand-in for the
# reference's LLM extractor — SURVEY.md §2 determinism note).
RELATION_PHRASES: dict[str, tuple[str, float]] = {
    "treats": ("treats", 0.90),
    "causes": ("causes", 0.85),
    "prevents": ("prevents", 0.85),
    "inhibits": ("inhibits", 0.85),
    "regulates": ("regulates", 0.80),
    "interacts with": ("interacts_with", 0.80),
    "is associated with": ("associated_with", 0.75),
    "indicates": ("indicates", 0.85),
    "is also known as": ("same_as", 0.90),
}

# predicate registry: (predicate, subject_types|None, object_types|None,
#                      specificity, symmetric, is_merge_signal)
# specificity map mirrors relationships.py:31-34 (indicates=2 > associated_with=1 > 0)
PREDICATE_SPECS: list[tuple[str, list[str] | None, list[str] | None, int, bool, bool]] = [
    ("treats", ["drug", "procedure"], ["disease", "symptom"], 0, False, False),
    ("causes", ["gene", "drug", "disease"], ["disease", "symptom"], 0, False, False),
    ("prevents", ["drug", "procedure"], ["disease", "symptom"], 0, False, False),
    ("inhibits", ["drug", "protein"], ["protein", "gene", "pathway"], 0, False, False),
    ("regulates", ["gene", "protein", "hormone"], ["gene", "protein", "pathway"], 0, False, False),
    ("interacts_with", ["drug", "protein", "gene"], ["drug", "protein", "gene"], 0, True, False),
    ("associated_with", None, None, 1, True, False),
    ("indicates", ["biomarker", "gene", "protein"], ["disease"], 2, False, False),
    ("same_as", None, None, 0, True, True),
    ("co_occurs_with", None, None, 0, True, False),
    ("appears_in", None, None, 0, False, False),
]

SYMMETRIC_PREDICATES = frozenset(p for (p, _st, _ot, _spec, sym, _ms) in PREDICATE_SPECS if sym)
SPECIFICITY: dict[str, int] = {p: spec for (p, _st, _ot, spec, _sym, _ms) in PREDICATE_SPECS}
MERGE_SIGNAL_PREDICATE = "same_as"

PROV_PREFIX = "prov-"


def is_authoritative_id(s: str | None) -> bool:
    """Python twin of the Spark expression in canonicalize.py.

    Mirrors reference dedup.py:44-85 (_is_authoritative_id): authoritative
    ontology-ID formats vs synthetic prov- slugs."""
    if not s or not s.strip():
        return False
    s = s.strip()  # the Spark twin trims first (canonicalize.py is_authoritative_col)
    if s.startswith(PROV_PREFIX) or s.startswith("DOC:"):
        return False
    for pfx in ("MeSH:", "HGNC:", "RxNorm:", "UniProt:", "DBPedia:", "ROR:", "ORCID:"):
        if s.startswith(pfx):
            return True
    if len(s) > 1 and s[0] in ("D", "C") and s[1:].isdigit():
        return True
    if s.isdigit():
        return True
    if s[0] in ("P", "Q") and len(s) >= 6 and s[1:].isalnum():
        return True
    if s.startswith("PMC") and len(s) > 3 and s[3:].isdigit():
        return True
    return False
