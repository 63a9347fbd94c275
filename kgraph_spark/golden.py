"""Golden oracle: pure-Python, per-document reference implementation.

Re-states the reference's two-pass construction semantics
(kgraph/ingest.py:532-579 pass 1/2; examples/medlit/pipeline/dedup.py run_ingest)
with plain dicts and a union-find — deliberately row-at-a-time, structured like
the reference, and fully independent of the Spark DataFrame implementation in
operators/. tests/test_pipeline_golden.py requires triple-set P/R ≥ 0.95
(BASELINE.json north_rule); in practice the match should be exact.

Shares ONLY the pluggable extraction core (functions/extraction.py) and the
normalization/config constants with the Spark side, exactly as the reference
shares its extractor interfaces between pipelines."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from kgraph_spark.config import (
    PREDICATE_SPECS,
    PROV_PREFIX,
    SPECIFICITY,
    SYMMETRIC_PREDICATES,
    PipelineConfig,
    is_authoritative_id,
)
from kgraph_spark.functions.extraction import (
    CompiledGazetteer,
    GazetteerEntry,
    chunk_text,
    dedup_keepmax,
    extract_occurrences,
    extract_relations,
)
from kgraph_spark.functions.normalize import norm_dedup_py

_CONSTRAINTS = {p: (st, ot) for (p, st, ot, _sp, _sy, _ms) in PREDICATE_SPECS}


def validate_doc_relations(rels: list[dict]) -> list[dict]:
    """F6 swap + F7 constraints + F8 specificity dedup over ONE document's
    resolved relations (dicts with subject/object id and type, predicate,
    confidence, evidence) — the twin of relationships.validate_relations."""
    validated: list[dict] = []
    for r in rels:
        pred = r["predicate"]
        if pred == "same_as":
            continue  # consumed as merge signal, not emitted
        st, ot = r["subject_type"], r["object_type"]
        cons = _CONSTRAINTS.get(pred)
        if cons is None:
            continue  # unknown predicate → reject (F7)
        sub_ok = cons[0] is None or st in cons[0]
        obj_ok = cons[1] is None or ot in cons[1]
        if not (sub_ok and obj_ok):
            swap_sub_ok = cons[0] is None or ot in cons[0]
            swap_obj_ok = cons[1] is None or st in cons[1]
            if swap_sub_ok and swap_obj_ok:  # F6 swap correction
                r = {**r, "subject_id": r["object_id"], "object_id": r["subject_id"],
                     "subject_type": ot, "object_type": st}
            else:
                continue  # F7 reject
        validated.append(r)

    # F8: per (subject, object) keep most specific predicate — ordering
    # key mirrors the Spark min-of-struct EXACTLY: (spec DESC, conf DESC,
    # predicate ASC, evidence ASC)
    def _f8_key(r: dict) -> tuple:
        return (-SPECIFICITY.get(r["predicate"], 0), -r["confidence"],
                r["predicate"], r["evidence"])

    best_so: dict[tuple[str, str], dict] = {}
    for r in validated:
        k = (r["subject_id"], r["object_id"])
        cur = best_so.get(k)
        if cur is None or _f8_key(r) < _f8_key(cur):
            best_so[k] = r
    return list(best_so.values())


def prov_id(name: str, entity_type: str) -> str:
    """Content-hashed provisional id (replaces reference uuid slug,
    dedup.py:209-211) — deterministic across executors/runs. sha256 (not
    sha1) so the DuckDB driver oracle can recompute it."""
    h = hashlib.sha256(f"{norm_dedup_py(name)}|{entity_type}".encode()).hexdigest()
    return PROV_PREFIX + h[:12]


def build_alias_index(gaz: list[GazetteerEntry]) -> dict[str, tuple[str, str]]:
    """norm_dedup(alias) -> (entity_id, entity_type). KB hit wins; otherwise
    the provisional content hash (D2/D5/D7 priority chain, collapsed because
    our gazetteer carries the hint).

    Ordering rule is IDENTICAL to the Spark twin (resolve.alias_index_df):
    sort by (canonical_id is None, alias) and first-wins — so two KB-backed
    aliases colliding on a normalized key elect the same winner in both."""
    idx: dict[str, tuple[str, str]] = {}
    for e in sorted(gaz, key=lambda e: (e.canonical_id is None, e.alias)):
        key = norm_dedup_py(e.alias)
        if key in idx:
            continue  # KB-backed rows sort first and win
        eid = e.canonical_id or prov_id(e.alias, e.entity_type)
        idx[key] = (eid, e.entity_type)
    return idx


class _UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent.setdefault(p, p)
            x, p = p, self.parent.setdefault(p, p)
        return x

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def run_golden(docs: list[dict], gaz: list[GazetteerEntry], cfg: PipelineConfig | None = None) -> dict:
    """docs: [{doc_id, spans:[(kind,text,media_ref,offset)]}] → golden outputs."""
    cfg = cfg or PipelineConfig()
    gazc = CompiledGazetteer(gaz)
    alias_index = build_alias_index(gaz)

    doc_mentions: dict[str, list[dict]] = {}
    doc_presence: dict[str, list[tuple[int, str]]] = {}  # (para_idx, entity_id)
    doc_relations: dict[str, list[dict]] = {}
    entity_type_of: dict[str, str] = {}

    def _resolve(text: str, etype: str, hint: str | None) -> str:
        hit = alias_index.get(norm_dedup_py(text))
        if hit is not None:
            return hit[0]
        return hint or prov_id(text, etype)

    # ---- pass 1: per-document extraction + resolution -------------------
    for d in docs:
        did = d["doc_id"]
        paras = [s[1] for s in d["spans"] if s[0] == "text" and s[1]]
        content = "\n\n".join(paras)
        para_starts, off = [], 0
        for p in paras:
            para_starts.append(off)
            off += len(p) + 2
        chunks = chunk_text(content, cfg.chunking)
        occs = extract_occurrences(chunks, gazc, para_starts)
        mentions = dedup_keepmax(occs)
        for m in mentions:
            m["entity_id"] = _resolve(m["text"], m["entity_type"], m["canonical_id_hint"])
            entity_type_of[m["entity_id"]] = m["entity_type"]
        doc_mentions[did] = mentions
        # co-occurrence presence from RAW occurrences (reference window-re-
        # scan semantics: every occurrence counts, pre-C5-dedup)
        doc_presence[did] = [
            (o["para_idx"], _resolve(o["text"], o["entity_type"], o["canonical_id_hint"]))
            for o in occs
        ]
        doc_relations[did] = []
        for r in extract_relations(paras):
            s_hit = alias_index.get(norm_dedup_py(r["subject_text"]))
            o_hit = alias_index.get(norm_dedup_py(r["object_text"]))
            if s_hit is None or o_hit is None:
                continue  # F14: unresolvable endpoint → drop
            r["subject_id"], r["subject_type"] = s_hit
            r["object_id"], r["object_type"] = o_hit
            doc_relations[did].append(r)

    # ---- pass 2a: SAME_AS connected components (D8) ----------------------
    uf = _UnionFind()
    for did, rels in doc_relations.items():
        for r in rels:
            if r["predicate"] == "same_as" and r["confidence"] >= cfg.same_as_min_conf:
                if r["subject_id"] != r["object_id"]:
                    uf.union(r["subject_id"], r["object_id"])
    comp: dict[str, list[str]] = defaultdict(list)
    for node in list(uf.parent):
        comp[uf.find(node)].append(node)
    winner_of: dict[str, str] = {}
    for members in comp.values():
        winner = min(members, key=lambda x: (not is_authoritative_id(x), x))
        for m in members:
            if m != winner:
                winner_of[m] = winner

    def final_id(eid: str) -> str:
        return winner_of.get(eid, eid)

    # ---- pass 2b: relationship validation + triples ----------------------
    triples: dict[tuple[str, str, str], dict] = {}

    def add_triple(s: str, p: str, o: str, conf: float, did: str, quote: str | None = None) -> None:
        if s == o:
            return
        if p in SYMMETRIC_PREDICATES:
            s, o = min(s, o), max(s, o)
        key = (s, p, o)
        t = triples.get(key)
        if t is None:
            t = triples[key] = {
                "confidence": conf, "source_documents": {did},
                "evidence_count": 1, "evidence": [],
            }
        else:
            t["confidence"] = max(t["confidence"], conf)
            t["source_documents"].add(did)
            t["evidence_count"] += 1
        if quote is not None:
            t["evidence"].append((conf, quote))

    for did, rels in doc_relations.items():
        for r in validate_doc_relations(rels):
            add_triple(final_id(r["subject_id"]), r["predicate"], final_id(r["object_id"]),
                       r["confidence"], did, quote=r["evidence"])

    # ---- pass 2c: appears_in + co-occurrence (F1) ------------------------
    for d in docs:
        did = d["doc_id"]
        paras = [s[1] for s in d["spans"] if s[0] == "text" and s[1]]
        ents_here = sorted({final_id(m["entity_id"]) for m in doc_mentions[did]})
        for e in ents_here:
            add_triple(e, "appears_in", "DOC:" + did, cfg.appears_in_conf, did)
        N = cfg.cooccur_window
        if len(paras) >= N:
            para_ents: dict[int, set[str]] = defaultdict(set)
            for p_i, eid in doc_presence[did]:
                para_ents[p_i].add(final_id(eid))
            counts: dict[tuple[str, str], int] = defaultdict(int)
            for j in range(len(paras) - (N - 1)):
                wlen = sum(len(p) for p in paras[j:j + N]) + (N - 1)
                if wlen < cfg.cooccur_min_chars:
                    continue
                present = sorted(set().union(*[para_ents[k] for k in range(j, j + N)]))
                for ai in range(len(present)):
                    for bi in range(ai + 1, len(present)):
                        counts[(present[ai], present[bi])] += 1
            for (a, b), n in counts.items():
                conf = min(cfg.cooccur_max_conf, cfg.cooccur_base_conf + cfg.cooccur_step_conf * n)
                add_triple(a, "co_occurs_with", b, conf, did)

    # ---- entities table ---------------------------------------------------
    # live rows keyed by final (post-merge) id; merge losers become tombstones
    # (status='merged', merged_into=winner — reference entity.py:61-68)
    ent: dict[str, dict] = {}
    for did, mentions in doc_mentions.items():
        for m in mentions:
            targets = [(final_id(m["entity_id"]), None)]
            if m["entity_id"] in winner_of:
                targets.append((m["entity_id"], winner_of[m["entity_id"]]))
            for eid, merged_into in targets:
                e = ent.setdefault(eid, {
                    "entity_id": eid, "entity_type": m["entity_type"],
                    "merged_into": merged_into,
                    "confidence": 0.0, "usage_count": 0, "names": set(), "docs": set(),
                })
                e["confidence"] = max(e["confidence"], m["confidence"])
                e["usage_count"] += 1
                e["names"].add(m["text"])
                e["docs"].add(did)
    for e in ent.values():
        # status mirrors export.entities_table: merged tombstone > authoritative
        # id > force-promotion at conf ≥ 0.7 & usage ≥ min_usage
        # (reference promotion.py:86-96) > provisional
        if e["merged_into"] is not None:
            e["status"] = "merged"
        elif is_authoritative_id(e["entity_id"]) or (
            e["confidence"] >= cfg.promotion.force_promote_confidence
            and e["usage_count"] >= cfg.promotion.min_usage
        ):
            e["status"] = "canonical"
        else:
            e["status"] = "provisional"
        # same deterministic sorted-prefix caps the Spark entities_table
        # applies (config.max_supporting_documents / max_synonyms), so the
        # oracle stays comparable at any corpus size / cap setting
        e["docs"] = sorted(e["docs"])[: cfg.max_supporting_documents]
        e["names"] = sorted(e["names"])[: cfg.max_synonyms]

    def _ev_summary(v: dict) -> dict:
        # reference _relationship_evidence_summary (kgraph/export.py:114-130)
        # with the deterministic (confidence, quote) tie-break the Spark
        # max-of-struct applies
        if not v["evidence"]:
            return {"strongest_evidence_quote": None, "evidence_confidence_avg": None}
        best = max(v["evidence"])
        return {
            "strongest_evidence_quote": best[1],
            "evidence_confidence_avg": sum(c for c, _ in v["evidence"]) / len(v["evidence"]),
        }

    return {
        "mentions": doc_mentions,
        "triples": {
            k: {"confidence": v["confidence"],
                # same deterministic sorted-prefix cap the Spark
                # accumulate_triples applies (config.max_source_documents),
                # so oracle and pipeline stay comparable at every corpus size
                "source_documents": sorted(v["source_documents"])[: cfg.max_source_documents],
                "evidence_count": v["evidence_count"],
                **_ev_summary(v)}
            for k, v in triples.items()
        },
        "entities": ent,
        "winner_of": winner_of,
    }


def triple_prf(golden_keys: set, got_keys: set) -> tuple[float, float, float]:
    if not got_keys or not golden_keys:
        return (0.0, 0.0, 0.0)
    tp = len(golden_keys & got_keys)
    p = tp / len(got_keys)
    r = tp / len(golden_keys)
    f = 0.0 if p + r == 0 else 2 * p * r / (p + r)
    return (p, r, f)
