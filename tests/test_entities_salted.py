from __future__ import annotations

from kgraph_spark import synth
from kgraph_spark.operators import resolve
from kgraph_spark.operators.export import entities_table
from kgraph_spark.operators.mentions import extract_all, mentions_from_extracted


def test_entities_table_caps_keep_sorted_prefix(spark):
    """The hot-entity scale guard: binding supporting-document and synonym
    caps give the sorted deterministic prefix of the uncapped arrays, while
    usage_count / total_mentions stay exact. (name/entity_type are left out
    of the snapshot: the caps do not touch them.)"""
    docs = synth.documents_df(spark, 150)
    gaz = synth.gazetteer_rows()
    gb = spark.sparkContext.broadcast(gaz)
    mm = resolve.resolve_mentions(
        mentions_from_extracted(extract_all(docs, gb)), resolve.alias_index_df(spark, gaz)
    ).persist()

    def snap(df):
        return {
            r["entity_id"]: (
                round(r["confidence"], 9), r["usage_count"], r["total_mentions"],
                tuple(r["synonyms"]), r["first_seen_document"],
                tuple(r["supporting_documents"]), r["status"],
            )
            for r in df.collect()
        }

    plain = snap(entities_table(mm))
    # the skew entity really is hot (sanity that the caps below bind on it)
    hot = [v for v in plain.values() if len(v[5]) > 10]
    assert hot, "expected at least one high-support entity"

    capped = snap(entities_table(mm, max_supporting_documents=5, max_synonyms=2))
    assert capped.keys() == plain.keys()
    assert any(len(v[5]) == 5 for v in capped.values()), "doc cap never bound"
    for eid, v in plain.items():
        c = capped[eid]
        assert c[5] == v[5][:5] and c[3] == v[3][:2], eid
        assert c[1] == v[1] and c[2] == v[2], eid  # counts stay exact
        assert c[0] == v[0] and c[4] == v[4] and c[6] == v[6], eid
    mm.unpersist()
    gb.destroy()
