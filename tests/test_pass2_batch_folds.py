"""Pass-2 order-dependent folds must see a whole group, not one Arrow batch.

assign_merge_keys (per entity class) and the distributed path of
same_as_ordered_mapping (per SAME_AS component) are first-wins folds over
the group's rows in (paper_id, pos) order. Spark delivers a group larger
than spark.sql.execution.arrow.maxRecordsPerBatch in several Arrow batches;
these tests shrink the batch to 4 rows so a ~30-row group spans eight
batches, and require the same output as at the default batch size and as
the order-replay the fold mirrors. Inputs are hand-built: no reference
corpus is needed."""

from __future__ import annotations

import hashlib
import random
from contextlib import contextmanager

from kgraph_spark.operators.medlit_pass2 import (
    _replay_same_as,
    assign_merge_keys,
    same_as_ordered_mapping,
)

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def arrow_batch_rows(spark, n: int):
    old = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, str(n))
    try:
        yield
    finally:
        spark.conf.set(BATCH_CONF, old)


def _shuffled(rows: list[tuple]) -> list[tuple]:
    rows = list(rows)
    random.Random(7).shuffle(rows)
    return rows


ENTITY_SCHEMA = (
    "paper_id string, pos int, local_id string, entity_class string, name string, "
    "synonyms array<string>, auth_id string, cache_cid string"
)


def _entity_rows() -> tuple[list[tuple], dict[int, int]]:
    """30 Drug entities, one per paper, whose names repeat every 5 papers
    (plus case, spelling and synonym variants), so nearly every row hits
    an index entry made by a row in an earlier batch. Returns the rows and
    each entity's group label."""
    base = ["aspirin", "ibuprofen", "Tumour", "heparin", "warfarin"]
    rows, group = [], {}
    for i in range(30):
        name = base[i % 5]
        if i == 15:
            name = "ASPIRIN"  # raw-lower hit
        if i == 22:
            name = "tumor"  # spelling-normalized hit on 'Tumour'
        if i == 26:
            name = "advil"  # synonym of entity 1
        syns = ["advil"] if i == 1 else []
        auth = "C0000003" if i == 3 else None
        cache = "D000004" if i == 4 else None
        rows.append((f"p{i:02d}", 0, f"e{i}", "Drug", name, syns, auth, cache))
        group[i] = i % 5 if i != 26 else 1
    return rows, group


def _slug(paper_id: str, local_id: str) -> str:
    return "prov-" + hashlib.sha256(f"{paper_id}\x00{local_id}".encode()).hexdigest()[:12]


def test_assign_merge_keys_folds_whole_class_across_batches(spark):
    rows, group = _entity_rows()
    ents = spark.createDataFrame(_shuffled(rows), ENTITY_SCHEMA).repartition(3)

    # first-wins: each group's key is decided by its first entity (p00..p04)
    first = {0: _slug("p00", "e0"), 1: _slug("p01", "e1"), 2: _slug("p02", "e2"),
             3: "C0000003", 4: "D000004"}
    want_assign = {
        ("Drug", "assign", f"p{i:02d}", f"e{i}", first[group[i]]) for i in range(30)
    }
    want_index = {
        "aspirin": first[0], "ibuprofen": first[1], "advil": first[1],
        "tumour": first[2], "tumor": first[2], "heparin": first[3], "warfarin": first[4],
    }

    def run():
        return sorted(tuple(r) for r in assign_merge_keys(ents).collect())

    default = run()
    with arrow_batch_rows(spark, 4):
        small = run()

    assert small == default
    assert {r for r in small if r[1] == "assign"} == want_assign
    index_rows = [(r[2], r[4]) for r in small if r[1] == "index"]
    assert len(index_rows) == len(want_index)  # no duplicate 'index' rows
    assert dict(index_rows) == want_index


def test_same_as_distributed_fold_replays_whole_component_across_batches(spark):
    # one 31-node component: a chain in which the subject's key wins each
    # merge, then a late edge to an authoritative id that takes over all
    edges = [(f"p{i:02d}", 0, f"prov-a{i:02d}", f"prov-a{i + 1:02d}") for i in range(29)]
    edges.append(("p29", 1, "prov-a15", "C0000007"))
    df = spark.createDataFrame(
        _shuffled(edges), "paper_id string, pos int, src string, dst string"
    ).repartition(3)
    replay = sorted(_replay_same_as([(s, d) for _, _, s, d in sorted(edges)]))
    assert replay == sorted((f"prov-a{i:02d}", "C0000007") for i in range(30))

    def run():
        out = same_as_ordered_mapping(df, local_threshold=0)
        return sorted(tuple(r) for r in out.select("entity_id", "final_id").collect())

    default = run()
    with arrow_batch_rows(spark, 4):
        small = run()

    assert small == default
    assert small == replay
