"""Chunking / span handling (SURVEY.md §2 B1/B2/B3).

Span → content assembly and windowed chunking as Arrow-batched pandas UDFs
(chunking is a pure string function — reference WindowedDocumentChunker,
kgraph/pipeline/streaming.py:151-244). Media spans pass through untouched;
the per-row invariant (span-sequence equality) is tested in
tests/test_spans.py.

Scale: one pass over documents, no shuffle — chunk rows inherit the
document partitioning. At 100 TB the cost is the parquet scan itself."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgraph_spark.config import ChunkingConfig
from kgraph_spark.functions.extraction import chunk_text
from kgraph_spark.schemas import CHUNK


def assemble_content(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) → (doc_id, spans, content, paras).

    content = text spans joined by blank lines (reference treats documents as
    flat content with paragraph structure; sherlock splits on '\\n\\n' —
    relationships.py:81). Pure built-in higher-order functions: stays in
    whole-stage codegen, no Python."""
    text_spans = F.filter("spans", lambda s: (s["kind"] == "text") & (s["text"] != ""))
    paras = F.transform(text_spans, lambda s: s["text"])
    return docs.withColumn("paras", paras).withColumn(
        "content", F.array_join("paras", "\n\n")
    )


def chunk_documents(docs: DataFrame, cfg: ChunkingConfig | None = None) -> DataFrame:
    """documents → chunks(doc_id, content, start_offset, end_offset, chunk_index).

    mapInPandas + the shared pure chunker; exploded downstream by caller or
    consumed fused inside the mention extractor (operators/mentions.py fuses
    chunk+extract in one pass to avoid materializing the ~2× overlapped text)."""
    cfg = cfg or ChunkingConfig()
    with_content = assemble_content(docs).select("doc_id", "content")

    schema = "doc_id string, " + ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in CHUNK.fields
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, content in zip(pdf["doc_id"], pdf["content"]):
                for c, s, e, i in chunk_text(content or "", cfg):
                    rows.append((did, c, s, e, i))
            yield pd.DataFrame(
                rows, columns=["doc_id", "content", "start_offset", "end_offset", "chunk_index"]
            )

    return with_content.mapInPandas(gen, schema=schema)


def chunk_spans(
    docs: DataFrame, window_size: int = 1536, overlap: int = 400
) -> DataFrame:
    """B2 overlapping-window stream over the span sequence (reference
    iter_overlapping_windows, examples/medlit/pipeline/pmc_streaming.py:66-114):
    the first text span (abstract) is emitted separately as window 0
    (pmc_streaming.py:104-107); remaining text concatenates into
    window_size/overlap sliding windows. Same pUDF family as B1."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, paras in zip(pdf["doc_id"], pdf["paras"]):
                paras = list(paras)
                if not paras:
                    continue
                rows.append((did, paras[0], 0, len(paras[0]), 0))
                body = "\n\n".join(paras[1:])
                idx, cur = 1, 0
                while cur < len(body):
                    end = min(cur + window_size, len(body))
                    rows.append((did, body[cur:end], cur, end, idx))
                    idx += 1
                    if end >= len(body):
                        break
                    cur += window_size - overlap
            yield pd.DataFrame(
                rows, columns=["doc_id", "content", "start_offset", "end_offset", "chunk_index"]
            )

    src = assemble_content(docs).select("doc_id", "paras")
    return src.mapInPandas(
        gen,
        schema="doc_id string, content string, start_offset int, end_offset int, chunk_index int",
    )
