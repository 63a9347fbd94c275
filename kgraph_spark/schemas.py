"""Fixed StructType schemas: the input documents, chunks and the predicate
spec dimension.

Mirrors the reference's frozen Pydantic models (document.py:28-88,
kgraph/pipeline/streaming.py:53-76, domain_spec.py:285-399) re-expressed
as Spark columnar schemas — SURVEY.md §1.1 table. The bundle tables'
schemas are the select lists in operators/export.py."""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input: interleaved text+media documents (BASELINE.json input_hint) ----
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # "text" | "media"
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

# ---- chunking (reference DocumentChunk, kgraph/pipeline/streaming.py:53-76) ----
CHUNK = T.StructType(
    [
        T.StructField("content", T.StringType(), False),
        T.StructField("start_offset", T.IntegerType(), False),
        T.StructField("end_offset", T.IntegerType(), False),
        T.StructField("chunk_index", T.IntegerType(), False),
    ]
)

# ---- predicate spec / constraints (reference domain_spec.py:285-399) ----
PREDICATE_SPEC = T.StructType(
    [
        T.StructField("predicate", T.StringType(), False),
        T.StructField("subject_types", T.ArrayType(T.StringType()), True),  # null = any
        T.StructField("object_types", T.ArrayType(T.StringType()), True),
        T.StructField("specificity", T.IntegerType(), False),
        T.StructField("symmetric", T.BooleanType(), False),
        T.StructField("is_merge_signal", T.BooleanType(), False),
    ]
)
