"""Extraction + quality pandas UDFs (Arrow-batched; never per-row Python).

The per-page loop of the reference
(quality_analysis_updated/universal_analyzer.py:31-49 per-page metrics;
entity-extraction-service/app.py:547-593 span extraction) becomes one
vectorized call per Arrow batch — the CIDR'22 "Accelerating Python UDFs in
Vectorized Query Execution" pattern (PAPERS.md). The UDF bodies delegate to
``documentai_spark.core`` so the pytest oracle and the pipeline share one
implementation (byte-equality by construction; SURVEY §7.4 risk #1).

Design notes for 100 TB scale:

- UDFs are *column -> struct column* (SQL_SCALAR_PANDAS_UDF): they compose
  with Catalyst projections, survive whole-stage codegen around them, and
  keep the scan's predicate pushdown / column pruning intact (only ``text``
  is shipped to Python, nothing else).
- The extraction stage is embarrassingly parallel: no shuffle is needed or
  introduced. Skew defusal (salted repartition) is a separate explicit
  operator (documentai_spark.operators.skew).
- Spans travel as ``array<struct>`` columns (Arrow list<struct> — cheap
  columnar encoding, no JSON round-trip).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, MapType, StringType, StructField,
    StructType,
)

from documentai_spark.core.entities import (
    extract_entities, extraction_confidence,
)
from documentai_spark.core.extract import extract_turn

SPAN_TYPE = StructType([
    StructField("begin", IntegerType(), False),
    StructField("end", IntegerType(), False),
    StructField("kind", StringType(), False),
    StructField("text", StringType(), False),
])

EXTRACT_RESULT_TYPE = StructType([
    StructField("kind", StringType(), False),
    StructField("extracted_text", StringType(), False),
    StructField("spans", ArrayType(SPAN_TYPE, False), False),
])

QUALITY_RESULT_TYPE = StructType([
    StructField("q_blank", DoubleType(), False),
    StructField("q_legibility", DoubleType(), False),
    StructField("q_completeness", DoubleType(), False),
    StructField("q_skew", DoubleType(), False),
    StructField("q_noise", DoubleType(), False),
    StructField("q_contrast", DoubleType(), False),
    StructField("q_brightness", DoubleType(), False),
    StructField("q_edge_crop", DoubleType(), False),
    StructField("q_shadow_glare", DoubleType(), False),
    StructField("q_resolution", DoubleType(), False),
])

ENTITY_SPAN_TYPE = StructType([
    StructField("field", StringType(), False),
    StructField("value", StringType(), False),
    StructField("begin", IntegerType(), True),   # null = cascade missed
    StructField("end", IntegerType(), True),
])

ENTITY_RESULT_TYPE = StructType([
    StructField("entities", MapType(StringType(), StringType(), False), False),
    StructField("entity_spans", ArrayType(ENTITY_SPAN_TYPE, False), False),
    StructField("extraction_confidence", DoubleType(), False),
])

FUSED_RESULT_TYPE = StructType(
    EXTRACT_RESULT_TYPE.fields + QUALITY_RESULT_TYPE.fields)


@pandas_udf(ENTITY_RESULT_TYPE)
def entity_udf(extracted: pd.Series) -> pd.DataFrame:
    """extracted text -> (flat entity map, char-offset entity spans,
    extraction confidence). Spans locate each entity value inside the
    text via the reference's exact -> consecutive-multi-word ->
    containment cascade (entity-extraction-service/app.py:682-755;
    core/spans.py is the pure-Python spec)."""
    from documentai_spark.core.spans import entity_spans
    ents = []
    spans = []
    confs = []
    for e in extracted:
        t = e or ""
        d = extract_entities(t)
        ents.append(d)
        spans.append(entity_spans(t, d) if d else [])
        confs.append(extraction_confidence(d))
    return pd.DataFrame({"entities": ents, "entity_spans": spans,
                         "extraction_confidence": confs})


@pandas_udf(FUSED_RESULT_TYPE)
def extract_quality_udf(text: pd.Series) -> pd.DataFrame:
    """Fused extraction + quality: ONE Arrow round-trip per batch.

    Running extract and quality as separate scalar UDFs ships the text to
    Python twice (and the extracted text back and forth once more) — at
    10^12 turns the exchange is pure waste since quality consumes exactly
    what extraction just produced inside the same worker. Fusing halves
    the Arrow transfer and keeps one python worker pass per batch.
    """
    from documentai_spark.operators.quality_vec import fused_quality
    kinds: list[str] = []
    texts: list[str] = []
    spans_col: list[list] = []
    for t in text:
        kind, extracted, spans = extract_turn(t)
        kinds.append(kind)
        texts.append(extracted)
        spans_col.append(spans)  # NamedTuples serialize as structs (2.3x
        # cheaper than dicts through the Arrow converter, measured)
    qb, ql, qc, qsk, qn, qct, qbr, qec, qsg, qre = fused_quality(text, texts)
    return pd.DataFrame({
        "kind": kinds, "extracted_text": texts, "spans": spans_col,
        "q_blank": qb, "q_legibility": ql, "q_completeness": qc,
        "q_skew": qsk, "q_noise": qn, "q_contrast": qct,
        "q_brightness": qbr, "q_edge_crop": qec, "q_shadow_glare": qsg,
        "q_resolution": qre,
    })


# r9 (guide 4.4): a filter on a UDF-derived column (kind, n_tables,
# quality gates) gets pushed below the projection by re-EVALUATING the
# UDF a second time under the Filter — measured as a duplicate
# ArrowEvalPython stage costing ~1.7s per filtering query at sf1.0.
# Marking the expensive extraction-family UDFs non-deterministic
# forbids the optimizer from duplicating them; the functions are pure,
# so results are unchanged (the flag only constrains plan rewrites).
entity_udf = entity_udf.asNondeterministic()
extract_quality_udf = extract_quality_udf.asNondeterministic()


def with_extraction_and_quality(df: DataFrame,
                                text_col: str = "text") -> DataFrame:
    """Fused stage used by the flagship pipeline (no shuffle)."""
    out = df.withColumn("_xq", extract_quality_udf(F.col(text_col)))
    for f in FUSED_RESULT_TYPE.fieldNames():
        out = out.withColumn(f, F.col(f"_xq.{f}"))
    return out.drop("_xq")


def with_entities(df: DataFrame,
                  extracted_col: str = "extracted_text") -> DataFrame:
    """Add entities map + entity_spans + extraction_confidence (no
    shuffle)."""
    return (df.withColumn("_e", entity_udf(F.col(extracted_col)))
              .withColumn("entities", F.col("_e.entities"))
              .withColumn("entity_spans", F.col("_e.entity_spans"))
              .withColumn("extraction_confidence",
                          F.col("_e.extraction_confidence"))
              .drop("_e"))
