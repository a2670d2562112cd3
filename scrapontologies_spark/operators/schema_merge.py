"""A5 — global JSON-schema merge, and S5 external-schema merge.

The reference merges page schemas per document with one LLM call
(pdf_parser.py:418-432) and across documents in ``merge_schemas``
(extractor.py:193-248).  Deterministic stand-in M3 (schema_union) is
commutative + associative + idempotent (property-tested), so the global
reduce may run in any grouping:

  per-document union, then per-partition union (both inside the fused
  extraction kernel, operators/extract.py, which emits one
  ``schema_partial`` row per partition after its last batch)
    → JVM filter on ``kind`` + one collect
    → driver union of the collected partials.

The driver receives at most #partitions rows, each no larger than the
global schema itself — no second Python pass and no shuffle.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.semantics import canonical_json, schema_union_all


def global_schema(doc_rows: DataFrame) -> dict:
    """A5 — the global ontology from the tall rows of
    ``extract_document_rows(with_schemas=True)``: union of the
    ``schema_partial`` rows.  A NULL ``schema_json`` is skipped, like
    ``merge_external_schemas`` does."""
    rows = (
        doc_rows.filter(F.col("kind") == "schema_partial")
        .select("schema_json")
        .collect()
    )
    return schema_union_all(
        json.loads(r["schema_json"]) for r in rows if r["schema_json"] is not None
    )


def merge_external_schemas(global_schema_json: str, external: DataFrame) -> str:
    """S5 — external-schema source merge (extractor.py:193-248,
    examples/merge_schemas.py): union externally-supplied JSON-schema
    documents into the global ontology.

    ``external`` is a DataFrame of schema documents — either a
    ``schema_json`` string column (one canonical-JSON schema per row), or
    arbitrary JSON-struct rows from ``spark.read.json`` of a schema file
    (converted with to_json).  Schema documents are tiny dimension rows, so
    the collect is bounded; M3 union keeps rules 1-4 of UPDATE_SCHEMA_PROMPT
    (same-key merge, new keys added, existing structure preserved).
    Returns the merged schema as canonical JSON.
    """
    if "schema_json" in external.columns:
        docs = external.select("schema_json")
    else:
        docs = external.select(F.to_json(F.struct(*external.columns)).alias("schema_json"))
    merged = json.loads(global_schema_json) if global_schema_json else {}
    for r in docs.collect():
        if r["schema_json"] is None:
            continue
        merged = schema_union_all([merged, json.loads(r["schema_json"])])
    return canonical_json(merged)
