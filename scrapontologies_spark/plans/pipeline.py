"""Stage DAG of the KG-construction job (SURVEY §3 EP1+EP2 re-expression).

corpus → fused extract (ONE narrow mapInPandas, no shuffle: chunks with
         their mentions, per-doc A2/A3 fold, A4 schema union, M5 triples
         and one A5 schema partial per partition, as tall rows keyed by
         ``kind``)
       → views          (JVM-side filters of the tall rows)
       → entities       (module ∪ symbol entities)                [M4]
       → global schema  (driver union of ≤ #partitions partials)  [A5]

``run_pipeline`` wires them; the resumable job (plans/job.py) checkpoints
the same views as warehouse stages.  The reference's langgraph node DAGs
(pdf_parser.py:161-244) map 1:1 onto these stages (SURVEY §2.9 O1-O4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.semantics import (
    canonical_json,
    derive_containment_relations,
    schema_to_entities,
)
from ..operators.extract import (
    chunks_view,
    doc_entities_view,
    doc_schemas_view,
    extract_document_rows,
    mentions_df,
    module_entities_view,
    triples_view,
)
from ..operators.schema_merge import global_schema


@dataclass
class PipelineResult:
    doc_rows: DataFrame  # tall output of the fused pass (cached with schemas)
    chunks: DataFrame
    mentions: DataFrame
    triples: DataFrame
    doc_entities: DataFrame
    entities: DataFrame
    doc_schemas: DataFrame
    global_schema_json: str
    schema_entities: list  # M4-derived Entity dataclasses from the global schema
    containment_relations: list  # M5(a) Relation dataclasses (ROOT-rooted)


def run_pipeline(
    corpus: DataFrame,
    chunk_bytes: int = 1024,
    with_schemas: bool = True,
    emit_chunks: bool = True,
    allowed_kinds=None,
    allowed_terms=None,
) -> PipelineResult:
    """``allowed_kinds``/``allowed_terms``: P8 extraction allowlist — the
    user_prompt_for_filter stand-in, applied at extraction so entities,
    schemas and triples all reflect the restriction.

    With ``with_schemas`` the tall rows are cached: the global-schema
    collect runs the extraction once and fills the cache, which the views
    then read; the caller owns unpersisting ``result.doc_rows``.  Without
    it nothing runs here, and each view the caller reads is its own pass.
    """
    # Fused one-pass extraction (see operators/extract.py): every
    # per-document computation is row-local, so chunk/fold/schema/triple
    # rows all come out of ONE narrow mapInPandas — zero shuffles.  At
    # cluster scale this stage is checkpointed to the warehouse instead
    # (plans/job.py), which also provides resume.
    doc_rows = extract_document_rows(
        corpus, chunk_bytes, with_schemas, emit_chunks,
        allowed_kinds=allowed_kinds, allowed_terms=allowed_terms,
    )
    if with_schemas:
        doc_rows = doc_rows.persist()

    # chunk rows are intermediate "page answers"; with emit_chunks=False the
    # views below are valid but empty DataFrames
    chunks = chunks_view(doc_rows)
    mentions = mentions_df(chunks)
    triples = triples_view(doc_rows)

    doc_entities = doc_entities_view(doc_rows)
    symbols = doc_entities.select(
        F.concat(F.concat_ws("/", "repo", "path"), F.lit("::"), F.col("entity_name")).alias("id"),
        F.col("entity_type").alias("type"),
        F.col("attributes"),
    )
    modules = module_entities_view(doc_rows).select("id", "type", "attributes")
    entities = modules.unionByName(symbols)

    if with_schemas:
        doc_schemas = doc_schemas_view(doc_rows)
        gschema = global_schema(doc_rows)
        gschema_json = canonical_json(gschema)
        schema_ents = schema_to_entities(gschema)
        containment = derive_containment_relations(schema_ents)
    else:
        doc_schemas = None
        gschema_json = "{}"
        schema_ents = []
        containment = []

    return PipelineResult(
        doc_rows=doc_rows,
        chunks=chunks,
        mentions=mentions,
        triples=triples,
        doc_entities=doc_entities,
        entities=entities,
        doc_schemas=doc_schemas,
        global_schema_json=gschema_json,
        schema_entities=schema_ents,
        containment_relations=containment,
    )


def verify_content_invariant(corpus: DataFrame, chunks: DataFrame) -> int:
    """Per-row sha256 equality between source content and what EVERY chunk
    row carries (BASELINE input_hint).  Returns the number of violating
    (repo, path, sha) combinations (must be 0): a carried sha that differs
    from its document's source sha, a carried sha for a document absent
    from the corpus, or a corpus document with no chunk rows at all.  A
    same-document mix of good and bad carried hashes is therefore counted
    — an exists-one-matching-row check would let it pass."""
    # coalesce mirrors the extractor's NULL-as-empty-document policy
    # (extract.py: one bad row must not abort the stage): sha2(NULL) is
    # NULL, which would count a deliberately-handled NULL-content doc as a
    # violation even though its chunk rows correctly carry sha256("")
    src = corpus.select(
        "repo",
        "path",
        F.sha2(F.coalesce(F.col("content"), F.lit("")), 256).alias("sha_src"),
    )
    carried = chunks.select(
        "repo", "path", F.col("sha256").alias("sha_carried")
    ).distinct()
    joined = src.join(carried, ["repo", "path"], "full_outer")
    bad = joined.filter(
        F.col("sha_src").isNull()          # chunk rows for a non-corpus doc
        | F.col("sha_carried").isNull()    # corpus doc with no chunk rows
        | (F.col("sha_src") != F.col("sha_carried"))
    )
    return bad.count()
