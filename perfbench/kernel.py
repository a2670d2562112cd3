"""In-process layers: the extraction kernel's pure functions timed one by
one on a workload's documents, and the ``ast`` oracle for Python
definition fidelity.

The kernel pass makes the same calls, in the same order, as one document
of the fused extraction with ``emit_chunks=False`` (the deliverables
path), so each layer's share of the kernel can be read off directly.
"""

from __future__ import annotations

import ast
import time
from collections import defaultdict

KERNEL_LANGS = ("python", "c", "javascript", "go", "java", "markdown")


def kernel_pass(docs) -> dict:
    """docs: iterable of (module_id, lang, content)."""
    from scrapontologies_spark.functions.code_gazetteer import (
        chunk_payload,
        chunk_schema_digest,
        chunk_text_masked,
        extract_mentions,
        triples_for_mentions,
    )
    from scrapontologies_spark.functions.semantics import (
        canonical_json,
        combine_entities_data_owned,
        is_na,
        schema_union_owned,
        sha256_hex,
    )

    t = defaultdict(float)
    n_chunks = n_mentions = 0
    lang_bytes = defaultdict(int)
    lang_s = defaultdict(float)
    clock = time.perf_counter
    for module_id, lang, content in docs:
        content = content or ""
        k0 = clock()
        sha256_hex(content)
        k1 = clock()
        chunks = chunk_text_masked(content, lang, 1024)
        k2 = clock()
        t["sha256"] += k1 - k0
        t["mask"] += k2 - k1
        kernel = k2 - k1
        payloads, digests, triples = [], [], set()
        for _cid, _orig, ext in chunks:
            a = clock()
            mentions = extract_mentions(lang, ext)
            b = clock()
            payload = chunk_payload(mentions)
            digest = chunk_schema_digest(payload)
            c = clock()
            triples |= triples_for_mentions(module_id, mentions)
            d = clock()
            t["extract"] += b - a
            t["payload"] += c - b
            t["triples"] += d - c
            kernel += d - a
            payloads.append(payload)
            digests.append(digest)
            n_chunks += 1
            n_mentions += len(mentions)
        a = clock()
        merged = combine_entities_data_owned(payloads)
        b = clock()
        schema: dict = {}
        for dg in digests:
            schema = schema_union_owned(schema, dg)
        c = clock()
        for name, attrs in merged.items():
            if not is_na(name):
                canonical_json(attrs)
        canonical_json(schema)
        canonical_json({"lang": lang, "n_chunks": len(chunks), "sha256": ""})
        d = clock()
        t["fold"] += b - a
        t["schema_union"] += c - b
        t["serialize"] += d - c
        lang_bytes[lang] += len(content.encode())
        lang_s[lang] += kernel
    out = {f"code_gazetteer.{k}_s": t[k] for k in ("mask", "extract", "payload", "triples")}
    out["code_gazetteer.chunks"] = n_chunks
    out["code_gazetteer.mentions"] = n_mentions
    for lang in KERNEL_LANGS:
        s = lang_s.get(lang, 0.0)
        out[f"code_gazetteer.mb_per_s.{lang}"] = lang_bytes[lang] / 1e6 / s if s > 0 else 0.0
    for k in ("fold", "schema_union", "serialize", "sha256"):
        out[f"semantics.{k}_s"] = t[k]
    return out


# --- Python definition fidelity against ast -----------------------------------

def ast_definitions(source: str):
    """(names, methods) of one module: every def/async def/class name at any
    depth, and (class, method) for each def directly in a class body.
    None when the file does not parse."""
    try:
        tree = ast.parse(source)
    except (SyntaxError, ValueError):
        return None
    names, methods = set(), set()
    kinds = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for node in ast.walk(tree):
        if isinstance(node, kinds):
            names.add(node.name)
        if isinstance(node, ast.ClassDef):
            for child in node.body:
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    methods.add((node.name, child.name))
    return names, methods


def fidelity(gold: dict, triples) -> dict:
    """gold: module_id → (names, methods) for every parsable .py file on
    disk; triples: (subj, pred, obj) rows with pred in defines/has_method.
    Files the program never ingested count as misses."""
    pred_names = defaultdict(set)
    pred_methods = defaultdict(set)
    for subj, pred, obj in triples:
        mod, _, name = obj.rpartition("::")
        if pred == "defines":
            pred_names[mod].add(name)
        elif pred == "has_method":
            pred_methods[mod].add((subj.rpartition("::")[2], name))
    tp = fp = fn = own_ok = own_all = 0
    for mod, (names, methods) in gold.items():
        p = pred_names.get(mod, set())
        tp += len(names & p)
        fn += len(names - p)
        fp += len(p - names)
        for owner, name in methods:
            if name in p:
                own_all += 1
                own_ok += (owner, name) in pred_methods.get(mod, set())
    return {"fidelity.py_def_recall": tp / (tp + fn) if tp + fn else 0.0,
            "fidelity.py_def_precision": tp / (tp + fp) if tp + fp else 0.0,
            "fidelity.py_owner_acc": own_ok / own_all if own_all else 0.0}
