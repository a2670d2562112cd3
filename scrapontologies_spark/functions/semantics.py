"""Pure deterministic semantics shared by Spark UDFs and pytest oracles.

This module has ZERO Spark imports by design (SURVEY.md §7 M0): every
function here is the normative, order-of-evaluation-exact re-expression of a
Scrapontologies behavior, cited to /root/reference file:line.  The same
functions are imported by the distributed operators (inside pandas UDFs) and
by the test suite (driver-side sequential oracle), so Spark-vs-local parity
is parity *by construction* for the per-group logic; only the distribution
strategy (partitioning, fold order, tree shape) is under test.

Reference citations use the shorthand ``pdf_parser.py`` =
``/root/reference/scrapontologies/parsers/pdf_parser.py``,
``extractor.py`` = ``/root/reference/scrapontologies/extractor.py``,
``prompts.py`` = ``/root/reference/scrapontologies/parsers/prompts.py``,
``primitives.py`` = ``/root/reference/scrapontologies/primitives.py``.
"""

from __future__ import annotations

import copy
import hashlib
import json
import re
from dataclasses import dataclass, field
from typing import Any, Dict, Iterable, List, Optional, Sequence, Tuple

# ---------------------------------------------------------------------------
# Primitives (parity with primitives.py:4-22)
# ---------------------------------------------------------------------------


@dataclass
class Entity:
    """Graph node / ontology class — primitives.py:4-8."""

    id: str
    type: str
    attributes: Dict[str, Any] = field(default_factory=dict)


@dataclass
class Relation:
    """Graph edge / triple — primitives.py:10-17.

    A triple is ``(subj=source, pred=name, obj=target)`` (SURVEY.md §1.1;
    renderers/pyecharts_renderer.py:65-67, extractor.py:166-167).
    """

    id: str
    source: str
    target: str
    name: str
    type: Optional[str] = None
    attributes: Optional[Dict[str, Any]] = None


@dataclass
class Record:
    """Per-document extraction result — primitives.py:19-22."""

    id: str
    entities: List[Entity] = field(default_factory=list)


# ---------------------------------------------------------------------------
# NA predicate + canonical JSON
# ---------------------------------------------------------------------------

_NA_SENTINELS = (None, "NA", "")


def is_na(value: Any) -> bool:
    """P4 — the canonical NA predicate: ``value in (None, 'NA', '')``.

    Exact reproduction of the membership test at pdf_parser.py:741-744
    (including its ``==``-based semantics: ``0`` and ``False`` are NOT NA).
    """
    return value in _NA_SENTINELS


def canonical_json(obj: Any) -> str:
    """Canonical JSON encoding: sorted keys, no whitespace (F4, SURVEY §2.6).

    Used wherever the reference calls ``json.dumps`` for value identity; the
    sorted/compact form makes string equality == structural equality so that
    DataFrame rows carrying nested attribute dicts hash stably.
    """
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def sha256_hex(s: str) -> str:
    """Per-row content invariant: sha256 of UTF-8 content (BASELINE input_hint)."""
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


# ---------------------------------------------------------------------------
# P1/P2/P3 — fence extraction / strip
# ---------------------------------------------------------------------------

_JSON_FENCE_RE = re.compile(r"```json\s*(.*?)\s*```", re.DOTALL)
_PY_FENCE_RE = re.compile(r"```python\s*(.*?)\s*```", re.DOTALL)

# The same pattern in Spark-SQL regexp form (shared so the SQL oracle and the
# DataFrame expression agree character-for-character; Java regex has no
# re.DOTALL flag inline prefix issue because we use [\s\S]).
JSON_FENCE_SQL_PATTERN = r"```json\s*([\s\S]*?)\s*```"


def extract_json_content(input_string: str) -> str:
    """P1 — pdf_parser.py:296-301: regex between ```json and ```; '' if absent."""
    m = _JSON_FENCE_RE.search(input_string)
    return m.group(1).strip() if m else ""


def extract_python_content(input_string: str) -> str:
    """P2 — pdf_parser.py:303-308."""
    m = _PY_FENCE_RE.search(input_string)
    return m.group(1).strip() if m else ""


def strip_fences(s: str) -> str:
    """P3 — the ``response.strip().strip('```json').strip('```')`` idiom
    (extractor.py:137, 226; pdf_parser.py:320).  Note ``str.strip`` strips a
    character *set* {`, j, s, o, n} — reproduced exactly, quirk included.
    """
    return s.strip().strip("```json").strip("```")


# ---------------------------------------------------------------------------
# A1 — NA-preferring deep merge (M2): the load-bearing merge
# ---------------------------------------------------------------------------


def merge_dicts_preferring_non_na(d1: Dict[str, Any], d2: Dict[str, Any]) -> Dict[str, Any]:
    """A1/M2 — exact semantics of pdf_parser.py:723-755, made pure.

    Left-biased deep merge: iterate d2's items; skip NA values; take d2's
    value when the key is missing from d1 or d1's value is NA; dict∧dict →
    recurse; list∧list → extend d1's list with d2's non-NA elements
    (duplicates KEPT — ``array_union`` would be wrong, SURVEY §2.5);
    otherwise keep d1's value (existing non-NA values never overwritten).

    Deviation from the reference: the reference mutates ``d1`` in place and
    returns it; we deep-copy so the function is referentially transparent
    (required for use inside retried Spark tasks).  Output values are
    identical.
    """
    out = copy.deepcopy(d1)
    _merge_into(out, d2)
    return out


def _merge_into(d1: Dict[str, Any], d2: Dict[str, Any]) -> None:
    for key, value in d2.items():
        if is_na(value):
            continue
        if key not in d1 or is_na(d1[key]):
            d1[key] = copy.deepcopy(value)
        else:
            if isinstance(d1[key], dict) and isinstance(value, dict):
                _merge_into(d1[key], value)
            elif isinstance(d1[key], list) and isinstance(value, list):
                d1[key].extend(copy.deepcopy(v) for v in value if not is_na(v))
            else:
                pass  # keep existing non-NA value — pdf_parser.py:752-754


def combine_entities_data(all_entities_data: Sequence[Dict[str, Any]]) -> Dict[str, Any]:
    """A2 — order-sensitive left fold of A1 over per-page dicts, seed ``{}``
    (pdf_parser.py:708-721).  The caller MUST present dicts in page/chunk
    order; the distributed reproduction sorts by ``chunk_id`` before folding
    (SURVEY §2.4 A2).
    """
    combined: Dict[str, Any] = {}
    for entities_data in all_entities_data:
        combined = merge_dicts_preferring_non_na(combined, entities_data)
    return combined


# --- owned-input fast path (hot loop of the fused extraction UDF) -----------
#
# merge_dicts_preferring_non_na deep-copies both sides so it is safe on
# caller-retained dicts.  Inside the extraction UDF every dict is freshly
# constructed, used once, and discarded, so copying is pure overhead (~50%
# of the Python hot path under cProfile).  merge_into_owned implements the
# IDENTICAL merge rules but mutates d1 and adopts d2's values by reference.
# Contract: caller owns BOTH sides, d2 is never read again, neither side
# aliases the other.  Equality with the pure version is property-tested
# (tests/test_semantics_parity.py).


def merge_into_owned(d1: Dict[str, Any], d2: Dict[str, Any]) -> Dict[str, Any]:
    """A1 merge, owned-input fast path: same values as
    ``merge_dicts_preferring_non_na(d1, d2)``, zero copies."""
    for key, value in d2.items():
        if is_na(value):
            continue
        if key not in d1 or is_na(d1[key]):
            d1[key] = value
        else:
            cur = d1[key]
            if isinstance(cur, dict) and isinstance(value, dict):
                merge_into_owned(cur, value)
            elif isinstance(cur, list) and isinstance(value, list):
                cur.extend(v for v in value if not is_na(v))
            # else: keep existing non-NA value — pdf_parser.py:752-754
    return d1


def combine_entities_data_owned(
    all_entities_data: Sequence[Dict[str, Any]]
) -> Dict[str, Any]:
    """A2 fold via the owned-input merge (same results as
    combine_entities_data when the caller owns every input dict)."""
    combined: Dict[str, Any] = {}
    for entities_data in all_entities_data:
        merge_into_owned(combined, entities_data)
    return combined


def merge_extracted_pages(
    page_answers: Sequence[str], quarantine: bool = True
) -> Tuple[List[Entity], List[str]]:
    """A3 — pdf_parser.py:683-706: parse each page answer as JSON, fold with
    A2, then emit one ``Entity(id=key, type='object', attributes=value)`` per
    top-level merged key.

    Returns ``(entities, quarantined_pages)``.  Documented deviation (SURVEY
    §7 hard-list #4): the reference *raises* on the first malformed page
    (pdf_parser.py:692-694); at corpus scale we quarantine the bad page and
    keep going.  Pass ``quarantine=False`` for reference-exact raising.
    """
    parsed: List[Dict[str, Any]] = []
    bad: List[str] = []
    for page_answer in page_answers:
        try:
            p = json.loads(page_answer)
        except json.JSONDecodeError as e:
            if not quarantine:
                raise ValueError(f"Error merging extracted data: {e}") from e
            bad.append(page_answer)
            continue
        if quarantine and not isinstance(p, dict):
            # valid JSON but not an object ('[1,2]', '"x"', '3') — the fold
            # needs dicts, so this page is quarantined like unparseable
            # ones.  With quarantine=False it flows through and fails in
            # the merge exactly where the reference's would.
            bad.append(page_answer)
            continue
        parsed.append(p)
    merged = combine_entities_data(parsed)
    entities = [Entity(id=k, type="object", attributes=v) for k, v in merged.items()]
    return entities, bad


# ---------------------------------------------------------------------------
# M3 — JSON-schema union (replaces UPDATE_SCHEMA_PROMPT, prompts.py:252-268)
# ---------------------------------------------------------------------------

# Most-general-wins precedence for conflicting 'type' declarations.  Chosen
# order-independent (commutative) so the global merge may be tree-shaped
# (SURVEY §2.4 A5); the reference's prompt rule 3 ("maintain the base
# structure") is order-dependent and LLM-mediated, so there is no exact pin —
# the commutative resolution is the documented stand-in (SURVEY §2.11 M3).
_TYPE_PRECEDENCE = {
    "object": 0,
    "array": 1,
    "string": 2,
    "number": 3,
    "integer": 4,
    "boolean": 5,
    "null": 6,
}


def _type_elems(t: Any) -> Optional[List[str]]:
    """Type-keyword value as a list of primitive names: 'string' → one
    element, a JSON-Schema union list ['string','null'] → its elements,
    anything else (malformed) → None."""
    if isinstance(t, str):
        return [t]
    if isinstance(t, list) and t and all(isinstance(x, str) for x in t):
        return list(t)
    return None


def _resolve_type(t1: Any, t2: Any, conflicts: Optional[List[str]], path: str) -> Any:
    if t1 == t2:
        return t1
    if conflicts is not None:
        conflicts.append(f"{path}: {t1!r} vs {t2!r}")
    e1, e2 = _type_elems(t1), _type_elems(t2)
    if e1 is not None and e2 is not None:
        # most-general element of the UNION — a semilattice min, so the
        # documented commutative/associative algebra holds for union-type
        # lists too (disagreeing unions collapse to their most general
        # member; equal values short-circuit above)
        key = lambda t: (_TYPE_PRECEDENCE.get(t, 99), t)
        return min(set(e1) | set(e2), key=key)
    # malformed 'type' values: deterministic order-independent pick, never
    # a crash (the old int-precedence lookup raised TypeError on any
    # unhashable value)
    return copy.deepcopy(min((t1, t2), key=canonical_json))


def schema_union(
    s1: Optional[Dict[str, Any]],
    s2: Optional[Dict[str, Any]],
    conflicts: Optional[List[str]] = None,
    _path: str = "$",
) -> Dict[str, Any]:
    """M3 — recursive union of two JSON schemas per UPDATE_SCHEMA_PROMPT rules
    1-4 (prompts.py:252-268): same key → merge; new keys → add; empty side →
    copy other.  ``required`` = sorted intersection when both sides declare
    it, else whichever side declares it (SURVEY §2.11 M3); ``properties`` and
    ``items`` merge recursively; conflicting ``type`` resolves by fixed
    most-general-wins precedence (commutative — licenses partial unions;
    conflicts are recorded for the metrics table when a list is passed).

    Algebraic contract (property-tested in tests/test_schema_union.py):
    commutative, associative, idempotent.
    """
    if not s1:
        return copy.deepcopy(s2) if s2 else {}
    if not s2:
        return copy.deepcopy(s1)
    out: Dict[str, Any] = {}
    for key in sorted(set(s1) | set(s2)):
        in1, in2 = key in s1, key in s2
        if in1 and in2:
            v1, v2 = s1[key], s2[key]
            # dict-dict recursion FIRST: inside a ``properties`` map the
            # key is a property NAME, so a property literally named
            # 'type' (or 'required') must merge as a subschema, not be
            # mistaken for the JSON-Schema keyword
            if isinstance(v1, dict) and isinstance(v2, dict):
                out[key] = schema_union(v1, v2, conflicts, f"{_path}.{key}")
            elif key == "type":
                out[key] = _resolve_type(v1, v2, conflicts, _path)
            elif key == "required" and isinstance(v1, list) and isinstance(v2, list):
                try:
                    out[key] = sorted(set(v1) & set(v2))
                except TypeError:
                    # malformed external input: unhashable dict elements
                    # (TypeError in set()) or mixed str/int (TypeError in
                    # sorted comparison) — equality-based intersection with
                    # a canonical-JSON sort key instead of a crash, the
                    # same never-a-crash hardening as _resolve_type above
                    inter: list = []
                    for x in v1:
                        if any(x == y for y in v2) and not any(
                            x == z for z in inter
                        ):
                            inter.append(x)
                    out[key] = sorted(inter, key=canonical_json)
            elif v1 == v2:
                out[key] = copy.deepcopy(v1)
            else:
                # scalar metadata conflict (e.g. 'format'): deterministic
                # order-independent pick — lexicographically-least canonical
                # form, recorded as a conflict.
                if conflicts is not None:
                    conflicts.append(f"{_path}.{key}: {v1!r} vs {v2!r}")
                out[key] = copy.deepcopy(min((v1, v2), key=canonical_json))
        else:
            out[key] = copy.deepcopy(s1[key] if in1 else s2[key])
    return out


def schema_union_all(schemas: Iterable[Optional[Dict[str, Any]]]) -> Dict[str, Any]:
    """Fold of M3 over any number of schemas; order-independent by M3's
    algebra, so partial/tree aggregation is safe (A5, SURVEY §2.4)."""
    acc: Dict[str, Any] = {}
    for s in schemas:
        acc = schema_union(acc, s)
    return acc


def schema_union_owned(
    acc: Optional[Dict[str, Any]],
    s2: Optional[Dict[str, Any]],
    conflicts: Optional[List[str]] = None,
    _path: str = "$",
) -> Dict[str, Any]:
    """M3 union, owned-input fast path: same VALUES as ``schema_union`` but
    mutates ``acc`` and adopts ``s2``'s subtrees by reference — zero copies.
    Contract: caller owns both sides and never reads ``s2`` again.  Output
    key ORDER may differ from the pure version (which emits sorted keys);
    all consumers serialize through canonical_json, so value identity is
    preserved (property-tested)."""
    if not acc:
        return s2 if s2 else (acc if isinstance(acc, dict) else {})
    if not s2:
        return acc
    for key, v2 in s2.items():
        if key not in acc:
            acc[key] = v2
            continue
        v1 = acc[key]
        # branch order mirrors schema_union: dict-dict recursion first so
        # a property named 'type'/'required' merges as a subschema
        if isinstance(v1, dict) and isinstance(v2, dict):
            acc[key] = schema_union_owned(v1, v2, conflicts, f"{_path}.{key}")
        elif key == "type":
            acc[key] = _resolve_type(v1, v2, conflicts, _path)
        elif key == "required" and isinstance(v1, list) and isinstance(v2, list):
            acc[key] = sorted(set(v1) & set(v2))
        elif v1 == v2:
            pass
        else:
            if conflicts is not None:
                conflicts.append(f"{_path}.{key}: {v1!r} vs {v2!r}")
            acc[key] = min((v1, v2), key=canonical_json)
    return acc


# ---------------------------------------------------------------------------
# M4 — schema → entities (replaces EXTRACT_ENTITIES_CODE_PROMPT)
# ---------------------------------------------------------------------------


def _simplify_subtree(node: Any) -> Any:
    """Collapse a JSON-schema subtree into the attribute shape of the
    EXTRACT_ENTITIES_CODE_PROMPT exemplar (prompts.py:286-301): scalar
    property → its type string; object → {name: simplified(sub)};
    array → {'array': simplified(items)}."""
    if not isinstance(node, dict):
        return node
    t = node.get("type")
    if t == "object" or "properties" in node:
        return {k: _simplify_subtree(v) for k, v in node.get("properties", {}).items()}
    if t == "array":
        return {"array": _simplify_subtree(node.get("items", {}))}
    return t if t is not None else copy.deepcopy(node)


def schema_to_entities(schema: Dict[str, Any]) -> List[Entity]:
    """M4 — one ``Entity(id=prop_name, type='object', attributes=subtree)``
    per top-level schema property (exemplar prompts.py:286-301; SURVEY §2.11
    M4).  Accepts either a full draft schema (with top-level 'properties') or
    a bare properties map.
    """
    props = schema.get("properties", schema) if isinstance(schema, dict) else {}
    return [
        Entity(id=name, type="object", attributes=_simplify_subtree(sub))
        for name, sub in props.items()
        if isinstance(sub, (dict, str))
    ]


# ---------------------------------------------------------------------------
# M5 — relation derivation (replaces RELATIONS_PROMPT, prompts.py:197-208)
# ---------------------------------------------------------------------------


def derive_containment_relations(entities: Sequence[Entity], root: str = "ROOT") -> List[Relation]:
    """M5(a) — deterministic containment edges mirroring the Digraph exemplar
    (prompts.py:1-38: ROOT→portfolio→fees→fundExpenses): an edge
    ``has_<child>`` from ROOT to each top-level entity, and from each entity
    to every attribute whose value is a nested object/array-of-object.
    Relation field mapping per primitives.py:10-17 (subj=source, pred=name,
    obj=target).
    """
    relations: List[Relation] = []

    def walk(parent: str, attrs: Any) -> None:
        if not isinstance(attrs, dict):
            return
        if set(attrs) == {"array"}:
            # an array-typed node's simplified subtree IS the {'array': ...}
            # wrapper; without unwrapping HERE (not just one level down),
            # every array-typed entity would emit an edge to one shared
            # bogus node literally named 'array', and its grandchildren
            # would collide across unrelated entities as array_has_<field>
            attrs = attrs["array"]
            if not isinstance(attrs, dict):
                return
        for child_name, sub in attrs.items():
            if isinstance(sub, dict):
                inner = sub.get("array", sub) if set(sub) == {"array"} else sub
                relations.append(
                    Relation(
                        id=f"{parent}_has_{child_name}",
                        source=parent,
                        target=child_name,
                        name=f"has_{child_name}",
                        type="containment",
                    )
                )
                walk(child_name, inner if isinstance(inner, dict) else None)

    for e in entities:
        relations.append(
            Relation(
                id=f"{root}_has_{e.id}",
                source=root,
                target=e.id,
                name=f"has_{e.id}",
                type="containment",
            )
        )
        walk(e.id, e.attributes)
    return relations


# ---------------------------------------------------------------------------
# M6 / J1 — entity reconcile (replaces UPDATE_ENTITIES_PROMPT, prompts.py:230-250)
# ---------------------------------------------------------------------------


def reconcile_entities(existing: Sequence[Entity], new: Sequence[Entity]) -> List[Entity]:
    """M6 — full-outer reconcile on ``Entity.id`` per UPDATE_ENTITIES_PROMPT
    rules 1-4 (prompts.py:230-250): same id → update existing with the new
    entity's attributes via the A1 merge (existing non-NA wins, new fills
    gaps — rule 3 'maintain the base structure'); unmatched new → append;
    empty existing → copy new as-is (rule 4).  Existing order preserved, new
    appends in arrival order — deterministic for the distributed join, which
    re-sorts by id afterwards.
    """
    if not existing:
        return [Entity(e.id, e.type, copy.deepcopy(e.attributes)) for e in new]
    # duplicate ids WITHIN existing merge by the same A1 rule (first
    # occurrence's position kept) — a last-wins dict comprehension would
    # silently drop the earlier duplicate's attributes AND alias one Entity
    # object into multiple output slots
    by_id: Dict[str, Entity] = {}
    order: List[str] = []
    for e in existing:
        if e.id in by_id:
            cur = by_id[e.id]
            cur.attributes = merge_dicts_preferring_non_na(
                cur.attributes or {}, e.attributes or {}
            )
        else:
            by_id[e.id] = Entity(e.id, e.type, copy.deepcopy(e.attributes))
            order.append(e.id)
    for n in new:
        if n.id in by_id:
            cur = by_id[n.id]
            cur.attributes = merge_dicts_preferring_non_na(cur.attributes or {}, n.attributes or {})
        else:
            by_id[n.id] = Entity(n.id, n.type, copy.deepcopy(n.attributes))
            order.append(n.id)
    return [by_id[i] for i in order]


# ---------------------------------------------------------------------------
# C1/C2 — delete cascade (extractor.py:148-170)
# ---------------------------------------------------------------------------


def delete_entity_cascade(
    entities: Sequence[Entity], relations: Sequence[Relation], entity_id: str
) -> Tuple[List[Entity], List[Relation]]:
    """C1/J3/P5/P6 — extractor.py:148-159: drop the entity by id and every
    relation incident on it (source or target)."""
    ents = [e for e in entities if e.id != entity_id]
    rels = [r for r in relations if r.source != entity_id and r.target != entity_id]
    return ents, rels


def delete_relation(
    relations: Sequence[Relation], key: Tuple[str, str, str]
) -> List[Relation]:
    """C2/P7 — extractor.py:161-170: drop by composite key (source, target,
    name).  Documented deviation (F6): the reference ``eval``s the key string
    (extractor.py:166 — injection hazard); we take a real 3-tuple."""
    source, target, name = key
    return [
        r
        for r in relations
        if not (r.source == source and r.target == target and r.name == name)
    ]


# ---------------------------------------------------------------------------
# C3 — delete intent router (extractor.py:126-147, DELETE_PROMPT
# prompts.py:170-185) — deterministic stand-in
# ---------------------------------------------------------------------------


def route_delete(
    item_description: str,
    entity_ids: Sequence[str],
    relation_keys: Sequence[Tuple[str, str, str]],
) -> Dict[str, str]:
    """Classify a free-text delete request as Entity vs Relation and pick
    the id — the deterministic stand-in for DELETE_PROMPT's LLM response
    ``{Type, ID, Clarification}`` (extractor.py:139-147 consumes exactly
    these keys; the relation ID is the stringified (source, target, name)
    tuple the reference later evals, extractor.py:166).

    Rules (exact-match lookup per SURVEY §2.8-C3):
    1. relation wins when some key's source, target AND name all occur in
       the description (most matched characters, then lexicographic key);
    2. else entity wins on the longest entity id occurring in the
       description (ties → lexicographic);
    3. else unclear → Type 'None' + clarification question.
    """
    desc = item_description.lower()

    best_rel = None
    for key in relation_keys:
        source, target, name = key
        if all(p.lower() in desc for p in (source, target, name)):
            score = len(source) + len(target) + len(name)
            cand = (-score, str(key), key)
            if best_rel is None or cand < best_rel:
                best_rel = cand
    if best_rel is not None:
        return {
            "Type": "Relation",
            "ID": str(tuple(best_rel[2])),
            "Clarification": "None",
        }

    best_ent = None
    for eid in entity_ids:
        if eid.lower() in desc:
            cand = (-len(eid), eid)
            if best_ent is None or cand < best_ent:
                best_ent = cand
    if best_ent is not None:
        return {"Type": "Entity", "ID": best_ent[1], "Clarification": "None"}

    return {
        "Type": "None",
        "ID": "None",
        "Clarification": (
            "No entity id or relation (source, target, name) from the "
            "current graph matches the description; name the item exactly."
        ),
    }
