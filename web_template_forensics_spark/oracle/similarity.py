"""Pure-Python similarity semantics matching the reference scorers.

These are the per-pair "sub-query" comparators of the reference
(SURVEY.md §2.4), re-stated as pure functions so the Spark engine can run
them inside Arrow-batched pandas UDFs and pytest can pin score parity.

Reference citations (hemrajbhakar/web-template-forensics):
  * seq_ratio           — core/structure_comparator.py:327-329 (difflib
    SequenceMatcher.ratio, Ratcliff–Obershelp; stdlib difflib IS the
    reference implementation, so calling it is bit-identical by
    construction)
  * set_jaccard         — core/tailwind_analyzer.py:63-69 (both empty -> 1.0)
  * multiset_jaccard    — core/tailwind_analyzer.py:57-61
    (freq-weighted: sum(min)/sum(max) over the union of keys)
  * tree_similarity     — core/jsx_treesitter_parser.py:95-125 (leaf value
    equality 1.0 / one-side-None 0.8 / 0.0; greedy O(n^2) child match
    normalized by max(len))
  * compare_structures  — core/structure_comparator.py:331-477 (LCS child
    alignment via SequenceMatcher on hashable node wrappers; per-element
    match/different/missing/extra; score = mean of element scores with
    different = 0.5*attr_sim + 0.5*text_sim)
"""

from __future__ import annotations

import difflib
from collections import Counter
from dataclasses import dataclass
from typing import Any


_SEQ_RATIO_CACHE: dict[tuple[str, str], float] = {}
_SEQ_RATIO_CACHE_MAX = 1 << 16


def seq_ratio(a: str, b: str) -> float:
    """difflib ratio (THE reference comparator — pure and deterministic).

    Short inputs (filename/basename comparisons, the cascade's fuzzy
    matcher hot path) are memoized per worker: basenames repeat across
    millions of project pairs, so the same SequenceMatcher runs
    re-execute constantly. Long inputs (whole-file content ratios) are
    not cached — unbounded memory for a near-zero hit rate. Bounded at
    2^16 entries; pure-function cache, value identical by construction.
    """
    if len(a) <= 80 and len(b) <= 80:
        key = (a, b)
        r = _SEQ_RATIO_CACHE.get(key)
        if r is None:
            r = difflib.SequenceMatcher(None, a, b).ratio()
            if len(_SEQ_RATIO_CACHE) < _SEQ_RATIO_CACHE_MAX:
                _SEQ_RATIO_CACHE[key] = r
        return r
    return difflib.SequenceMatcher(None, a, b).ratio()


def set_jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    union = a | b
    if not union:
        return 1.0
    return len(a & b) / len(union)


def multiset_jaccard(c1: Counter, c2: Counter) -> float:
    inter = c1 & c2
    union = c1 | c2
    union_total = sum(union.values())
    if union_total == 0:
        return 1.0
    return sum(inter.values()) / union_total


def tree_similarity(node1: dict | None, node2: dict | None) -> float:
    """Normalized-AST similarity (core/jsx_treesitter_parser.py:95-125)."""
    if not node1 and not node2:
        return 1.0
    if not node1 or not node2:
        return 0.0
    if node1.get("type") != node2.get("type"):
        return 0.0
    children1 = node1.get("children", [])
    children2 = node2.get("children", [])
    if not children1 and not children2:
        val1 = node1.get("name") or node1.get("value") or node1.get("text")
        val2 = node2.get("name") or node2.get("value") or node2.get("text")
        return 1.0 if val1 == val2 else 0.8 if (val1 is None or val2 is None) else 0.0
    matched = 0.0
    used2: set[int] = set()
    for c1 in children1:
        best = 0.0
        best_j = -1
        for j, c2 in enumerate(children2):
            if j in used2:
                continue
            sim = tree_similarity(c1, c2)
            if sim > best:
                best = sim
                best_j = j
        if best_j >= 0:
            used2.add(best_j)
        matched += best
    total = max(len(children1), len(children2))
    return matched / total if total else 1.0


# --------------------------------------------------------------------------
# Structure compare (C1-C4)
# --------------------------------------------------------------------------


@dataclass
class StructureResult:
    similarity_score: float
    matching: int
    different: int
    missing: int
    extra: int


def _node_hash_key(node: dict) -> str:
    # core/structure_comparator.py:71-80
    return "|".join(
        [
            str(node.get("type", "")),
            str(node.get("tag", "")),
            str(sorted(node.get("attrs", {}).items()) if node.get("attrs") else ""),
            str(node.get("content", "")) if node.get("type") == "text" else "",
        ]
    )


def _parse_style_string(style: Any) -> dict:
    # core/structure_comparator.py:265-284
    if isinstance(style, dict):
        return {k.strip(): v.strip() for k, v in style.items()}
    if not isinstance(style, str):
        return {}
    result = {}
    for declaration in style.split(";"):
        if ":" in declaration:
            prop, value = declaration.split(":", 1)
            result[prop.strip()] = value.strip()
    return result


def _values_match(a: Any, b: Any) -> bool:
    # core/structure_comparator.py:226-262
    if isinstance(a, (list, str)) and isinstance(b, (list, str)):
        a_set = set(a if isinstance(a, list) else a.split())
        b_set = set(b if isinstance(b, list) else b.split())
        return a_set == b_set
    if isinstance(b, list):
        b_set = {str(x) for x in b}
        if isinstance(a, str):
            a_set = set(a.split())
        elif isinstance(a, list):
            a_set = {str(x) for x in a}
        else:
            a_set = {str(a)}
        return a_set == b_set
    if isinstance(a, dict) and isinstance(b, str):
        return _parse_style_string(a) == _parse_style_string(b)
    return str(a).strip() == str(b).strip()


def _should_ignore_attr(attr_name: str, ignore_list: list[str]) -> bool:
    for pattern in ignore_list:
        if pattern.endswith("*"):
            if attr_name.startswith(pattern[:-1]):
                return True
        elif attr_name == pattern:
            return True
    return False


def _compare_attributes(a_attrs: dict, b_attrs: dict, ignore_list: list[str]) -> float:
    # core/structure_comparator.py:286-325 (similarity only)
    a_f = {k: v for k, v in a_attrs.items() if not _should_ignore_attr(k, ignore_list)}
    b_f = {k: v for k, v in b_attrs.items() if not _should_ignore_attr(k, ignore_list)}
    all_keys = set(a_f) | set(b_f)
    total = 0
    match_count = 0
    for name in all_keys:
        total += 1
        av = a_f.get(name)
        bv = b_f.get(name)
        if av is not None and bv is not None and _values_match(av, bv):
            match_count += 1
    return match_count / total if total > 0 else 1.0


def _single_text_content(children: list) -> str | None:
    # core/structure_comparator.py:394-398
    if len(children) == 1 and children[0].get("type") == "text":
        return children[0].get("content", "").strip()
    return None


def _compare_nodes(a: dict, b: dict, comps: list, ignore_list: list[str]) -> None:
    # core/structure_comparator.py:331-392
    if a.get("type") == "text" and b.get("type") == "text":
        ts = seq_ratio(a.get("content", "").strip(), b.get("content", "").strip())
        comps.append(("match" if ts == 1.0 else "different", 1.0, ts))
        return
    if a.get("tag") == "script" and b.get("tag") == "script":
        comps.append(("match", 1.0, 1.0))
        return
    a_tag = a.get("tag", "").lower()
    b_tag = b.get("tag", "").lower()
    if a_tag != b_tag:
        comps.append(("different", 0.0, 0.0))
        return
    attr_sim = _compare_attributes(a.get("attrs", {}), b.get("attrs", {}), ignore_list)
    a_children = a.get("children", [])
    b_children = b.get("children", [])
    a_text = _single_text_content(a_children)
    b_text = _single_text_content(b_children)
    text_sim: float | None = None
    if a_text is not None and b_text is not None:
        text_sim = seq_ratio(a_text, b_text)
    if attr_sim == 1.0 and (text_sim is None or text_sim == 1.0):
        comps.append(("match", attr_sim, text_sim))
    else:
        comps.append(("different", attr_sim, text_sim))
    if a_text is None or b_text is None:
        _compare_children(a_children, b_children, comps, ignore_list)


def _compare_children(a_children: list, b_children: list, comps: list, ignore_list: list[str]) -> None:
    # core/structure_comparator.py:400-428 — LCS alignment on node hash keys
    a_keys = [_node_hash_key(n) for n in a_children]
    b_keys = [_node_hash_key(n) for n in b_children]
    matcher = difflib.SequenceMatcher(None, a_keys, b_keys)
    matched_a: set[int] = set()
    matched_b: set[int] = set()
    for i, j, n in matcher.get_matching_blocks():
        if n == 0:
            continue
        matched_a.update(range(i, i + n))
        matched_b.update(range(j, j + n))
        for off in range(n):
            _compare_nodes(a_children[i + off], b_children[j + off], comps, ignore_list)
    for i in range(len(a_children)):
        if i not in matched_a:
            comps.append(("missing", None, None))
    for j in range(len(b_children)):
        if j not in matched_b:
            comps.append(("extra", None, None))


def compare_structures(
    a_tree: dict | None, b_tree: dict | None, ignore_list: list[str] | None = None
) -> StructureResult:
    """Reference compare_structures (core/structure_comparator.py:430-477)."""
    ignore_list = ignore_list or []
    comps: list[tuple[str, float | None, float | None]] = []
    if a_tree and b_tree:
        _compare_nodes(a_tree, b_tree, comps, ignore_list)
    else:
        if a_tree:
            comps.append(("missing", None, None))
        if b_tree:
            comps.append(("extra", None, None))
    scores: list[float] = []
    counts = {"match": 0, "different": 0, "missing": 0, "extra": 0}
    for kind, attr_sim, text_sim in comps:
        counts[kind] += 1
        if kind == "match":
            scores.append(1.0)
        elif kind == "different":
            ts = 1.0 if text_sim is None else text_sim
            scores.append(min(0.5 * (attr_sim or 0.0) + 0.5 * ts, 1.0))
        else:
            scores.append(0.0)
    score = sum(scores) / len(scores) if scores else 0.0
    return StructureResult(
        similarity_score=score,
        matching=counts["match"],
        different=counts["different"],
        missing=counts["missing"],
        extra=counts["extra"],
    )
