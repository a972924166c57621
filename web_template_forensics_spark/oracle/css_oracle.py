"""CSS parse + compare oracle — reference semantics without tinycss2.

Re-implements the reference's CSS path (core/css_style_checker.py) on a
small from-scratch tokenizer (tinycss2 is not installable offline; the
reference only exercises a subset: qualified rules, nested
@media/@supports, @keyframes, declarations with !important, comments,
``:root`` custom properties).

Model (css_style_checker.py:8-88): one parse yields five maps
    rules:     {selector: {prop: (value, important)}}
    media:     {query: {selector: {prop: (value, important)}}}
    keyframes: {name: {step: {prop: value}}}
    supports:  {condition: {selector: {prop: (value, important)}}}
    root_vars: {--var: value}
Duplicate selectors merge (dict update) — ``.foo{a} .foo{b}`` == ``.foo{a;b}``.

Compare semantics replicated exactly, including the quirks:
  * ``normalize_css_value`` (css_style_checker.py:165-174): lowercase,
    strip ';', #rgb -> #rrggbb only for 4-char values, and values ending
    in 'px' lose the unit and become float strings ('10px' -> '10.0').
  * per-shared-selector prop-match ratio with var() resolution
    (cycle-guarded, fallback-aware, css_style_checker.py:90-108);
  * selector keys lowercased; score thresholds: sim >= 0.9 counts as
    matching(1.0), 0.3 <= sim < 0.9 adds sim as partial credit;
    ``final = (matching + partial) / |S1 ∪ S2|``, 1.0 if empty
    (css_style_checker.py:194-230);
  * ``css_similarity`` rounded to 2 decimals (Q6, css_style_checker.py:317).
"""

from __future__ import annotations

import re
from typing import Any

# ---------------------------------------------------------------------------
# tokenizer / parser
# ---------------------------------------------------------------------------

_COMMENT_RE = re.compile(r"/\*.*?\*/", re.DOTALL)


def _strip_comments(css: str) -> str:
    return _COMMENT_RE.sub("", css)


def _split_top(s: str, sep: str) -> list[str]:
    """Split on ``sep`` at paren/bracket/string nesting depth 0."""
    out = []
    buf = []
    depth = 0
    quote: str | None = None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "\"'":
            quote = ch
            buf.append(ch)
        elif ch in "([":
            depth += 1
            buf.append(ch)
        elif ch in ")]":
            depth = max(0, depth - 1)
            buf.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    out.append("".join(buf))
    return out


def _iter_rules(css: str):
    """Yield (prelude, block_or_None) over one nesting level.

    A rule is ``prelude { block }``; an at-rule without a block ends at
    ';' (yielded with block None and skipped by the caller).
    """
    i = 0
    n = len(css)
    while i < n:
        # find the prelude end: '{' or ';'
        depth = 0
        quote = None
        start = i
        brace = -1
        semi = -1
        j = i
        while j < n:
            ch = css[j]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "\"'":
                quote = ch
            elif ch in "([":
                depth += 1
            elif ch in ")]":
                depth = max(0, depth - 1)
            elif depth == 0 and ch == "{":
                brace = j
                break
            elif depth == 0 and ch == ";":
                semi = j
                break
            j += 1
        if brace == -1 and semi == -1:
            break  # trailing garbage / whitespace
        if semi != -1 and (brace == -1 or semi < brace):
            prelude = css[start:semi].strip()
            if prelude:
                yield prelude, None
            i = semi + 1
            continue
        # match the closing brace
        depth = 1
        quote = None
        k = brace + 1
        while k < n and depth:
            ch = css[k]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in "\"'":
                quote = ch
            elif ch == "{":
                depth += 1
            elif ch == "}":
                depth -= 1
            k += 1
        block = css[brace + 1 : k - 1]
        prelude = css[start:brace].strip()
        if prelude:
            yield prelude, block
        i = k


_IMPORTANT_RE = re.compile(r"!\s*important\s*$", re.IGNORECASE)


def _parse_declarations(block: str) -> list[tuple[str, str, bool]]:
    decls = []
    for part in _split_top(block, ";"):
        if ":" not in part:
            continue  # invalid declaration tolerated (ref test :103-108)
        name, value = part.split(":", 1)
        name = name.strip()
        value = value.strip()
        if not name or any(c in name for c in "{}"):
            continue
        important = False
        m = _IMPORTANT_RE.search(value)
        if m:
            important = True
            value = value[: m.start()].strip()
        decls.append((name, value, important))
    return decls


def parse_css(
    css_content: str, parent_media: str | None = None, parent_supports: str | None = None
) -> tuple[dict, dict, dict, dict, dict]:
    """Reference parse_css (css_style_checker.py:8-88): five maps, with
    nested @media/@supports recursion and duplicate-selector merge."""
    rules: dict[str, dict] = {}
    media: dict[str, dict] = {}
    keyframes: dict[str, dict] = {}
    supports: dict[str, dict] = {}
    root_vars: dict[str, str] = {}
    css = _strip_comments(css_content)
    for prelude, block in _iter_rules(css):
        if block is None:
            continue  # @import etc. — ignored like the reference
        if prelude.startswith("@"):
            kw = prelude.split(None, 1)[0][1:].lower()
            arg = prelude[len(kw) + 1 :].strip()
            if kw == "media":
                sub = parse_css(block, parent_media=arg, parent_supports=parent_supports)
                for sel, props in sub[0].items():
                    media.setdefault(arg, {}).setdefault(sel, {}).update(props)
                for mq, seld in sub[1].items():
                    for sel, props in seld.items():
                        media.setdefault(mq, {}).setdefault(sel, {}).update(props)
                for kf, steps in sub[2].items():
                    keyframes.setdefault(kf, {}).update(steps)
                for cond, seld in sub[3].items():
                    for sel, props in seld.items():
                        supports.setdefault(cond, {}).setdefault(sel, {}).update(props)
                root_vars.update(sub[4])
            elif kw == "keyframes":
                for step_sel, step_block in _iter_rules(block):
                    if step_block is None:
                        continue
                    for prop, val, _imp in _parse_declarations(step_block):
                        keyframes.setdefault(arg, {}).setdefault(step_sel, {})[prop] = val
            elif kw == "supports":
                sub = parse_css(block, parent_media=parent_media, parent_supports=arg)
                for sel, props in sub[0].items():
                    supports.setdefault(arg, {}).setdefault(sel, {}).update(props)
                for mq, seld in sub[1].items():
                    for sel, props in seld.items():
                        media.setdefault(mq, {}).setdefault(sel, {}).update(props)
                for kf, steps in sub[2].items():
                    keyframes.setdefault(kf, {}).update(steps)
                for cond, seld in sub[3].items():
                    for sel, props in seld.items():
                        supports.setdefault(cond, {}).setdefault(sel, {}).update(props)
                root_vars.update(sub[4])
            # other at-rules ignored
            continue
        # qualified rule
        selector = prelude
        for prop, val, imp in _parse_declarations(block):
            entry = (val, imp)
            if parent_media and parent_supports:
                supports.setdefault(parent_supports, {}).setdefault(selector, {})[prop] = entry
                media.setdefault(parent_media, {}).setdefault(selector, {})[prop] = entry
            elif parent_media:
                media.setdefault(parent_media, {}).setdefault(selector, {})[prop] = entry
            elif parent_supports:
                supports.setdefault(parent_supports, {}).setdefault(selector, {})[prop] = entry
            else:
                rules.setdefault(selector, {})[prop] = entry
            if selector == ":root" and prop.startswith("--"):
                root_vars[prop] = val
    return rules, media, keyframes, supports, root_vars


# ---------------------------------------------------------------------------
# normalization + compare (reference formulas, quirks preserved)
# ---------------------------------------------------------------------------

_VAR_RE = re.compile(r"var\((--[\w-]+)(?:,\s*([^\)]+))?\)")


def resolve_vars(value: str, root_vars: dict, seen: set | None = None) -> str:
    # css_style_checker.py:90-108
    if seen is None:
        seen = set()

    def repl(match):
        varname = match.group(1)
        fallback = match.group(2)
        if varname in seen:
            return f"var({varname})"
        seen.add(varname)
        resolved = root_vars.get(varname)
        if resolved is not None:
            return resolve_vars(resolved, root_vars, seen)
        if fallback is not None:
            return fallback.strip()
        return f"var({varname})"

    return _VAR_RE.sub(repl, value)


def normalize_color(value: str) -> str:
    # css_style_checker.py:110-121
    value = value.strip().lower().replace(" ", "")
    m = re.fullmatch(r"#([0-9a-f]{3,8})", value)
    if m:
        hexval = m.group(1)
        if len(hexval) in (3, 4):
            value = "#" + "".join(c * 2 for c in hexval)
        return value
    return value


def normalize_number(value: str) -> str:
    # css_style_checker.py:123-135
    m = re.fullmatch(r"([+-]?\d*\.?\d+)([a-z%]*)", value.strip().lower())
    if m:
        num_s, unit = m.groups()
        try:
            num = float(num_s)
            if num.is_integer():
                num = int(num)
            return f"{num}{unit}"
        except Exception:  # noqa: BLE001
            pass
    return value.strip().lower()


def normalize_value(value: str) -> str:
    return normalize_number(normalize_color(value))


def normalize_css_value(value: str) -> str:
    # css_style_checker.py:165-174 — the compare-side normalizer (quirky:
    # px values lose their unit and become float strings)
    value = value.strip().lower().rstrip(";")
    if value.startswith("#") and len(value) == 4:
        value = "#" + "".join(c * 2 for c in value[1:])
    if value.endswith("px"):
        try:
            value = str(float(value.replace("px", "")))
        except ValueError:
            pass
    return value


def compare_rule_dicts(
    rules1: dict, rules2: dict, root_vars1: dict, root_vars2: dict
) -> tuple[int, int, int, int, float]:
    # css_style_checker.py:194-230 (counts + score; details omitted)
    norm_rules1 = {k.strip().lower(): v for k, v in rules1.items()}
    norm_rules2 = {k.strip().lower(): v for k, v in rules2.items()}
    selectors1 = set(norm_rules1)
    selectors2 = set(norm_rules2)
    matching = 0
    partial = 0.0
    for sel in selectors1 & selectors2:
        props1 = norm_rules1[sel]
        props2 = norm_rules2[sel]
        np1 = {
            k.strip().lower(): normalize_css_value(
                resolve_vars(v[0], root_vars1) if v[0] and "var(" in v[0] else v[0]
            )
            for k, v in props1.items()
        }
        np2 = {
            k.strip().lower(): normalize_css_value(
                resolve_vars(v[0], root_vars2) if v[0] and "var(" in v[0] else v[0]
            )
            for k, v in props2.items()
        }
        all_props = set(np1) | set(np2)
        match_props = [p for p in all_props if np1.get(p) == np2.get(p)]
        similarity = len(match_props) / len(all_props) if all_props else 1.0
        if similarity >= 0.9:
            matching += 1
        elif similarity >= 0.3:
            partial += similarity
    total = len(selectors1 | selectors2)
    final_score = (matching + partial) / total if total > 0 else 1.0
    missing = len(selectors1 - selectors2)
    extra = len(selectors2 - selectors1)
    different = total - matching - missing - extra
    return matching, different, missing, extra, final_score


def compare_keyframes(kf1: dict, kf2: dict) -> dict:
    # css_style_checker.py:232-262
    names1, names2 = set(kf1), set(kf2)
    different = 0
    for name in names1 & names2:
        steps1, steps2 = kf1[name], kf2[name]
        step_diff = 0
        for step in set(steps1) | set(steps2):
            n1 = {k: normalize_value(v) for k, v in steps1.get(step, {}).items()}
            n2 = {k: normalize_value(v) for k, v in steps2.get(step, {}).items()}
            if n1 != n2:
                step_diff += 1
        if step_diff:
            different += 1
    return {
        "matching_keyframes": len(names1 & names2),
        "different_keyframes": different,
        "missing_keyframes": len(names1 - names2),
        "extra_keyframes": len(names2 - names1),
    }


def compare_supports(s1: dict, s2: dict, rv1: dict, rv2: dict) -> dict:
    # css_style_checker.py:264-284
    conds1, conds2 = set(s1), set(s2)
    return {
        "matching_supports": len(conds1 & conds2),
        "missing_supports": len(conds1 - conds2),
        "extra_supports": len(conds2 - conds1),
    }


def compare_css(css1: str, css2: str) -> dict[str, Any]:
    """Reference compare_css (css_style_checker.py:286-327), counts + score."""
    rules1, media1, kf1, sup1, rv1 = parse_css(css1)
    rules2, media2, kf2, sup2, rv2 = parse_css(css2)
    m, d, miss, extra, score = compare_rule_dicts(rules1, rules2, rv1, rv2)
    media_results = {}
    for mq in set(media1) | set(media2):
        mm, md, mmiss, mextra, mscore = compare_rule_dicts(
            media1.get(mq, {}), media2.get(mq, {}), rv1, rv2
        )
        media_results[mq] = {
            "matching_selectors": mm,
            "different_selectors": md,
            "missing_selectors": mmiss,
            "extra_selectors": mextra,
            "similarity": round(mscore, 2),
        }
    return {
        "css_similarity": round(score, 2),  # Q6: rounded to 2dp
        "matching_selectors": m,
        "different_selectors": d,
        "missing_selectors": miss,
        "extra_selectors": extra,
        "media_queries": media_results,
        "keyframes": compare_keyframes(kf1, kf2),
        "supports": compare_supports(sup1, sup2, rv1, rv2),
    }

