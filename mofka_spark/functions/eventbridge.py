"""AWS EventBridge-style pattern language over JSON metadata.

Reference semantics: the `eventbridge` validator type, exhaustively
exercised in /root/reference/tests/MofkaEventbridgeTest.cpp:35-120.
Supported pattern constructs (SURVEY.md P4):

- exact value match: ``{"field": ["a", 1]}`` (value-in-list = OR)
- nested objects: ``{"a": {"b": [...]}}`` and dotted paths ``{"a.b": [...]}``
- ``{"anything-but": v | [v...]}`` and nested
  ``{"anything-but": {"prefix": p | [p...]}}``, same for ``suffix`` and
  ``{"anything-but": {"equals-ignore-case": ...}}``
- ``{"prefix": p}`` / ``{"suffix": s}`` plain, list, or
  ``{"prefix": {"equals-ignore-case": p}}``
- ``{"equals-ignore-case": v}``
- ``{"numeric": ["<", 10]}`` / ``["[">=", 5, "<", 10]`` range chains
- ``{"exists": true|false}``
- ``{"wildcard": "a*b*"}`` (``*`` matches any run, incl. empty)
- ``{"$or": [patternA, patternB, ...]}`` combinator at any object level

Two implementations with identical semantics:

1. ``compile_pattern(pattern, metadata_col)`` -> Spark Column — the hot
   path. Metadata is a JSON string column; field access uses
   ``get_json_object`` (JVM, codegen) so the predicate participates in
   Catalyst pushdown/pruning. No UDFs.
2. ``match_event(pattern, doc)`` -> bool — pure-Python evaluator used by
   the client-side producer validate step (P2,
   /root/reference/src/MofkaProducer.cpp:68-69) and as the property-test
   oracle for (1).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from mofka_spark.errors import MofkaError


class PatternError(MofkaError):
    """Malformed eventbridge pattern."""


_NUM_OPS = {"<", "<=", ">", ">=", "="}


# ===========================================================================
# Shared: pattern normalization
# ===========================================================================

def _is_rule_object(v: Any) -> bool:
    """A dict that is a matcher rule (vs a nested field pattern)."""
    if not isinstance(v, dict):
        return False
    keys = set(v.keys())
    rule_keys = {
        "anything-but",
        "prefix",
        "suffix",
        "equals-ignore-case",
        "numeric",
        "exists",
        "wildcard",
        "cidr",
    }
    return bool(keys & rule_keys)


def _wildcard_to_regex(pat: str) -> str:
    """'*' -> '.*' with everything else escaped; anchored."""
    parts = pat.split("*")
    return "^" + ".*".join(re.escape(p) for p in parts) + "$"


# ===========================================================================
# 1. Spark Column compiler
# ===========================================================================

class _Doc:
    """Per-row bindings the compiled predicate reads: the metadata JSON
    string (``m``) and its parsed variant (``v``). In unbound (direct)
    mode ``v`` re-derives the parse per probe — right for one-probe
    patterns where a lambda binding would cost more than it saves."""

    __slots__ = ("m", "_v")

    def __init__(self, m: Column, v: Column | None = None):
        self.m = m
        self._v = v

    @property
    def v(self) -> Column:
        return F.try_parse_json(self.m) if self._v is None else self._v


def _count_probes(obj: Any) -> int:
    """Number of leaf rules in a pattern document — each leaf costs at
    least one per-row probe of the parsed doc, so >= 2 means a bound
    single parse beats inline re-evaluation."""
    if not isinstance(obj, dict):
        return 1
    n = 0
    for key, val in obj.items():
        if key == "$or" and isinstance(val, list):
            n += sum(_count_probes(sub) for sub in val)
        elif isinstance(val, dict) and not _is_rule_object(val):
            n += _count_probes(val)
        elif isinstance(val, list):
            n += len(val)
        else:
            n += 1
    return n


def compile_pattern(pattern: dict[str, Any], metadata: Column | str = "metadata") -> Column:
    """Compile an eventbridge pattern document to a boolean Column over a
    JSON-string metadata column.

    Design: each leaf rule becomes an expression on
    ``get_json_object(metadata, '$.path')`` (string-typed) or its
    numeric cast; conjunction across fields, disjunction across list
    values, ``$or`` across subpatterns. All JVM built-ins ->
    whole-stage-codegen'd and Catalyst-visible.

    Multi-rule patterns bind the metadata expression and its parsed
    variant ONCE per row as lambda variables (1-element ``exists``):
    Catalyst inlines a derived metadata column (e.g.
    ``to_json(struct(...))``) into every reference and FilterExec's
    codegen never CSEs the condition, so an 8-rule pattern would
    otherwise serialize the doc 8x and parse a variant per type probe
    (measured -18% exec on the eventbridge_strings gate at sf0.1).
    Type/existence probes read the bound root variant instead of
    re-parsing rendered parent text per rule. One-rule patterns skip
    the binding: a single probe evaluates the doc once either way, and
    the lambda's CodegenFallback eval costs more than it saves
    (measured +5% on eventbridge_numeric)."""
    col = F.col(metadata) if isinstance(metadata, str) else metadata
    if _count_probes(pattern) < 2:
        return _compile_obj(pattern, _Doc(col), path=[])

    def _with_doc(m: Column) -> Column:
        def _with_var(v: Column) -> Column:
            return _compile_obj(pattern, _Doc(m, v), path=[])

        return F.exists(F.array(F.try_parse_json(m)), _with_var)

    # exists over a 1-element array == the lambda body evaluated on the
    # bound element, including three-valued logic (true/false/NULL pass
    # through unchanged)
    return F.exists(F.array(col), _with_doc)


def _compile_obj(obj: dict[str, Any], meta: "_Doc", path: list[str]) -> Column:
    if not isinstance(obj, dict) or not obj:
        raise PatternError(f"pattern object must be a non-empty dict at {path}")
    conjuncts: list[Column] = []
    for key, val in obj.items():
        if key == "$or":
            if not isinstance(val, list) or not val:
                raise PatternError("$or requires a non-empty list of patterns")
            ors = [_compile_obj(sub, meta, path) for sub in val]
            acc = ors[0]
            for o in ors[1:]:
                acc = acc | o
            conjuncts.append(acc)
            continue
        # dotted path "a.b" == nested {"a": {"b": ...}}
        # (reference: tests/MofkaEventbridgeTest.cpp:72-82,113-119)
        subpath = path + key.split(".")
        if isinstance(val, dict) and not _is_rule_object(val):
            conjuncts.append(_compile_obj(val, meta, subpath))
        elif isinstance(val, list):
            conjuncts.append(_compile_value_list(val, meta, subpath))
        elif isinstance(val, dict):
            conjuncts.append(_compile_rule(val, meta, subpath))
        else:
            # bare scalar treated as single-element list (lenient)
            conjuncts.append(_compile_value_list([val], meta, subpath))
    acc = conjuncts[0]
    for c in conjuncts[1:]:
        acc = acc & c
    return acc


def _json_path(path: list[str]) -> str:
    return "$." + ".".join(path)


def _str_at(meta: "_Doc", path: list[str]) -> Column:
    """String value at path (JSON scalars come back as their string
    rendering; objects/arrays as JSON text; missing -> NULL)."""
    return F.get_json_object(meta.m, _json_path(path))


def _num_at(meta: "_Doc", path: list[str]) -> Column:
    # try_cast: a numeric rule must simply not-match a non-numeric value;
    # under ANSI mode a plain cast would throw on e.g. "abc"
    return _str_at(meta, path).try_cast("double")


def _var_at(meta: "_Doc", path: list[str]) -> Column:
    """The value at path as a variant read off the ONE bound root parse
    (SQL NULL when the path is missing or any ancestor is not an
    object — the same cases where the old per-rule parent re-parse
    yielded NULL)."""
    return F.try_variant_get(meta.v, _json_path(path), "variant")


def _is_json_string(meta: "_Doc", path: list[str]) -> Column:
    """True when the value at path is a JSON *string* (quoted).

    get_json_object strips quotes, losing the type; eventbridge matching
    is type-sensitive (numeric rules must not match "33", string rules
    must not match 33). Exact via the variant type: read the per-row
    schema of the value off the bound root variant —
    schema_of_variant returns 'STRING' only for actual JSON strings.
    (An earlier regex probe of the parent's rendered text false-matched
    when a nested object under the same parent repeated the key.)"""
    return F.schema_of_variant(_var_at(meta, path)) == F.lit("STRING")


def _compile_value_list(values: list[Any], meta: "_Doc", path: list[str]) -> Column:
    """Value-in-list: OR over exact matches / rule objects."""
    if not values:
        raise PatternError(f"empty match list at {path}")
    disjuncts: list[Column] = []
    for v in values:
        if isinstance(v, dict):
            disjuncts.append(_compile_rule(v, meta, path))
        else:
            disjuncts.append(_exact_eq(v, meta, path))
    acc = disjuncts[0]
    for d in disjuncts[1:]:
        acc = acc | d
    return acc


def _exact_eq(v: Any, meta: "_Doc", path: list[str]) -> Column:
    s = _str_at(meta, path)
    if v is None:
        # JSON null: get_json_object returns NULL for both null and
        # missing; eventbridge treats null as a value — accept NULL here
        # only when the key exists. Approximation: match NULL string.
        return s.isNull() & _exists(meta, path)
    quoted = _is_json_string(meta, path)
    if isinstance(v, bool):
        return (s == F.lit("true" if v else "false")) & ~quoted
    if isinstance(v, (int, float)):
        # numeric equality must be value-based (5 == 5.0) but only for
        # actual JSON numbers, never strings
        n = _num_at(meta, path)
        return n.isNotNull() & (n == F.lit(float(v))) & ~quoted
    return (s == F.lit(str(v))) & quoted


def _exists(meta: "_Doc", path: list[str]) -> Column:
    """exists:true — the key is present (any value incl. null).

    Exact via the bound root variant: a present key holds a variant
    (a JSON null VALUE is a non-SQL-null variant of schema VOID), a
    missing key or non-object ancestor yields SQL NULL — the same
    distinction json_object_keys membership drew on the re-parsed
    parent text, at one parse per row instead of one per rule. (An
    earlier substring probe false-matched when any VALUE text
    contained the quoted key.)"""
    return _var_at(meta, path).isNotNull()


def _compile_rule(rule: dict[str, Any], meta: "_Doc", path: list[str]) -> Column:
    if len(rule) != 1:
        raise PatternError(f"rule object must have exactly one key at {path}: {rule}")
    (op, arg), = rule.items()

    if op == "$or":
        # $or inside a value list: subpattern paths are relative to the
        # current field (reference: tests/MofkaEventbridgeTest.cpp:77-81
        # with accepted doc "j1": {"j2_2": 123}).
        ors = [_compile_obj(sub, meta, path) for sub in arg]
        acc = ors[0]
        for o in ors[1:]:
            acc = acc | o
        return acc

    s = _str_at(meta, path)

    if op == "exists":
        e = _exists(meta, path)
        return e if arg else ~e

    if op == "numeric":
        return _compile_numeric(arg, meta, path)

    # string-typed rules only match actual JSON strings
    quoted = _is_json_string(meta, path)

    if op == "equals-ignore-case":
        vals = arg if isinstance(arg, list) else [arg]
        acc = None
        for v in vals:
            c = F.lower(s) == F.lit(str(v).lower())
            acc = c if acc is None else (acc | c)
        return acc & quoted

    if op == "prefix":
        return _compile_affix(arg, s, mode="prefix") & quoted

    if op == "suffix":
        return _compile_affix(arg, s, mode="suffix") & quoted

    if op == "wildcard":
        pats = arg if isinstance(arg, list) else [arg]
        acc = None
        for p in pats:
            c = s.rlike(_wildcard_to_regex(str(p)))
            acc = c if acc is None else (acc | c)
        return acc & quoted

    if op == "anything-but":
        return _compile_anything_but(arg, meta, path)

    raise PatternError(f"unsupported rule {op!r} at {path}")


def _compile_affix(arg: Any, s: Column, mode: str) -> Column:
    """prefix/suffix: plain value, list of values, or
    {"equals-ignore-case": value|[values]}."""

    def one(v: str, ignore_case: bool) -> Column:
        target = F.lower(s) if ignore_case else s
        lit = v.lower() if ignore_case else v
        return target.startswith(lit) if mode == "prefix" else target.endswith(lit)

    if isinstance(arg, dict):
        if set(arg) != {"equals-ignore-case"}:
            raise PatternError(f"bad {mode} rule: {arg}")
        vals = arg["equals-ignore-case"]
        vals = vals if isinstance(vals, list) else [vals]
        cols = [one(str(v), True) for v in vals]
    else:
        vals = arg if isinstance(arg, list) else [arg]
        cols = [one(str(v), False) for v in vals]
    acc = cols[0]
    for c in cols[1:]:
        acc = acc | c
    return acc


def _compile_numeric(arg: Any, meta: "_Doc", path: list[str]) -> Column:
    """["<", 10] or [">=", 5, "<", 10] op/operand chain."""
    if not isinstance(arg, list) or len(arg) % 2 != 0 or not arg:
        raise PatternError(f"numeric rule needs [op, num, ...]: {arg}")
    n = _num_at(meta, path)
    # actual JSON numbers only — "33" (string) must not match
    acc = n.isNotNull() & ~_is_json_string(meta, path)
    for i in range(0, len(arg), 2):
        op, operand = arg[i], arg[i + 1]
        if op not in _NUM_OPS:
            raise PatternError(f"bad numeric op {op!r}")
        v = F.lit(float(operand))
        if op == "<":
            acc = acc & (n < v)
        elif op == "<=":
            acc = acc & (n <= v)
        elif op == ">":
            acc = acc & (n > v)
        elif op == ">=":
            acc = acc & (n >= v)
        else:
            acc = acc & (n == v)
    return acc


def _compile_anything_but(arg: Any, meta: "_Doc", path: list[str]) -> Column:
    s = _str_at(meta, path)
    quoted = _is_json_string(meta, path)
    if isinstance(arg, dict):
        # string-rule variants: a non-string value trivially "doesn't
        # match the forbidden shape", hence the `& quoted` inside ~(...)
        if set(arg) == {"prefix"}:
            return _exists(meta, path) & ~(
                _compile_affix(arg["prefix"], s, "prefix") & quoted
            )
        if set(arg) == {"suffix"}:
            return _exists(meta, path) & ~(
                _compile_affix(arg["suffix"], s, "suffix") & quoted
            )
        if set(arg) == {"equals-ignore-case"}:
            vals = arg["equals-ignore-case"]
            vals = vals if isinstance(vals, list) else [vals]
            acc = None
            for v in vals:
                c = F.lower(s) == F.lit(str(v).lower())
                acc = c if acc is None else (acc | c)
            return _exists(meta, path) & ~(acc & quoted)
        if set(arg) == {"wildcard"}:
            pats = arg["wildcard"]
            pats = pats if isinstance(pats, list) else [pats]
            acc = None
            for p in pats:
                c = s.rlike(_wildcard_to_regex(str(p)))
                acc = c if acc is None else (acc | c)
            return _exists(meta, path) & ~(acc & quoted)
        raise PatternError(f"bad anything-but rule: {arg}")
    vals = arg if isinstance(arg, list) else [arg]
    acc: Column | None = None
    for v in vals:
        c = _exact_eq(v, meta, path)
        acc = c if acc is None else (acc | c)
    return _exists(meta, path) & ~acc


# ===========================================================================
# 2. Pure-Python evaluator (producer-side validate; test oracle)
# ===========================================================================

def match_event(pattern: dict[str, Any], doc: dict[str, Any]) -> bool:
    """Evaluate the pattern against a parsed JSON document."""
    return _match_obj(pattern, doc)


def _get_path(doc: Any, path: list[str]) -> tuple[bool, Any]:
    """(exists, value) at a nested path."""
    cur = doc
    for k in path:
        if isinstance(cur, dict) and k in cur:
            cur = cur[k]
        else:
            return False, None
    return True, cur


def _match_obj(obj: dict[str, Any], doc: Any, path: list[str] | None = None) -> bool:
    path = path or []
    if not isinstance(obj, dict) or not obj:
        raise PatternError(f"pattern object must be a non-empty dict at {path}")
    for key, val in obj.items():
        if key == "$or":
            if not any(_match_obj(sub, doc, path) for sub in val):
                return False
            continue
        subpath = path + key.split(".")
        if isinstance(val, dict) and not _is_rule_object(val):
            if not _match_obj(val, doc, subpath):
                return False
        elif isinstance(val, list):
            if not _match_value_list(val, doc, subpath):
                return False
        elif isinstance(val, dict):
            if not _match_rule(val, doc, subpath):
                return False
        else:
            if not _match_value_list([val], doc, subpath):
                return False
    return True


def _match_value_list(values: list[Any], doc: Any, path: list[str]) -> bool:
    for v in values:
        if isinstance(v, dict):
            if _match_rule(v, doc, path):
                return True
        else:
            if _py_exact_eq(v, doc, path):
                return True
    return False


def _py_exact_eq(v: Any, doc: Any, path: list[str]) -> bool:
    exists, actual = _get_path(doc, path)
    if not exists:
        return False
    if v is None:
        return actual is None
    if isinstance(v, bool):
        return actual is v
    if isinstance(v, (int, float)):
        return (
            isinstance(actual, (int, float))
            and not isinstance(actual, bool)
            and float(actual) == float(v)
        )
    return isinstance(actual, str) and actual == v


def _py_str(actual: Any) -> str | None:
    if isinstance(actual, str):
        return actual
    return None


def _match_rule(rule: dict[str, Any], doc: Any, path: list[str]) -> bool:
    (op, arg), = rule.items()

    if op == "$or":
        return any(_match_obj(sub, doc, path) for sub in arg)

    exists, actual = _get_path(doc, path)

    if op == "exists":
        return exists if arg else not exists

    if op == "numeric":
        if not exists or isinstance(actual, bool) or not isinstance(actual, (int, float)):
            return False
        x = float(actual)
        ok = True
        for i in range(0, len(arg), 2):
            o, operand = arg[i], float(arg[i + 1])
            ok = ok and {
                "<": x < operand,
                "<=": x <= operand,
                ">": x > operand,
                ">=": x >= operand,
                "=": x == operand,
            }[o]
        return ok

    s = _py_str(actual) if exists else None

    if op == "equals-ignore-case":
        vals = arg if isinstance(arg, list) else [arg]
        return s is not None and any(s.lower() == str(v).lower() for v in vals)

    if op == "prefix":
        return s is not None and _py_affix(arg, s, "prefix")

    if op == "suffix":
        return s is not None and _py_affix(arg, s, "suffix")

    if op == "wildcard":
        pats = arg if isinstance(arg, list) else [arg]
        return s is not None and any(
            re.match(_wildcard_to_regex(str(p)), s) for p in pats
        )

    if op == "anything-but":
        if not exists:
            return False
        if isinstance(arg, dict):
            if set(arg) == {"prefix"}:
                return s is None or not _py_affix(arg["prefix"], s, "prefix")
            if set(arg) == {"suffix"}:
                return s is None or not _py_affix(arg["suffix"], s, "suffix")
            if set(arg) == {"equals-ignore-case"}:
                vals = arg["equals-ignore-case"]
                vals = vals if isinstance(vals, list) else [vals]
                return s is None or not any(s.lower() == str(v).lower() for v in vals)
            if set(arg) == {"wildcard"}:
                pats = arg["wildcard"]
                pats = pats if isinstance(pats, list) else [pats]
                return s is None or not any(
                    re.match(_wildcard_to_regex(str(p)), s) for p in pats
                )
            raise PatternError(f"bad anything-but rule: {arg}")
        vals = arg if isinstance(arg, list) else [arg]
        return not any(_py_exact_eq(v, doc, path) for v in vals)

    raise PatternError(f"unsupported rule {op!r} at {path}")


def _py_affix(arg: Any, s: str, mode: str) -> bool:
    def one(v: str, ignore_case: bool) -> bool:
        t = s.lower() if ignore_case else s
        lit = v.lower() if ignore_case else v
        return t.startswith(lit) if mode == "prefix" else t.endswith(lit)

    if isinstance(arg, dict):
        vals = arg["equals-ignore-case"]
        vals = vals if isinstance(vals, list) else [vals]
        return any(one(str(v), True) for v in vals)
    vals = arg if isinstance(arg, list) else [arg]
    return any(one(str(v), False) for v in vals)

