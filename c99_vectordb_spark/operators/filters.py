"""F1-F10 — the filter-expression language (SURVEY.md §2.3), with two
evaluators.

The reference's query language is a YAML flow map of conditions
(/root/reference/memo_cli.py:170-241: parse_yaml_flow_map,
matches_filter, eval_condition, compare_values, bare_equals). Both
evaluators share its parser (:func:`parse_filter_expr`) and keep the
reference's weakly-typed dynamic semantics:

- F1  bare equality      — ``str(v) == str(x)``; list values: ANY element
- F2  ``$ne``            — negated F1 (key must still exist)
- F3  ``$gte``           — numeric iff BOTH sides numeric, else
                           lexicographic on stringified values
- F4  ``$lte``           — mirror
- F5  ``$prefix``        — strings only; non-strings never match
- F6  ``$contains``      — lists only; stringified element equality
- F7  implicit AND over top-level keys
- F8  ``$and`` / F9 ``$or`` — compose; non-list operand => False
- F10 key-existence gate — every per-key condition requires the key
- records with no/empty metadata match NOTHING (memo_cli.py:202-203,
  501-506) — the ``nonempty`` guard
- a condition dict must have exactly ONE operator key; unknown ``$op``
  never matches (memo_cli.py:207-208, 220)

The evaluators:

- :func:`matches_filter` — the reference's loop in Python, one record's
  loaded metadata dict at a time, keyed as ``yaml_io.str_keys`` keys it.
  The CLI's ``recall`` and ``analyze`` run it over the rows they parsed.
- :func:`compile_filter`  — the same predicate as ONE Spark ``Column``,
  for the record tables of the registry, the native store and
  streaming. Because Catalyst receives one ordinary boolean expression,
  predicate pushdown / partition pruning / column pruning all apply —
  the compiled filter lands in the parquet scan (`PushedFilters`) when
  it references plain columns.

``tests/test_property.py::test_matches_filter_equals_compile_filter``
pins the two equal over generated metadata and filters.

Value resolution of the compiled filter is pluggable: a ``Resolver``
maps a key name to a :class:`FieldRef` (stringified value, existence,
type tag, optional list value). Three resolvers ship:

- :func:`map_resolver`     — record tables with the metadata triple
                             (model.RECORDS_SCHEMA)
- :func:`columns_resolver` — plain typed DataFrame columns (lets the
                             same language query any table)
- :func:`variant_resolver` — a ``VariantType`` metadata column
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable

import yaml
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from ..sources.yaml_io import str_keys


# ---------------------------------------------------------------------------
# parsing (memo_cli.py:170-176 — outer {} optional)
# ---------------------------------------------------------------------------

def parse_filter_expr(expr: str | dict | None) -> dict | None:
    """Parse a filter expression string into its dict form.

    Accepts YAML flow-map syntax with the outer braces optional, e.g.
    ``"source: user, priority: {$gte: 2}"``.
    """
    if expr is None or isinstance(expr, dict):
        return expr
    s = expr.strip()
    if not s:
        return None
    try:
        parsed = yaml.safe_load(s)
    except yaml.YAMLError:
        parsed = None
    if not isinstance(parsed, dict):
        try:
            parsed = yaml.safe_load("{" + s + "}")
        except yaml.YAMLError as e:
            raise ValueError(f"invalid filter expression: {expr!r}") from e
    if not isinstance(parsed, dict):
        raise ValueError(f"filter expression must be a map: {expr!r}")
    return parsed


# ---------------------------------------------------------------------------
# value resolution
# ---------------------------------------------------------------------------

@dataclass
class FieldRef:
    """A metadata key resolved against a concrete DataFrame layout."""

    value: Column  #: stringified scalar value (py-str conventions)
    exists: Column  #: key-existence predicate (F10)
    is_numeric: Column  #: value is int/float/bool *by original type*
    #: (python bool IS an int: compare_values treats True as 1.0,
    #: memo_cli.py:179-192 via isinstance(v, (int, float)))
    is_string: Column  #: value is a str by original type
    list_value: Column | None = None  #: ARRAY<STRING> when list-typed, else None
    has_list: Column | None = None  #: list-typed predicate (None => never)
    numeric_value: Column | None = None  #: DOUBLE view for the numeric path
    #: (None => try_cast(value)); resolvers set it when the stringified
    #: form isn't castable (e.g. bool "True" -> 1.0)


Resolver = Callable[[str], FieldRef]


def _py_str(col: Column, dtype: T.DataType) -> Column:
    """Stringify a typed column following Python ``str()`` conventions
    (the reference stringifies with str(); memo_cli.py:195-198).

    Notable divergence handled here: Spark casts booleans to
    'true'/'false' but Python renders 'True'/'False'; Python renders
    floats that are integral as '1.0' while Spark DOUBLE casts agree;
    timestamps use ``yyyy-MM-dd HH:mm:ss`` like datetime.__str__.
    """
    if isinstance(dtype, T.BooleanType):
        return F.when(col, F.lit("True")).otherwise(F.lit("False"))
    if isinstance(dtype, T.TimestampType):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    if isinstance(dtype, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    return col.cast("string")


def columns_resolver(df: DataFrame, null_is_absent: bool = True) -> Resolver:
    """Resolve keys against plain typed top-level columns.

    A NULL cell is treated as an absent key (the SQL-natural reading;
    the reference cannot represent a present-but-null key distinctly
    in most flows). Unknown keys resolve to never-exists.
    """
    schema = {f.name: f.dataType for f in df.schema.fields}

    def resolve(key: str) -> FieldRef:
        if key not in schema:
            return FieldRef(
                value=F.lit(None).cast("string"),
                exists=F.lit(False),
                is_numeric=F.lit(False),
                is_string=F.lit(False),
            )
        dtype = schema[key]
        col = F.col(key)
        exists = col.isNotNull() if null_is_absent else F.lit(True)
        if isinstance(dtype, T.ArrayType):
            elems = F.transform(col, lambda e: _py_str(e, dtype.elementType))
            return FieldRef(
                value=F.lit(None).cast("string"),
                exists=exists,
                is_numeric=F.lit(False),
                is_string=F.lit(False),
                list_value=elems,
                has_list=col.isNotNull(),
            )
        numeric = isinstance(
            dtype,
            (T.IntegralType, T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType),
        )
        return FieldRef(
            value=_py_str(col, dtype),
            exists=exists,
            is_numeric=F.lit(numeric),
            is_string=F.lit(isinstance(dtype, T.StringType)),
            numeric_value=col.cast("double") if numeric else None,
        )

    return resolve


def map_resolver(
    metadata: str | Column = "metadata",
    metadata_types: str | Column = "metadata_types",
    metadata_lists: str | Column = "metadata_lists",
) -> Resolver:
    """Resolve keys against the record table's metadata triple
    (model.RECORDS_SCHEMA): stringified scalars + original-type tags +
    stringified list values."""
    m = F.col(metadata) if isinstance(metadata, str) else metadata
    mt = F.col(metadata_types) if isinstance(metadata_types, str) else metadata_types
    ml = F.col(metadata_lists) if isinstance(metadata_lists, str) else metadata_lists

    def resolve(key: str) -> FieldRef:
        k = F.lit(key)
        scalar_exists = m.isNotNull() & F.map_contains_key(m, k)
        list_exists = ml.isNotNull() & F.map_contains_key(ml, k)
        vtype = F.coalesce(mt.getItem(key), F.lit("str"))
        sval = m.getItem(key)
        return FieldRef(
            value=sval,
            exists=scalar_exists | list_exists,
            is_numeric=scalar_exists & vtype.isin("int", "float", "bool"),
            is_string=scalar_exists & (vtype == "str"),
            list_value=ml.getItem(key),
            has_list=list_exists,
            numeric_value=F.when(vtype == "bool", (sval == "True").cast("double"))
            .otherwise(sval.try_cast("double")),
        )

    return resolve


def _variant_path(key: str) -> str:
    """Variant extraction path for an arbitrary metadata key: dotted
    form for bare identifiers, bracket-quoted otherwise ('a.b' must
    address the literal key, not a nested field). Spark's path parser
    has no in-quote escaping, so a key containing BOTH quote kinds is
    unaddressable — we fail loudly rather than silently mis-resolve."""
    if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", key):
        return f"$.{key}"
    if "'" not in key:
        return f"$['{key}']"
    if '"' not in key:
        return f'$["{key}"]'
    raise ValueError(
        f"metadata key {key!r} mixes quote characters and cannot be "
        "addressed as a variant path; use the MAP-triple layout"
    )


def _variant_py_str(item: Column) -> Column:
    """Python str() of a scalar variant value (SURVEY §1.5 parity
    rules): booleans render True/False, JSON null renders 'None',
    everything else takes the engine's string cast (JSON-roundtripped
    numbers keep their literal form, so '3.0' stays '3.0')."""
    tag = F.schema_of_variant(item)
    return (
        F.when(F.is_variant_null(item), F.lit("None"))
        .when(tag == "BOOLEAN",
              F.when(F.try_variant_get(item, "$", "boolean"), F.lit("True"))
              .otherwise(F.lit("False")))
        .otherwise(F.try_variant_get(item, "$", "string"))
    )


def _variant_py_repr(item: Column) -> Column:
    """Python repr() of a scalar variant value — the per-element
    rendering inside str(list). Strings gain quotes with CPython's
    delimiter rule (single, unless the value contains a single quote
    and no double quote) and backslash/quote/newline escapes; other
    scalars repr the same as they str."""
    tag = F.schema_of_variant(item)
    s = _variant_py_str(item)
    esc = F.replace(s, F.lit("\\"), F.lit("\\\\"))
    for raw, rep in (("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        esc = F.replace(esc, F.lit(raw), F.lit(rep))
    has_sq = esc.contains("'")
    has_dq = esc.contains('"')
    quoted = F.when(
        has_sq & ~has_dq, F.concat(F.lit('"'), esc, F.lit('"'))
    ).otherwise(
        F.concat(F.lit("'"), F.replace(esc, F.lit("'"), F.lit("\\'")), F.lit("'"))
    )
    return F.when(tag == "STRING", quoted).otherwise(s)


def variant_resolver(metadata_v: str | Column = "metadata_v") -> Resolver:
    """Resolve keys against a Spark 4 ``VariantType`` metadata column —
    the idiomatic single-column encoding of the reference's dynamically
    typed YAML metadata (SURVEY §1.5). Types come from the variant's
    own schema (``schema_of_variant``), so the dynamic-typing semantics
    (bool-is-numeric, numeric-iff-both, list-any-equality) need no
    side-channel type tags. Drop-in alternative to :func:`map_resolver`
    over the MAP-triple layout; same filter language, same compiler.
    """
    v = F.col(metadata_v) if isinstance(metadata_v, str) else metadata_v

    def resolve(key: str) -> FieldRef:
        path = _variant_path(key)
        item = F.try_variant_get(v, path, "variant")
        tag = F.schema_of_variant(item)
        is_list = F.coalesce(tag.startswith("ARRAY"), F.lit(False))
        elems = F.try_variant_get(v, path, "array<variant>")
        list_value = F.when(is_list, F.transform(elems, _variant_py_str))
        # $gte/$lte on a list compares python str(list) in the
        # reference (memo_cli.py:186-189) — rebuild that rendering
        # (repr'd elements, ", " separator) for the lexicographic path
        list_str = F.concat(
            F.lit("["),
            F.concat_ws(", ", F.transform(elems, _variant_py_repr)),
            F.lit("]"),
        )
        return FieldRef(
            value=F.when(is_list, list_str).otherwise(_variant_py_str(item)),
            exists=item.isNotNull(),
            is_numeric=F.coalesce(
                tag.isin("BIGINT", "DOUBLE", "BOOLEAN") | tag.startswith("DECIMAL"),
                F.lit(False),
            ),
            is_string=F.coalesce(tag == "STRING", F.lit(False)),
            list_value=list_value,
            has_list=is_list,
            numeric_value=F.when(
                tag == "BOOLEAN",
                F.try_variant_get(item, "$", "boolean").cast("double"),
            ).otherwise(F.try_variant_get(item, "$", "double")),
        )

    return resolve


def variant_nonempty_metadata(metadata_v: str | Column = "metadata_v") -> Column:
    """The 'has any metadata' guard for variant-encoded records."""
    v = F.col(metadata_v) if isinstance(metadata_v, str) else metadata_v
    as_map = F.try_variant_get(v, "$", "map<string,variant>")
    return as_map.isNotNull() & (F.size(F.map_keys(as_map)) > 0)


# ---------------------------------------------------------------------------
# compilation (memo_cli.py:179-241)
# ---------------------------------------------------------------------------

_OPS = ("$gte", "$lte", "$ne", "$prefix", "$contains")


def _operand_str(x) -> str:
    """Python str() of a YAML-parsed operand (reference stringification)."""
    return str(x)


def _bare_equals(ref: FieldRef, expected) -> Column:
    """F1 — stringly equality; list values: ANY element matches
    (memo_cli.py:195-198)."""
    want = F.lit(_operand_str(expected))
    scalar_eq = ref.exists & ref.value.isNotNull() & (ref.value == want)
    if ref.list_value is not None and ref.has_list is not None:
        list_eq = ref.has_list & F.array_contains(ref.list_value, want)
        return F.when(ref.has_list, list_eq).otherwise(scalar_eq)
    return scalar_eq


def _compare(ref: FieldRef, operand, op: str) -> Column:
    """F3/F4 — numeric iff BOTH sides numeric, else lexicographic on
    stringified values (memo_cli.py:179-192). Bools count as numeric on
    BOTH sides (python bool is an int: True ~ 1.0)."""
    operand_numeric = isinstance(operand, (int, float))  # includes bool
    sval = ref.value
    if operand_numeric:
        # try_cast: ANSI mode must not abort on non-numeric strings —
        # the dual-path when() decides which branch is meaningful
        num = (
            ref.numeric_value
            if ref.numeric_value is not None
            else sval.try_cast("double")
        )
        lit_n = F.lit(float(operand))
        lit_s = F.lit(_operand_str(operand))
        num_cmp = (num >= lit_n) if op == "$gte" else (num <= lit_n)
        str_cmp = (sval >= lit_s) if op == "$gte" else (sval <= lit_s)
        return ref.exists & F.when(ref.is_numeric, num_cmp).otherwise(str_cmp)
    lit_s = F.lit(_operand_str(operand))
    str_cmp = (sval >= lit_s) if op == "$gte" else (sval <= lit_s)
    return ref.exists & sval.isNotNull() & str_cmp


def _eval_condition(ref: FieldRef, cond) -> Column:
    """One per-key condition (memo_cli.py:201-222), existence-gated."""
    if isinstance(cond, dict):
        if len(cond) != 1:
            return F.lit(False)  # memo_cli.py:207-208
        op, operand = next(iter(cond.items()))
        if op == "$gte" or op == "$lte":
            return _compare(ref, operand, op)
        if op == "$ne":
            return ref.exists & ~_bare_equals(ref, operand)
        if op == "$prefix":
            pref = F.lit(_operand_str(operand))
            return ref.exists & ref.is_string & ref.value.startswith(pref)
        if op == "$contains":
            if ref.list_value is None or ref.has_list is None:
                return F.lit(False)
            return (
                ref.exists
                & ref.has_list
                & F.array_contains(ref.list_value, F.lit(_operand_str(operand)))
            )
        return F.lit(False)  # unknown $op (memo_cli.py:220)
    return ref.exists & _bare_equals(ref, cond)


def compile_filter(
    filter_expr: str | dict | None,
    resolver: Resolver,
    nonempty: Column | None = None,
) -> Column:
    """Compile a filter expression to a single boolean Column.

    ``nonempty`` is the "record has metadata at all" guard — records
    where it is false match NO filter (memo_cli.py:202-203, 501-506).
    Pass e.g. ``size(metadata) > 0`` for record tables; None disables
    the guard (plain typed tables).
    """
    parsed = parse_filter_expr(filter_expr)

    def go(node: dict) -> Column:
        conjuncts: list[Column] = []
        for key, cond in node.items():
            if key == "$and":
                if not isinstance(cond, list):
                    conjuncts.append(F.lit(False))
                else:
                    sub = [
                        go(c) if isinstance(c, dict) else F.lit(False) for c in cond
                    ]
                    conjuncts.append(
                        _fold_and(sub) if sub else F.lit(True)
                    )
            elif key == "$or":
                if not isinstance(cond, list):
                    conjuncts.append(F.lit(False))
                else:
                    sub = [
                        go(c) if isinstance(c, dict) else F.lit(False) for c in cond
                    ]
                    conjuncts.append(_fold_or(sub) if sub else F.lit(False))
            else:
                # a YAML int key (7) names the map's str() key, as
                # yaml_io.str_keys and convert key the metadata
                conjuncts.append(_eval_condition(resolver(str(key)), cond))
        return _fold_and(conjuncts) if conjuncts else F.lit(True)

    if parsed is None:
        compiled = F.lit(True)
    else:
        compiled = go(parsed)
    if nonempty is not None:
        compiled = nonempty & compiled
    return compiled


def _fold_and(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out & c
    return out


def _fold_or(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out | c
    return out


# ---------------------------------------------------------------------------
# evaluation of one loaded record (memo_cli.py:179-241)
# ---------------------------------------------------------------------------

def matches_filter(parsed: dict | None, metadata: dict | None) -> bool:
    """Whether a record whose loaded metadata is ``metadata`` matches
    ``parsed`` (:func:`parse_filter_expr`'s result; None for an empty
    expression, which matches every record with metadata). The
    reference's matches_filter over ``yaml_io.str_keys(metadata)``: a
    filter's int key 7 names the metadata's key 7 or '7', as it does in
    :func:`compile_filter`'s map."""
    md = str_keys(metadata)
    return bool(md) and (parsed is None or _matches(parsed, md))


def _matches(node: dict, md: dict) -> bool:
    for key, cond in node.items():
        if key == "$and" or key == "$or":
            if not isinstance(cond, list):
                return False
            subs = (isinstance(c, dict) and _matches(c, md) for c in cond)
            if not (all(subs) if key == "$and" else any(subs)):
                return False
        elif str(key) not in md or not _condition(md[str(key)], cond):
            return False
    return True


def _equals(v, x) -> bool:
    """F1 (memo_cli.py:195-198)."""
    if isinstance(v, list):
        return any(str(e) == str(x) for e in v)
    return str(v) == str(x)


def _condition(v, cond) -> bool:
    """One condition on a present key's value (memo_cli.py:201-222)."""
    if not isinstance(cond, dict):
        return _equals(v, cond)
    if len(cond) != 1:
        return False
    ((op, x),) = cond.items()
    if op == "$gte" or op == "$lte":
        # numeric iff both sides are int/float (bool included), else
        # lexicographic on str() (memo_cli.py:179-192)
        if isinstance(v, (int, float)) and isinstance(x, (int, float)):
            a, b = float(v), float(x)
        else:
            a, b = str(v), str(x)
        return a >= b if op == "$gte" else a <= b
    if op == "$ne":
        return not _equals(v, x)
    if op == "$prefix":
        return isinstance(v, str) and v.startswith(str(x))
    if op == "$contains":
        return isinstance(v, list) and _equals(v, x)
    return False


def records_nonempty_metadata(
    metadata: str | Column = "metadata", metadata_lists: str | Column = "metadata_lists"
) -> Column:
    """The 'has any metadata' guard for record tables."""
    m = F.col(metadata) if isinstance(metadata, str) else metadata
    ml = F.col(metadata_lists) if isinstance(metadata_lists, str) else metadata_lists
    return (m.isNotNull() & (F.size(F.map_keys(m)) > 0)) | (
        ml.isNotNull() & (F.size(F.map_keys(ml)) > 0)
    )
