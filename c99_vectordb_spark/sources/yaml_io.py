"""S1/S2/S5 — the YAML compatibility adapter.

The reference's persistent format is a multi-document YAML stream, one
record per document (/root/reference/memo_cli.py:66-128). Parquet is
this engine's native store (store.py); this adapter exists so a user
of the reference can point the CLI at their existing ``.yaml`` file
and get identical semantics:

- load: full validation (mapping, id+body required, id >= 0 int, no
  duplicate ids, body str, metadata map) and densification — gaps in
  the id space materialize as blank records (memo_cli.py:89-107)
- save: canonical dump — every record including blanks, ``metadata: {}``
  for null, body as literal block scalar, explicit ``---`` separators,
  unsorted keys, unicode allowed (memo_cli.py:112-128)
- save-batch parsing with the reference's validations
  (memo_cli.py:369-400)

The parse runs driver-side, as the reference's does: the reference
loads its YAML store wholesale per command, and error behavior stays
byte-identical to it. Scale lives in the Parquet store (store.py).
"""

from __future__ import annotations

import re
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import types as T

from ..fmt import LiteralStr
from ..model import RECORDS_SCHEMA, SAVE_BATCH_SCHEMA
from .convert import record_row, split_metadata

#: Spark MapType does not preserve insertion order, but the reference
#: renders metadata dicts in YAML insertion order (format_cell /
#: save_yaml_tables with sort_keys=False). The adapter carries the
#: original key order in an extra column.
_KEYS_FIELD = T.StructField("metadata_keys", T.ArrayType(T.StringType()), True)
#: per-key canonical YAML of the ORIGINAL value (safe_dump flow style):
#: the stringly triple cannot reproduce the reference's format_cell
#: rendering or round-trip typed values (dates, nested maps, non-string
#: list elements) through save — this column can do both, because
#: yaml.safe_load(metadata_yaml[k]) == the original object (round-5
#: review findings on display/save/stats parity).
_YREPR_FIELD = T.StructField(
    "metadata_yaml", T.MapType(T.StringType(), T.StringType()), True
)
YAML_RECORDS_SCHEMA = T.StructType(
    [*RECORDS_SCHEMA.fields, _YREPR_FIELD, _KEYS_FIELD]
)
YAML_BATCH_SCHEMA = T.StructType(
    [*SAVE_BATCH_SCHEMA.fields, _YREPR_FIELD, _KEYS_FIELD]
)


#: LibYAML C bindings parse and emit ~10x faster than the pure-Python
#: scanner/emitter and format every VALUE identically (proven across
#: floats incl. 5e-324/inf/-0.0, unicode, quoting edge cases by
#: tests/test_store_yaml.py::test_c_emitter_parity). Three deliberate
#: asymmetries: (1) error TEXTS differ, so the fast loaders fall back
#: to the pure-Python parser on failure to keep golden error messages;
#: (2) the Python emitter appends a "..." document-end marker after
#: TOP-LEVEL SCALARS that libyaml omits — fast dumps are therefore
#: used only where that framing is invisible (the metadata_yaml
#: carrier, whose consumers safe_load it; and whole-record mappings,
#: which never take the marker), never in fmt.format_cell whose bytes
#: are golden-matched to the reference; (3) libyaml escapes non-BMP
#: characters where Python writes them — the dump helpers walk the
#: payload and fall back to the Python emitter on astral content.
_C_SAFE_LOADER = getattr(yaml, "CSafeLoader", None)
_C_SAFE_DUMPER = getattr(yaml, "CSafeDumper", None)


def fast_safe_load(text: str):
    # Accepted asymmetry (r7 advice): the fallback only covers the
    # direction where the C scanner is STRICTER (YAMLError -> retry
    # pure-Python, preserving golden accepts/error texts). If libyaml
    # ever accepted input the Python loader rejects, or resolved a
    # scalar differently, that divergence would be silent here — the
    # guard against it is test_c_emitter_parity's value matrix (floats
    # incl. 5e-324/inf/-0.0, unicode, quoting edge cases), which must
    # grow alongside any new metadata form the store starts accepting.
    # No such divergence is known for SafeLoader-resolvable YAML 1.1.
    if _C_SAFE_LOADER is None:
        return yaml.safe_load(text)
    try:
        return yaml.load(text, Loader=_C_SAFE_LOADER)
    except yaml.YAMLError:
        # pure-python pass: exact golden error text (or, if the C
        # scanner was stricter, the reference-matching accept)
        return yaml.safe_load(text)


def fast_safe_load_all(text: str) -> list:
    if _C_SAFE_LOADER is None:
        return list(yaml.safe_load_all(text))
    try:
        return list(yaml.load_all(text, Loader=_C_SAFE_LOADER))
    except yaml.YAMLError:
        return list(yaml.safe_load_all(text))


#: libyaml escapes characters OUTSIDE the Basic Multilingual Plane
#: even under allow_unicode=True ('emoji 😀' -> '"emoji \\U0001F600"'
#: where the Python emitter writes the character) — load-equivalent
#: but not byte-equal, so astral payloads take the pure-Python emitter
_NON_BMP = re.compile("[\U00010000-\U0010ffff]")


def _has_non_bmp(obj) -> bool:
    if isinstance(obj, str):
        return _NON_BMP.search(obj) is not None
    if isinstance(obj, dict):
        return any(_has_non_bmp(k) or _has_non_bmp(v) for k, v in obj.items())
    if isinstance(obj, (list, tuple)):
        return any(_has_non_bmp(v) for v in obj)
    return False


def fast_safe_dump(value, **kw) -> str:
    if _C_SAFE_DUMPER is None or _has_non_bmp(value):
        return yaml.safe_dump(value, **kw)
    return yaml.dump(value, Dumper=_C_SAFE_DUMPER, **kw)


def fast_safe_dump_all(values, **kw) -> str:
    values = list(values)
    if _C_SAFE_DUMPER is None or _has_non_bmp(values):
        return yaml.safe_dump_all(values, **kw)
    return yaml.dump_all(values, Dumper=_C_SAFE_DUMPER, **kw)


def _scalar_dump(v) -> str:
    """One metadata value's stored YAML repr, identical bytes with or
    without libyaml: the pure-Python emitter appends a '...' document-
    end marker after top-level scalars ('v\\n...\\n') that libyaml
    omits, and the marker survives .strip() — so the same corpus would
    persist different parquet bytes per environment (r7 advice).
    Consumers safe_load either form; normalizing keeps any future
    byte-level fingerprint over metadata_yaml environment-stable. A
    legitimate value can't be clipped: a literal newline before '...'
    only occurs as the marker (multi-line strings emit flow-quoted
    with escaped newlines)."""
    s = fast_safe_dump(
        v, default_flow_style=True, sort_keys=False, allow_unicode=True
    ).strip()
    if s.endswith("\n..."):
        s = s[: -len("\n...")].rstrip("\n")
    return s


def _yaml_extras(metadata: dict | None) -> tuple[dict | None, list | None]:
    """(metadata_yaml, metadata_keys) for one record's original dict."""
    if not metadata:
        return None, None
    yrepr = {str(k): _scalar_dump(v) for k, v in metadata.items()}
    return yrepr, [str(k) for k in metadata.keys()]


class YamlValidationError(ValueError):
    pass


def _parse_docs(text: str) -> list[dict]:
    return [d for d in fast_safe_load_all(text) if d is not None]


def _validate_record_doc(doc) -> tuple[int, str, dict | None]:
    """Single-record validation (the reference's error messages)."""
    if not isinstance(doc, dict):
        raise YamlValidationError("record must be a mapping")
    if "id" not in doc or "body" not in doc:
        raise YamlValidationError("record requires id and body")
    rid = doc["id"]
    if not isinstance(rid, int) or isinstance(rid, bool) or rid < 0:
        raise YamlValidationError(f"id must be a non-negative int: {rid!r}")
    body = doc["body"]
    if not isinstance(body, str):
        raise YamlValidationError(f"body must be a string (id {rid})")
    metadata = doc.get("metadata")
    if metadata is not None and not isinstance(metadata, dict):
        raise YamlValidationError(f"metadata must be a mapping (id {rid})")
    return rid, body, metadata or None


def parse_records_yaml(text: str) -> list[tuple]:
    """Multi-doc YAML -> validated dense RECORDS_SCHEMA rows."""
    by_id: dict[int, tuple[str, dict | None]] = {}
    for doc in _parse_docs(text):
        rid, body, metadata = _validate_record_doc(doc)
        if rid in by_id:
            raise YamlValidationError(f"duplicate id {rid}")
        by_id[rid] = (body, metadata)
    n = (max(by_id) + 1) if by_id else 0
    rows = []
    for i in range(n):  # densify: gaps become blank records
        body, metadata = by_id.get(i, ("", None))
        yrepr, keys = _yaml_extras(metadata)
        rows.append((*record_row(i, body, metadata), yrepr, keys))
    return rows


#: YAML stores at or above this size get the ``-v`` hint to migrate to
#: the native parquet store (cli._hint_native_migration)
DISTRIBUTED_PARSE_BYTES = 4 << 20


def load_records_yaml(spark: SparkSession, path: str) -> DataFrame:
    try:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    except FileNotFoundError:
        return spark.createDataFrame([], YAML_RECORDS_SCHEMA)
    return spark.createDataFrame(parse_records_yaml(text), YAML_RECORDS_SCHEMA)


def _revive(scalar: str | None, tag: str | None):
    """Best-effort inverse of convert.split_metadata stringification
    for canonical YAML round-trips."""
    if scalar is None:
        return None
    if tag == "int":
        return int(scalar)
    if tag == "float":
        return float(scalar)
    if tag == "bool":
        return scalar == "True"
    return scalar


def revive_metadata(r) -> dict[str, Any]:
    """Reconstruct the dynamic metadata dict of one collected row, in
    original key order when ``metadata_keys`` is available.

    When the ``metadata_yaml`` column is present the ORIGINAL values
    come back exactly (safe_load of the canonical per-key dump —
    dates stay dates, nested maps stay maps, int list elements stay
    ints); the stringly-triple fallback covers rows from the native
    store, which does not carry the column."""
    scalars = r["metadata"] or {}
    tags = r["metadata_types"] or {}
    lists = r["metadata_lists"] or {}
    try:
        yrepr = r["metadata_yaml"] or {}
    except (KeyError, ValueError):
        yrepr = {}
    try:
        order = r["metadata_keys"]
    except (KeyError, ValueError):
        order = None
    if order is None:
        order = [*scalars.keys(), *[k for k in lists.keys() if k not in scalars]]
    md: dict[str, Any] = {}
    for k in order:
        if k in yrepr and yrepr[k] is not None:
            md[k] = fast_safe_load(yrepr[k])
        elif k in lists and lists[k] is not None:
            md[k] = list(lists[k])
        elif k in scalars:
            md[k] = _revive(scalars[k], tags.get(k))
    return md


def records_to_yaml(rows: list) -> str:
    """Canonical multi-doc dump of collected RECORDS_SCHEMA rows
    (ordered by id; caller collects — adapter-scale only)."""
    docs = []
    for r in sorted(rows, key=lambda r: r["id"]):
        md = revive_metadata(r)
        docs.append(
            {"id": r["id"], "metadata": md, "body": LiteralStr(r["body"] or "")}
        )
    # whole-record mappings never take the "..." marker, so the C
    # emitter's output is byte-identical to safe_dump_all here
    # (test_c_emitter_parity pins it)
    return fast_safe_dump_all(
        docs, explicit_start=True, sort_keys=False, allow_unicode=True
    )


def save_records_yaml(records: DataFrame, path: str) -> None:
    rows = records.collect()
    with open(path, "w", encoding="utf-8") as f:
        f.write(records_to_yaml(rows))


def parse_save_batch_yaml(text: str) -> list[tuple]:
    """Save-batch file -> SAVE_BATCH_SCHEMA rows (memo_cli.py:369-400):
    1+ entries; body non-empty string; optional id >= 0; metadata map."""
    parsed = _parse_docs(text)
    entries: list[dict] = []
    for doc in parsed:
        if isinstance(doc, list):
            entries.extend(doc)
        else:
            entries.append(doc)
    if not entries:
        raise YamlValidationError("save file contains no entries")
    rows = []
    for e in entries:
        if not isinstance(e, dict):
            raise YamlValidationError("save entry must be a mapping")
        body = e.get("body")
        if not isinstance(body, str) or not body.strip():
            raise YamlValidationError("save entry requires a non-empty body string")
        rid = e.get("id")
        if rid is not None and (
            not isinstance(rid, int) or isinstance(rid, bool) or rid < 0
        ):
            raise YamlValidationError(f"id must be a non-negative int: {rid!r}")
        metadata = e.get("metadata")
        if metadata is not None and not isinstance(metadata, dict):
            raise YamlValidationError("metadata must be a mapping")
        scalars, tags, lists = split_metadata(metadata or None)
        yrepr, keys = _yaml_extras(metadata or None)
        rows.append((rid, body, scalars, tags, lists, yrepr, keys))
    return rows

