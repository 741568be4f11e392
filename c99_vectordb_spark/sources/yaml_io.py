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

A parsed row is the reference's record, ``(id, body, metadata)``:
``metadata`` is the dict ``yaml.safe_load`` returned, or None when it is
absent or empty. This module is the one that knows that row format. The
parse runs driver-side, as the reference's does: the reference loads its
YAML store wholesale per command, and error behavior stays
byte-identical to it. Scale lives in the Parquet store (store.py).

The CLI's verbs work on the parsed rows (``read_records_yaml``) in their
own process, with no JVM: ``save`` applies its batch to them and
``reindex`` compacts them (``compact_records``), both dump them back
(``save_records_yaml``) and embed them for the index
(``functions.embed.embed_rows``); a recall filters and ranks them
(``filters.matches_filter``, ``operators.recall.recall_rows``) and never
reads that index; ``analyze`` filters, pages, counts and renders them,
looking a key up as ``str_keys`` does. The Spark columns come from one
place, ``rows_to_df``: it derives RECORDS_SCHEMA's string triple
(``convert.record_row``) and hands it over as Arrow, for the migration
to the native store, the streaming sources and the tests that check
the two filter evaluators and the two recalls against each other.

Two readers parse a store, and both return ``yaml.safe_load_all``'s
documents. ``read_canonical_yaml`` reads only the form ``save`` and
``reindex`` write (``records_to_yaml``), in one pass of a regular
expression over the text, and builds each distinct scalar once through
PyYAML's own resolver and constructor; it declines anything else, and
then ``fast_safe_load_all`` (libyaml, with the pure-Python parser for
the error texts) parses the whole text, so every accept and every error
is libyaml's. ``yaml.safe_load_all`` stays the reference: the tests hold
the canonical reader to it, type for type.
"""

from __future__ import annotations

import functools
import re
from typing import Any

import yaml
from pyspark.sql import DataFrame, SparkSession, types as T

from ..fmt import LiteralStr
from ..hashing import is_blank
from ..model import RECORDS_SCHEMA
from ..operators.mutate import is_deleted_record
from .convert import record_row


#: LibYAML C bindings parse and emit ~10x faster than the pure-Python
#: scanner/emitter and format every VALUE identically (proven across
#: floats incl. 5e-324/inf/-0.0, unicode, quoting edge cases by
#: tests/test_store_yaml.py::test_c_emitter_parity). Three deliberate
#: asymmetries: (1) error TEXTS differ, so the fast loaders fall back
#: to the pure-Python parser on failure to keep golden error messages;
#: (2) the Python emitter appends a "..." document-end marker after
#: TOP-LEVEL SCALARS that libyaml omits — the fast dump is therefore
#: used only for whole-record mappings, which never take the marker,
#: never in fmt.format_cell whose bytes are golden-matched to the
#: reference; (3) libyaml escapes non-BMP characters where Python
#: writes them — the dump walks the payload and falls back to the
#: Python emitter on astral content. On loads, LibYAML is the fallback:
#: a store of the canonical form is read by ``read_canonical_yaml``,
#: which skips what most of a LibYAML load costs, PyYAML's Python-side
#: construction and resolution of every node (13 per record).
_C_SAFE_LOADER = getattr(yaml, "CSafeLoader", None)
_C_SAFE_DUMPER = getattr(yaml, "CSafeDumper", None)


def fast_safe_load_all(text: str) -> list:
    # Accepted asymmetry: the fallback only covers the
    # direction where the C scanner is STRICTER (YAMLError -> retry
    # pure-Python, preserving golden accepts/error texts). If libyaml
    # ever accepted input the Python loader rejects, or resolved a
    # scalar differently, that divergence would be silent here — the
    # guard against it is test_c_emitter_parity's value matrix (floats
    # incl. 5e-324/inf/-0.0, unicode, quoting edge cases), which must
    # grow alongside any new metadata form the store starts accepting.
    # No such divergence is known for SafeLoader-resolvable YAML 1.1.
    if _C_SAFE_LOADER is None:
        return list(yaml.safe_load_all(text))
    try:
        return list(yaml.load_all(text, Loader=_C_SAFE_LOADER))
    except yaml.YAMLError:
        # pure-python pass: exact golden error text (or, if the C
        # scanner was stricter, the reference-matching accept)
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


def fast_safe_dump_all(values, **kw) -> str:
    values = list(values)
    if _C_SAFE_DUMPER is None or _has_non_bmp(values):
        return yaml.safe_dump_all(values, **kw)
    return yaml.dump_all(values, Dumper=_C_SAFE_DUMPER, **kw)


class YamlValidationError(ValueError):
    pass


#: Any character PyYAML's Reader rejects or reads as a line break
#: (``\r``, ``\x85``, U+2028, U+2029), a tab or a BOM: the canonical
#: reader declines a text that holds one.
_CANONICAL_DECLINED_CHAR = re.compile(
    "[^\n -~\xa0-\u2027\u202a-\ud7ff\ue000-\ufefe\uff00-\ufffd\U00010000-\U0010ffff]"
)
#: the bytes of an ASCII text that ``_CANONICAL_DECLINED_CHAR`` accepts
_ASCII_ACCEPTED = b"\n" + bytes(range(0x20, 0x7F))
#: One document of the form ``records_to_yaml`` writes: its decimal id
#: (of at most 18 digits, which ``int`` reads whatever its digit
#: limit), the ``  key: scalar`` lines of its metadata ('' for ``{}``;
#: a line that holds no ``: ``, starts with a third space or holds a
#: flow value, as a list value, a nested mapping, a wrapped long string
#: or an empty list does, ends the match) and the lines of its 2-space
#: ``|-`` body, whose first line starts with a non-space ('' for an
#: empty body, which the Python emitter writes as ``''`` and libyaml as
#: ``""``).
_CANONICAL_DOC = re.compile(
    r"---\nid: (0|[1-9][0-9]{0,17})\nmetadata:(?: \{\}\n|\n((?:  [^ \n][^\n]*: (?![\[{])[^\n]*\n)+))"
    r"body: (?:(?:''|\"\")\n|\|-\n(  [^ \n][^\n]*\n(?:(?:  [^\n]*| ?)\n)*))"
)
_SINGLE_QUOTED = re.compile(r"'((?:[^']|'')*)'")
_SINGLE_QUOTED_KEY = re.compile(r"'((?:[^']|'')*)': ")
#: a plain scalar may not start with one of these (PyYAML's
#: ``Scanner.check_plain``; a ``-`` followed by a non-space may)
_NOT_PLAIN_FIRST = frozenset("-?:,[]{}#&*!|>'\"%@` ")
_CANONICAL_TAGS = frozenset(
    "tag:yaml.org,2002:" + t for t in ("null", "bool", "int", "float", "timestamp", "str")
)


class _Decline(Exception):
    """The text is not of the canonical form."""


def _is_plain(s: str) -> bool:
    """``s`` reads back as itself as a one-line plain scalar in block
    context: no indicator first, no ``: `` or `` #`` inside, no ``:`` or
    space last."""
    return (
        s != ""
        and (s[0] not in _NOT_PLAIN_FIRST or (s[0] == "-" and s[1:2] not in ("", " ")))
        and ": " not in s
        and " #" not in s
        and s[-1] not in ": "
    )


def read_canonical_yaml(text: str) -> list[dict] | None:
    """The documents ``yaml.safe_load_all(text)`` returns, when ``text``
    is a stream of the form ``records_to_yaml`` writes; else None.

    Each document is ``---``, ``id: <decimal>``, ``metadata: {}`` or a
    block of ``  key: scalar`` lines, and an empty body or a 2-space
    ``|-`` literal block. A key or value is a one-line plain or
    single-quoted scalar (or ``""``); a plain one resolves and
    constructs through ``yaml.SafeLoader``'s own resolver and
    constructor, once per distinct string, so ``yes``, ``null``,
    ``2026-01-15`` or ``0x1f`` come out as ``safe_load`` builds them.
    Anything else declines: a character in ``_CANONICAL_DECLINED_CHAR``,
    a directive, ``...``, a comment, a flow, double-quoted or multi-line
    value, a tag, anchor or alias, a duplicate key, a non-decimal id, a
    value ``safe_load`` would fail to construct, and a body whose last
    line is blank or only spaces."""
    if text.isascii():
        # the same test in 9 ms instead of 48 on a 20,000-record store
        if text.encode().translate(None, _ASCII_ACCEPTED):
            return None
    elif _CANONICAL_DECLINED_CHAR.search(text):
        return None
    # the documents must tile the text before any scalar or body is
    # built: a store that declines on its form (a list value, a nested
    # mapping, a wrapped long string) costs this one regex pass
    docs = []
    end = 0
    while end < len(text):
        doc = _CANONICAL_DOC.match(text, end)
        if doc is None:
            return None
        docs.append(doc)
        end = doc.end()
    loader = yaml.SafeLoader("")

    def plain(s: str):
        if not _is_plain(s):
            raise _Decline
        tag = loader.resolve(yaml.ScalarNode, s, (True, False))
        if tag not in _CANONICAL_TAGS:
            raise _Decline
        try:
            return loader.yaml_constructors[tag](loader, yaml.ScalarNode(tag, s))
        except (ValueError, yaml.YAMLError):  # safe_load fails on it too
            raise _Decline from None

    scalars = functools.cache(plain)

    def pair(line: str) -> tuple:
        rest = line[2:]
        quoted = _SINGLE_QUOTED_KEY.match(rest)
        cut = quoted.end() - 2 if quoted else rest.find(": ")
        # a simple key is at most 1024 characters long
        if not 0 <= cut < 1000:
            raise _Decline
        key = quoted[1].replace("''", "'") if quoted else scalars(rest[:cut])
        value = rest[cut + 2 :]
        if value == '""':
            return key, ""
        quoted = _SINGLE_QUOTED.fullmatch(value)
        return key, quoted[1].replace("''", "'") if quoted else scalars(value)

    pairs = functools.cache(pair)
    out = []
    try:
        for doc in docs:
            rid, md_lines, body_lines = doc.groups("")
            lines = md_lines.split("\n")[:-1]
            metadata = dict(map(pairs, lines))
            if len(metadata) != len(lines):
                return None
            body = _literal_body(body_lines)
            if body is None:
                return None
            out.append({"id": int(rid), "metadata": metadata, "body": body})
    except _Decline:
        return None
    return out


def _literal_body(lines: str) -> str | None:
    """The value of a 2-space ``|-`` block of ``lines`` (each one
    indented or blank, the first one not blank); None when the last one
    is blank or only spaces, where strip chomping would apply."""
    if not lines:
        return ""
    if not lines[lines.rfind("\n", 0, -1) + 1 : -1].strip(" "):
        return None
    if "\n \n" in lines:
        # a 1-space line is a blank one
        return "\n".join(ln[2:] for ln in lines[:-1].split("\n"))
    return lines[2:-1].replace("\n  ", "\n")


def _parse_docs(text: str) -> tuple[list[dict], str]:
    """The non-null documents of ``text`` and the reader that built them:
    ``canonical`` (``read_canonical_yaml``) or, when it declines,
    ``libyaml`` (``fast_safe_load_all``)."""
    docs = read_canonical_yaml(text)
    if docs is not None:
        return docs, "canonical"
    return [d for d in fast_safe_load_all(text) if d is not None], "libyaml"


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
    """Multi-doc YAML -> validated dense ``(id, body, metadata)`` rows."""
    return _records(_parse_docs(text)[0])


def _records(docs: list) -> list[tuple]:
    by_id: dict[int, tuple[str, dict | None]] = {}
    for doc in docs:
        rid, body, metadata = _validate_record_doc(doc)
        if rid in by_id:
            raise YamlValidationError(f"duplicate id {rid}")
        by_id[rid] = (body, metadata)
    n = (max(by_id) + 1) if by_id else 0
    # densify: gaps become blank records
    return [(i, *by_id.get(i, ("", None))) for i in range(n)]


#: YAML stores at or above this size get the ``-v`` hint to migrate to
#: the native parquet store (cli._hint_native_migration)
DISTRIBUTED_PARSE_BYTES = 4 << 20


def _arrow_table(rows: list[tuple], arrow_schema):
    import pyarrow as pa

    columns = list(zip(*(record_row(*r) for r in rows))) or [()] * len(arrow_schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )


def rows_to_df(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """Parsed rows -> a RECORDS_SCHEMA or SAVE_BATCH_SCHEMA frame: the
    one place the string triple Spark filters on is derived
    (``convert.record_row``). The frame is handed over as one Arrow
    table, empty or not, so its plan is a JVM-only LocalTableScan;
    ``createDataFrame`` of a list, or of an empty pandas frame,
    parallelizes through a PythonRDD instead, which boots Python
    workers the verb otherwise never uses."""
    from pyspark.sql.pandas.types import to_arrow_schema

    # the Python-side columns are freed before Spark copies the table:
    # alive through the copy, they raised a 20k-record recall's peak RSS
    table = _arrow_table(rows, to_arrow_schema(schema))
    # Spark rebuilds a map column with nested values before the hand-over
    # and, under pyarrow < 17, drops its nulls (SPARK-48302): a record
    # without metadata would read metadata_lists {}. That column is null
    # exactly when metadata, a flat map that keeps its nulls, is. A SQL
    # string, not a Column: PySpark's first Column imports IPython when
    # it is installed (about 26 MB), which here would add to the peak.
    return spark.createDataFrame(table, schema).selectExpr(
        *(
            f"IF(metadata IS NULL, NULL, {n}) AS {n}" if n == "metadata_lists" else n
            for n in schema.names
        )
    )


def read_store(path: str) -> tuple[list[tuple], str]:
    """The parsed rows of the store at ``path`` and the reader that
    parsed them (``_parse_docs``); no rows and ``none`` when there is no
    file."""
    try:
        with open(path, encoding="utf-8") as f:
            text = f.read()
    except FileNotFoundError:
        return [], "none"
    docs, reader = _parse_docs(text)
    return _records(docs), reader


def read_records_yaml(path: str) -> list[tuple]:
    """The parsed rows of the store at ``path``; none when there is no
    file."""
    return read_store(path)[0]


def load_records_yaml(spark: SparkSession, path: str) -> DataFrame:
    return rows_to_df(spark, read_records_yaml(path), RECORDS_SCHEMA)


def str_keys(metadata: dict | None) -> dict[str, Any]:
    """A record's metadata as a filter or ``analyze`` looks one key up,
    as the Spark map does: top-level keys through ``str()`` (an int key 7 becomes
    '7'), values as loaded; ``{}`` for none. The store is written, and a
    whole dict rendered, as loaded."""
    return {str(k): v for k, v in (metadata or {}).items()}


def compact_records(rows: list[tuple]) -> list[tuple]:
    """M5 on parsed rows (memo_cli.py:343-366): drop the blank and the
    tombstoned records (``mutate.is_deleted_record``) and renumber the
    rest 0..n-1 in id order."""
    kept = [
        (body, md)
        for _, body, md in rows
        if not is_blank(body) and not is_deleted_record(md, body)
    ]
    return [(i, *r) for i, r in enumerate(kept)]


def records_to_yaml(rows: list[tuple]) -> str:
    """Canonical multi-doc dump of parsed rows, in their (id) order
    (adapter-scale only)."""
    docs = [
        {"id": rid, "metadata": md or {}, "body": LiteralStr(body or "")}
        for rid, body, md in rows
    ]
    # whole-record mappings never take the "..." marker, so the C
    # emitter's output is byte-identical to safe_dump_all here
    # (test_c_emitter_parity pins it)
    return fast_safe_dump_all(
        docs, explicit_start=True, sort_keys=False, allow_unicode=True
    )


def save_records_yaml(rows: list[tuple], path: str) -> None:
    """Write parsed rows as the canonical store."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(records_to_yaml(rows))


def parse_save_batch_yaml(text: str) -> list[tuple]:
    """Save-batch file -> ``(id or None, body, metadata)`` rows
    (memo_cli.py:369-400): 1+ entries; body non-empty string; optional
    id >= 0; metadata map."""
    parsed, _ = _parse_docs(text)
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
        rows.append((rid, body, metadata or None))
    return rows

