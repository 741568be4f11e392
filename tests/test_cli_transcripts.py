"""Frozen CLI transcripts that need no reference tree.

Each case seeds a YAML store (or none), runs CLI verbs on it in order,
in-process, and after every step records stdout, stderr, the exit code,
the YAML bytes, the index rows of ``<base>.emb`` and whether the index's
fingerprint names the YAML beside it. ``tests/golden/save_reindex.json``
holds the expected transcripts.

The ``save``/``reindex`` cases but ``unit_separator_body`` were recorded
from the Spark-side implementation of the two verbs (``mutate.upsert``/
``compact`` and the pandas-UDF index build), so the driver-side one is
held to its bytes; that case records the one intended change: a body of
only U+001C-U+001F is blank, as it is to Python's ``\\s`` and to the
reference.

The ``analyze_*`` and ``recall_filter_yaml_reindex`` cases were recorded
while each parsed row still carried a per-key YAML dump of its metadata
for rendering, so the code that renders from the loaded dicts is held
to its bytes, except three re-recorded ``--stats`` cases:
``analyze_stats_unicode_list`` and ``analyze_stats_map`` print list and
map values as ``fmt.format_cell`` does (``--fields`` prints them so
too), and ``analyze_stats_null`` drops null values before counting, as
the reference does. ``analyze_fields``, ``analyze_stats_metadata`` and
``recall_filter_yaml_reindex`` were re-recorded when the store came to
be written, and a whole metadata dict rendered, as loaded: the int key
7 stays ``7``, where it had become ``'7'`` (``int_and_str_key`` holds
both beside each other). ``int_key_filter`` was recorded when a
filter's int key (``7: int key``) came to be looked up as the map's
str() key; it had ended in an AnalysisException.

``filter_errors``, ``recall_filter_operators`` and the two
``analyze_stats_*_strings`` cases were recorded from the Spark-side
``recall``/``analyze`` (``filters.compile_filter`` and Spark's casts),
and every other case passed unchanged when both verbs moved into the
CLI's process. Two cases were then re-recorded, for four steps where the
ranges now parse values as the reference does, with ``float(str(v))``
and ``datetime.fromisoformat`` (SURVEY §1.2, §2.5 A5/A6): ``'1_000'`` is
a number and ``'1d'`` is not (Spark's cast read them the other way), and
``'20260115'`` is a date and ``'2026'`` is not (the same).

Re-record cases (all, or the named ones) with the package that
``PYTHONPATH`` points at:

    PYTHONPATH=. python tests/test_cli_transcripts.py --record [NAME ...]
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import sys
import tempfile

import pytest
from test_cli_golden_r5 import TYPED_DB_YAML

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden", "save_reindex.json")

_STORE = """\
---
id: 0
metadata:
  source: user
  tags: [food, personal]
  ts: '2026-01-15'
body: |-
  remember the pasta recipe
---
id: 1
metadata:
  source: user
  priority: 2
body: |-
  dark mode preferred
---
id: 2
metadata: {}
body: |-
  rotate the api keys quarterly
---
id: 3
metadata:
  source: chat
  when: 2026-03-10
body: |-
  book flights for the offsite
"""

_GAP_STORE = """\
---
id: 0
body: first
---
id: 1
metadata: {lang: en}
body: second
---
id: 3
body: after a gap
"""

# the metadata forms of test_mutate.py::test_is_deleted_python_falsy_forms;
# a record is a tombstone when bool(metadata['deleted']) is true
_DELETED_FORMS = ["0.0", "-0.0", "[]", "{}", "'false'", "''", ".nan", "0",
                  "2.5", "false", "true", "'None'", "null"]
_FALSY_STORE = "".join(
    f"---\nid: {i}\nmetadata:\n  deleted: {v}\n  n: {i}\nbody: record {i}\n"
    for i, v in enumerate(_DELETED_FORMS)
)

_BODY_STORE = """\
---
id: 0
body: 'deleted: true'
---
id: 1
body: 'deleted: 2001-99-99'
---
id: 2
body: "\\xA0"
---
id: 3
body: 'deleted: false'
---
id: 4
body: 'just a body with: colon'
---
id: 5
body: plain body text
"""

_UNIT_SEPARATOR_STORE = """\
---
id: 0
body: alpha note
---
id: 1
body: "\\x1C"
---
id: 2
body: beta note
---
id: 3
body: " \\x1F "
"""

# test_cli_golden_r5's typed store, an id gap (4), then: an int key, a
# null beside numbers (``a``), non-ASCII and non-BMP list and map values
# (``uni``, ``umap``), the lists whose str() and YAML renderings differ
# (``l``), ISO date strings (``ts``) and a record with no metadata
_ANALYZE_STORE = TYPED_DB_YAML + """\
---
id: 5
metadata:
  source: user
  7: int key
  a: 3
  n: 3
  l: [1]
  uni: [caf\u00e9, b]
  umap: {\u043a\u043b\u044e\u0447: \u0437\u043d\u0430\u0447\u0435\u043d\u0438\u0435, e: "\U0001F600"}
  ts: '2026-01-15'
body: |-
  int key and unicode record
---
id: 6
metadata:
  source: user
  a: null
  n: 2.5
  l: ['1']
  uni: ["\U0001F600 smile", caf\u00e9]
  ts: '2026-02-01T10:00:00Z'
body: |-
  null value record
---
id: 7
metadata:
  source: user
  a: 5
  n: 4
  l: [1.0]
  umap: {\u043a\u043b\u044e\u0447: \u0434\u0440\u0443\u0433\u043e\u0435}
body: |-
  float list record
---
id: 8
metadata:
  source: user
  l: [true]
  uni: [caf\u00e9, b]
  umap: {\u043a\u043b\u044e\u0447: \u0437\u043d\u0430\u0447\u0435\u043d\u0438\u0435, e: "\U0001F600"}
body: |-
  bool list record
---
id: 9
metadata:
  source: chat
  l: ['true']
body: |-
  string list record
---
id: 10
body: |-
  record with no metadata
"""

_ALL_USER = ("analyze", "--filter", "source: user")

# an int key beside the str key it prints as: both survive a rewrite and
# a whole-dict cell, while a key is looked up as the filter sees it
# (str(), where the str key's value wins)
_KEY_COLLISION_STORE = """\
---
id: 0
metadata:
  7: int key
  '7': str key
  lang: en
body: |-
  colliding keys
---
id: 1
metadata: {lang: en}
body: |-
  plain record
"""

# values of different types whose str() or format_cell renderings
# coincide: --stats counts a value by its format_cell rendering
_MIXED_STORE = "".join(
    f"---\nid: {i}\nmetadata: {{source: user, k: {v}}}\nbody: mixed {i}\n"
    for i, v in enumerate([
        "{a: 1}", "\"{'a': 1}\"", "[1]", "'[1]'", "1", "'1'",
        "[true]", "'[True]'", "[a]", "\"['a']\"", "'[a]'",
    ])
)

# per key, two string values: the first one is numeric-looking or
# date-like to one parser and not to another
_STRING_STATS = {
    "under": ["'1_000'", "'2'"],
    "dsuf": ["'1d'", "'2'"],
    "pad": ["' 7 '", "'3'"],
    "year": ["'2026'", "'2026-01-02'"],
    "spaced": ["'2026-01-15 10:00'", "'2026-01-16'"],
    "tz": ["'2026-01-15T10:00:00+05:00'", "'2026-01-14'"],
    "tzlate": ["'2026-01-15T02:00:00+05:00'", "'2026-01-16'"],
    "basic": ["'20260115'", "'2026-01-16'"],
}
_STRING_STATS_STORE = "".join(
    f"---\nid: {i}\nmetadata:\n  source: user\n"
    + "".join(f"  {k}: {vs[i]}\n" for k, vs in _STRING_STATS.items())
    + f"body: string values {i}\n"
    for i in range(2)
)


#: name -> (seed store text or None, steps); a ``save`` step is
#: ``("save", <batch text>)``, any other step is the verb's argv
CASES = {
    "append_and_overwrite": (_STORE, [
        ("save", "- body: new note about pasta sauce\n  metadata: {source: chat, n: 7}\n"
                 "- id: 1\n  body: overwritten preference\n  metadata: {source: system}\n"
                 "- body: appended without metadata\n"),
        ("recall", "-k", "3", "pasta"),
        ("reindex",),
    ]),
    "duplicate_overwrite_last_wins": (_STORE, [
        ("save", "- id: 2\n  body: first write\n"
                 "- body: an append between\n"
                 "- id: 2\n  body: second write wins\n  metadata: {v: 2}\n"),
    ]),
    "bad_overwrite_blank_gap": (_GAP_STORE, [
        ("save", "- body: ok append\n- id: 0\n  body: fine\n"
                 "- id: 2\n  body: target is a blank gap\n- body: never echoed\n"),
    ]),
    "bad_overwrite_past_end": (_GAP_STORE, [
        ("save", "- id: 1\n  body: fine\n- id: 4\n  body: one past the end\n"),
    ]),
    "save_into_missing_store": (None, [
        ("save", "- id: 0\n  body: nothing to overwrite\n"),
        ("save", "- body: first memory\n  metadata: {lang: en}\n---\nbody: second memory\n"),
        ("reindex",),
    ]),
    "reindex_missing_store": (None, [
        ("reindex",),
        ("recall", "-k", "3", "anything"),
    ]),
    "reindex_all_blank": ("---\nid: 0\nbody: ''\n---\nid: 2\nbody: '   '\n", [
        ("reindex",),
        ("save", "- body: the only memory\n"),
    ]),
    "metadata_falsy_forms": (_FALSY_STORE, [
        ("reindex",),
        ("save", "- id: 0\n  body: overwrite survives\n"),
    ]),
    "body_tombstones": (_BODY_STORE, [
        ("recall", "-k", "10", "body"),
        ("reindex",),
    ]),
    "unit_separator_body": (_UNIT_SEPARATOR_STORE, [
        ("recall", "-k", "10", "--yaml", "note"),
        ("save", "- id: 1\n  body: overwrite of a separator-only body\n"),
        ("reindex",),
    ]),
    "analyze_fields": (_ANALYZE_STORE, [
        _ALL_USER,
        (*_ALL_USER, "--fields", "id,7,a,l,uni,umap,cfg,when,ts,metadata"),
        (*_ALL_USER, "--fields", "id,uni,metadata", "--limit", "2", "--offset", "3"),
        ("analyze", "--filter", "source: nobody"),
    ]),
    "analyze_stats_id": (_ANALYZE_STORE, [(*_ALL_USER, "--stats", "id")]),
    "analyze_stats_metadata": (_ANALYZE_STORE, [(*_ALL_USER, "--stats", "metadata")]),
    "analyze_stats_list": (_ANALYZE_STORE, [
        ("analyze", "--filter", "$or: [{source: user}, {source: chat}]", "--stats", "l"),
    ]),
    "analyze_stats_unicode_list": (_ANALYZE_STORE, [(*_ALL_USER, "--stats", "uni")]),
    "analyze_stats_map": (_ANALYZE_STORE, [(*_ALL_USER, "--stats", "umap")]),
    "analyze_stats_date": (_ANALYZE_STORE, [
        (*_ALL_USER, "--stats", "ts"),
        (*_ALL_USER, "--stats", "when"),
    ]),
    "analyze_stats_numeric": (_ANALYZE_STORE, [(*_ALL_USER, "--stats", "n")]),
    "analyze_stats_null": (_ANALYZE_STORE, [(*_ALL_USER, "--stats", "a")]),
    "analyze_stats_mixed_types": (_MIXED_STORE, [
        (*_ALL_USER, "--stats", "k"),
        (*_ALL_USER, "--fields", "id,k"),
    ]),
    "analyze_missing_store": (None, [_ALL_USER]),
    "int_and_str_key": (_KEY_COLLISION_STORE, [
        ("reindex",),
        ("save", "- id: 1\n  body: overwritten plain record\n  metadata: {lang: en}\n"),
        ("analyze", "--filter", "lang: en", "--fields", "id,7,metadata"),
        ("analyze", "--filter", "lang: en", "--stats", "metadata"),
        ("recall", "-k", "2", "--filter", "lang: en", "--yaml", "keys"),
    ]),
    "int_key_filter": (_ANALYZE_STORE, [
        ("analyze", "--filter", "7: int key", "--fields", "id,7,source"),
        ("analyze", "--filter", "'7': int key", "--fields", "id,7"),
        ("analyze", "--filter", "7: {$ne: str key}", "--stats", "7"),
        ("recall", "-k", "2", "--filter", "7: int key", "--yaml", "record"),
        ("recall", "-k", "2", "--filter", "$or: [{7: int key}, {source: chat}]", "record"),
    ]),
    "filter_errors": (_STORE, [
        ("recall", "-k", "2", "--filter", "source: [", "pasta"),
        ("recall", "--filter", "- a", "--yaml", "pasta"),
        ("analyze", "--filter", "source: ["),
        ("analyze", "--filter", "[a, b]", "--stats", "source"),
    ]),
    "recall_filter_operators": (_ANALYZE_STORE, [
        ("recall", "-k", "20", "--filter", "n: {$gte: 3}", "--yaml", "record"),
        ("recall", "-k", "20", "--filter", "n: {$lte: '3'}", "--yaml", "record"),
        ("recall", "-k", "20", "--filter", "source: {$prefix: us}", "--yaml", "record"),
        ("recall", "-k", "20", "--filter", "nums: {$contains: 1}", "record"),
        ("recall", "-k", "20", "--filter",
         "$and: [{source: user}, {n: {$gte: 2.5}}, {l: {$ne: 1}}]", "--yaml", "record"),
        ("recall", "-k", "20", "--filter",
         "$or: [{uni: café}, {l: {$contains: 'true'}}, {a: {$bogus: 1}}]", "--yaml", "record"),
        ("recall", "-k", "20", "--filter", "$and: {source: user}", "--yaml", "record"),
    ]),
    "analyze_stats_numeric_strings": (_STRING_STATS_STORE, [
        (*_ALL_USER, "--stats", k) for k in ("under", "dsuf", "pad")
    ]),
    "analyze_stats_date_strings": (_STRING_STATS_STORE, [
        (*_ALL_USER, "--stats", k) for k in ("year", "spaced", "tz", "tzlate", "basic")
    ]),
    "recall_filter_yaml_reindex": (_ANALYZE_STORE, [
        ("recall", "-k", "4", "--filter", "source: user", "--yaml", "record"),
        ("reindex",),
        ("recall", "-k", "4", "--filter", "source: user", "--yaml", "record"),
    ]),
}


def _index_rows(emb_path: str):
    """(id, nonzero (slot, count) pairs) of every index row, by id."""
    import pyarrow.parquet as pq

    if not os.path.isdir(emb_path):
        return None
    table = pq.read_table(emb_path).to_pydict()
    rows = sorted(zip(table["id"], table["vec"]))
    return [[i, [[j, v] for j, v in enumerate(vec) if v]] for i, vec in rows]


def _fingerprint_ok(yaml_path: str, emb_path: str):
    try:
        with open(os.path.join(emb_path, "_SOURCE_SHA256")) as f:
            recorded = f.read()
        with open(yaml_path, "rb") as f:
            return recorded == hashlib.sha256(f.read()).hexdigest()
    except OSError:
        return None


def run_case(name: str) -> list[dict]:
    """Run one case in a fresh directory; one transcript dict per step."""
    from c99_vectordb_spark import cli

    store, steps = CASES[name]
    out = []
    with tempfile.TemporaryDirectory() as tmp:
        base = os.path.join(tmp, "memo")
        yaml_path, emb_path = base + ".yaml", base + ".emb"
        if store is not None:
            with open(yaml_path, "w", encoding="utf-8") as f:
                f.write(store)
        for step in steps:
            argv = list(step)
            if step[0] == "save":
                batch = os.path.join(tmp, "batch.yaml")
                with open(batch, "w", encoding="utf-8") as f:
                    f.write(step[1])
                argv = ["save", batch]
            stdout, stderr = io.StringIO(), io.StringIO()
            with contextlib.redirect_stdout(stdout), contextlib.redirect_stderr(stderr):
                rc = cli.main(["-f", base, *argv])
            try:
                with open(yaml_path, encoding="utf-8") as f:
                    yaml_text = f.read()
            except FileNotFoundError:
                yaml_text = None
            out.append({
                "argv": list(step),
                "stdout": stdout.getvalue().replace(tmp, "<tmp>"),
                "stderr": stderr.getvalue().replace(tmp, "<tmp>"),
                "rc": rc,
                "yaml": yaml_text,
                "index": _index_rows(emb_path),
                "fingerprint_ok": _fingerprint_ok(yaml_path, emb_path),
            })
    return out


def _golden() -> dict:
    with open(GOLDEN, encoding="utf-8") as f:
        return json.load(f)


def test_golden_covers_every_case():
    assert sorted(_golden()) == sorted(CASES)


@pytest.mark.parametrize("name", sorted(CASES))
def test_transcript_matches_golden(name):
    want = _golden()[name]
    got = run_case(name)
    assert len(got) == len(want)
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"{name} step {i} {w['argv'][0]}"


def _record(names: list[str]) -> None:
    golden = _golden() if os.path.exists(GOLDEN) else {}
    for name in names or sorted(CASES):
        golden[name] = run_case(name)
        print(f"recorded {name}: rc {[s['rc'] for s in golden[name]]}")
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump({k: golden[k] for k in sorted(golden)}, f, indent=1, ensure_ascii=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:2] != ["--record"]:
        raise SystemExit(__doc__)
    _record(sys.argv[2:])
