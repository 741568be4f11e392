"""The canonical YAML reader (``yaml_io.read_canonical_yaml``) returns
exactly the documents ``yaml.safe_load_all`` returns, or declines; and
the CLI's ``-v`` reports which reader parsed the store."""

from __future__ import annotations

import datetime as dt
import math
import re

import pytest
import yaml
from hypothesis import given, settings
from hypothesis import strategies as st

from c99_vectordb_spark import cli
from c99_vectordb_spark.sources import yaml_io


def _same(a, b) -> bool:
    """Equal with the same types throughout (bool is not int, date is
    not str) and the same key order; NaN equals NaN."""
    if type(a) is not type(b):
        return False
    if isinstance(a, dict):
        return list(map(type, a)) == list(map(type, b)) and all(
            _same(ka, kb) and _same(a[ka], b[kb]) for ka, kb in zip(a, b)
        ) and len(a) == len(b)
    if isinstance(a, list):
        return len(a) == len(b) and all(map(_same, a, b))
    if isinstance(a, float) and math.isnan(a):
        return math.isnan(b)
    return a == b


def _safe_load_all(text: str):
    """``yaml.safe_load_all``'s documents, or the error it raises."""
    try:
        return list(yaml.safe_load_all(text))
    except Exception as e:  # noqa: BLE001 — a constructor raises ValueError too
        return e


def _check(text: str) -> bool:
    """The reader declines ``text`` or returns safe_load_all's documents,
    type-exactly; True when it accepted."""
    got = yaml_io.read_canonical_yaml(text)
    if got is None:
        return False
    want = _safe_load_all(text)
    assert not isinstance(want, Exception), f"accepted what safe_load_all rejects: {text!r}"
    assert _same(got, want), f"{text!r}: {got!r} != {want!r}"
    return True


# strings a YAML 1.1 resolver reads as something else, and strings a
# plain scalar cannot hold
_TRICKY = [
    "yes", "No", "on", "null", "~", "Null", "true", "7", "010", "0x1f", "0o7", "1_000",
    "12:30", "-1", "+2", ".inf", "-.inf", ".nan", "1e3", "1.5", "2026-01-15",
    "2026-02-30", "2026-01-15 10:00:00", "2026-01-15T10:00:00Z", "=", "<<",
    "- a", "-x", "a: b", "a:b", "a #b", "a#b", "#a", "'q'", "it's", '"q"', "", " lead",
    "trail ", "a  b", "?x", ":x", "x:", "[a]", "{a: 1}", "&a", "*a", "!x", "|", ">",
    "%x", "@x", "`x", "---", "...", "a\xa0", "\xa0a", "é", "😀", "a\tb", "a\nb",
]
#: text a plain or single-quoted scalar can hold, and text with
#: characters the reader declines
_TEXT = st.one_of(
    st.text(alphabet="ab :#-'\xa0é😀", max_size=12),
    st.text(alphabet="ab :#-'\"\n\t\xa0\x85\u2028\r\x07", max_size=12),
)
_WORDS = st.sampled_from(["en", "zh", "src1", "user", "a b", "x-y", "o'k"])
_KEYS = st.one_of(_WORDS, st.sampled_from(_TRICKY), st.integers(-3, 9), st.booleans(), _TEXT)
_VALUES = st.one_of(
    _WORDS,
    st.sampled_from(_TRICKY),
    st.none(),
    st.booleans(),
    st.integers(),
    st.floats(),
    st.dates(min_value=dt.date(1, 1, 1)),
    st.datetimes(timezones=st.sampled_from([None, dt.timezone.utc])),
    _TEXT,
    st.lists(_WORDS, max_size=2),
)
_BODIES = st.one_of(
    st.sampled_from(["", "one line", "two\nlines", "a\n\nb", "a\n \n  b", "  lead", "x\n"]),
    st.text(alphabet="ab #:-'\n\xa0é😀", max_size=30),
    st.text(alphabet="ab #:-'\n\t\xa0é😀", max_size=30),
)


def test_reader_reads_the_canonical_form_of_each_tricky_scalar():
    """Each tricky string as a metadata key and as a value, written by
    ``records_to_yaml`` and spelled plain: the reader declines or builds
    what safe_load builds, and it does accept the plain spellings that
    resolve to another type."""
    accepted = set()
    for s in _TRICKY:
        for md in ({s: 1}, {"k": s}):
            _check(yaml_io.records_to_yaml([(0, "body", md)]))
        if _check(f"---\nid: 0\nmetadata:\n  {s}: {s}\nbody: |-\n  b\n"):
            accepted.add(s)
    assert {"yes", "null", "~", "7", "010", "0x1f", "1_000", "12:30", ".inf",
            "2026-01-15", "2026-01-15 10:00:00", "a:b", "a#b", "-x"} <= accepted
    assert not {"2026-02-30", "<<", "=", "a #b", "#a", "- a"} & accepted


def test_reader_equals_safe_load_all_on_written_stores():
    """Rows of 400 derandomized hypothesis examples through
    ``records_to_yaml``: the reader's documents equal
    ``yaml.safe_load_all``'s type-exactly, or it declines; and it
    accepts a good share of them."""
    texts = []

    @settings(max_examples=400, deadline=None, derandomize=True, database=None)
    @given(
        rows=st.lists(
            st.tuples(st.one_of(st.none(), st.dictionaries(_KEYS, _VALUES, max_size=3)), _BODIES),
            min_size=1,
            max_size=3,
        )
    )
    def draw(rows):
        texts.append(yaml_io.records_to_yaml([(i, b, md) for i, (md, b) in enumerate(rows)]))

    draw()
    assert sum(map(_check, texts)) >= len(texts) // 4


def test_reader_accepts_most_written_stores():
    """Guards the differential test above from passing by declining:
    stores of plain words, numbers, dates, nulls and multi-line bodies,
    as ``save`` writes them, are read by the canonical reader."""
    rows = [
        (0, "first\n\nthird line", {"lang": "en", "n": 3, "ok": True, "d": dt.date(2026, 1, 2)}),
        (1, "", None),
        (2, "x", {"7": "quoted key", 7: 1.5, "none": None, "when": "2026-01-15"}),
    ]
    assert _check(yaml_io.records_to_yaml(rows))


_BASE = yaml_io.records_to_yaml([
    (0, "hash join\n\non a small table", {"lang": "en", "n": 7, math.nan: "not a number"}),
    (1, "window sort", {"lang": "zh", "when": dt.date(2026, 1, 15)}),
    (2, "", None),
])
_LINES = _BASE.split("\n")[:-1]
_CHARS = ["\r", "\t", "\xa0", "\x85", "\u2028", "\u2029", "\x07", "\x7f", "\ufeff", "\x00"]
_NEW_LINES = [
    "  yes: 1", "  null: x", "  7: y", "  '7': y", "  <<: x", "  =: x", "  lang: again", "  .nan: x",
    "  a: \"q\"", "  a: 'q'", "  a: 'q", "  a: [1]", "  a: {b: 1}", "  a: x # c",
    "  a: !!str 1", "  a: &x 1", "  a: *x", "  a: |-", "  a:", "  a:  x", "   a: x",
    " a: x", "  a: x:", "  - a", "", " ", "  ", "   ", "...", "%YAML 1.1", "# c",
    "--- ", "---", "id: 9", "  continued", "    more",
]
_REPLACED = {
    "id: 0": [
        "id: 010", "id: 0x0", "id: 00", "id: -0", "id: 1_0", "id: '0'", "id: 0 ",
        "id: " + "1" * 5000,
    ],
    "metadata: {}": ["metadata: ", "metadata: []", "metadata:", "metadata: ~"],
    "body: ''": ["body: \"\"", "body: |", "body: |2-", "body: x", "body: |+"],
}


def _edits():
    """The texts of single-line edits of a canonical store."""
    for i, line in enumerate(_LINES):
        for ch in _CHARS:
            for at in (0, len(line) // 2, len(line)):
                yield _LINES[:i] + [line[:at] + ch + line[at:]] + _LINES[i + 1 :]
        for new in _REPLACED.get(line, []):
            yield _LINES[:i] + [new] + _LINES[i + 1 :]
    for i in range(len(_LINES) + 1):
        for new in _NEW_LINES:
            yield _LINES[:i] + [new] + _LINES[i:]


def _outcome(parse, text: str):
    try:
        return parse(text)
    except Exception as e:  # noqa: BLE001 — the CLI prints any load error
        return type(e), str(e)


def test_single_line_edits_decline_or_match():
    """Every single-line edit of a canonical store: the reader declines
    or equals safe_load_all, and ``parse_records_yaml`` gives the rows
    or the one-line error the libyaml path alone gives."""
    assert _check(_BASE)
    n = accepted = 0
    for lines in _edits():
        text = "\n".join(lines) + "\n"
        accepted += _check(text)
        n += 1
        want = _outcome(
            lambda t: yaml_io._records(
                [d for d in yaml_io.fast_safe_load_all(t) if d is not None]
            ),
            text,
        )
        got = _outcome(yaml_io.parse_records_yaml, text)
        assert got == want if isinstance(want, tuple) else _same(got, want), repr(text)
    # some edits keep the canonical form (an NBSP, a new plain key)
    assert 0 < accepted < n


@pytest.mark.parametrize(
    "metadata",
    [
        {"tags": ["a", "b"]},
        {"note": " ".join(["word"] * 20)},
        {"m": {"a": 1}},
        {"tags": []},
        {"m": {}},
    ],
    ids=["list", "wrapped", "nested", "empty-list", "empty-map"],
)
def test_written_store_without_one_line_scalars_declines_on_its_form(
    monkeypatch, metadata
):
    """A store ``records_to_yaml`` writes with a list value, a value past
    the emitter's 80 columns (which it wraps), a nested mapping or an
    empty flow collection in its last record declines before any scalar
    is built, so the libyaml parse that follows pays only the regex pass
    on top."""
    rows = [(i, f"body {i}", {"lang": "en", "n": i}) for i in range(3)]
    rows[-1] = (2, "body 2", {"lang": "en", **metadata})
    text = yaml_io.records_to_yaml(rows)

    def no_loader(*args):
        raise AssertionError("built a scalar before declining")

    monkeypatch.setattr(yaml_io.yaml, "SafeLoader", no_loader)
    assert yaml_io.read_canonical_yaml(text) is None
    monkeypatch.undo()
    assert yaml_io.parse_records_yaml(text) == yaml_io._records(
        list(yaml.safe_load_all(text))
    )


def _write(path, text: str) -> str:
    path.parent.mkdir(exist_ok=True)
    path.write_text(text, encoding="utf-8")
    return str(path)


_PARSE_LINE = r"parse: read {n} records from {path} in \d+\.\d\d s \((canonical|libyaml)\)"


@pytest.mark.parametrize(
    "argv",
    [
        ["recall", "-k", "2", "--filter", "lang: en", "hash join"],
        ["analyze", "--filter", "lang: en", "--stats", "lang"],
        ["save", "BATCH"],
        ["reindex"],
    ],
    ids=["recall", "analyze", "save", "reindex"],
)
def test_verbose_parse_line(tmp_path, capsys, argv):
    """``-v`` on a verb that reads the store adds one ``parse:`` line to
    stderr and leaves stdout and the files as the plain run leaves
    them. A store that ``save`` and then ``reindex`` wrote with
    plain-word metadata is read by the canonical reader."""
    batch = _write(tmp_path / "batch.yaml", (
        "- body: hash join on a small table\n  metadata: {lang: en, n: 3}\n"
        "- body: window sort\n  metadata: {lang: zh, n: 1}\n"
        "- body: |-\n    a note\n\n    on two lines\n  metadata: {lang: en, ok: yes}\n"
    ))
    argv = [batch if a == "BATCH" else a for a in argv]
    runs = []
    for flags in ([], ["-v"]):
        base = str(tmp_path / ("verbose" if flags else "plain") / "db")
        _write(tmp_path / ("verbose" if flags else "plain") / "db.yaml", "")
        assert cli.main(["-f", base, "save", batch]) == 0
        assert cli.main(["-f", base, "reindex"]) == 0
        capsys.readouterr()
        assert cli.main([*flags, "-f", base, *argv]) == 0
        out, err = capsys.readouterr()
        with open(base + ".yaml", "rb") as f:
            runs.append((out, err, f.read(), base))
    (plain_out, plain_err, plain_yaml, _), (out, err, yaml_bytes, base) = runs
    assert out == plain_out and yaml_bytes == plain_yaml and plain_err == ""
    lines = [ln for ln in err.splitlines() if ln.startswith("parse: ")]
    assert len(lines) == 1, err
    m = re.fullmatch(_PARSE_LINE.format(n=3, path=re.escape(base + ".yaml")), lines[0])
    assert m and m[1] == "canonical", lines


def test_verbose_parse_line_names_the_libyaml_reader(tmp_path, capsys):
    """A store the canonical reader declines (a flow mapping) is read by
    libyaml, and ``-v`` says so."""
    base = str(tmp_path / "db")
    _write(tmp_path / "db.yaml", "---\nid: 0\nmetadata: {lang: en}\nbody: |-\n  x\n")
    assert cli.main(["-v", "-f", base, "analyze", "--filter", "lang: en"]) == 0
    err = capsys.readouterr().err
    assert re.search(_PARSE_LINE.format(n=1, path=re.escape(base + ".yaml")), err)
    assert "(libyaml)" in err
