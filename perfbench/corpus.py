"""Seeded inputs for the memo workloads, their expected answers, and the
check of the program's output against them.

Everything here is pure Python and independent of the package under
test: the database and the recall query are derived from the seed
alone, and the expected top-k is a brute force over the same generated
records. The program under test only ever sees the YAML file and argv.
"""

from __future__ import annotations

import functools
import math
import random
import re

import yaml

#: embedding spec of the memo store (``hashing.embed_text_int``): signed
#: hashing-trick bag of words over lowercased ``[a-z0-9_]+`` tokens,
#: polynomial rolling hash, bucket ``h % 384``, sign ``+1`` for odd ``h``
DIM = 384
HASH_MOD = 1_000_000_007
HASH_BASE = 31
TOKEN_RE = re.compile(r"[a-z0-9_]+")

#: The generator reproduces the measured shape of the memo corpus in the
#: repository's test data, ``documents.parquet`` at sf0.1 (5,000 rows,
#: columns doc_id, text, lang, source, n_chars), which is not part of a
#: checkout, so its statistics are recorded here:
#: - every body word is one of these 30, drawn uniformly (each occurs
#:   8,829-9,182 times in 270,704 words);
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window",
)
#: - a body has 10 to 100 words, uniformly (deciles 19, 28, ..., 90);
WORDS_PER_BODY = (10, 100)
#: - 250 of the 5,000 (5%) are near-duplicates: an earlier body with the
#:   word ``dup`` appended;
DUP_SHARE = 0.05
DUP_WORD = "dup"
#: - languages in these counts (so a ``lang: en`` filter keeps 41%);
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (2059, 753, 744, 742, 702)
#: - the source is ``src{id % 20}``, and n_chars the body's length.
N_SOURCES = 20
#: recall filters on the most common language, so every seed scores
#: about the same share of the database
RECALL_LANG = "en"
RECALL_K = 10
#: recall scores are doubles; the program and the brute force may round
#: the last bits differently
SCORE_TOL = 1e-9


def make_records(seed: int, n: int) -> list[tuple[str, str, str]]:
    """``n`` records as (body, lang, source); a record's id is its index."""
    rng = random.Random(f"records-{seed}-{n}")
    records = []
    for i in range(n):
        if records and rng.random() < DUP_SHARE:
            body = f"{rng.choice(records)[0]} {DUP_WORD}"
        else:
            body = " ".join(rng.choices(VOCAB, k=rng.randint(*WORDS_PER_BODY)))
        records.append((body, rng.choices(LANGS, LANG_WEIGHTS)[0], f"src{i % N_SOURCES}"))
    return records


def records_yaml(records: list[tuple[str, str, str]]) -> str:
    """The canonical multi-document stream the memo store writes: one
    ``---`` document per record, metadata ``lang``, ``source`` and
    ``n_chars`` in that order, the body as a literal block scalar."""
    return "".join(
        f"---\nid: {i}\nmetadata:\n  lang: {lang}\n  source: {source}\n"
        f"  n_chars: {len(body)}\nbody: |-\n  {body}\n"
        for i, (body, lang, source) in enumerate(records)
    )


def make_query(seed: int, records: list[tuple[str, str, str]]) -> str:
    """Three words of one record in the recall language plus one
    random word, so the answer is neither empty nor a trivial exact
    match."""
    rng = random.Random(f"query-{seed}-{len(records)}")
    probe = rng.choice([body for body, lang, _ in records if lang == RECALL_LANG])
    return " ".join(rng.sample(probe.split(), 3) + [rng.choice(VOCAB)])


def recall_argv(query: str) -> list[str]:
    return ["-k", str(RECALL_K), "--filter", f"lang: {RECALL_LANG}", "--yaml", query]


# -- the brute-force answer ---------------------------------------------------

@functools.lru_cache(maxsize=None)
def _token_hash(token: str) -> int:
    h = 0
    for ch in token:
        h = (h * HASH_BASE + ord(ch)) % HASH_MOD
    return h


def embed_sparse(text: str) -> dict[int, int]:
    vec: dict[int, int] = {}
    for tok in TOKEN_RE.findall(text.lower()):
        h = _token_hash(tok)
        b = h % DIM
        vec[b] = vec.get(b, 0) + (1 if h & 1 else -1)
    return vec


def recall_score(query: dict[int, int], doc: dict[int, int]) -> float:
    """Recall's score: 2 - 2·cos over the integer count vectors, 1.0
    against a zero vector (0.0 if both are zero)."""
    qnorm = math.sqrt(sum(w * w for w in query.values()))
    n2 = sum(w * w for w in doc.values())
    if qnorm <= 1e-8:
        return 0.0 if n2 == 0 else 1.0
    if n2 == 0:
        return 1.0
    dot = sum(w * doc.get(b, 0) for b, w in query.items())
    return 2.0 - 2 * (float(dot) / (math.sqrt(float(n2)) * qnorm))


def recall_hits(records: list[tuple[str, str, str]], query: str) -> list[tuple[int, float, str]]:
    """Top-k (id, score, body) over the records in the recall language,
    by score and then id, as recall ranks them."""
    q = embed_sparse(query)
    ranked = sorted(
        (recall_score(q, embed_sparse(body)), i, body)
        for i, (body, lang, _) in enumerate(records)
        if lang == RECALL_LANG and body.strip()
    )
    return [(i, score, body) for score, i, body in ranked[:RECALL_K]]


def check_recall(expected: list[tuple[int, float, str]], stdout: str) -> str | None:
    """None when ``recall --yaml`` printed the brute-force top-k ids in
    order, with their bodies and their scores to within SCORE_TOL; else
    the reason."""
    try:
        got = yaml.safe_load(stdout)["results"]
        got = [(int(h["id"]), float(h["score"]), h["body"]) for h in got]
    except (yaml.YAMLError, TypeError, KeyError, ValueError) as e:
        return f"recall stdout is not a results list: {e}"
    want_ids = [h[0] for h in expected]
    if [h[0] for h in got] != want_ids:
        return f"recall ids {[h[0] for h in got]} != brute force {want_ids}"
    for (i, score, body), (_, want_score, want_body) in zip(got, expected):
        if abs(score - want_score) > SCORE_TOL or body != want_body:
            return f"recall hit {i}: score {score} or body differs from the brute force"
    return None
