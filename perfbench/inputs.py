"""Seeded inputs. The program under test receives only what these
functions generate: transcripts from `corpus.gen_conversation` (the same
pure function of (seed, conversation index) that backs
`corpus.gen_corpus_spark`), query logs drawn from those transcripts, and
the doc_ids to delete. The same seed gives the same inputs.
"""

from __future__ import annotations

import bisect
import itertools
import random
import re
from collections import Counter
from dataclasses import dataclass
from urllib.parse import urlencode

import pandas as pd

from apt_search_engine_spark.analysis.stopwords import STOPWORDS
from apt_search_engine_spark.config import make_doc_id
from apt_search_engine_spark.corpus import gen_conversation


@dataclass(frozen=True)
class Size:
    search_convs: int  # corpus of the served index on `search`
    stream_convs: int  # corpus streamed into the index on `stream`/`ingest`
    inc_convs: int  # conversations landed per `ingest` cycle
    deletes: int  # doc_ids tombstoned by `stream` / per `ingest` cycle
    reads_per_phase: int  # requests of one closed-loop read phase
    oracle_checks: int  # responses compared with tests/oracle.py


SIZES = {
    "full": Size(100, 100, 20, 3, 8, 4),
    "tiny": Size(12, 8, 3, 2, 8, 2),
}

_WORD = re.compile(r"[a-z]{3,}")
# document-frequency band of query words (see _pairs_and_words)
MID_DF = (2, 40)


def conversations(lo: int, hi: int, seed: int) -> pd.DataFrame:
    """Turns of conversations lo..hi-1, in the TRANSCRIPTS column order."""
    rows = []
    for i in range(lo, hi):
        rows.extend(gen_conversation(i, seed))
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].str.len().sum())


def _tokens(text: str) -> list[str]:
    """Raw whitespace tokens that are plain index words: alphabetic, at
    least 3 letters, not stopwords. Runs of these are adjacent in the
    text, so a pair drawn from one run is a matching phrase."""
    return [
        w if _WORD.fullmatch(w) and w not in STOPWORDS else ""
        for w in text.split()
    ]


def _pairs_and_words(pdf: pd.DataFrame):
    """Adjacent word pairs and words of the corpus, both restricted to
    words in MID_DF turns: query cost then follows the engine's fixed
    per-query work, not which head term a seed happened to draw."""
    toks = [_tokens(text) for text in pdf["text"]]
    df = Counter(w for ts in toks for w in set(ts) if w)
    lo, hi = MID_DF
    mid = {w for w, n in df.items() if lo <= n <= hi}
    pairs = sorted({(a, b) for ts in toks for a, b in zip(ts, ts[1:])
                    if a in mid and b in mid and a != b})
    return pairs, sorted(mid)


def _edit(rng: random.Random, w: str) -> str:
    """One substitution (a fuzzy `~1` probe)."""
    i = rng.randrange(len(w))
    c = rng.choice([x for x in "aeiou" if x != w[i]])
    return w[:i] + c + w[i + 1:]


def _oov(rng: random.Random) -> str:
    """A word outside the generator's syllable vocabulary (only CV syllables
    are generated, so a double consonant never occurs)."""
    return "".join(rng.choice("bdfgklmnprstvz") * 2 + rng.choice("aeiou")
                   for _ in range(3))


# Families of the `search` mix, each one request per round in this order,
# so every run of any seed has the same family composition.
SEARCH_FAMILIES = (
    "free", "phrase", "phrase_and", "bm25", "prefix", "page", "phrase_or",
    "wildcard", "fuzzy", "near", "oov", "phrase_not", "sloppy",
)
# Families answered by the reference route and checked against the oracle.
ORACLE_FAMILIES = {"free", "phrase", "phrase_and", "phrase_or",
                   "phrase_not", "page"}


def _request(family: str, rng: random.Random, pairs, words) -> tuple[str, dict]:
    def pair():
        return rng.choice(pairs)

    def word():
        return rng.choice(words)

    def two_words():
        a = word()
        b = word()
        while b == a:
            b = word()
        return f"{a} {b}"

    params: dict = {}
    if family == "free":
        q = two_words()
    elif family == "phrase":
        q = '"%s %s"' % pair()
    elif family in ("phrase_and", "phrase_or", "phrase_not"):
        op = family.split("_")[1].upper()
        q = '"%s %s" %s "%s %s"' % (*pair(), op, *pair())
    elif family == "bm25":
        q = two_words()
        params["scorer"] = "bm25"
    elif family == "prefix":
        q = word()[:4] + "*"
    elif family == "wildcard":
        w = word()
        i = rng.randrange(1, len(w))
        q = w[:i] + "?" + w[i + 1:]
    elif family == "fuzzy":
        q = _edit(rng, word()) + "~1"
    elif family == "near":
        a, b = pair()
        q = f"{a} NEAR/{rng.randint(2, 5)} {b}"
    elif family == "sloppy":
        q = '"%s %s"~%d' % (*pair(), rng.randint(1, 3))
    elif family == "page":
        q = two_words()
        params["page"] = rng.randint(2, 5)
    elif family == "oov":
        q = f"{_oov(rng)} {_oov(rng)}"
    else:
        raise ValueError(family)
    return q, params


@dataclass(frozen=True)
class Req:
    family: str
    query: str
    params: tuple

    @property
    def path(self) -> str:
        return "/search?" + urlencode({"query": self.query, **dict(self.params)})

    @property
    def page(self) -> int:
        return int(dict(self.params).get("page", 1))


def search_log(pdf: pd.DataFrame, seed: int, rounds: int) -> list[Req]:
    """`rounds` rounds of SEARCH_FAMILIES; every request line is distinct,
    so serve's response cache never hits."""
    rng = random.Random(f"search-{seed}")
    pairs, words = _pairs_and_words(pdf)
    seen, out = set(), []
    for _ in range(rounds):
        for fam in SEARCH_FAMILIES:
            for _try in range(100):
                q, params = _request(fam, rng, pairs, words)
                r = Req(fam, q, tuple(sorted(params.items())))
                if r.path not in seen:
                    seen.add(r.path)
                    out.append(r)
                    break
    return out


def hot_log(pdf: pd.DataFrame, seed: int, repeat_every: int = 4,
            gap: int = 8, zipf_s: float = 1.1):
    """Endless log of BM25 free-text requests. Every `repeat_every`-th
    request repeats an earlier query, Zipf-weighted towards the earliest
    (hottest) ones, sent at least `gap` requests before so that concurrent
    clients have finished it; the rest are new queries. The hit share is
    thus fixed, and the distinct queries of a run stay fewer than serve's
    256-entry LRU."""
    rng = random.Random(f"hot-{seed}")
    _, words = _pairs_and_words(pdf)
    queries: list[str] = []
    seen: set[str] = set()
    cum: list[float] = []  # cumulative Zipf weights of `queries`
    for i in itertools.count():
        if i % repeat_every == repeat_every - 1 and i >= gap:
            done = len(queries) - gap + gap // repeat_every
            x = rng.random() * cum[done - 1]
            q = queries[bisect.bisect_right(cum, x, 0, done)]
        else:
            q = ""
            while not q or q in seen:
                a, b = rng.choice(words), rng.choice(words)
                q = f"{a} {b}" if a != b else ""
            queries.append(q)
            seen.add(q)
            cum.append((cum[-1] if cum else 0.0) + len(queries) ** -zipf_s)
        yield Req("bm25", q, (("scorer", "bm25"),))


def pick_doc_ids(pdf: pd.DataFrame, seed: int, n: int, salt: str) -> list[str]:
    """`n` seeded doc_ids of non-empty turns in `pdf`."""
    rng = random.Random(f"{salt}-{seed}")
    live = pdf[pdf["text"].str.len() > 0]
    idx = rng.sample(range(len(live)), n)
    return sorted(
        make_doc_id(live.iloc[i]["conv_id"], int(live.iloc[i]["turn_idx"]))
        for i in idx
    )
