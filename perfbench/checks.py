"""Output checks, run after the timed region. Each returns None when the
response is right, else a one-line reason; a request with a reason is a
failed operation."""

from __future__ import annotations

import math

PAGE_SIZE = 10
_RESULT_KEYS = {"url", "score", "title", "snippet"}


def check_response(resp, tombstoned=frozenset()) -> str | None:
    """Status and shape of one /search response: 200, a results list of
    at most one page in (score desc, url asc) order, and no tombstoned
    doc among the results."""
    if resp.status != 200:
        return f"status {resp.status}: {resp.error}"
    body = resp.body
    if not isinstance(body, dict) or not isinstance(body.get("results"), list):
        return "body has no results list"
    if not isinstance(body.get("totalCount"), int):
        return "totalCount missing"
    res = body["results"]
    if len(res) > PAGE_SIZE:
        return f"{len(res)} results on one page"
    for r in res:
        if not isinstance(r, dict) or set(r) != _RESULT_KEYS:
            return f"result keys {sorted(r) if isinstance(r, dict) else r!r}"
        if not isinstance(r["score"], (int, float)) or math.isnan(r["score"]):
            return f"score {r['score']!r}"
        if r["url"] in tombstoned:
            return f"tombstoned doc {r['url']} returned"
    for a, b in zip(res, res[1:]):
        if (-a["score"], a["url"]) >= (-b["score"], b["url"]):
            return f"order: {a['url']}@{a['score']} before {b['url']}@{b['score']}"
    return None


def make_oracle(pdf):
    """tests/oracle.py's OracleEngine over the corpus, with the engine's
    documented scale generalization of the IDF numerator
    (config.idf_numerator: the reference's 6000 below 6000 docs, n_docs
    above). tests/oracle.py keeps the constant, so it is the spec only for
    corpora of at most 6000 turns."""
    from apt_search_engine_spark.analysis.analyzer import tag_weight
    from apt_search_engine_spark.config import idf_numerator

    from tests.oracle import OracleEngine, adapt_rows

    class ScaledOracle(OracleEngine):
        def _relevance(self, df: int, tf: float, tags: list[str]) -> float:
            tagsum = sum(tag_weight(t) for t in tags) if tags else 0.5
            return (tagsum * tf) * (idf_numerator(self.n_docs) // df)

    return ScaledOracle(adapt_rows(pdf.to_dict("records")))


def check_oracle(oracle, req, resp) -> str | None:
    """Compare one reference-route response with tests/oracle.py's
    OracleEngine over the same corpus: urls, scores and snippets of the
    requested page."""
    k = req.page * PAGE_SIZE
    want = oracle.search(req.query, k=k, with_snippets=True)[k - PAGE_SIZE:]
    got = resp.body["results"]
    if [r["url"] for r in got] != [r["url"] for r in want]:
        return (f"oracle order differs for {req.query!r}: "
                f"{[r['url'] for r in got][:3]} vs "
                f"{[r['url'] for r in want][:3]}")
    for g, e in zip(got, want):
        if not math.isclose(g["score"], e["score"], rel_tol=1e-9):
            return (f"oracle score differs for {req.query!r} at {g['url']}: "
                    f"{g['score']} vs {e['score']}")
        if g["snippet"] != e["snippet"]:
            return f"oracle snippet differs for {req.query!r} at {g['url']}"
    return None
