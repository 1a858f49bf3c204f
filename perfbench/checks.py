"""Answer checks against the independent references: `oracle/oracle.py`
for index searches and the catalog's DuckDB `oracle_sql` for catalog
leaves. A check returns None when the answer is right and a short
reason when it is wrong."""

from __future__ import annotations

import math

from geospatial_spark.functions.tokenize import tokenize_py
from oracle.oracle import OracleIndex

TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=TOL, abs_tol=TOL)


def same_hits(got, want) -> str | None:
    """Rank-identical doc ids, scores within 1e-9."""
    if len(got) != len(want):
        return f"{len(got)} hits, oracle has {len(want)}"
    for r, (g, w) in enumerate(zip(got, want)):
        if g[0] != w[0]:
            return f"rank {r}: {g[0]} vs oracle {w[0]}"
        if not _close(float(g[1]), float(w[1])):
            return f"rank {r} score {g[1]!r} vs oracle {w[1]!r}"
    return None


class Reference:
    """The oracle index over one corpus, plus the per-doc rows and
    attributes the phrase, near, facet and decay references need."""

    def __init__(self, corpus):
        rows = list(zip(corpus["conv_id"], corpus["turn_idx"].astype(int),
                        corpus["text"]))
        self.index = OracleIndex.build(rows)
        self.rows = {f"{c}:{t}": (c, t, x) for c, t, x in rows}
        ids = [f"{c}:{t}" for c, t, _ in rows]
        self.role = dict(zip(ids, corpus["role"]))
        ts = corpus["ts"].astype("datetime64[us]").astype("int64")
        self.ts_us = dict(zip(ids, ts.tolist()))

    def _candidates(self, terms) -> list:
        """Rows holding every term: the only rows a phrase or near
        query can match, so the oracle scans just these."""
        sets = [set(self.index.postings.get(t, {})) for t in set(terms)]
        if not sets:
            return []
        docs = set.intersection(*sets)
        return [self.rows[d] for d in sorted(docs, key=OracleIndex.doc_sort_key)]

    def match(self, q: str, k: int):
        return self.index.search(q, k)

    def phrase(self, q: str, k: int):
        rows = self._candidates(tokenize_py(q))
        return [(d, s) for d, s, _ in self.index.search_phrase(rows, q, k)]

    def near(self, q: str, slop: int, k: int):
        rows = self._candidates(tokenize_py(q))
        return [(d, s) for d, s, _ in self.index.search_near(rows, q, slop, k)]

    def matched(self, should: str, filter_q: str, must_not: str) -> set:
        post = self.index.postings
        sh, fl, mn = (set(tokenize_py(x)) for x in (should, filter_q, must_not))
        docs = None
        if sh:
            docs = set().union(*(post.get(t, {}) for t in sh))
        for t in fl:
            p = set(post.get(t, {}))
            docs = p if docs is None else docs & p
        if docs is None:
            docs = set(self.rows)
        for t in mn:
            docs -= set(post.get(t, {}))
        return docs

    def facet(self, should: str, filter_q: str = "", must_not: str = ""):
        out: dict[str, int] = {}
        for d in self.matched(should, filter_q, must_not):
            v = self.role[d]
            if v is not None:
                out[v] = out.get(v, 0) + 1
        return out

    def decayed(self, q: str, k: int, half_life_s: float, origin_us: int):
        out = []
        for d, s in self.index.search(q, self.index.n_docs):
            age = max(0.0, (origin_us - self.ts_us[d]) / 1e6)
            out.append((-s * 0.5 ** (age / half_life_s),
                        OracleIndex.doc_sort_key(d), d))
        out.sort()
        return [(d, -neg) for neg, _, d in out[:k]]

    def answer(self, req: dict):
        """Oracle answer for a daemon request body, or None for a type
        the oracle does not model (bool)."""
        t, k = req["type"], int(req.get("k", 10))
        if t == "match":
            return self.match(req["q"], k)
        if t == "phrase":
            return self.phrase(req["q"], k)
        if t == "near":
            return self.near(req["q"], int(req["slop"]), k)
        if t == "facet":
            c = self.facet(req.get("should", ""), req.get("filter", ""),
                           req.get("must_not", ""))
            return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
        return None

    def check(self, req: dict, got, want) -> str | None:
        """Compare a daemon answer with `want`, this request's answer()."""
        if want is None:
            return None
        if req["type"] == "facet":
            got = [tuple(x) for x in got]
            return None if got == [tuple(x) for x in want] else (
                f"facet {got} vs oracle {want}")
        return same_hits(got, want)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(round(r[i], 6) if isinstance(r[i], float) else r[i]
                         for i in order))
    return sorted(out, key=repr)


def same_table(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """The catalog gate's comparison: same columns, same row count,
    order-insensitive values, floats within 1e-9."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {got_cols} vs oracle {want_cols}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows vs oracle {len(want_rows)}"
    for a, b in zip(_normalize(got_rows, got_cols),
                    _normalize(want_rows, want_cols)):
        for va, vb in zip(a, b):
            if isinstance(va, float) and isinstance(vb, float):
                if not _close(va, vb):
                    return f"row {a} vs oracle {b}"
            elif va != vb:
                return f"row {a} vs oracle {b}"
    return None
