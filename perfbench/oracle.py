"""Independent BM25 evaluator that checks every served answer.

It shares nothing with the segment kernel: no dictionary, codec, segment
file or term_stats. It reads the index's ``docs.parquet`` (doc ids, text,
tags), tokenizes the text itself with Arrow, derives N, avgdl and df from
those tokens, and evaluates the parsed DSL tree over dense per-doc arrays.
Scores use the BM25 expression and clause order the engine documents
(k1=1.2, b=0.75; FIXTURES.md §2), so they agree to the last few ulps.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

K1 = 1.2
B = 0.75
TOKEN_SPLIT = "[^a-z0-9]+"
REL_TOL = 1e-9


def tokens(text: str) -> list[str]:
    arr = pc.split_pattern_regex(pc.utf8_lower(pa.array([text])), TOKEN_SPLIT)
    return [t for t in arr[0].as_py() if t]


class Answer:
    """Expected top-k plus every doc tied with the k-th score, so a
    served answer that breaks an exact float tie differently still
    checks out when each of its docs has the expected score."""

    def __init__(self, ids: np.ndarray, sc: np.ndarray, k: int):
        order = np.lexsort((ids, -sc))
        ids, sc = ids[order], sc[order]
        self.top = list(zip(ids[:k].tolist(), sc[:k].tolist()))
        n = len(self.top)
        if n == k and ids.size > k:
            kth = sc[k - 1]
            more = np.abs(sc[k:] - kth) <= REL_TOL * max(1.0, abs(kth))
            ext = list(zip(ids[k:][more].tolist(), sc[k:][more].tolist()))
        else:
            ext = []
        self.allowed = dict(self.top + ext)

    def check(self, got: list[tuple[int, float]]) -> str | None:
        """None when ``got`` is this answer, else what differs."""
        if len(got) != len(self.top):
            return f"{len(got)} hits, expected {len(self.top)}"
        if len({d for d, _ in got}) != len(got):
            return "duplicate doc ids"
        for i, ((gd, gs), (_, es)) in enumerate(zip(got, self.top)):
            tol = REL_TOL * max(1.0, abs(es))
            if abs(gs - es) > tol:
                return f"rank {i}: score {gs!r}, expected {es!r}"
            if gd not in self.allowed or abs(self.allowed[gd] - gs) > tol:
                return f"rank {i}: doc {gd} is not an expected hit"
        return None


def well_formed(got: list[tuple[int, float]], k: int, banned: set[int]) -> str | None:
    """Shape check for answers over an index that changes under the
    query: at most k rows, (score desc, doc_id asc), no banned doc."""
    if len(got) > k:
        return f"{len(got)} hits > k={k}"
    for (d0, s0), (d1, s1) in zip(got, got[1:]):
        if s0 < s1 or (s0 == s1 and d0 >= d1):
            return "not ordered by (score desc, doc_id asc)"
    bad = banned.intersection(d for d, _ in got)
    if bad:
        return f"deleted docs served: {sorted(bad)[:5]}"
    return None


class Oracle:
    def __init__(self, docs_dir: str, terms: set[str], tombstones=()):
        t = pq.read_table(docs_dir, columns=["doc_id", "text", "tags"])
        order = np.argsort(t["doc_id"].to_numpy(), kind="stable")
        t = t.take(pa.array(order))
        self.ids = t["doc_id"].to_numpy()
        self.n = self.ids.size
        toks = pc.split_pattern_regex(
            pc.utf8_lower(t["text"].combine_chunks()), TOKEN_SPLIT
        )
        flat = pc.list_flatten(toks)
        owner = pc.list_parent_indices(toks).to_numpy()
        keep = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
        flat, owner = flat.filter(pa.array(keep)), owner[keep]
        self.dl = np.bincount(owner, minlength=self.n).astype(np.float64)
        self.avgdl = int(self.dl.sum()) / self.n
        # postings only for the terms the checked queries use
        want = pc.is_in(flat, value_set=pa.array(sorted(terms), pa.string()))
        want = want.to_numpy(zero_copy_only=False)
        enc = flat.filter(pa.array(want)).dictionary_encode()
        codes = enc.indices.to_numpy().astype(np.int64)
        docs = owner[want].astype(np.int64)
        key, tf = np.unique(codes * self.n + docs, return_counts=True)
        vocab = enc.dictionary.to_pylist()
        bounds = np.searchsorted(key // self.n, np.arange(len(vocab) + 1))
        self.post = {
            term: (key[lo:hi] % self.n, tf[lo:hi].astype(np.float64))
            for term, lo, hi in zip(vocab, bounds[:-1], bounds[1:])
        }
        tags = t["tags"].combine_chunks()
        tag_flat = pc.utf8_lower(pc.list_flatten(tags)).to_pylist()
        tag_owner = pc.list_parent_indices(tags).to_numpy()
        self.tags: dict[str, set[int]] = {}
        for tag, pos in zip(tag_flat, tag_owner.tolist()):
            self.tags.setdefault(tag, set()).add(pos)
        self.dead = np.isin(self.ids, np.asarray(list(tombstones), np.int64))

    def idf(self, df: int) -> float:
        n = float(self.n)
        return float(np.log((n - df + 0.5) / (df + 0.5) + 1.0))

    def _eval(self, node):
        from refimage_spark import dsl

        if isinstance(node, dsl.TextQuery):
            parts = []
            for t in dict.fromkeys(tokens(node.text)):
                if t not in self.post:
                    continue
                pos, tf = self.post[t]
                dl = self.dl[pos]
                contrib = ((node.weight * self.idf(pos.size)) * (tf * (K1 + 1.0))) / (
                    tf + K1 * ((1.0 - B) + (B * dl) / self.avgdl)
                )
                parts.append((pos, contrib))
            return self._union(parts)
        if isinstance(node, dsl.TagFilter):
            sets = [self.tags.get(t.lower(), set()) for t in node.tags]
            if not sets:
                hit: set[int] = set()
            elif node.mode == "all":
                hit = set.intersection(*sets)
            else:
                hit = set.union(*sets)
            pos = np.array(sorted(hit), np.int64)
            return pos, np.zeros(pos.size)
        if isinstance(node, dsl.And):
            pos, sc = self._eval(node.children[0])
            for c in node.children[1:]:
                p2, s2 = self._eval(c)
                pos, ia, ib = np.intersect1d(pos, p2, return_indices=True)
                sc = sc[ia] + s2[ib]
            return pos, sc
        if isinstance(node, dsl.Or):
            return self._union([self._eval(c) for c in node.children])
        if isinstance(node, dsl.Not):
            pos, sc = self._eval(node.base)
            ex, _ = self._eval(node.exclude)
            keep = ~np.isin(pos, ex)
            return pos[keep], sc[keep]
        raise TypeError(node)

    def _union(self, parts):
        acc = np.zeros(self.n)
        hit = np.zeros(self.n, bool)
        for pos, sc in parts:
            acc[pos] += sc
            hit[pos] = True
        pos = np.flatnonzero(hit)
        return pos, acc[pos]

    def answer(self, query: str, k: int) -> Answer:
        from refimage_spark import dsl

        pos, sc = self._eval(dsl.parse(query))
        live = ~self.dead[pos]
        return Answer(self.ids[pos[live]], sc[live], k)


def query_terms(queries) -> set[str]:
    out: set[str] = set()
    for q in queries:
        out.update(tokens(q))
    return out
