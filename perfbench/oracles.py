"""Expected results, computed off the clock in plain Python.

The corpus is analyzed once per run (Porter stems memoized per distinct
token); BM25 rankings then come from ``tangent_spark.oracle.bm25_rank``
over the analyzed text with the ``simple`` tokenizer and an analyzed
term list, which is the same ranking as on the raw text. Formula
rankings come from ``oracle.dice_rank``.
"""

from __future__ import annotations

import fnmatch
import math
from collections import Counter

from tangent_spark import oracle
from tangent_spark.functions.porter import stem
from tangent_spark.functions.tokenize import tokenize_simple


class Corpus:
    def __init__(self, rows: list[dict] = ()):
        self._memo: dict[str, str] = {}
        self.tokens: dict[int, list[str]] = {}
        self.lang: dict[int, str] = {}
        self._docs = None
        self.add(rows)

    def analyze(self, text: str) -> list[str]:
        memo = self._memo
        out = []
        for t in tokenize_simple(text):
            s = memo.get(t)
            if s is None:
                s = memo[t] = stem(t)
            out.append(s)
        return out

    def add(self, rows) -> None:
        for r in rows:
            self.tokens[int(r["doc_id"])] = self.analyze(r["text"])
            self.lang[int(r["doc_id"])] = r.get("lang")
        self._docs = None

    def remove(self, ids) -> None:
        for d in ids:
            self.tokens.pop(int(d), None)
            self.lang.pop(int(d), None)
        self._docs = None

    def vocab(self) -> list[str]:
        return sorted({t for toks in self.tokens.values() for t in toks})

    def bm25(self, terms: list[str], k: int) -> list[tuple[int, float]]:
        if self._docs is None:
            self._docs = [(d, " ".join(t)) for d, t in sorted(self.tokens.items())]
        return oracle.bm25_rank(self._docs, sorted(set(terms)), k, tokenizer="simple")

    # -- query kinds -----------------------------------------------------------
    def topk(self, query: str, k: int):
        return self.bm25(self.analyze(query), k)

    def filtered(self, query: str, k: int, lang: str):
        """BM25 with whole-index statistics, restricted to one lang."""
        ranked = self.bm25(self.analyze(query), len(self.tokens))
        return [(d, s) for d, s in ranked if self.lang[d] == lang][:k]

    def boolean(self, query: str, k: int):
        """`+must should -not` over single terms: docs holding every
        must term and no must-not term, scored by BM25 over the
        positive terms."""
        must, should, deny = [], [], []
        for tok in query.split():
            dest = must if tok[0] == "+" else deny if tok[0] == "-" else should
            dest.extend(self.analyze(tok.lstrip("+-")))
        ranked = self.bm25(must + should, len(self.tokens))
        keep = []
        for d, s in ranked:
            toks = set(self.tokens[d])
            if all(t in toks for t in must) and not any(t in toks for t in deny):
                keep.append((d, s))
        return keep[:k]

    def phrase(self, phrase: str, k: int):
        """Exact in-order phrase: (doc_id, phrase occurrences), ranked
        by occurrences desc, doc_id asc."""
        terms = self.analyze(phrase)
        n = len(terms)
        hits = []
        for d, toks in self.tokens.items():
            c = sum(1 for i in range(len(toks) - n + 1) if toks[i:i + n] == terms)
            if c:
                hits.append((d, float(c)))
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:k]

    def wildcard(self, query: str, k: int):
        vocab = self.vocab()
        terms = []
        for tok in query.split():
            if "*" in tok or "?" in tok:
                terms += [t for t in vocab if fnmatch.fnmatchcase(t, tok.lower())]
            else:
                terms += self.analyze(tok)
        return sorted(set(terms)), self.bm25(terms, k)

    def fuzzy(self, query: str, k: int):
        vocab = self.vocab()
        terms = []
        for tok in query.split():
            if "~" in tok:
                body, _, edits = tok.partition("~")
                e = int(edits) if edits else 2
                terms += [t for t in vocab if levenshtein(body.lower(), t, e) <= e]
            else:
                terms += self.analyze(tok)
        return sorted(set(terms)), self.bm25(terms, k)


def levenshtein(a: str, b: str, cap: int) -> int:
    """Edit distance (no transpositions), cut short above cap."""
    if abs(len(a) - len(b)) > cap:
        return cap + 1
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        if min(cur) > cap:
            return cap + 1
        prev = cur
    return prev[-1]


def formula_topk(doc_slts: dict[int, set[str]], query: str, k: int, cfg):
    """Doc ranking of the formula route: the top-k expressions by Dice
    (oracle.dice_rank) expanded to their docs, each doc scored by its
    best expression, ties on total then doc id; reported as
    (doc_id, best) in (best desc, doc_id asc) order."""
    all_slts = sorted({s for ss in doc_slts.values() for s in ss})
    top = oracle.dice_rank(all_slts, query, k, cfg)
    best: dict[int, float] = {}
    total: Counter = Counter()
    for _, slt, score in top:
        for d, ss in doc_slts.items():
            if slt in ss:
                best[d] = max(best.get(d, 0.0), score)
                total[d] += score
    ranked = sorted(best, key=lambda d: (-best[d], -total[d], d))[:k]
    return sorted(((d, best[d]) for d in ranked), key=lambda x: (-x[1], x[0]))


def same_ranking(got, want, tol: float = 1e-9) -> bool:
    """Same docs and scores, in the same order up to ties."""
    if len(got) != len(want):
        return False
    for (_, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=tol, abs_tol=tol):
            return False
    return oracle.rank_groups(list(got), tol) == oracle.rank_groups(list(want), tol)


def planted_keep(ids, clusters) -> dict[int, bool]:
    """Expected dedup_keep_list: every doc kept unless it is in a
    planted cluster and not that cluster's smallest id."""
    keep = {int(d): True for d in ids}
    for c in clusters:
        for d in c:
            if d != min(c):
                keep[d] = False
    return keep


def planted_pairs(clusters) -> set[tuple[int, int]]:
    return {(a, b) for c in clusters for a in c for b in c if a < b}
