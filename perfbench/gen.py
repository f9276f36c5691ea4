"""Seeded input generator for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same pages, queries and crawl (and so the same digest), a different seed
gives different ones. Nothing reads the clock or global random state.

Pages have the shape of ``tangent_spark.corpus.PAGES_SCHEMA``
(url, warc_ts, html, text, lang) plus a dense ``doc_id``; ``text`` is
``sources.extract.extract_text`` of the html, as the library's own
generator stores it. Words come from a Zipf(1) distribution over a
synthetic vocabulary of 20k Porter-stable words, so queries
can mix head terms with real tail terms (df of a few docs), which is
what block-max pruning is sensitive to. A share of pages carries MathML
for the formula queries.
"""

from __future__ import annotations

import bisect
import datetime as dt
import hashlib
import json
import random
from collections import Counter
from dataclasses import dataclass, field
from itertools import accumulate

from tangent_spark.functions.tokenize import tokenize_porter, tokenize_simple
from tangent_spark.sources.extract import extract_text

VOCAB_SIZE = 20000
HEAD_RANKS = 60          # ranks [0, HEAD_RANKS) are head terms
LANGS = ["en"] * 7 + ["de", "fr", "id"]
_EPOCH = dt.datetime(2024, 1, 1)
_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "t", "v", "z",
           "br", "tr", "pl", "gr", "st", "kl"]
_VOWELS = ["a", "o", "u", "i"]
_CODAS = ["", "n", "m", "r", "k", "t", "p"]
_SYMS = ["x", "y", "z", "a", "b", "n", "k", "t", "u", "v"]
BOILERPLATE = "copyright notice all rights reserved"
MATH_SHARE = 0.3           # pages that carry MathML
BOILERPLATE_SHARE = 0.3    # crawl pages that end with BOILERPLATE
WORDS_PER_PAGE = (40, 120)


def seeded_rng(seed: int, *salt) -> random.Random:
    key = json.dumps([seed, *salt]).encode()
    return random.Random(int.from_bytes(hashlib.sha256(key).digest()[:8], "big"))


def vocabulary(seed: int, size: int = VOCAB_SIZE) -> list[str]:
    """Distinct lowercase words that the Porter analyzer maps to
    themselves, so a word in a page, in a query and in the index is the
    same string; the order is the Zipf rank order."""
    rng = seeded_rng(seed, "vocab")
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS) + rng.choice(_CODAS)
            for _ in range(rng.randint(2, 3))
        )
        if w not in seen and tokenize_porter(w) == [w] and tokenize_simple(w) == [w]:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    """Rank r drawn with weight 1/(r+1)."""

    def __init__(self, words: list[str]):
        self.words = words
        self.cum = list(accumulate(1.0 / (r + 1) for r in range(len(words))))

    def draw(self, rng: random.Random, n: int) -> list[str]:
        total = self.cum[-1]
        return [
            self.words[min(bisect.bisect_left(self.cum, rng.random() * total),
                           len(self.words) - 1)]
            for _ in range(n)
        ]


def mathml(rng: random.Random) -> str:
    """One MathML block in one of six shapes (fraction, script, radical,
    2x2 matrix, sum with limits, plain run)."""
    s = lambda: rng.choice(_SYMS)  # noqa: E731
    n = lambda: str(rng.randint(0, 9))  # noqa: E731
    kind = rng.randrange(6)
    if kind == 0:
        return (f"<math><mfrac><mi>{s()}</mi><mrow><mi>{s()}</mi><mo>+</mo>"
                f"<mn>{n()}</mn></mrow></mfrac></math>")
    if kind == 1:
        return (f"<math><mrow><msup><mi>{s()}</mi><mn>{n()}</mn></msup>"
                f"<mo>=</mo><mi>{s()}</mi></mrow></math>")
    if kind == 2:
        return (f"<math><mrow><msub><mi>{s()}</mi><mn>{n()}</mn></msub>"
                f"<mo>+</mo><msqrt><mi>{s()}</mi></msqrt></mrow></math>")
    if kind == 3:
        return ("<math><mrow><mo>(</mo><mtable>"
                f"<mtr><mtd><mi>{s()}</mi></mtd><mtd><mn>{n()}</mn></mtd></mtr>"
                f"<mtr><mtd><mn>{n()}</mn></mtd><mtd><mi>{s()}</mi></mtd></mtr>"
                "</mtable><mo>)</mo></mrow></math>")
    if kind == 4:
        return (f"<math><mrow><munderover><mo>&#x2211;</mo><mrow><mi>{s()}</mi>"
                f"<mo>=</mo><mn>1</mn></mrow><mi>n</mi></munderover>"
                f"<msub><mi>{s()}</mi><mi>{s()}</mi></msub></mrow></math>")
    return (f"<math><mrow><mi>{s()}</mi><mo>{rng.choice(['+', '-', '='])}</mo>"
            f"<mn>{n()}</mn></mrow></math>")


def page(i: int, words: list[str], maths: list[str], rng: random.Random) -> dict:
    """One page row: html built from the words and MathML blocks,
    text = extract_text(html)."""
    sentences, j = [], 0
    while j < len(words):
        ln = rng.randint(6, 14)
        sentences.append(" ".join(words[j:j + ln]) + ".")
        j += ln
    paras = [" ".join(sentences[p::3]) for p in range(min(3, len(sentences)))]
    body = []
    for pi, p in enumerate(paras):
        body.append(f"<p>{p}</p>")
        if pi < len(maths):
            body.append(maths[pi])
    body.extend(maths[len(paras):])
    html = ("<html><head><title>Page &amp; notes</title>"
            "<script>var skip = 1 < 2;</script></head><body>"
            + "".join(body) + "<!-- footer --></body></html>")
    return {
        "doc_id": i,
        "url": f"https://bench.example/{i:08d}",
        "warc_ts": _EPOCH + dt.timedelta(seconds=(i * 7919) % 31_536_000),
        "html": html.encode("utf-8"),
        "text": extract_text(html),
        "lang": LANGS[rng.randrange(len(LANGS))],
    }


def pages(seed: int, start: int, n: int, vocab: list[str]) -> list[dict]:
    """Pages with doc ids start..start+n-1; page i depends only on
    (seed, i), so a batch generated later matches the same ids."""
    zipf = Zipf(vocab)
    out = []
    for i in range(start, start + n):
        rng = seeded_rng(seed, "page", i)
        words = zipf.draw(rng, rng.randint(*WORDS_PER_PAGE))
        maths = ([mathml(rng) for _ in range(rng.randint(1, 3))]
                 if rng.random() < MATH_SHARE else [])
        out.append(page(i, words, maths, rng))
    return out


# -- queries -----------------------------------------------------------------

@dataclass
class Queries:
    topk: list[str] = field(default_factory=list)
    boolean: list[str] = field(default_factory=list)
    phrase: list[str] = field(default_factory=list)
    filtered: list[str] = field(default_factory=list)
    wildcard: list[str] = field(default_factory=list)
    fuzzy: list[str] = field(default_factory=list)
    formula: list[str] = field(default_factory=list)


def term_counts(rows: list[dict]) -> Counter:
    """Document frequency of each vocabulary word over the pages (the
    words are Porter-stable, so the simple split finds them as the
    index will)."""
    df: Counter = Counter()
    for r in rows:
        df.update(set(tokenize_simple(r["text"])))
    return df


# Zipf ranks of the head terms each query uses. The seed picks the
# words (the vocabulary order is seeded) and the tail terms, not the
# ranks, so query cost hardly moves with the seed.
_HEAD_PICKS = [0, 4, 11, 23, 2, 37, 7, 16, 1, 29, 5, 52, 9, 19, 3, 44]
_MATH_SHAPES = ["<mfrac>", "<msup>", "<msqrt>", "<mtable>", "<munderover>", ""]


def queries(seed: int, rows: list[dict], vocab: list[str], n: int = 8) -> Queries:
    """n queries of each kind, drawn from the pages themselves so that
    every query matches something. topk queries hold 2-6 terms, at least
    one head term (rank < HEAD_RANKS) and one tail term (df <= 3). Query
    shapes (lengths, head ranks, formula shapes) are the same for every
    seed."""
    rng = seeded_rng(seed, "queries")
    df = term_counts(rows)
    vocab_set = set(vocab)
    picks = iter(_HEAD_PICKS * (6 * n))
    tail = sorted(t for t, c in df.items() if c <= 3 and t in vocab_set)

    def head(k):
        return [vocab[next(picks)] for _ in range(k)]

    q = Queries()
    for i in range(n):
        n_terms = 2 + i % 5
        n_head = 1 + i % (n_terms - 1)
        terms = head(n_head) + rng.sample(tail, n_terms - n_head)
        rng.shuffle(terms)
        q.topk.append(" ".join(terms))
    for _ in range(n):
        must, should, deny = head(3)
        q.boolean.append(f"+{must} {rng.choice(tail)} {should} -{deny}")
    rank = {w: r for r, w in enumerate(vocab)}
    for _ in range(n):
        # a bigram of two different mid-head words (Zipf ranks 3..40)
        while True:
            toks = tokenize_simple(rows[rng.randrange(len(rows))]["text"])
            j = rng.randrange(max(len(toks) - 1, 1))
            pair = toks[j:j + 2]
            if (len(pair) == 2 and pair[0] != pair[1]
                    and all(3 <= rank.get(t, -1) <= 40 for t in pair)):
                break
        q.phrase.append(" ".join(pair))
    q.filtered = [" ".join(head(2) + [rng.choice(tail)]) for _ in range(n)]
    in_index = sorted(t for t in df if t in vocab_set)
    for _ in range(n):
        # a 4-letter prefix of a mid-frequency word: a handful of
        # expansions, far under the default cap of 50
        while True:
            w = rng.choice(in_index)
            prefix = w[:4]
            if len(w) > 5 and sum(t.startswith(prefix) for t in in_index) < 40:
                break
        q.wildcard.append(f"{prefix}* {head(1)[0]}")
    for _ in range(n):
        while True:
            w = rng.choice(in_index)
            if len(w) >= 6:
                break
        pos = rng.randrange(len(w))
        typo = w[:pos] + rng.choice("aeiou") + w[pos + 1:]
        q.fuzzy.append(f"{typo}~1")
    maths = [m for r in rows for m in _math_blocks(r["html"])]
    by_shape = {s: [m for m in maths if _shape(m) == s] for s in _MATH_SHAPES}
    q.formula = [rng.choice(by_shape[_MATH_SHAPES[i % 6]]) for i in range(n)]
    return q


def _shape(m: str) -> str:
    return next((s for s in _MATH_SHAPES[:-1] if s in m), "")


def _math_blocks(html: bytes) -> list[str]:
    s = html.decode("utf-8")
    out, i = [], s.find("<math>")
    while i >= 0:
        j = s.find("</math>", i) + len("</math>")
        out.append(s[i:j])
        i = s.find("<math>", j)
    return out


# -- dedup crawl -------------------------------------------------------------

@dataclass
class Crawl:
    rows: list[dict]              # pages, as pages() makes them
    clusters: list[list[int]]     # planted near-dup clusters (doc ids)


def crawl(seed: int, n: int, vocab: list[str], n_clusters: int, cluster_size: int,
          start: int = 0) -> Crawl:
    """n pages: n_clusters planted near-dup clusters (a base page plus
    cluster_size - 1 copies with one word replaced each, so every copy
    has shingle Jaccard >= 0.85 with its base) and unrelated pages.
    BOILERPLATE is appended to a BOILERPLATE_SHARE of the pages, which
    makes its shingles the hot ones (held by >= 20% of docs)."""
    rng = seeded_rng(seed, "crawl", start)
    zipf = Zipf(vocab)
    texts: list[str] = []
    clusters: list[list[int]] = []
    n_singles = n - n_clusters * cluster_size
    kinds = ["c"] * n_clusters + ["s"] * n_singles
    rng.shuffle(kinds)
    for kind in kinds:
        base = zipf.draw(rng, rng.randint(60, 100))
        # one boilerplate decision per group keeps every copy within
        # one edit of its base
        tail = [BOILERPLATE] if rng.random() < BOILERPLATE_SHARE else []
        if kind == "s":
            texts.append(" ".join(base + tail))
            continue
        ids = [start + len(texts)]
        texts.append(" ".join(base + tail))
        for _ in range(cluster_size - 1):
            copy = list(base)
            copy[rng.randrange(len(copy))] = rng.choice(vocab)
            ids.append(start + len(texts))
            texts.append(" ".join(copy + tail))
        clusters.append(ids)
    rows = []
    for j, text in enumerate(texts):
        i = start + j
        html = f"<html><body><p>{text}</p></body></html>"
        rows.append({
            "doc_id": i,
            "url": f"https://crawl.example/{i:08d}",
            "warc_ts": _EPOCH + dt.timedelta(seconds=(i * 7919) % 31_536_000),
            "html": html.encode("utf-8"),
            "text": extract_text(html),
            "lang": LANGS[rng.randrange(len(LANGS))],
        })
    return Crawl(rows, clusters)


def digest(*parts) -> str:
    """sha256 over a canonical JSON of the generated inputs."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, default=_jsonable).encode())
    return h.hexdigest()[:16]


def _jsonable(o):
    if isinstance(o, bytes):
        return o.decode("utf-8")
    if isinstance(o, dt.datetime):
        return o.isoformat()
    if hasattr(o, "__dict__"):
        return o.__dict__
    raise TypeError(type(o))
