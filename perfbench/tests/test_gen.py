"""The generator is a pure function of the seed, and its inputs have the
properties the workloads rely on."""

import itertools

from perfbench import gen, oracles
from tangent_spark.functions.tokenize import tokenize_simple


def _inputs(seed):
    vocab = gen.vocabulary(seed, size=3000)
    rows = gen.pages(seed, 0, 200, vocab)
    q = gen.queries(seed, rows, vocab)
    crawl = gen.crawl(seed, 120, vocab, n_clusters=6, cluster_size=4)
    return vocab, rows, q, crawl


def test_same_seed_same_digest():
    a, b = _inputs(7), _inputs(7)
    assert gen.digest(*a) == gen.digest(*b)


def test_other_seed_other_digest():
    assert gen.digest(*_inputs(7)) != gen.digest(*_inputs(8))


def test_pages_are_position_independent():
    vocab = gen.vocabulary(3, size=3000)
    whole = gen.pages(3, 0, 30, vocab)
    tail = gen.pages(3, 20, 10, vocab)
    assert whole[20:] == tail


def test_text_is_extracted_html():
    from tangent_spark.sources.extract import extract_text

    _, rows, _, _ = _inputs(1)
    for r in rows[:20]:
        assert r["text"] == extract_text(r["html"].decode())
        assert "<" not in r["text"]


def test_topk_queries_mix_head_and_tail_terms():
    vocab, rows, q, _ = _inputs(2)
    df = gen.term_counts(rows)
    head = set(vocab[:gen.HEAD_RANKS])
    for text in q.topk:
        terms = text.split()
        assert 2 <= len(terms) <= 6
        assert any(t in head for t in terms)
        assert any(df[t] <= 3 for t in terms)


def test_formula_queries_come_from_pages():
    _, rows, q, _ = _inputs(4)
    assert q.formula
    html = " ".join(r["html"].decode() for r in rows)
    assert all(f in html for f in q.formula)


def test_multiterm_expansions_stay_under_the_cap():
    _, rows, q, _ = _inputs(5)
    corpus = oracles.Corpus(rows)
    for text in q.wildcard:
        assert 1 <= len(corpus.wildcard(text, 10)[0]) < 50
    for text in q.fuzzy:
        assert 1 <= len(corpus.fuzzy(text, 10)[0]) < 50


def test_crawl_plants_near_dups_and_a_hot_shingle():
    _, _, _, crawl = _inputs(6)
    texts = {r["doc_id"]: r["text"] for r in crawl.rows}

    def shingles(t):
        toks = tokenize_simple(t)
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    for cluster in crawl.clusters:
        base = shingles(texts[cluster[0]])
        for d in cluster[1:]:
            s = shingles(texts[d])
            assert len(base & s) / len(base | s) >= 0.8
    hot = sum(gen.BOILERPLATE in t for t in texts.values())
    assert hot >= 0.2 * len(texts)
    members = list(itertools.chain(*crawl.clusters))
    assert len(members) == len(set(members)) == 6 * 4


def test_levenshtein_matches_a_plain_dp():
    def dp(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = ["kitten", "sitting", "bruk", "brak", "b", "", "abcdef", "azcdeg"]
    for a, b in itertools.product(words, repeat=2):
        d = dp(a, b)
        assert oracles.levenshtein(a, b, 2) == (d if d <= 2 else 3)
