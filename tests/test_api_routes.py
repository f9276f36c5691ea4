"""api.search composition without Spark: every handler and Searcher
method is replaced by a recorder, and every query kind is searched with
every subset of at most two options, cold and warm. An accepted call
must reach exactly one handler and pass each given option on to it; a
rejected call must raise ValueError naming a given option."""

import inspect
import itertools

import pytest

from tangent_spark import api
from tangent_spark.config import IndexConfig
from tangent_spark.plans import (
    boolean,
    fielded,
    fuzzy,
    group,
    hybrid,
    phrase,
    rescore,
    search as plan_search,
    sortby,
    wildcard,
)

HANDLERS = {
    plan_search: (
        "bm25_topk_wand", "match_all_docs", "elevated_topk", "boosted_topk",
        "function_boosted_topk", "bm25_topk_synonyms",
    ),
    boolean: ("boolean_topk", "filtered_topk"),
    wildcard: ("regexp_topk", "wildcard_topk"),
    fuzzy: ("fuzzy_topk",),
    phrase: ("phrase_prefix_topk",),
    hybrid: ("hybrid_topk",),
    sortby: ("sorted_topk",),
    rescore: ("phrase_rescore_topk",),
    fielded: ("field_query_topk", "fielded_topk"),
    group: ("grouped_topk",),
    api: ("_formula_search",),
}
SEARCHER_METHODS = ("topk", "boolean", "filtered", "regexp", "fuzzy", "wildcard", "rescore")

QUERIES = {
    "bm25": "matrix theorem",
    "boolean": "+matrix theorem",
    "match_all": "*:*",
    "formula": "<math><mi>x</mi></math> matrix",
    "regexp": "/con.*/",
    "fuzzy": "querry~1",
    "wildcard": "te*t",
    "range": "lang:[a TO m]",
}
# one distinct object per option, so a handler argument can be traced
# back to the option it came from
OPTIONS = {
    "where": "n_chars > 10",
    "after": (1.0, 3),
    "group_by": "source",
    "boosts": {"title": 1.0},
    "tie": 0.3,
    "synonyms": {"matrix": ["array"]},
    "sort_by": "lang",
    "recency_boost": {"by": "warc_ts", "now": "2025-06-01"},
    "min_should_match": "75%",
    "pinned": [1, 2],
    "unordered_phrases": True,
    "boost_fn": "1.0 + 0.1 * ln(n_chars)",
    "rescore": {"weight": 2.0},
    "vector": [0.1, 0.2],
    "phrase_prefix": True,
}
SUBSETS = [
    combo for n in range(3) for combo in itertools.combinations(OPTIONS, n)
]


class _Store:
    """Stands in for an IndexStore: search() only reads its config."""

    def get_config(self):
        return IndexConfig(meta_cols=("lang", "n_chars", "warc_ts"))


def _recorder(calls, name, fn):
    sig = inspect.signature(fn)

    def record(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        calls.append((name, dict(bound.arguments)))
        return name

    return record


def patch_handlers(mp, calls):
    """Replace every handler (in its plan module and in api's namespace)
    and every Searcher method with a recorder; returns a searcher."""
    for module, names in HANDLERS.items():
        for name in names:
            rec = _recorder(calls, name, getattr(module, name))
            mp.setattr(module, name, rec)
            if hasattr(api, name):
                mp.setattr(api, name, rec)
    for m in SEARCHER_METHODS:
        fn = getattr(plan_search.Searcher, m)
        mp.setattr(plan_search.Searcher, m, _recorder(calls, f"Searcher.{m}", fn))
    return object.__new__(plan_search.Searcher)


def run_case(calls, searcher, kind, opts):
    """('raise', message) or (handler name, bound arguments)."""
    stores = api.SearchStores(words=_Store(), formulas=_Store(), vectors=_Store())
    del calls[:]
    try:
        api.search(
            "spark", stores, QUERIES[kind], 10, searcher=searcher,
            **{o: OPTIONS[o] for o in opts},
        )
    except ValueError as e:
        assert not calls, f"{kind} {opts}: raised after calling {calls}"
        return "raise", str(e)
    assert len(calls) == 1, f"{kind} {opts}: {calls}"
    return calls[0]


def _carried(opt, handler, args):
    value = OPTIONS[opt]
    if opt == "phrase_prefix":
        return handler == "phrase_prefix_topk"
    if opt == "where":
        return value in (args.get("where") or "")
    if opt in ("recency_boost", "rescore"):
        return all(args.get(key) == v for key, v in value.items())
    if opt in args:
        return args[opt] is value
    return any(v is value for v in args.values())


@pytest.mark.parametrize("warm", [False, True], ids=["cold", "warm"])
@pytest.mark.parametrize("kind", list(QUERIES))
def test_every_accepted_option_reaches_its_handler(monkeypatch, kind, warm):
    calls = []
    searcher = patch_handlers(monkeypatch, calls)
    accepted = 0
    for opts in SUBSETS:
        handler, out = run_case(calls, searcher if warm else None, kind, opts)
        if handler == "raise":
            assert any(o in out for o in opts), f"{kind} {opts}: {out!r}"
            continue
        accepted += 1
        dropped = [o for o in opts if not _carried(o, handler, out)]
        assert not dropped, f"{kind} {opts}: {handler} dropped {dropped}"
    assert len(SUBSETS) == 121 and accepted > 0


@pytest.mark.parametrize("kind,opts", [
    ("match_all", ("boost_fn",)),
    ("match_all", ("rescore",)),
    ("range", ("boost_fn",)),
    ("range", ("rescore",)),
    ("bm25", ("sort_by", "rescore")),
])
def test_formerly_dropped_options_raise(monkeypatch, kind, opts):
    calls = []
    patch_handlers(monkeypatch, calls)
    outcome, msg = run_case(calls, None, kind, opts)
    assert outcome == "raise" and opts[-1] in msg


def test_warm_routes_use_the_searcher(monkeypatch):
    calls = []
    searcher = patch_handlers(monkeypatch, calls)
    for kind, method in (
        ("bm25", "topk"), ("boolean", "boolean"), ("regexp", "regexp"),
        ("fuzzy", "fuzzy"), ("wildcard", "wildcard"),
    ):
        assert run_case(calls, searcher, kind, ())[0] == f"Searcher.{method}"
    assert run_case(calls, searcher, "bm25", ("where",))[0] == "Searcher.filtered"
    assert run_case(calls, searcher, "bm25", ("rescore",))[0] == "Searcher.rescore"
