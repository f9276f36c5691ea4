"""Boolean query language over the BM25 index: `+must -not "a phrase"`.

The reference exposed boolean/phrase structure through its Solr text
backend (reference text/Query.py builds Solr queries; Solr's own parser
supplies +/-/"" semantics); here the same surface is served off our own
IndexStore, Spark-first:

  grammar      bare word   -> SHOULD  (scores, not required)
               +word       -> MUST    (required, scores)
               -word       -> MUST_NOT(excluded, never scores)
               #word       -> FILTER  (required, NEVER scores —
                                       Lucene Occur.FILTER /
                                       ES bool.filter; a pure-filter
                                       query serves its match set at
                                       constant score 0)
               "w1 w2 .."  -> PHRASE  (required consecutive run; terms
                                       also score; -"..." excludes)
               clause^B    -> BOOST   (Lucene: idf x B for the
                                       clause's scoring terms)
               AND OR NOT  -> Lucene classic-QueryParser keyword
                              operators (also && / || / !), resolved
                              to +/- pairwise before parsing

Semantics follow the Lucene discipline: a query needs at least one
positive clause; ranking is plain BM25 over the positive terms
(should + must + positive-phrase terms), restricted to documents that
contain EVERY must term and every positive phrase, minus documents
containing any must-not term or phrase. Ties: score desc, doc_id asc.

Scale shape (the Lucene conjunction discipline, Spark-first): when the
query has must terms, the RAREST must term (by df — answered from the
warm head lexicon, or one <=|query|-row stats lookup cold) seeds the
candidate set, and every other term's postings are decoded RESTRICTED
to those candidates — whole blocks whose [first_doc, next_first) range
misses every candidate are skipped using the block-max metadata alone,
without decompression. A query like `the +rarename` therefore never
decodes (let alone shuffles) the head term's posting list; data moved
is proportional to the CANDIDATE set, not the matched lists:

Because the index is DOC-SHARDED (every doc's postings for all terms
live in one shard), the whole conjunction completes INSIDE one
per-shard kernel — the same shape as the block-max WAND kernel:

  per shard:  decode seed fully -> candidate ids
              other terms: skip blocks missing every candidate (block
                metadata only), decode survivors, keep candidates
              per-doc aggregate: BM25 part sum (idf driver-resolved
                from the resident lexicon — no stats broadcast join),
                must-coverage count, must-not flag
              filter(coverage == |must|-1 AND NOT flagged) (seed
                containment is implied by construction)
              local top-k (score desc, doc asc)
  global:     TakeOrderedAndProject(k) over <= k rows per shard
  phrases:    semi/anti positional folds on the aggregate (local top-k
              disabled when phrases are present — they filter further)

Warm (Searcher.boolean): the cached postings are already partitioned
by shard, so the query is ONE job with NO shuffle at all — scan of the
cached partitions, kernel, k-row merge, exactly like warm WAND. Cold:
one repartition of the <=|terms| x shards matched compressed rows. The
decoded data never enters a shuffle in either path (round-3 finding:
the old plan decoded up to 3x and shuffled every decoded posting of
every positive term before restricting). Must-not terms decode doc-id
blocks only, skipping the tf/dl blobs.

Block-max WAND (plans/search.py) stays the pure-disjunctive fast path;
conjunctive scoring decodes what it must and nothing else.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tangent_spark.codec import bm25_tf_norm
from tangent_spark.config import IndexConfig
from tangent_spark.sources.store import IndexStore

# the quoted-phrase alternative only wins when its optional ~N slop
# and/or ^B boost suffixes end at a token boundary: '"a b"~2x' is NOT
# a slop-2 phrase plus a stray 'x' — it degrades to plain-term
# treatment like any other malformed quoting (ADVICE r4: silent slop
# edge cases). Suffix order follows Lucene: slop then boost
# ('"a b"~2^1.5').
_CLAUSE = re.compile(
    r'([+\-!#]?)("([^"]*)"(~\d+)?(\^\d+(?:\.\d+)?)?(?!\S)|\S+)'
)
_DANGLING_SLOP = re.compile(r"^~(\d+)$")
_DANGLING_BOOST = re.compile(r"^\^(\d+(?:\.\d+)?)$")

# Lucene classic QueryParser keyword operators — UPPERCASE only, the
# Lucene rule (lowercase 'and'/'or'/'not' stay ordinary search terms)
_KEYWORD_OPS = {"AND": "and", "&&": "and", "OR": "or", "||": "or",
                "NOT": "not", "!": "not"}


def _apply_keyword_ops(toks):
    """Resolve Lucene classic-QueryParser keyword operators (AND / &&,
    OR / ||, NOT, and a lone '!') over the _CLAUSE token stream into
    effective +/- clause modifiers, matching Lucene's documented
    pairwise behaviour:

      * a clause is MUST when the operator immediately before OR after
        it is AND  ('a AND b OR c' -> '+a +b c'; 'a OR b AND c' ->
        'a +b +c');
      * NOT prohibits the next clause and wins over AND
        ('a AND NOT b' -> '+a -b');
      * OR is the default operator (clauses stay SHOULD); it clears a
        pending AND but never demotes an explicit '+';
      * explicit +/-/! modifiers on a clause always win;
      * a dangling operator with no clause to bind to is dropped
        (Lucene throws ParseException; this parser degrades, its
        discipline for every malformed input);
      * detached ~N / ^B repair tokens are transparent: they neither
        consume a pending operator nor count as its operand.
    """
    items = []  # ('and'|'or'|'not'|'clause', token)
    for tk in toks:
        mod, raw = tk[0], tk[1]
        op = _KEYWORD_OPS.get(raw) if not mod else None
        items.append((op or "clause", tk))
    out = []
    pending_not = False
    pending_and = False
    last_clause = -1  # index into `out` of the previous real clause
    for kind, tk in items:
        if kind == "and":
            pending_and = True
            if last_clause >= 0 and out[last_clause][0] == "":
                out[last_clause] = ("+",) + out[last_clause][1:]
            continue
        if kind == "or":
            pending_and = False
            continue
        if kind == "not":
            pending_not = True
            continue
        mod, raw = tk[0], tk[1]
        if not mod and (_DANGLING_SLOP.match(raw) or _DANGLING_BOOST.match(raw)):
            out.append(tk)  # phrase-suffix repair token: transparent
            continue
        if mod == "!":  # Lucene '!term' == NOT term == '-term'
            mod = "-"
        elif not mod:
            mod = "-" if pending_not else ("+" if pending_and else "")
        pending_not = pending_and = False
        out.append((mod,) + tk[1:])
        last_clause = len(out) - 1
    return out

_OUT_SCHEMA = "doc_id long, score double"
_MAXDOC = np.int64(2**62)


@dataclass
class BooleanQuery:
    should: list = field(default_factory=list)      # [term]
    must: list = field(default_factory=list)        # [term]
    must_not: list = field(default_factory=list)    # [term]
    filters: list = field(default_factory=list)     # [term] required, NON-scoring
    phrases: list = field(default_factory=list)     # [([term, ...], slop)] required
    not_phrases: list = field(default_factory=list)  # [([term, ...], slop)] excluded
    boosts: dict = field(default_factory=dict)      # {term: idf multiplier}

    @property
    def positive_terms(self) -> list:
        """Distinct scoring terms, sorted (should + must + phrase terms)."""
        return sorted(
            set(self.should)
            | set(self.must)
            | {t for p, _ in self.phrases for t in p}
        )


# Lucene/Solr range clause on a metadata field: field:[lo TO hi]
# (inclusive), {lo TO hi} (exclusive), mixed brackets, `*` open ends,
# values optionally double-quoted (timestamps with spaces). TO must be
# uppercase (the Lucene rule).
_RANGE_CLAUSE = re.compile(
    r'(?:(?<=\s)|^)([+-]?)([A-Za-z_][A-Za-z0-9_]*):'
    r'([\[{])\s*("[^"]*"|[^\s\]}]+)\s+TO\s+("[^"]*"|[^\s\]}]+)\s*([\]}])'
    r"(?=\s|$)"
)


def parse_range_clauses(
    query: str, fields: tuple[str, ...]
) -> tuple[str, str | None]:
    """Extract Lucene/Solr range clauses over KNOWN metadata fields
    from a query string and compile them to ONE SQL predicate for the
    filtered route (Solr fq semantics: a filter restricts the match
    set, never changes a surviving doc's score — filtered_topk's
    contract). Returns (query with range clauses stripped, predicate
    or None).

      warc_ts:[2025-01-01 TO 2025-02-01]   -> warc_ts >= '..' AND <= '..'
      size:{100 TO *}                      -> size > '100'
      lang:[* TO *]                        -> lang IS NOT NULL
      -lang:[a TO b]                       -> lang IS NULL OR NOT (...)

    Lucene NULL semantics are preserved through SQL three-valued
    logic: a positive range never matches a NULL field (SQL comparison
    yields NULL -> filtered), and a NEGATED range keeps docs missing
    the field (explicit IS NULL arm). A clause whose field is not in
    `fields` is left in the query text untouched (it tokenizes like
    any other term — the Lucene degrade used everywhere in this
    parser). String literals compare correctly for ISO timestamps and
    zero-padded numerics; numeric columns coerce the literal (Spark
    and DuckDB both cast the string side)."""
    conds: list[str] = []

    def _lit(v: str) -> str | None:
        if v == "*":
            return None
        if len(v) >= 2 and v.startswith('"') and v.endswith('"'):
            v = v[1:-1]
        return "'" + v.replace("'", "''") + "'"

    def repl(m: re.Match) -> str:
        mod, fld, lb, lo, hi, rb = m.groups()
        if fld not in fields:
            return m.group(0)
        parts = []
        llo, lhi = _lit(lo), _lit(hi)
        if llo is not None:
            parts.append(f"{fld} >{'=' if lb == '[' else ''} {llo}")
        if lhi is not None:
            parts.append(f"{fld} <{'=' if rb == ']' else ''} {lhi}")
        cond = " AND ".join(parts) if parts else f"{fld} IS NOT NULL"
        if mod == "-":
            cond = f"({fld} IS NULL OR NOT ({cond}))"
        elif len(parts) > 1:
            cond = f"({cond})"
        conds.append(cond)
        return " "

    # quoted spans are opaque: a range-shaped pattern lying INSIDE a
    # balanced "..." is phrase text, not a metadata filter — stripping
    # it would silently change phrase semantics (ADVICE r5). A range
    # clause whose own VALUE is quoted (`ts:["a b" TO *]`) is fine:
    # its match starts before the quote span, so it is not inside one.
    spans = [(m.start(), m.end()) for m in re.finditer(r'"[^"]*"', query)]

    def guarded(m: re.Match) -> str:
        for s, e in spans:
            if m.start() >= s and m.end() <= e:
                return m.group(0)  # inside a quoted phrase — stays text
        return repl(m)

    rest = _RANGE_CLAUSE.sub(guarded, query)
    return " ".join(rest.split()), (" AND ".join(conds) if conds else None)


def parse_boolean_query(query: str, cfg: IndexConfig) -> BooleanQuery:
    """Parse the +/-/"" surface; each clause is run through the index's
    tokenizer so query terms hit the same stemmed vocabulary the index
    stores. Lucene classic-QueryParser keyword operators are ALSO
    accepted and resolve to the same modifiers first (`a AND b NOT c`
    == `+a +b -c`, `a OR b` == `a b`, `!term` == `-term`; uppercase
    only — lowercase 'and'/'or'/'not' remain search terms; see
    _apply_keyword_ops for the pairwise rules). A quoted single word degrades to a plain must/not/should
    term; a multi-word unquoted clause (tokenizer split, e.g. 'a-b')
    contributes each token to the same bucket. An UNBALANCED quote
    (`he said "hello`) falls back to plain-term treatment of the
    stray-quoted token instead of silently dropping it. A `"..."~N`
    suffix sets the phrase's proximity slop (Lucene sloppy-phrase
    surface; 0 = exact, see plans.phrase.phrase_match_positions).
    Slop edge cases (ADVICE r4): a slop suffix glued to extra junk
    (`"a b"~2x`) is NOT a phrase — it degrades to plain terms like any
    malformed quoting; a detached `~N` token right after a phrase
    (`"a b" ~2`) attaches to that phrase instead of becoming a bogus
    numeric term; a `~N` with no preceding phrase is dropped.

    Lucene boost syntax: `term^2.5` / `+term^2.5` scales that term's
    idf; `"a b"^2` (or `"a b"~3^2`, slop first like Lucene) boosts the
    phrase's scoring terms. Boosts collect into BooleanQuery.boosts
    ({stemmed term: multiplier}); a term boosted twice keeps the
    larger boost (duplicate terms score once — idf-scaling twins
    split_term_boosts' discipline on the plain route). Boosting a
    must-not clause is meaningless and ignored.

    A `*` INSIDE a quoted phrase is stripped by the tokenizer, so
    `"table s*"` degrades to the exact phrase `table s` — the same
    behavior as Lucene's classic/edismax parsers (whose analyzers also
    strip it; only ComplexPhraseQueryParser interprets it). For real
    prefix-last-term phrase matching use the explicit ES-style surface:
    plans.phrase.phrase_prefix_topk / api.search(phrase_prefix=True)."""
    from tangent_spark.functions.tokenize import tokenize_porter, tokenize_simple

    from tangent_spark.plans.search import _TERM_BOOST

    tok = tokenize_porter if cfg.tokenizer == "porter" else tokenize_simple

    def _note_boost(terms, boost):
        if boost != 1.0:
            for t in terms:
                out.boosts[t] = max(boost, out.boosts.get(t, 0.0))

    out = BooleanQuery()
    last_phrase = None  # (bucket, index) of the most recent phrase clause
    for mod, raw, quoted, slop_s, boost_s in _apply_keyword_ops(
        _CLAUSE.findall(query)
    ):
        dangle = _DANGLING_SLOP.match(raw)
        if dangle and not mod:
            if last_phrase is not None:
                bucket, i = last_phrase
                p_terms, p_slop = bucket[i]
                if p_slop == 0:
                    bucket[i] = (p_terms, int(dangle.group(1)))
            continue
        bdangle = _DANGLING_BOOST.match(raw)
        if bdangle and not mod:
            # a detached `^B` right after a phrase boosts that phrase's
            # terms (mirrors the detached-slop repair); with no
            # preceding phrase it is dropped like a dangling `~N`
            if last_phrase is not None:
                bucket, i = last_phrase
                _note_boost(bucket[i][0], float(bdangle.group(1)))
            continue
        is_phrase = raw.startswith('"') and (
            raw.endswith('"')
            or (slop_s and raw.endswith(slop_s))
            or (boost_s and raw.endswith(boost_s))
        )
        boost = 1.0
        if is_phrase:
            boost = float(boost_s[1:]) if boost_s else 1.0
        else:
            m = _TERM_BOOST.match(raw)
            if m and not raw.startswith('"'):
                raw, boost = m.group(1), float(m.group(2))
        terms = tok(quoted if is_phrase else raw)
        if not terms:
            continue
        if is_phrase and len(terms) > 1:
            if mod == "#":
                raise ValueError(
                    'filter phrases (#"...") are not supported; use a '
                    'required scoring phrase (+"..." or bare "...") '
                    "instead"
                )
            slop = int(slop_s[1:]) if slop_s else 0
            bucket = out.not_phrases if mod == "-" else out.phrases
            bucket.append((terms, slop))
            last_phrase = (bucket, len(bucket) - 1)
            if mod != "-":  # boosting an excluded phrase is meaningless
                _note_boost(terms, boost)
            continue
        last_phrase = None
        if mod == "-":
            out.must_not.extend(terms)
        elif mod == "+":
            out.must.extend(terms)
            _note_boost(terms, boost)
        elif mod == "#":
            # Lucene BooleanClause.Occur.FILTER / ES bool.filter:
            # required for membership, contributes NOTHING to the
            # score (boosting is meaningless and ignored, like must_not)
            out.filters.extend(terms)
        else:
            out.should.extend(terms)
            _note_boost(terms, boost)
    return out


def resolve_mm(spec, n_should: int) -> int:
    """Resolve a Solr-style `minimum_should_match` spec against the
    query's distinct SHOULD-term count (Solr `mm` param / Lucene
    BooleanQuery.setMinimumNumberShouldMatch):

      * positive int n  — n should terms required, used AS-IS (Lucene:
        a value greater than the should count matches nothing);
      * negative int -n — all but n required (n_should - n);
      * 'p%'            — floor(p/100 * n_should) required;
      * '-p%'           — all but floor(p/100 * n_should) required;
      * 0 / None / ''   — no constraint (plain boolean semantics).

    Negative and percentage forms are clamped into [0, n_should] (the
    Solr dismax discipline — '200%' degrades to all-required instead
    of match-nothing; only an explicit positive int can overshoot)."""
    if spec is None:
        return 0
    if isinstance(spec, int):
        return spec if spec >= 0 else max(0, n_should + spec)
    s = str(spec).strip()
    if not s:
        return 0
    neg = s.startswith("-")
    if neg:
        s = s[1:]
    if s.endswith("%"):
        import math as _m

        val = int(_m.floor(float(s[:-1]) / 100.0 * n_should))
    else:
        val = int(s)
        if not neg:
            return val  # positive int spec: Lucene as-is semantics
    if neg:
        val = n_should - val
    return max(0, min(val, n_should))


class _TermRoles:
    """Per-term scoring/membership roles, closure-shipped to the shard
    kernel: idf (driver-resolved), must-check index, must-not flag,
    and — when minimum_should_match is in play — the should-term
    ordinal map plus the required distinct-should count `mm`."""

    def __init__(
        self, idf_map, must_check, must_not, k1, b, avgdl,
        should_check=(), mm: int = 0,
    ):
        self.idf = dict(idf_map)
        self.must_id = {t: i for i, t in enumerate(must_check)}
        self.not_set = set(must_not)
        self.should_id = {t: i for i, t in enumerate(should_check)}
        self.mm = int(mm)
        self.k1, self.b, self.avgdl = float(k1), float(b), float(avgdl)

    def frame(self, term, ids, tfs, dls) -> pd.DataFrame:
        idf = self.idf.get(term)
        if idf is not None and ids.size:
            part = idf * bm25_tf_norm(tfs, dls, self.avgdl, self.k1, self.b)
        else:
            part = np.zeros(ids.size, dtype=np.float64)
        return pd.DataFrame(
            {
                "doc_id": ids,
                "part": part,
                "must_id": np.full(
                    ids.size, self.must_id.get(term, -1), dtype=np.int32
                ),
                "is_not": np.full(
                    ids.size, 1 if term in self.not_set else 0, dtype=np.int32
                ),
                "should_id": np.full(
                    ids.size, self.should_id.get(term, -1), dtype=np.int32
                ),
            }
        )

    def scores(self, term: str) -> bool:
        return term in self.idf


def _decode_row_blocks(row, block_idx, score: bool, cand_ids=None, deleted=None):
    """Decode the given blocks of one compressed postings row; when
    `cand_ids` (sorted int64) is given, keep only candidate postings;
    `deleted` (sorted int64 tombstones) ids are masked out first.
    Membership-only rows (score=False) decode just the doc-id blob.
    Returns (ids, tfs, dls) int64 arrays."""
    from tangent_spark.codec import decode_block
    from tangent_spark.plans.search import _deleted_mask

    counts = row["counts"]
    d_cuts = np.asarray(row["d_cuts"])
    ids_parts, tf_parts, dl_parts = [], [], []
    t_cuts = np.asarray(row["t_cuts"]) if score else None
    l_cuts = np.asarray(row["l_cuts"]) if score else None
    for bi in block_idx:
        cnt = int(counts[bi])
        ids = decode_block(row["docs_blob"], d_cuts, bi, cnt, True).astype(np.int64)
        mask = _deleted_mask(ids, deleted)
        if cand_ids is not None:
            idx = np.searchsorted(cand_ids, ids)
            idx_c = np.minimum(idx, cand_ids.size - 1)
            cmask = cand_ids[idx_c] == ids
            mask = cmask if mask is None else (mask & cmask)
        if mask is not None and not mask.any():
            continue
        if score:
            tfs = decode_block(row["tfs_blob"], t_cuts, bi, cnt, False).astype(np.int64)
            dls = decode_block(row["dls_blob"], l_cuts, bi, cnt, False).astype(np.int64)
        else:
            tfs = np.zeros(ids.size, dtype=np.int64)
            dls = np.ones(ids.size, dtype=np.int64)
        if mask is not None:
            ids, tfs, dls = ids[mask], tfs[mask], dls[mask]
        ids_parts.append(ids)
        tf_parts.append(tfs)
        dl_parts.append(dls)
    if not ids_parts:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    return (
        np.concatenate(ids_parts),
        np.concatenate(tf_parts),
        np.concatenate(dl_parts),
    )


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")}
    )


def _blocks_needed(row, cand_ids) -> np.ndarray:
    """Block indices whose [first_doc, next_first) range can intersect
    the sorted candidate set — the block-metadata-only skip (no
    decompression for a skipped block)."""
    n_blocks = len(row["counts"])
    if cand_ids is None:
        return np.arange(n_blocks)
    firsts = np.asarray(row["first_docs"], dtype=np.int64)
    his = np.empty_like(firsts)
    his[:-1] = firsts[1:] - 1
    his[-1] = np.int64(row["max_doc"])
    lo = np.searchsorted(cand_ids, firsts, side="left")
    hi = np.searchsorted(cand_ids, his, side="right")
    return np.flatnonzero(hi > lo)


def _apply_deny(ids, tfs, dls, deny):
    """Drop postings whose doc id sits in the sorted `deny` set."""
    if deny is None or not deny.size or not ids.size:
        return ids, tfs, dls
    pos = np.minimum(np.searchsorted(deny, ids), deny.size - 1)
    keep = deny[pos] != ids
    if keep.all():
        return ids, tfs, dls
    return ids[keep], tfs[keep], dls[keep]


def _should_only_sweep(
    pdf: pd.DataFrame, roles: _TermRoles, k: int, cand_ids, deleted, counter,
) -> pd.DataFrame:
    """Ranked should-only queries (no must seed — round-5, VERDICT r4
    #2): block-max THRESHOLD pruning, the same interval sweep as
    plans.search._score_shard, with the must-not terms' ids applied as
    a decode-time mask. Rank-identical to full decode: per-block upper
    bounds (idf * tfn(max_tf, min_dl), valid from metadata alone) can
    only overestimate once deny/deleted ids are masked out, and the
    strict-< threshold keeps tie-breaks exact. A query like
    `head1 head2 -rare` therefore decodes the must-not list plus only
    the head blocks that can still reach the running top-k — Lucene
    WANDs these the same way; the old path decoded every matched
    block.

    minimum_should_match (roles.mm > 0) composes with the pruning
    exactly: each point-range's aggregation is COMPLETE for the docs
    inside it (every block covering a doc's id intersects its range),
    so the per-doc distinct-should count is exact there and docs below
    mm are dropped before they can enter the running top-k. Pruning on
    `ub < threshold` stays rank-safe — ub bounds any doc's total score
    whether or not it satisfies mm, and the threshold only comes from
    surviving (mm-satisfying) docs."""
    decoded = 0
    # must-not ids first (doc-id blobs only — score=False skips tf/dl)
    deny_parts = []
    pos_rows = []
    for _, row in pdf.iterrows():
        if row["term"] in roles.not_set:
            needed = _blocks_needed(row, cand_ids)
            if not needed.size:
                continue
            ids, _, _ = _decode_row_blocks(
                row, needed, score=False, cand_ids=cand_ids, deleted=None
            )
            decoded += int(needed.size)
            deny_parts.append(ids)
        elif roles.scores(row["term"]):
            pos_rows.append(row)
    deny = (
        np.unique(np.concatenate(deny_parts))
        if deny_parts
        else np.zeros(0, dtype=np.int64)
    )

    # block metadata for every scoring row (candidate-free blocks are
    # dropped here from metadata alone, like _blocks_needed)
    blocks = []  # (lo, hi, bound, row_idx, blk_idx)
    for ri, row in enumerate(pos_rows):
        t_idf = roles.idf[row["term"]]
        firsts = np.asarray(row["first_docs"], dtype=np.int64)
        bounds = t_idf * bm25_tf_norm(
            np.asarray(row["max_tfs"], dtype=np.int64),
            np.asarray(row["min_dls"], dtype=np.int64),
            roles.avgdl, roles.k1, roles.b,
        )
        his = np.empty_like(firsts)
        his[:-1] = firsts[1:] - 1
        his[-1] = np.int64(row["max_doc"])
        if cand_ids is not None:
            keep = np.searchsorted(cand_ids, his, "right") > np.searchsorted(
                cand_ids, firsts, "left"
            )
        else:
            keep = np.ones(firsts.size, dtype=bool)
        for bi in np.flatnonzero(keep):
            blocks.append((firsts[bi], his[bi], bounds[bi], ri, bi))
    if not blocks:
        if counter is not None and decoded:
            counter.add(decoded)
        return _empty_out()

    lo = np.array([b[0] for b in blocks], dtype=np.int64)
    hi = np.array([b[1] for b in blocks], dtype=np.int64)
    bnd = np.array([b[2] for b in blocks], dtype=np.float64)
    points = np.unique(np.concatenate([lo, hi + 1]))
    starts = points[:-1]
    ends = points[1:] - 1
    li = np.searchsorted(points, lo, side="right") - 1
    hj = np.searchsorted(points, hi + 1, side="right") - 1
    delta = np.zeros(points.size, dtype=np.float64)
    np.add.at(delta, li, bnd)
    np.add.at(delta, hj, -bnd)
    ub = np.cumsum(delta)[:-1]

    order = np.argsort(-ub, kind="stable")
    cache: dict = {}
    top_docs = np.zeros(0, dtype=np.int64)
    top_scores = np.zeros(0, dtype=np.float64)
    threshold = -1.0
    for r in order:
        # strict <: a range whose bound EQUALS the threshold may still
        # hold a doc with score == threshold and a smaller doc_id
        if top_scores.size >= k and ub[r] < threshold:
            break
        rlo, rhi = starts[r], ends[r]
        cover = np.flatnonzero((lo <= rhi) & (hi >= rlo))
        all_ids, all_contrib, all_sid = [], [], []
        for ci in cover:
            _, _, _, ri, bi = blocks[ci]
            key = (ri, bi)
            if key not in cache:
                row = pos_rows[ri]
                ids, tfs, dls = _decode_row_blocks(
                    row, [bi], score=True, cand_ids=cand_ids, deleted=deleted
                )
                decoded += 1
                ids, tfs, dls = _apply_deny(ids, tfs, dls, deny)
                contrib = roles.idf[row["term"]] * bm25_tf_norm(
                    tfs, dls, roles.avgdl, roles.k1, roles.b
                )
                cache[key] = (ids, contrib)
            ids, contrib = cache[key]
            s = np.searchsorted(ids, rlo, side="left")
            e = np.searchsorted(ids, rhi, side="right")
            if e > s:
                all_ids.append(ids[s:e])
                all_contrib.append(contrib[s:e])
                if roles.mm > 0:
                    sid = roles.should_id.get(pos_rows[ri]["term"], -1)
                    all_sid.append(np.full(e - s, sid, dtype=np.int32))
        if not all_ids:
            continue
        cat_ids = np.concatenate(all_ids)
        cat_c = np.concatenate(all_contrib)
        uids, inv = np.unique(cat_ids, return_inverse=True)
        sums = np.zeros(uids.size, dtype=np.float64)
        np.add.at(sums, inv, cat_c)
        if roles.mm > 0:
            # distinct should terms per doc inside this range (exact:
            # the range sees every posting of its docs)
            cat_sid = np.concatenate(all_sid)
            ok = cat_sid >= 0
            n_sid = max(1, len(roles.should_id))
            cnt = np.zeros(uids.size, dtype=np.int64)
            if ok.any():
                keys = inv[ok].astype(np.int64) * np.int64(n_sid) + cat_sid[ok]
                udoc = np.unique(keys) // np.int64(n_sid)
                np.add.at(cnt, udoc.astype(np.int64), 1)
            keepm = cnt >= roles.mm
            if not keepm.any():
                continue
            uids, sums = uids[keepm], sums[keepm]
        top_docs = np.concatenate([top_docs, uids])
        top_scores = np.concatenate([top_scores, sums])
        if top_scores.size > k:
            ordk = np.lexsort((top_docs, -top_scores))[:k]
            top_docs, top_scores = top_docs[ordk], top_scores[ordk]
        if top_scores.size >= k:
            threshold = float(top_scores.min())
    if counter is not None and decoded:
        counter.add(decoded)
    ordk = np.lexsort((top_docs, -top_scores))[:k]
    return pd.DataFrame(
        {"doc_id": top_docs[ordk].astype(np.int64), "score": top_scores[ordk]}
    ).reset_index(drop=True)


def _boolean_shard_kernel(
    roles: _TermRoles, seed: str | None, n_must_check: int, k_local: int | None,
    counter=None, deleted=None, ext_cand=None, n_shards: int = 0,
    phrases=None, not_phrases=None, phrases_in_order: bool = True,
):
    """The per-shard conjunction kernel (see module docstring): decode
    seed -> candidates -> block-skip restricted decode of the rest ->
    per-doc aggregate -> must/not filter -> optional local top-k.
    Input: ONE shard's matched compressed postings rows (pandas frame
    with POSTINGS_SCHEMA columns). Output: (doc_id, score) rows.
    `counter` receives the number of doc-id blocks decoded.
    `ext_cand` (sorted int64, filtered_topk's metadata-filter doc set)
    pre-restricts EVERY decode — the Lucene filter-iterator discipline:
    the seed itself only decodes blocks intersecting the filter set, and
    candidates are seed∩filter. Because doc ids interleave across shards
    (shard = doc_id % n_shards), the filter set is first reduced to THIS
    shard's members — block ranges of other shards numerically overlap
    the candidates, so without the reduction the interval skip can never
    rule them out (the driver additionally prunes whole candidate-free
    shards out of the scan; this handles partial shards).

    `phrases`/`not_phrases` ([(terms, slop), ...]) switch on IN-KERNEL
    phrase clauses (round-5, VERDICT r4 #4): the input frame then also
    carries the shard's positions rows (kind=1 — the warm serving cache
    co-locates them with the postings, see Searcher), each required
    phrase's doc set is matched in-kernel (plans.phrase.phrase_docs_np)
    and INTERSECTED INTO THE CANDIDATE SET before any postings decode —
    a phrase acts like a must clause, so `"exact phrase" the` skips
    every head block without a phrase-matching candidate — and
    must-not-phrase docs merge into the tombstone mask. No doc_id
    equi-join, no shuffle, local top-k stays safe."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        from tangent_spark.plans.phrase import phrase_docs_np

        local_deleted = deleted
        pos_pdf = None
        if "kind" in pdf.columns:
            kmask = pdf["kind"].to_numpy() == 1
            if kmask.any():
                pos_pdf = pdf[kmask]
                pdf = pdf[~kmask]
        frames = []
        decoded = 0
        cand_ids = ext_cand
        if ext_cand is not None and n_shards:
            shard_id = int(pdf["shard"].iloc[0]) if len(pdf) else -1
            if shard_id < 0:
                return _empty_out()
            cand_ids = ext_cand[ext_cand % n_shards == shard_id]
            if not cand_ids.size:
                return _empty_out()
        filt_cand = cand_ids
        if phrases:
            allow = None
            for p_terms, slop in phrases:
                ids, _ = phrase_docs_np(
                    pos_pdf, p_terms, slop, in_order=phrases_in_order
                )
                allow = ids if allow is None else np.intersect1d(allow, ids)
                if not allow.size:
                    return _empty_out()
            filt_cand = (
                allow if filt_cand is None else np.intersect1d(filt_cand, allow)
            )
            if not filt_cand.size:
                return _empty_out()
            cand_ids = filt_cand
        if not_phrases:
            deny_parts = [
                phrase_docs_np(pos_pdf, p_terms, slop, in_order=phrases_in_order)[0]
                for p_terms, slop in not_phrases
            ]
            pdeny = np.unique(np.concatenate(deny_parts)) if deny_parts else None
            if pdeny is not None and pdeny.size:
                local_deleted = (
                    pdeny
                    if local_deleted is None or not local_deleted.size
                    else np.union1d(local_deleted, pdeny)
                )
        if seed is None and k_local is not None:
            # ranked should-only query (no must seed): block-max
            # threshold pruning instead of full decode — see
            # _should_only_sweep. Full-match-set consumers (facets,
            # phrase/broad-filter follow-ups) have k_local=None and
            # keep the exhaustive path, which is inherent for them.
            return _should_only_sweep(
                pdf, roles, k_local, filt_cand, local_deleted, counter
            )
        rest = pdf
        if seed is not None:
            sel = pdf["term"] == seed
            seed_ids = []
            for _, row in pdf[sel].iterrows():
                needed = _blocks_needed(row, filt_cand)
                if not needed.size:
                    continue
                ids, tfs, dls = _decode_row_blocks(
                    # a filter-clause seed is membership-only: skip its
                    # tf/dl blobs exactly like a must_not decode
                    row, needed, score=roles.scores(seed),
                    cand_ids=filt_cand, deleted=local_deleted,
                )
                decoded += int(needed.size)
                seed_ids.append(ids)
                frames.append(roles.frame(seed, ids, tfs, dls))
            cand_ids = (
                np.unique(np.concatenate(seed_ids))
                if seed_ids
                else np.zeros(0, dtype=np.int64)
            )
            rest = pdf[~sel]
            if not cand_ids.size:  # shard holds no candidates at all
                rest = rest.iloc[0:0]
        for _, row in rest.iterrows():
            needed = _blocks_needed(row, cand_ids)
            if not needed.size:
                continue
            ids, tfs, dls = _decode_row_blocks(
                row, needed, score=roles.scores(row["term"]), cand_ids=cand_ids,
                deleted=local_deleted,
            )
            decoded += int(needed.size)
            if ids.size:
                frames.append(roles.frame(row["term"], ids, tfs, dls))
        if counter is not None and decoded:
            counter.add(decoded)
        if not frames:
            return _empty_out()
        rows = pd.concat(frames, ignore_index=True)
        g = rows.groupby("doc_id", sort=False)
        score = g["part"].sum()
        deny = g["is_not"].max()
        nm = (
            rows.loc[rows["must_id"] >= 0]
            .groupby("doc_id", sort=False)["must_id"]
            .nunique()
            .reindex(score.index, fill_value=0)
        )
        keep = (nm == n_must_check) & (deny == 0)
        if roles.mm > 0:
            ns = (
                rows.loc[rows["should_id"] >= 0]
                .groupby("doc_id", sort=False)["should_id"]
                .nunique()
                .reindex(score.index, fill_value=0)
            )
            keep &= ns >= roles.mm
        out = pd.DataFrame(
            {"doc_id": score.index[keep].astype(np.int64), "score": score[keep]}
        ).reset_index(drop=True)
        if k_local is not None and len(out) > k_local:
            ordk = np.lexsort((out["doc_id"].to_numpy(), -out["score"].to_numpy()))
            out = out.iloc[ordk[:k_local]].reset_index(drop=True)
        return out

    return run


def _facet_map(docs: DataFrame, by: str, cap: int):
    """(sorted doc_ids, values) of the WHOLE docs dictionary's (doc_id,
    by) map when it fits under `cap` rows, else None — the facet twin
    of _route_filter's driver route (the same information flowing the
    other way). ONE bounded job: collecting cap+1 rows proves the map
    is too big without counting it."""
    if cap <= 0:
        return None
    head = docs.select("doc_id", by).limit(cap + 1).toPandas()
    if len(head) > cap:
        return None
    ids = head["doc_id"].to_numpy(np.int64)
    order = np.argsort(ids)
    return ids[order], head[by].to_numpy()[order]


def _facet_wrap(kernel, ids: np.ndarray, vals: np.ndarray, by: str, rows_counter):
    """Wrap a match-set kernel into a per-shard facet aggregator: map
    the shard's matched doc_ids through the broadcast (doc_id -> value)
    arrays and emit (value, count) PARTIALS — rows leaving the kernel
    are bounded by n_values per shard, never the match-set size
    (round-5, VERDICT r4 #6). `rows_counter` (optional accumulator)
    receives the partial row count — the moved-rows evidence."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = kernel(pdf)
        if not len(out):
            return pd.DataFrame({by: vals[:0], "n_docs": np.zeros(0, np.int64)})
        d = out["doc_id"].to_numpy(np.int64)
        pos = np.minimum(np.searchsorted(ids, d), ids.size - 1)
        ok = ids[pos] == d
        counts = pd.Series(vals[pos[ok]]).value_counts(dropna=False)
        res = pd.DataFrame(
            {by: counts.index.to_numpy(), "n_docs": counts.to_numpy(np.int64)}
        )
        if rows_counter is not None:
            rows_counter.add(len(res))
        return res

    return run


def _stats_wrap(kernel, ids: np.ndarray, vals: np.ndarray, rows_counter):
    """Wrap a match-set kernel into a per-shard MOMENT aggregator
    (facet_stats' kernel route): map matched doc_ids through the
    broadcast (doc_id -> double value) arrays and emit ONE partial row
    per shard (n_count, n_missing, v_min, v_max, v_sum) — rows leaving
    the kernel are bounded by the shard count, never the match-set or
    distinct-value size. Shards whose matches are all missing emit NaN
    min/max; the outer aggregate filters those."""

    cols = ["n_count", "n_missing", "v_min", "v_max", "v_sum"]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        out = kernel(pdf)
        if not len(out):
            return pd.DataFrame({c: [] for c in cols})
        d = out["doc_id"].to_numpy(np.int64)
        pos = np.minimum(np.searchsorted(ids, d), ids.size - 1)
        ok = ids[pos] == d
        v = vals[pos[ok]].astype(np.float64)
        m = ~np.isnan(v)
        fin = v[m]
        res = pd.DataFrame(
            {
                "n_count": [np.int64(fin.size)],
                "n_missing": [np.int64(v.size - fin.size)],
                "v_min": [fin.min() if fin.size else np.nan],
                "v_max": [fin.max() if fin.size else np.nan],
                "v_sum": [fin.sum() if fin.size else 0.0],
            }
        )
        if rows_counter is not None:
            rows_counter.add(len(res))
        return res

    return run


_STATS_COLS = (
    "n_count long, n_missing long, v_min double, v_max double, v_sum double"
)


def _stats_finish(partials: DataFrame) -> DataFrame:
    """One-row stats contract from moment partials (any granularity:
    per-shard kernel rows or per-doc fallback rows)."""
    nn = F.when(~F.isnan("v_min"), F.col("v_min"))
    nx = F.when(~F.isnan("v_max"), F.col("v_max"))
    agg = partials.agg(
        F.coalesce(F.sum("n_count"), F.lit(0)).cast("long").alias("n_count"),
        F.coalesce(F.sum("n_missing"), F.lit(0)).cast("long").alias("n_missing"),
        F.min(nn).alias("v_min"),
        F.max(nx).alias("v_max"),
        F.coalesce(F.sum("v_sum"), F.lit(0.0)).alias("v_sum"),
    )
    return agg.withColumn(
        "v_mean",
        F.when(F.col("n_count") > 0, F.col("v_sum") / F.col("n_count")),
    )


def _facet_partials(
    rows_src: DataFrame,
    terms: list[str] | None,
    kernel,
    shard_partitioned: bool,
    by_field,
    ids: np.ndarray,
    vals: np.ndarray,
    rows_counter,
    mode: str = "counts",
    tasks: int | None = None,
) -> DataFrame:
    """Facet plan tail on the kernel route. mode='counts' (default):
    per-shard (value, count) partials -> one hash aggregate over
    <= n_values x shards rows -> the facet ordering contract (n_docs
    desc, value asc). mode='stats': per-shard moment partials -> the
    one-row stats contract (facet_stats)."""
    from pyspark.sql.types import LongType, StructField, StructType

    if mode == "stats":
        wrapped = _stats_wrap(kernel, ids, vals, rows_counter)
        partials = _boolean_rows(
            rows_src, terms, wrapped, shard_partitioned, schema=_STATS_COLS,
            tasks=tasks,
        )
        return _stats_finish(partials)
    wrapped = _facet_wrap(kernel, ids, vals, by_field.name, rows_counter)
    schema = StructType([by_field, StructField("n_docs", LongType(), False)])
    partials = _boolean_rows(
        rows_src, terms, wrapped, shard_partitioned, schema=schema, tasks=tasks
    )
    by = by_field.name
    return (
        partials.groupBy(by)
        .agg(F.sum("n_docs").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(by))
    )


def _boolean_rows(
    postings: DataFrame,
    terms: list[str] | None,
    kernel,
    shard_partitioned: bool,
    schema=_OUT_SCHEMA,
    tasks: int | None = None,
) -> DataFrame:
    """Run the shard kernel over the matched postings rows. Rows already
    partitioned by shard (the warm cache, shard_partitioned=True) are
    coalesced to `tasks` partitions and regrouped by shard inside each
    one — a shuffle-free mapInPandas, ONE job end to end. Unpartitioned
    rows (a cold parquet scan) take the same runner when `tasks` is 1
    (the query's postings fit one task, search._cold_tasks): every
    shard lands in the one partition. Otherwise they shuffle by shard —
    one repartition of the <= |terms| x n_shards matched compressed
    rows (never decoded data) — and each shard's rows are sorted by term
    so the kernel sums a doc's contributions in the warm cache's order.
    `terms=None` means the caller already applied its row filter (the
    warm in-kernel phrase route passes the combined postings+positions
    serving scan pre-filtered by kind)."""
    pf = postings if terms is None else postings.filter(F.col("term").isin(terms))
    if not shard_partitioned and tasks != 1:
        return pf.groupBy("shard").applyInPandas(
            lambda pdf: kernel(pdf.sort_values("term", kind="stable", ignore_index=True)),
            schema=schema,
        )
    if tasks:
        # cache-size-adaptive task wave (Searcher.query_tasks): the
        # kernel regroups by shard in-partition, so merging small
        # cache partitions only cuts per-query task-launch and
        # Python-worker round trips, never results
        pf = pf.coalesce(tasks)

    def mp(batches):
        rows = [p for p in batches if len(p)]
        if not rows:
            return
        allp = pd.concat(rows, ignore_index=True)
        if not shard_partitioned:
            # a shard's runs arrive file by file (base build, appended
            # batches): sort them by term, the warm cache's order
            allp = allp.sort_values(["shard", "term"], kind="stable")
        for _, grp in allp.groupby("shard", sort=False):
            out = kernel(grp.reset_index(drop=True))
            if len(out):
                yield out

    return pf.mapInPandas(mp, schema=schema)


def boolean_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    decode_counter=None,
    min_should_match=0,
    unordered_phrases: bool = False,
) -> DataFrame:
    """Top-k (doc_id, score) for a boolean query string off the index
    (cold path: postings/stats read from parquet per query).
    `min_should_match` takes any Solr mm spec (see resolve_mm): a doc
    must then match at least that many DISTINCT should terms on top of
    the usual must/phrase/not constraints; scores are unchanged for
    surviving docs (BM25 over all their matching positive terms).
    `unordered_phrases` serves every phrase clause with Lucene sloppy
    (reorder-tolerant) matching instead of in-order slack — see
    plans.phrase._unordered_tf.

    Raises ValueError if the query has no positive clause, or if it
    carries a phrase but the index was built without positions."""
    from tangent_spark.plans.search import _cold_sources

    return _boolean_plan(
        spark,
        store,
        query,
        k,
        decode_counter=decode_counter,
        **_cold_sources(spark, store),
        min_should_match=min_should_match,
        unordered_phrases=unordered_phrases,
    )


def _boolean_plan(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    postings: DataFrame,
    n_docs: int,
    avgdl: float,
    df_lookup,
    positions: DataFrame | None = None,
    decode_counter=None,
    shard_partitioned: bool = False,
    deleted=None,
    ext_cand=None,
    cand_df: DataFrame | None = None,
    return_matches: bool = False,
    serving: DataFrame | None = None,
    facet=None,
    min_should_match=0,
    unordered_phrases: bool = False,
    tasks: int | None = None,
) -> DataFrame:
    """Shared boolean plan over a cold source (search._cold_sources:
    parquet reads, boolean_topk) or a Searcher's cached, shard-
    partitioned copies (Searcher.boolean — same plan, zero file I/O for
    postings/positions and zero shuffle). `df_lookup(terms) -> {term:
    df}` resolves idf driver-side: the warm path answers it from its
    resident lexicon (no job), the cold path with one <= |query|-row
    filtered collect, whose summed df also picks the cold runner
    (search._cold_tasks: one task without a shard shuffle when the
    query's postings fit it).

    Metadata filters (filtered_topk) arrive one of two ways: `ext_cand`
    (sorted int64 array, selective filters) restricts every decode
    inside the kernel; `cand_df` (a doc_id DataFrame, broad filters)
    semi-joins the per-doc aggregate BEFORE the global top-k — per-shard
    local top-k is disabled then, since pre-truncation could drop the
    filter's survivors.

    `serving` (warm only): the Searcher's COMBINED postings+positions
    cache (kind 0/1 rows, co-partitioned by shard). When present and
    the query carries phrase clauses, phrases are matched INSIDE the
    per-shard kernel (no positional equi-join chain, no shuffle, local
    top-k stays on) — the whole boolean+phrase query remains ONE job.

    `min_should_match` (any Solr mm spec — see resolve_mm) requires
    each match to contain at least that many DISTINCT should terms in
    addition to the must/phrase/not constraints; surviving docs keep
    their full BM25 score. Both kernel paths enforce it in-kernel: the
    conjunction aggregate counts distinct should ordinals next to its
    must-coverage count, and the should-only sweep filters per range
    before the running top-k (pruning stays rank-exact — see
    _should_only_sweep).

    `facet` ((by_field, sorted doc_ids, values, rows_counter), implies
    return_matches semantics): per-shard facet aggregation against the
    broadcast (doc_id -> value) map — only (value, count) partials
    leave the kernel. Callers guarantee facet is only set on routes the
    kernel fully resolves (no broad-filter semi-join, no JOIN-based
    phrase step)."""
    import math

    cfg = store.get_config()
    q = parse_boolean_query(query, cfg)
    qts = q.positive_terms
    filters = sorted(set(q.filters))
    if not qts and not filters:
        if not (q.must_not or q.not_phrases) and facet is None:
            # the query tokenized to nothing at all (punctuation-only,
            # stopword-stripped) — same contract as the plain-text
            # path: no terms, no matches, no error. Facet consumers
            # expect partial-shaped rows, so they keep the error.
            return spark.createDataFrame([], _OUT_SCHEMA)
        raise ValueError("boolean query needs at least one positive clause")
    if (q.phrases or q.not_phrases) and not cfg.store_positions:
        raise ValueError(
            "phrase clauses need an index built with store_positions=True"
        )

    must = sorted(set(q.must))
    must_not = sorted(set(q.must_not))
    should_check = sorted(set(q.should))
    mm = resolve_mm(min_should_match, len(should_check))
    if mm > len(should_check):
        # Lucene: minimumShouldMatch above the should-clause count
        # matches nothing (facet callers guard this route themselves)
        return spark.createDataFrame([], _OUT_SCHEMA)

    # one bounded lookup resolves every scanned term's df: the positive
    # terms' idf, the seed choice and the cold runner's postings count;
    # terms absent from the index simply have no idf/rows
    all_terms = sorted(set(qts) | set(must_not) | set(filters))
    dfs = df_lookup(all_terms)
    if any(t not in dfs for t in must) or any(t not in dfs for t in filters):
        # a required term absent from the index matches nothing
        return spark.createDataFrame([], _OUT_SCHEMA)
    # Occur.FILTER clauses (`#term`) never score: no idf unless the term
    # ALSO appears as a scoring clause (Lucene: `data #data` is two
    # clauses — membership from the filter, score from the should), and
    # must-not terms never score. Block-max/threshold bounds see a 0
    # contribution, exact.
    scoring = set(qts)
    idf_map = {
        t: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))
        for t, d in dfs.items()
        if t in scoring
    }
    if not shard_partitioned:
        from tangent_spark.plans.search import _cold_tasks

        tasks = _cold_tasks(sum(dfs.values()))
    # Lucene term/phrase boosts (`term^2.5`): scale idf driver-side so
    # BOTH kernel paths' upper bounds (always idf-derived) carry the
    # boost and block-max / threshold pruning stay exact
    for t, bst in q.boosts.items():
        if t in idf_map:
            idf_map[t] *= bst

    required = sorted(set(must) | set(filters))
    if required:
        # the seed is the rarest REQUIRED term (must or filter — a
        # filter term is just as conjunctive, and a rare filter makes
        # every other decode candidate-restricted for free)
        seed = min(required, key=lambda t: (dfs[t], t))
        must_check = [t for t in required if t != seed]
    else:
        seed = None
        must_check = []
    roles = _TermRoles(
        idf_map, must_check, must_not, cfg.k1, cfg.b, avgdl,
        should_check=should_check if mm > 0 else (), mm=mm,
    )
    # warm in-kernel phrase route: the combined serving cache holds the
    # shard's positions rows next to its postings rows, so phrase
    # clauses resolve inside the kernel and never force a join
    in_kernel_phrases = (
        serving is not None
        and shard_partitioned
        and bool(q.phrases or q.not_phrases)
    )
    # local top-k per shard is only safe when nothing downstream (join-
    # based phrase clause, broad-filter semi-join, full-match-set
    # consumer) can use rows beyond the per-shard head
    k_local = (
        k
        if (in_kernel_phrases or not (q.phrases or q.not_phrases))
        and cand_df is None
        and not return_matches
        else None
    )
    kernel = _boolean_shard_kernel(
        roles, seed, len(must_check), k_local, counter=decode_counter,
        deleted=deleted, ext_cand=ext_cand, n_shards=cfg.n_shards,
        phrases=q.phrases if in_kernel_phrases else None,
        not_phrases=q.not_phrases if in_kernel_phrases else None,
        phrases_in_order=not unordered_phrases,
    )
    if in_kernel_phrases:
        p_terms = sorted(
            {t for p, _ in (q.phrases + q.not_phrases) for t in p}
        )
        rows_src = serving.filter(
            ((F.col("kind") == 0) & F.col("term").isin(all_terms))
            | ((F.col("kind") == 1) & F.col("term").isin(p_terms))
        )
        if facet is not None:
            return _facet_partials(
                rows_src, None, kernel, shard_partitioned, *facet, tasks=tasks
            )
        scored = _boolean_rows(
            rows_src, None, kernel, shard_partitioned, tasks=tasks
        )
        if cand_df is not None:
            scored = scored.join(cand_df, "doc_id", "left_semi")
        if return_matches:
            return scored
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    if ext_cand is not None:
        # candidate-free shards never enter the scan at all (partition/
        # row-group pruning on the pushed shard filter)
        qshards = [int(s) for s in np.unique(ext_cand % cfg.n_shards)]
        if len(qshards) < cfg.n_shards:
            postings = postings.filter(F.col("shard").isin(qshards))
    if facet is not None:
        return _facet_partials(
            postings, all_terms, kernel, shard_partitioned, *facet, tasks=tasks
        )
    scored = _boolean_rows(
        postings, all_terms, kernel, shard_partitioned, tasks=tasks
    )
    if cand_df is not None:
        scored = scored.join(cand_df, "doc_id", "left_semi")
    if q.phrases or q.not_phrases:
        from tangent_spark.plans.phrase import phrase_match_positions

        pos = (
            positions
            if positions is not None
            else store.read(spark, "positions")
        )
        for p, slop in q.phrases:
            scored = scored.join(
                phrase_match_positions(
                    pos, p, slop, in_order=not unordered_phrases
                ).select("doc_id"),
                "doc_id",
                "left_semi",
            )
        for p, slop in q.not_phrases:
            scored = scored.join(
                phrase_match_positions(
                    pos, p, slop, in_order=not unordered_phrases
                ).select("doc_id"),
                "doc_id",
                "left_anti",
            )
    if return_matches:
        # the FULL match set (facets/analytics consumers) — no global
        # sort, no limit; `k` is ignored by contract
        return scored
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def facet_aggregate(matches: DataFrame, docs: DataFrame, by: str) -> DataFrame:
    """(<by>, n_docs) over a match set — the one place the facet
    ordering/column contract lives (cold facet_counts and warm
    Searcher.facets both delegate here)."""
    return (
        matches.select("doc_id")
        .join(docs.select("doc_id", by), "doc_id")
        .groupBy(by)
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(by))
    )


def facet_empty(docs: DataFrame, by: str) -> DataFrame:
    """Zero-row facet frame with the metadata column's real dtype."""
    return docs.select(by).limit(0).withColumn("n_docs", F.lit(0).cast("long"))


def facet_counts(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: str,
    where: str | None = None,
    decode_counter=None,
    max_driver_candidates: int = 1_000_000,
    max_driver_docs: int = 1_000_000,
    rows_counter=None,
    min_should_match=0,
) -> DataFrame:
    """Hit counts per value of a docs-dictionary metadata column for a
    boolean query — the classic search-engine facet panel (Solr served
    this for the reference as `facet.field`; here it is Spark-native).
    A document counts when it MATCHES the query: contains at least one
    positive term, every must term and phrase, and no must-not
    term/phrase — the same match set the scorer ranks. Returns
    (<by>, n_docs) sorted by n_docs desc, value asc; `where` optionally
    pre-restricts candidates with the same semantics as filtered_topk.

    Plan shape (round-5, VERDICT r4 #6): when the docs dictionary's
    (doc_id -> value) map fits in the driver (`max_driver_docs`), it is
    broadcast INTO the kernel — the filter-route machinery in reverse —
    and each shard emits only (value, count) partials: rows moved are
    bounded by n_values x shards, never the match-set size
    (`rows_counter`, an optional accumulator, receives the partial row
    count as evidence). Otherwise — huge dictionaries, broad `where`
    filters, or phrase clauses on this cold path (no co-located
    positions) — the kernel emits the match set and one hash aggregate
    on the joined metadata column follows."""
    docs = store.read(spark, "docs")
    out = _facet_values(
        spark, store, query, docs.select("doc_id", by), by, where,
        decode_counter, max_driver_candidates, max_driver_docs,
        rows_counter, min_should_match,
    )
    return facet_empty(docs, by) if out is None else out


def boolean_matches(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    where: str | None = None,
    min_should_match=0,
    max_driver_candidates: int = 1_000_000,
    decode_counter=None,
) -> DataFrame:
    """The full match set of a boolean/BM25 query as a (doc_id)
    DataFrame — the same set the scorer ranks and the facet spine
    aggregates (local top-k off, tombstones masked, `where` composes
    with filtered_topk semantics). The building block for aggregations
    over matches that are not facet-shaped (e.g.
    plans.sigterms.significant_terms)."""
    from tangent_spark.plans.search import _cold_sources

    empty = spark.createDataFrame([], "doc_id long")
    docs = store.read(spark, "docs")
    ids, cand_df = None, None
    if where is not None:
        route, ids, cand_df = _route_filter(spark, docs, where, max_driver_candidates)
        if route == "empty":
            return empty
    cfg = store.get_config()
    q = parse_boolean_query(query, cfg)
    if resolve_mm(min_should_match, len(set(q.should))) > len(set(q.should)):
        return empty
    matches = _boolean_plan(
        spark,
        store,
        query,
        0,
        decode_counter=decode_counter,
        **_cold_sources(spark, store),
        ext_cand=ids,
        cand_df=cand_df,
        return_matches=True,
        min_should_match=min_should_match,
    )
    return matches.select("doc_id")


def _facet_values(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    vdocs: DataFrame,
    by: str,
    where: str | None,
    decode_counter,
    max_driver_candidates: int,
    max_driver_docs: int,
    rows_counter,
    min_should_match,
    mode: str = "counts",
):
    """The shared facet spine: evaluate the boolean match set once and
    aggregate a derived (doc_id, <by>) value frame over it.
    mode='counts' returns the (value, n_docs) facet contract;
    mode='stats' returns the one-row moment contract. Docs absent from
    `vdocs` never count (facet_range drops out-of-range docs this
    way). Returns None for a provably-empty match set (no `where`
    candidates, or mm above the should count) — callers shape their
    own empty frame."""
    from tangent_spark.plans.search import _cold_sources

    docs = store.read(spark, "docs")
    ids, cand_df = None, None
    if where is not None:
        route, ids, cand_df = _route_filter(spark, docs, where, max_driver_candidates)
        if route == "empty":
            return None
    cfg = store.get_config()
    q = parse_boolean_query(query, cfg)
    if resolve_mm(min_should_match, len(set(q.should))) > len(set(q.should)):
        return None  # mm above the should count: no hits
    facet = None
    if cand_df is None and not (q.phrases or q.not_phrases):
        fmap = _facet_map(vdocs, by, max_driver_docs)
        if fmap is not None:
            facet = (vdocs.schema[by], fmap[0], fmap[1], rows_counter, mode)
    matches = _boolean_plan(
        spark,
        store,
        query,
        0,
        decode_counter=decode_counter,
        **_cold_sources(spark, store),
        ext_cand=ids,
        cand_df=cand_df,
        return_matches=True,
        facet=facet,
        min_should_match=min_should_match,
    )
    if facet is not None:
        return matches  # already in the mode's contract shape
    if mode == "stats":
        return _stats_finish(_stats_per_doc(matches, vdocs, by))
    return facet_aggregate(matches, vdocs, by)


def _stats_per_doc(matches: DataFrame, vdocs: DataFrame, by: str) -> DataFrame:
    """Per-doc moment rows over a match set — the stats fallback route
    (shared by cold facet_stats and the warm Searcher variant)."""
    v = F.col(by)
    miss = v.isNull() | F.isnan(v)
    return matches.select("doc_id").join(vdocs, "doc_id").select(
        F.when(miss, 0).otherwise(1).cast("long").alias("n_count"),
        F.when(miss, 1).otherwise(0).cast("long").alias("n_missing"),
        F.when(~miss, v).otherwise(F.lit(float("nan"))).alias("v_min"),
        F.when(~miss, v).otherwise(F.lit(float("nan"))).alias("v_max"),
        F.when(~miss, v).otherwise(F.lit(0.0)).alias("v_sum"),
    )


def facet_range(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: str,
    start: float,
    end: float,
    gap: float,
    where: str | None = None,
    decode_counter=None,
    max_driver_candidates: int = 1_000_000,
    max_driver_docs: int = 1_000_000,
    rows_counter=None,
    min_should_match=0,
) -> DataFrame:
    """Solr `facet.range` over the boolean match set: hit counts per
    half-open numeric bucket [start + i*gap, start + (i+1)*gap), for
    start <= value < end. Returns EVERY bucket in range order with
    zero-filled gaps — (bucket double, n_docs long), bucket asc — the
    Solr range-facet shape. Docs with NULL or out-of-range values do
    not count (Solr's `other=before/after` is expressible as two
    `where` range filters). Date fields facet via a numeric
    derivation (epoch column) in the docs dictionary.

    Plan shape: identical to facet_counts — the (doc_id -> bucket) map
    is derived from the docs dictionary with the SAME bucket arithmetic
    the spine uses (start + k*gap in double, so the equi-join keys are
    bit-identical) and broadcast into the kernel when it fits; each
    shard then moves only (bucket, count) partials, bounded by
    n_buckets x shards."""
    s, e, g = _range_args(start, end, gap)
    vdocs = range_bucket_vdocs(store.read(spark, "docs"), by, s, e, g)
    counts = _facet_values(
        spark, store, query, vdocs, "bucket", where, decode_counter,
        max_driver_candidates, max_driver_docs, rows_counter,
        min_should_match,
    )
    return range_shape(spark, counts, s, e, g)


def _range_args(start, end, gap) -> tuple[float, float, float]:
    if gap <= 0 or end <= start:
        raise ValueError("facet_range needs gap > 0 and end > start")
    return float(start), float(end), float(gap)


def _epoch_seconds(x) -> float:
    """start/end of a date histogram as epoch seconds: accepts a
    number, a datetime (naive = UTC, Spark's timestamp-to-double
    convention), or an ISO-8601 string."""
    import datetime as _dt

    if isinstance(x, (int, float)):
        return float(x)
    if isinstance(x, str):
        x = _dt.datetime.fromisoformat(x)
    if isinstance(x, _dt.datetime):
        if x.tzinfo is None:
            x = x.replace(tzinfo=_dt.timezone.utc)
        return x.timestamp()
    raise TypeError(f"expected epoch number, datetime, or ISO string; got {type(x)}")


def date_histogram_shape(out: DataFrame) -> DataFrame:
    """Relabel facet_range's numeric epoch buckets as timestamps
    (timestamp_seconds keeps sub-second fractions, so fractional
    start/gap stay exact to microseconds)."""
    return out.select(
        F.timestamp_seconds(F.col("bucket")).alias("bucket"), "n_docs"
    )


def facet_date_histogram(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: str,
    start,
    end,
    interval_s: float,
    where: str | None = None,
    **kwargs,
) -> DataFrame:
    """ES date_histogram (fixed_interval) / Solr date facet.range over
    the boolean match set: hit counts per half-open time bucket of
    `interval_s` seconds over a TIMESTAMP metadata column (e.g. the
    input shape's warc_ts), zero-filled in time order — (bucket
    timestamp, n_docs long). `start`/`end` accept datetimes, ISO-8601
    strings, or epoch seconds.

    This IS facet_range on the epoch axis: Spark's timestamp-to-double
    cast inside range_bucket_vdocs is epoch seconds, so the numeric
    bucket arithmetic, the broadcast bucket map, the kernel partial
    route, and the zero-filled spine all apply unchanged — only the
    bucket labels come back as timestamps."""
    s, e = _epoch_seconds(start), _epoch_seconds(end)
    return date_histogram_shape(
        facet_range(
            spark, store, query, by, s, e, float(interval_s), where, **kwargs
        )
    )


def range_bucket_vdocs(
    docs: DataFrame, by: str, s: float, e: float, g: float
) -> DataFrame:
    """(doc_id, bucket) over in-range docs — bucket = s + k*g in double
    arithmetic, the SAME expression range_shape's spine uses, so the
    final equi-join keys are bit-identical."""
    v = F.col(by).cast("double")
    bucket = F.when(
        (v >= s) & (v < e), F.lit(s) + F.floor((v - F.lit(s)) / g) * g
    )
    return (
        docs.select("doc_id", bucket.alias("bucket"))
        .filter(F.col("bucket").isNotNull())
    )


def range_shape(spark: SparkSession, counts, s: float, e: float, g: float):
    """Zero-fill (bucket, n_docs) counts onto the full bucket spine in
    range order; counts=None (provably-empty match set) yields the
    all-zero spine."""
    import math

    n_buckets = int(math.ceil((e - s) / g))
    spine = spark.range(n_buckets).select(
        (F.lit(s) + F.col("id").cast("double") * g).alias("bucket")
    )
    if counts is None:
        return spine.select(
            "bucket", F.lit(0).cast("long").alias("n_docs")
        ).orderBy("bucket")
    return (
        spine.join(counts, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        )
        .orderBy("bucket")
    )


_PIVOT_SEP = "\x1f"


def facet_pivot(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: tuple[str, str],
    where: str | None = None,
    decode_counter=None,
    max_driver_candidates: int = 1_000_000,
    max_driver_docs: int = 1_000_000,
    rows_counter=None,
    min_should_match=0,
) -> DataFrame:
    """Solr `facet.pivot` (two-level): hit counts per (parent, child)
    metadata value pair over the boolean match set, flattened to
    (<parent>, <child>, n_docs) rows — n_docs desc, then parent asc,
    child asc. Docs with a NULL in either pivot column do not count
    (Solr pivots skip missing buckets).

    Plan shape: the pair is encoded as one composite value
    (US-separated string) so it rides the SAME broadcast value-map
    kernel route as facet_counts — each shard moves only
    (pair, count) partials, bounded by the pivot cardinality x shards;
    the typed columns are restored by a broadcast join against the
    dictionary's distinct pairs (facet-cardinality-sized)."""
    c1, c2 = by
    docs = store.read(spark, "docs")
    vdocs = pivot_vdocs(docs, c1, c2)
    counts = _facet_values(
        spark, store, query, vdocs, "pv", where, decode_counter,
        max_driver_candidates, max_driver_docs, rows_counter,
        min_should_match,
    )
    return pivot_shape(docs, counts, c1, c2)


def _pivot_enc(c1: str, c2: str):
    return F.concat(
        F.col(c1).cast("string"), F.lit(_PIVOT_SEP), F.col(c2).cast("string")
    )


def pivot_vdocs(docs: DataFrame, c1: str, c2: str) -> DataFrame:
    """(doc_id, pv) — the composite pivot value over docs with BOTH
    columns present (Solr pivots skip missing buckets)."""
    both = F.col(c1).isNotNull() & F.col(c2).isNotNull()
    return docs.filter(both).select("doc_id", _pivot_enc(c1, c2).alias("pv"))


def pivot_shape(docs: DataFrame, counts, c1: str, c2: str) -> DataFrame:
    """Restore typed (parent, child) columns from composite counts via
    a broadcast join against the dictionary's distinct pairs; the
    pivot ordering contract (n_docs desc, values asc). counts=None
    (provably-empty match set) yields the typed empty frame."""
    both = F.col(c1).isNotNull() & F.col(c2).isNotNull()
    pairs = docs.filter(both).select(
        c1, c2, _pivot_enc(c1, c2).alias("pv")
    ).distinct()
    if counts is None:
        return pairs.select(c1, c2).limit(0).withColumn(
            "n_docs", F.lit(0).cast("long")
        )
    return (
        counts.join(F.broadcast(pairs), "pv")
        .select(c1, c2, F.col("n_docs").cast("long").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(c1), F.asc(c2))
    )


def facet_stats(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: str,
    where: str | None = None,
    decode_counter=None,
    max_driver_candidates: int = 1_000_000,
    max_driver_docs: int = 1_000_000,
    rows_counter=None,
    min_should_match=0,
) -> DataFrame:
    """Solr StatsComponent over the boolean match set: ONE row
    (n_count, n_missing, v_min, v_max, v_sum, v_mean) of the numeric
    metadata column `by` across matching docs — n_missing counts
    matches whose value is NULL/NaN; min/max/sum/mean are over the
    rest (v_min/v_max NULL and v_mean NULL when nothing counted).

    Plan shape: the same broadcast value-map route as facet_counts,
    but the kernel emits MOMENT partials — one row per shard
    (n, missing, min, max, sum) — so rows moved are bounded by the
    shard count regardless of the value cardinality (a high-cardinality
    double column costs the same as a boolean one). Fallback routes
    (huge dictionary, broad `where`, phrases) aggregate per-doc rows
    declaratively."""
    docs = store.read(spark, "docs")
    vdocs = docs.select("doc_id", F.col(by).cast("double").alias("val"))
    out = _facet_values(
        spark, store, query, vdocs, "val", where, decode_counter,
        max_driver_candidates, max_driver_docs, rows_counter,
        min_should_match, mode="stats",
    )
    if out is None:
        return _stats_finish(
            spark.createDataFrame([], _STATS_COLS)
        )
    return out


def percentiles_from_hist(
    hist: DataFrame,
    percentiles,
    val_col: str = "val",
    cnt_col: str = "n_docs",
) -> DataFrame:
    """percentile_cont over a weighted (value, count) histogram —
    fully declarative, shared by the cold and warm percentile facets.

    Semantics match SQL PERCENTILE_CONT / Spark `percentile` / DuckDB
    `quantile_cont` over the EXPANDED multiset: for fraction p and N
    total values, rank r = p*(N-1); the answer interpolates linearly
    between the values at floor(r) and ceil(r). NULL/NaN values are
    excluded (the ES percentiles `missing` default). Returns
    (pct double, val double), one row per requested fraction, pct asc;
    empty when the histogram is empty.

    Scale shape: the input histogram has one row per DISTINCT value
    (the facet kernel's counts contract), so the cumulative-sum window
    sorts |distinct| rows, not |match set| rows. For genuinely
    unbounded-cardinality columns use the approx path
    (facet_percentiles(exact=False) — mergeable Greenwald-Khanna
    sketches, bounded memory) instead."""
    from pyspark.sql import Window

    for p in percentiles:
        if not (0.0 <= float(p) <= 1.0):
            raise ValueError(f"percentile fraction out of [0,1]: {p}")
    spark = hist.sparkSession
    v = F.col(val_col).cast("double")
    h = hist.filter(v.isNotNull() & ~F.isnan(v)).select(
        v.alias("val"), F.col(cnt_col).cast("long").alias("cnt")
    )
    cum_w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    all_w = Window.partitionBy()
    h = (
        h.withColumn("cum", F.sum("cnt").over(cum_w))
        .withColumn("prev", F.col("cum") - F.col("cnt"))
        .withColumn("n", F.sum("cnt").over(all_w))
    )
    pdf = F.broadcast(
        spark.createDataFrame([(float(p),) for p in percentiles], "pct double")
    )
    r = F.col("pct") * (F.col("n") - 1)
    lo = h.join(
        pdf, (F.col("prev") <= F.floor(r)) & (F.floor(r) < F.col("cum"))
    ).select("pct", F.col("val").alias("v_lo"), r.alias("r"))
    hi = h.join(
        pdf, (F.col("prev") <= F.ceil(r)) & (F.ceil(r) < F.col("cum"))
    ).select("pct", F.col("val").alias("v_hi"))
    frac = F.col("r") - F.floor(F.col("r"))
    return (
        lo.join(hi, "pct")
        .select(
            "pct",
            (F.col("v_lo") + frac * (F.col("v_hi") - F.col("v_lo"))).alias("val"),
        )
        .orderBy("pct")
    )


def facet_percentiles(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: str,
    percentiles=(0.25, 0.5, 0.75, 0.95),
    where: str | None = None,
    exact: bool = True,
    accuracy: int = 10_000,
    decode_counter=None,
    max_driver_candidates: int = 1_000_000,
    max_driver_docs: int = 1_000_000,
    rows_counter=None,
    min_should_match=0,
) -> DataFrame:
    """ES `percentiles` aggregation over the boolean match set: the
    requested fractions of the numeric metadata column `by` across
    matching docs, as (pct, val) rows. NULL/NaN values are ignored.

    exact=True (default): the match set's values travel as the facet
    kernel's (value, count) HISTOGRAM — rows moved ∝ distinct values
    per shard, never match-set size — and percentile_cont interpolation
    runs declaratively on the histogram (percentiles_from_hist).

    exact=False: mergeable approx_percentile sketches (Greenwald-
    Khanna, `accuracy` knob) — bounded memory for unbounded-cardinality
    columns, the moral twin of ES's t-digest default."""
    docs = store.read(spark, "docs")
    vdocs = docs.select("doc_id", F.col(by).cast("double").alias("val"))
    empty = spark.createDataFrame([], "pct double, val double")
    if exact:
        hist = _facet_values(
            spark, store, query, vdocs, "val", where, decode_counter,
            max_driver_candidates, max_driver_docs, rows_counter,
            min_should_match, mode="counts",
        )
        if hist is None:
            return empty
        return percentiles_from_hist(hist, percentiles)
    for p in percentiles:
        if not (0.0 <= float(p) <= 1.0):
            raise ValueError(f"percentile fraction out of [0,1]: {p}")
    matches = boolean_matches(
        spark, store, query, where=where, min_should_match=min_should_match,
        max_driver_candidates=max_driver_candidates,
        decode_counter=decode_counter,
    )
    vals = matches.join(vdocs, "doc_id").filter(
        F.col("val").isNotNull() & ~F.isnan("val")
    )
    row = vals.agg(
        F.percentile_approx(
            "val", F.array(*[F.lit(float(p)) for p in percentiles]), accuracy
        ).alias("vs")
    ).collect()[0]["vs"]  # ONE row by construction
    if row is None:
        return empty
    return spark.createDataFrame(
        [(float(p), float(x)) for p, x in zip(percentiles, row)],
        "pct double, val double",
    )


def facet_cardinality(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    by: str,
    where: str | None = None,
    exact: bool = True,
    rsd: float = 0.05,
    decode_counter=None,
    max_driver_candidates: int = 1_000_000,
    max_driver_docs: int = 1_000_000,
    rows_counter=None,
    min_should_match=0,
) -> DataFrame:
    """ES `cardinality` aggregation over the boolean match set: ONE
    row (n_distinct) of distinct non-NULL values of metadata column
    `by` across matching docs.

    exact=True: the distinct count is the facet kernel's histogram row
    count — rows moved ∝ distinct values, and the count itself is a
    1-row aggregate. exact=False: approx_count_distinct (HyperLogLog++,
    `rsd` relative error) over the matched values — the LITERAL
    algorithm ES's cardinality agg runs, constant memory per sketch."""
    docs = store.read(spark, "docs")
    one_zero = spark.createDataFrame([(0,)], "n_distinct long")
    if exact:
        hist = _facet_values(
            spark, store, query, docs.select("doc_id", by), by, where,
            decode_counter, max_driver_candidates, max_driver_docs,
            rows_counter, min_should_match, mode="counts",
        )
        if hist is None:
            return one_zero
        return hist.filter(F.col(by).isNotNull()).agg(
            F.count("*").cast("long").alias("n_distinct")
        )
    matches = boolean_matches(
        spark, store, query, where=where, min_should_match=min_should_match,
        max_driver_candidates=max_driver_candidates,
        decode_counter=decode_counter,
    )
    vals = matches.join(docs.select("doc_id", by), "doc_id")
    return vals.agg(
        F.approx_count_distinct(by, rsd).cast("long").alias("n_distinct")
    )


def _route_filter(
    spark: SparkSession,
    docs: DataFrame,
    where: str,
    max_driver_candidates: int,
):
    """Evaluate a metadata predicate over the docs dictionary and pick
    the delivery route: ('empty', None, None) when nothing matches;
    ('driver', sorted_ids, None) when the match set is small enough to
    broadcast into the kernel (data moved ∝ candidates — the Lucene
    filter-iterator shape); ('join', None, cand_df) for broad filters,
    where the doc set stays distributed and semi-joins the scored
    aggregate. The docs scan is column-pruned + predicate-pushed (only
    doc_id and the filter columns are read), and the route decision is
    ONE bounded job: collect at most cap+1 ids — seeing cap+1 proves
    the set is too big to broadcast without counting it."""
    cand = docs.filter(where).select("doc_id")
    head = cand.limit(max_driver_candidates + 1).toPandas()
    n = len(head)
    if n == 0:
        return "empty", None, None
    if n <= max_driver_candidates:
        ids = np.unique(head["doc_id"].to_numpy(np.int64))
        return "driver", ids, None
    return "join", None, cand


def filtered_topk(
    spark: SparkSession,
    store: IndexStore,
    query: str,
    k: int,
    where: str,
    decode_counter=None,
    max_driver_candidates: int = 1_000_000,
    min_should_match=0,
    unordered_phrases: bool = False,
) -> DataFrame:
    """Top-k for a boolean/BM25 query RESTRICTED to documents matching
    a SQL predicate over the docs dictionary's metadata columns
    (IndexConfig.meta_cols — e.g. `lang = 'en'`, `warc_ts >= '2025'`,
    url predicates). Lucene filter semantics: the predicate restricts
    which documents may appear, but scores keep corpus-level stats
    (df/avgdl over the whole index) — a filter never changes a
    surviving document's BM25 score.

    Full query grammar supported (`bare +must -not "phrase"`). Plan
    shape: one docs-dictionary scan evaluates the predicate; selective
    filters broadcast the sorted id set into the per-shard kernel where
    it pre-restricts every decode (whole blocks outside the filter set
    skip decompression); broad filters stay distributed and semi-join
    the per-doc aggregate before the global top-k. The reference has no
    metadata filtering at all (Solr handled its text-side fq).

    Raises AnalysisException if `where` references a column the index
    wasn't built with (IndexConfig.meta_cols)."""
    from tangent_spark.plans.search import _cold_sources

    route, ids, cand_df = _route_filter(
        spark, store.read(spark, "docs"), where, max_driver_candidates
    )
    if route == "empty":
        return spark.createDataFrame([], _OUT_SCHEMA)
    return _boolean_plan(
        spark,
        store,
        query,
        k,
        decode_counter=decode_counter,
        **_cold_sources(spark, store),
        ext_cand=ids,
        cand_df=cand_df,
        min_should_match=min_should_match,
        unordered_phrases=unordered_phrases,
    )
