"""Engine configuration.

The reference drives everything from a TSV ``.cntl`` file
(``utility/control.py:11-44`` in the reference); we use a plain
dataclass serialized to JSON inside the index manifest so a stored
index is self-describing.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass


@dataclass(frozen=True)
class IndexConfig:
    # --- sharding / layout ------------------------------------------------
    # Document-sharded index: every shard holds postings for ALL terms but
    # only docs with doc_id % n_shards == shard, and answers on its own
    # (per-shard top-k, merged globally).  A warm query regroups its
    # cached shard partitions in place; a cold query regroups its matched
    # postings by shard in one task when they fit query_task_rows()
    # postings, and shuffles them by shard above that budget.
    n_shards: int = 32
    # Docs per compressed postings block (delta-gap + varint); block-max
    # metadata is kept per block for WAND pruning.
    block_size: int = 128

    # --- BM25 (north_rule fixes k1/b) ------------------------------------
    k1: float = 1.2
    b: float = 0.75

    # --- tokenization -----------------------------------------------------
    # 'porter'  : lowercase, split on non-alnum, Porter-stem (engine default;
    #             mirrors the reference's Solr-side analysis chain,
    #             reference text/porter.py:85-195 semantics re-done clean-room)
    # 'simple'  : lowercase, split on non-alnum only (SQL-expressible; used
    #             for the DuckDB oracle comparisons)
    tokenizer: str = "porter"

    # --- positional postings ----------------------------------------------
    # Store per-(doc, term) token positions in a separate doc-sharded
    # 'positions' table to enable phrase / proximity queries (the
    # reference kept stemmed-term positions via Solr term vectors,
    # text/TextResult.py:29-52). Off by default: positions dominate
    # index size, and BM25 top-k never reads them.
    store_positions: bool = False

    # --- formula tuples (Tangent semantics) -------------------------------
    # window: max tuple path length in edges; 0 = unbounded
    # (reference mathindexmid.h:18-37, default 4)
    window: int = 4
    # eol mode: end-of-baseline tuples (tag, '0!', 'n') —
    # 'none' | 'all' | 'small' (small = only for exprs of height <= 1;
    # reference mathindex.cpp:13-19, shipped default = small)
    eol_mode: str = "small"
    # generated pairs longer than this many chars are dropped
    # (reference symboltree.py:40-48)
    max_pair_len: int = 200

    # --- doc metadata (filtered search) -----------------------------------
    # Extra input columns carried into the docs dictionary (e.g. lang,
    # warc_ts) so queries can be restricted by a metadata predicate
    # (plans/boolean.filtered_topk). In config — not a per-call arg —
    # because every append must write the same docs schema.
    meta_cols: tuple = ()

    # --- fielded index (plans/fielded.py) ---------------------------------
    # Non-empty = the index's postings space is field-prefixed
    # ('field:term' rows with per-field dl, Lucene's per-field inverted
    # index); empty = plain single-text index. Persisted so query-time
    # boost keys validate and config-mismatched resumes are rejected.
    fields: tuple = ()

    def __post_init__(self):
        # JSON round-trips tuples as lists; normalize so a loaded config
        # compares equal to a constructed one (merge's config-match check)
        object.__setattr__(self, "meta_cols", tuple(self.meta_cols))
        object.__setattr__(self, "fields", tuple(self.fields))

    # NOTE on head-term skew: there is deliberately NO salting config. The
    # postings shuffle keys on (term, shard=doc_id % n_shards), so a head
    # term is already spread over n_shards reducers — sharding by document
    # IS the salt (see plans/indexer.py module docstring).

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "IndexConfig":
        known = {f.name for f in dataclasses.fields(IndexConfig)}
        return IndexConfig(**{k: v for k, v in json.loads(s).items() if k in known})


DEFAULT_CONFIG = IndexConfig()
