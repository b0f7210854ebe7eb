"""Query registry — the driver-facing surface.

Every operator from SURVEY.md §2 is exposed as a named query:
``fn(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) a DuckDB
oracle SQL string over the same parquet tables. ``__spark_entry__.py``
re-exports this registry.

Oracle-parity discipline (see SURVEY.md §5.2): driver hashes values, so
results must be *bit-identical* to DuckDB's:

- money/measure sums: SUM(CAST(x AS DECIMAL(18,4))) then CAST AS DOUBLE —
  decimal summation is exact, so the final double is deterministic on both
  engines regardless of partitioning / aggregation order;
- averages: exact decimal sum divided by count, both as doubles;
- never emit raw ns timestamps: emit int64 epoch-ns (oracle: epoch_ns(ts))
  or truncated/formatted strings;
- every computed column aliased identically on both sides;
- any per-group "pick one row" uses an explicit total order (window +
  row_number with unique tiebreaker), never dropDuplicates' arbitrary row.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QueryDef"] = {}

# Modules that define queries; imported lazily by all_queries().
_MODULES = (
    "cdc_state",
    "llm_dedup",
    "llm_similarity",
    "windows",
    "setops",
    "events_json",
    "collections",
    "udfs",
    "reshape",
    "llm_extra",
    "timeseries",
    "sqlfns",
    "sketches",
    "funnels",
    "scd",
    "ivm_views",
    "llm_text",
    "multimodal",
    "profiling",
    "entity_resolution",
    "relational",
    "tpch_extra",
    "tpch_rest",
    "joins",
    "subqueries",
    "aggregates",
)

# Registry iteration order matters operationally: the driver's CORRECTNESS
# run samples the first 50 queries in iteration order.  DISCIPLINE (r7
# verdict): rotating this list is part of ADDING any registry query —
# every name that has never earned a driver-side green CORRECTNESS row
# goes first, composition-verifying queries in front; remaining slots
# carry the STALEST previously-green names (r8 verdict item 3) so the
# cumulative driver evidence keeps refreshing.  As of round 9 every
# oracle-backed name has been driver-sampled green at least once.
# Current list: the pgoutput consumers first — the decode kernel and its
# typing rule changed under all of them.  cdc_replica_identity_state,
# cdc_two_phase_state and cdc_xlog_infer_state lead (last sampled round
# 9), then the seven pgoutput consumers sampled in rounds 13-14.  Next
# the round-13 rewrites never driver-checked since (VERDICT r14 item 4),
# then the round-9 cohort continued alphabetically from
# cdc_origin_filter_state to fill slot 50; the names past it rotate to
# the front next round.  The two declared-approximate no-oracle names
# (agg_approx_distinct, sketch_hll_distinct) stay excluded: pytest
# bounds them instead, and a rows-only driver row would spend a
# full-oracle slot.
# all_queries() yields these first, then every other query in
# registration order.  Do NOT reorder mid-round.
_PRIORITY = (
    # pgoutput consumers: the shared decode kernel + typing rule
    "cdc_replica_identity_state",
    "cdc_two_phase_state",
    "cdc_xlog_infer_state",
    "cdc_pgoutput_state",
    "cdc_pgoutput_stream_state",
    "cdc_toast_upsert_state",
    "cdc_multitable_route_state",
    "cdc_e2e_revenue_rollup",
    "cdc_origin_filter_state",
    "cdc_publication_filter_state",
    # round-13 rewrites, not driver-sampled since
    "dedup_minhash_lsh",
    "dedup_verified_pairs",
    "dedup_keep_best",
    "training_mix_pipeline",
    "docs_bpe_train_merges",
    "emb_semantic_dedup",
    "hybrid_rrf_retrieval",
    "emb_ann_rerank_exact",
    "emb_kmeans_lloyd",
    # round-9 cohort, continued alphabetically (last sampled round 9)
    "cdc_scd2_history",
    "cdc_scd2_point_in_time",
    "cdc_widening_state",
    "corpus_prep_pipeline",
    "dedup_by_key_latest",
    "dedup_cc_clusters",
    "dedup_containment",
    "dedup_dup_ngram_spans",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_fuzzy_levenshtein",
    "dedup_incremental_new_docs",
    "dedup_lsh_bucket_profile",
    "dedup_minhash_estimate",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_hamming",
    "distinct_rows",
    "docs_bpe_encode_stats",
    "docs_chunk_windows",
    "docs_decontam_overlap",
    "docs_filter_funnel",
    "docs_fingerprint",
    "docs_hash_sample",
    "docs_lang_id",
    "docs_lang_profile",
    "docs_pack_sequences",
    "docs_pii_scrub",
    "docs_priority_sample_strata",
    "docs_quality_score",
    "docs_redact",
)


@dataclass
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL; None -> driver does rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QueryDef(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


def _load_all() -> None:
    for m in _MODULES:
        try:
            importlib.import_module(f"{__name__}.{m}")
        except ModuleNotFoundError as e:
            # Module not written yet (incremental build); only swallow our own.
            if f"{__name__}.{m}" not in str(e):
                raise


def all_queries() -> dict[str, QueryDef]:
    _load_all()
    ordered: dict[str, QueryDef] = {}
    for name in _PRIORITY:
        if name in REGISTRY:
            ordered[name] = REGISTRY[name]
    for name, qd in REGISTRY.items():
        if name not in ordered:
            ordered[name] = qd
    return ordered
