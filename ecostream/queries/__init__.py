"""Declared-query inventory (SURVEY.md §2 operator coverage).

Importing this package populates ``QUERIES`` / ``ORACLES`` from every
operator-family module.  ``__spark_entry__.py`` re-exports these for the
driver's correctness gate.
"""

from __future__ import annotations

from .registry import ORACLES, QUERIES, query  # noqa: F401

# Import order mirrors SURVEY §7.2's build order; each import registers
# that family's declared queries.
from . import core  # noqa: F401,E402  (F1-F6, A1/A2/A6, O2)
from . import joins  # noqa: F401,E402  (§2.4 equi/semi/anti/theta joins)
from . import windows  # noqa: F401,E402  (A3-A5, K3, T4)
from . import markov  # noqa: F401,E402  (M1-M4)
from . import scoring  # noqa: F401,E402  (A7, A8)
from . import sketches  # noqa: F401,E402  (K1, K2, K4, K5)
from . import graph  # noqa: F401,E402  (G1-G3)
from . import text  # noqa: F401,E402  (dedup / text analysis)
from . import similarity  # noqa: F401,E402  (ANN / embedding search)
from . import generator_queries  # noqa: F401,E402  (S1)
from . import multimodal_queries  # noqa: F401,E402  (binary columns)
from . import setops  # noqa: F401,E402  (set ops, rollup/cube, as-of join)
from . import analytics  # noqa: F401,E402  (percentiles, having, grouping sets)
from . import streaming_queries  # noqa: F401,E402  (declared streaming T1/T2/T6)
from . import tpch_more  # noqa: F401,E402  (remaining TPC-H shapes J16-J27)
from . import window_fns  # noqa: F401,E402  (lag/lead, ntile, pct_rank, frames)
from . import seriesops  # noqa: F401,E402  (gap-fill, fuzzy match, regex)
from . import storage_queries  # noqa: F401,E402  (S6 write side: compaction)
from . import llm_pipeline  # noqa: F401,E402  (chunk/split/shuffle/pack)
from . import corpus  # noqa: F401,E402  (repetition gates, inverted index, LM)
from . import tokenizer  # noqa: F401,E402  (BPE merge training)

# ---------------------------------------------------------------------------
# Declaration-order rotation.
#
# The driver's correctness gate samples the FIRST 50 ``queries()`` keys
# (CORRECTNESS_r01/r02 both cap there), so families declared later never
# receive a driver-signed row even though the full local parity sweep
# (tools/parity_sweep.py) checks all of them.  Each round we rotate the
# never-yet-signed families to the head so that, over rounds, every
# family accumulates a signed green row.  Round 3 leads with the LLM
# dedup/ANN pipelines, streaming, storage layouts, and the TPC-H
# extension shapes (VERDICT r2 "Next round" #1).  Queries already signed
# in earlier rounds keep their coverage via tests/test_oracle_parity.py.
#
# Every head entry is oracle-checked, so all 50 driver-signed rows are
# value-hash comparisons, not rows-only.
#
# ROUND 5: the 50 head slots hold 50 of the 51 oracle-bearing queries
# the driver has never hash-signed (hash_match never true in
# CORRECTNESS_r01..r04) — the round-4 flagship LLM-pipeline operators
# plus the window/rollup/analytics/series families (VERDICT r4 "Next
# round" #1).  The one documented leftover is a9_percentiles_approx
# (the approx variant of a9_percentiles, which IS in this head); it
# plus any round-5 additions rotate in round 6, completing
# driver-signed coverage of the whole oracle-bearing registry.
# ---------------------------------------------------------------------------
_ROUND_HEAD = [
    # ROUND 12 additions (oracle-bearing, entering the head the round
    # they land):
    "st24_tws_native_ttl",       # declarative TTLConfig state expiry
                                 # (keep + expire legs, one exact oracle)
    "var1_variant_typed_serve",  # VARIANT parse/persist/typed-access for
                                 # events.props (S6 semi-structured leg)
    # ROUND 12 re-signs — queries whose DEFINITION changed this round
    # (ADVICE r11 fixes):
    "hw1_holt_trend",            # RE-SIGN: sub-seed series excluded in both
                                 # engines + greatest() slice-length clamp
    "hw2_holt_winters",          # RE-SIGN: same sub-week guard (ADVICE r11)
    "st22_stream_cms_maintenance",  # RE-SIGN: batch-id-keyed store versions
                                 # (idempotent foreachBatch) + workdir cleanup
    "g16_bfs_hops",              # RE-SIGN: frontier broadcast hint gated on
                                 # row count, shuffled-join fallback
    # ROUND 12 oldest-signed rotation, part 1: the 27 remaining
    # round-3-signed keys (VERDICT r11 "Next round" #1) — after these,
    # every key's newest signature is round >= 4 and the round-2/3
    # rotation debt is fully retired.
    "pipeline2_training_manifest",
    "s6_cluster_roundtrip",
    "s6_compact_roundtrip",
    "s7_bucketed_join",
    "samp1_stratified_sample",
    "shuffle1_training_order",
    "sim1_cosine_topk",
    "sim2_signlsh_ann",
    "sim2_signlsh_buckets",
    "sim3_embedding_near_dup",
    "sim4_ivf_ann",
    "sim5b_ivf_kmeans_md5",
    "split1_train_val_test",
    "st1_stream_tumbling_counts",
    "st2_stateful_running_counts",
    "st3_stream_sliding_counts",
    "st4_stream_session_windows",
    "st5_stream_stream_join",
    "st6_stream_dedup",
    "st7_stream_static_enrichment",
    "st8_stream_signature_index",
    "t10_winnowing_fingerprints",
    "t5_lang_id",
    "t6_quality_score",
    "t7_token_counts",
    "t8_fingerprint_dedup",
    "t9_contamination_overlap",
    # ROUND 12 oldest-signed rotation, part 2: the round-4 cohort is
    # next-oldest (49 keys last signed in round 4); the first 17
    # alphabetically fill the remaining slots — the other 32 rotate in
    # round 13.
    "aj1_asof_last_view",
    "d8_repeated_spans",
    "d9_simhash_pairs",
    "dq2_zscore_outliers",
    "drift1_tvd_halves",
    "eval1_ann_recall",
    "eval2_ann_recall_ivf",
    "eval3_ann_recall_pq",
    "fh1_feature_hash",
    "g1_habitat_edges",
    "g1b_first_seen_nodes",
    "g2_hash_walk",
    "g3_walk_frequencies",
    "g6_cooccurrence_triangles",
    "hist1_value_histogram",
    "j28_banded_interval_join",
    "k2_hll_sketch_mergeable",
]
# Retired heads (rounds 3-10) live in git history of this file; each
# retired key keeps full coverage via tools/parity_sweep.py and
# tests/test_oracle_parity.py, and re-enters the head only on re-sign
# or its oldest-signed rotation turn.
#
# (g2_random_walk / g2_walk_distributed / d3 / d5 / d6 / sim5 are
# rows-only by design and never enter the head.)




def _rotate_head(head: list[str]) -> None:
    # An unknown head key (a typo) raises KeyError at import, like a
    # broken family module does.
    ordered = {k: QUERIES[k] for k in head}
    ordered.update((k, v) for k, v in QUERIES.items() if k not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)
    o_ordered = {k: ORACLES[k] for k in head if k in ORACLES}
    o_ordered.update((k, v) for k, v in ORACLES.items() if k not in o_ordered)
    ORACLES.clear()
    ORACLES.update(o_ordered)


_rotate_head(_ROUND_HEAD)
