"""State and query sets shared by the runner and the workloads."""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Ctx:
    """One run: where it may write, its seed and length, and its probes."""

    work: Path  # this run's work directory, removed at the end
    seed: int
    seconds: float
    tracer: object
    spark: object = None
    probe: object = None  # trace.JobProbe
    progress: object = None  # trace.ProgressLog
    run_span: int | None = None


@dataclass
class Result:
    """What a workload's measured window produced.

    ``latencies_ms`` holds one sample per unit of work (an event, a query
    call or a job); ``throughput_per_s`` is that work per second.
    ``attempted``/``failed`` count operations: micro-batches, query calls
    or jobs.  A wrong output counts as failed.
    """

    latencies_ms: list = field(default_factory=list)
    throughput_per_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)


# The reference CLI's query types, mapped to oracle-twinned declared
# queries (query_serve); tiny inputs, so planning and scheduling dominate.
SERVE_QUERIES = (
    "a2_group_counts",
    "a3_tumbling_counts",
    "a4_trend_counts",
    "f1_point_lookup",
    "f5_recent_events",
    "k1_bloom_probe",
    "k2_distinct_approx",
    "k3_conditional_windowed_count",
    "k4_minhash_jaccard",
    "a6_mapreduce_wordcount",
    "a7_weighted_species_score",
    "m2_markov_probabilities",
    "m4_dtmc_classification",
    "g2_hash_walk",
)

# Shuffle-heavy jobs (batch_analytics), trimmed so that a 10-second run
# holds several passes: joins (j5), a composed dedup funnel (pipeline2),
# record linkage (er1), iterative graph rounds (g14).
BATCH_QUERIES = (
    "j5_shipping_priority",
    "pipeline2_training_manifest",
    "er1_entity_resolution",
    "g14_personalized_pagerank",
)
