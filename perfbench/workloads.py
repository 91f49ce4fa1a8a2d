"""The benchmark's workloads: fixed item lists, the set-up each needs,
and which layer metric should move which end-to-end metric where.

An item is a registry query (built with ``QuerySpec.build`` and executed
with the noop sink) or a ``map_reduce()`` job over the seeded corpus.
The seed sets the order in which the warm passes visit the items; the
cold first pass keeps the declared order.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# map_reduce() jobs over the synthetic corpus: item -> reference app.
MR_CORPUS_APPS = {
    "mr_wc": ("wc_map", "wc_reduce"),
    "mr_indexer": ("indexer_map", "indexer_reduce"),
    "mr_sorted_values": ("sorted_join_map", "sorted_join_reduce"),
}
MR_REGISTRY_ITEMS = ("q20_mr_wordcount", "q21_mr_inverted_index", "q22_mr_sorted_values")
# Word count as a DataFrame query, q20's twin: Catalyst and JVM
# execution only, no build jobs, no Python workers.
DATAFRAME_TWIN = "q1_wordcount"


@dataclass(frozen=True)
class Workload:
    why: str
    items: tuple[str, ...]
    # Provisioning steps run after session start and warmup, in order.
    setup: tuple[str, ...] = ()


WORKLOADS = {
    "mr_apps": Workload(
        why=(
            "The paper's map/reduce API: q20-q22 and three map_reduce() jobs on a "
            "seeded Zipf corpus, beside q1, the DataFrame twin of word count"
        ),
        items=MR_REGISTRY_ITEMS + tuple(MR_CORPUS_APPS) + (DATAFRAME_TWIN,),
    ),
    "pipeline_build": Workload(
        why=(
            "LLM-pipeline, iterative and streaming-twin items whose build() "
            "fires eager jobs, checkpoints and stream drains"
        ),
        items=(
            "pagerank_suppliers",
            "q24_ngram_jaccard_dedup",
            "q90_incremental_dedup",
            "q127_hard_negatives",
            "q14_streaming_twin",
            "q94_stateful_user_stats",
            "q214_statestore_reader",
        ),
        setup=("pair_store", "stream_machinery"),
    ),
}

def item_order(items: tuple[str, ...], seed: int) -> list[str]:
    """The order the warm passes visit the items in: a seeded shuffle."""
    order = list(items)
    random.Random(seed).shuffle(order)
    return order


# Which layer metric should move which end-to-end metric on which
# workload, written down before any optimization is measured. "none"
# lists the workloads on which the layer predicts no change.
PREDICTIONS = {
    "setup": {
        "metrics": ["setup.session_s", "setup.warmup_s", "setup.pair_store_s",
                    "setup.stream_machinery_s", "registry.import_s"],
        "moves": {"setup_s": ["pipeline_build"]},
        "note": "stores and stream machinery are provisioned on pipeline_build only",
    },
    "build": {
        "metrics": ["build.s", "build.jobs", "build.stream_thread_jobs",
                    "build.local_checkpoints", "sources.load_table_calls",
                    "sources.load_table_s"],
        "moves": {"pass_cpu_s": ["pipeline_build"], "wall.query_tail_s": ["pipeline_build"]},
        "none": ["mr_apps"],
    },
    "catalyst": {
        "metrics": ["plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
                    "plan.exchanges"],
        "moves": {"wall.query_p50_s": ["mr_apps"]},
        "note": "on mr_apps through q1, its SQL-only item",
    },
    "execution": {
        "metrics": ["exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
                    "exec.task_cpu_s", "exec.core_util", "exec.gc_s", "exec.input_mb",
                    "exec.shuffle_write_mb", "exec.shuffle_records", "exec.spill_mb",
                    "exec.stage_skew_max", "exec.failed_tasks"],
        "moves": {
            "pass_cpu_s": ["pipeline_build", "mr_apps"],
            "wall.pass_s": ["pipeline_build", "mr_apps"],
        },
        "note": "low exec.core_util marks the single-task micro-batch floor of the streaming twins",
    },
    "mr": {
        "metrics": ["exec.python_cpu_s", "mr.records_shuffled"],
        "moves": {"pass_cpu_s": ["mr_apps"]},
        "none": ["pipeline_build"],
    },
    "streaming": {
        "metrics": ["stream.queries", "stream.batches", "stream.trigger_ms",
                    "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
                    "stream.state_commit_ms", "stream.state_rows"],
        "moves": {"pass_cpu_s": ["pipeline_build"], "wall.pass_s": ["pipeline_build"]},
        "none": ["mr_apps"],
    },
    "resources": {
        "metrics": ["resources.tmp_dirs_left", "resources.tables_left",
                    "resources.streams_left", "resources.persisted_rdds_left",
                    "resources.leaked"],
        "moves": {"resources.leaked": ["pipeline_build"]},
    },
}
