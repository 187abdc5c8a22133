"""Workloads and metric names of the benchmark.

A workload is an op list: an op is one registered builder call
(``registry.QUERIES[key](spark, lake_dir)``) plus a forced ``noop`` write
of the frame it returns. ``BENCHMARK.json`` mirrors the names and units
below; ``test_perfbench.py`` checks that the two agree.
"""

from __future__ import annotations

#: ``steady_passes`` is the number of steady passes a run makes per 20 s of
#: ``--seconds``. It is fixed, so every run of a workload, on either side
#: of a comparison, does the same work. ``lake_sql``'s pass is short and
#: its ops still get faster over the first passes of a run, so it makes
#: six; ``llm_pipeline``'s pass is about three times as long and makes two.
#: Pass counts and op lists are kept small so that one run of either
#: workload stays near a minute on a 4-core host: most of a run is the JVM
#: start, the cold first pass and the correctness checks. For that,
#: ``q_dedup_near_minhash`` is left out: at ``local[2]`` it cost about 6 s
#: of every steady pass and more than twice that cold.
WORKLOADS: dict[str, dict] = {
    "lake_sql": {
        "why": "read path: scans, shuffle joins, aggregates, windows; builders run no "
               "job and persist nothing, the control for driver-side changes",
        "steady_passes": 6,
        "keys": [
            "q_tpch_q1", "q_tpch_q5", "q_tpch_q18", "q_agg_count_distinct",
            "q_win_rownumber_topk", "q_topk",
        ],
    },
    "llm_pipeline": {
        "why": "LLM-data pipeline over the lake: ingest, grouped pandas UDF, a "
               "partitioned sink, graph supersteps, an availableNow dedup stream",
        "steady_passes": 2,
        "keys": [
            "src_csv", "udf_grouped_map", "sink_parquet_partitioned", "q_graph_pagerank",
            "s_stream_dedup",
        ],
    },
}

#: (name, unit, better, bound). Reported by an untraced run. ``pass_s``
#: is each key's best steady op time, summed, plus the best switch to a
#: new lake. The other summaries of op latency are per-layer:
#: ``op_s_geomean``, the geometric mean of the same best times (the way
#: TPC-H's power metric summarizes a query set), moves with ``pass_s``;
#: the median and tail over all steady ops (``ops.*``) jump between
#: neighbouring keys from run to run, because op times spread over more
#: than a decade with gaps between keys, and a run has too few steady ops
#: for a high percentile; ``first_pass_s`` is one cold sample per run, and
#: its spread over ten runs reached 0.24.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
]

#: Builder time of these keys is reported on its own (0 where the
#: workload does not run the key).
BUILD_KEYS = ["q_graph_pagerank", "s_stream_dedup"]

#: Package subpackages a key's builder can belong to (``fn.__module__``).
LAYERS = ["operators", "llmops", "sources", "streaming"]

#: (name, unit, better). Reported by a traced run. ``setup.*``,
#: ``registry.*`` and ``loaders.*`` come from its set-ups; ``ops.*`` from
#: its untraced steady passes; ``storage.*`` and ``storage_peak_mb`` from
#: a sample after every op of its untraced session, so blocks that pile
#: up across passes show; the rest from its one traced pass.
PER_LAYER = (
    [
        ("setup.cold_s", "s", "lower"),
        ("registry.load_all_s", "s", "lower"),
        ("loaders.load_s", "s", "lower"),
        ("loaders.load_hit_s", "s", "lower"),
    ]
    + [m for layer in LAYERS for m in (
        (f"{layer}.build_s", "s", "lower"),
        (f"{layer}.build_jobs", "count", "lower"),
    )]
    + [(f"build_s.{k}", "s", "lower") for k in BUILD_KEYS]
    + [
        ("sources.files_written", "count", "lower"),
        ("sources.bytes_written_mb", "MB", "lower"),
        ("streaming.batches", "count", "lower"),
        ("streaming.trigger_s", "s", "lower"),
        ("streaming.state_rows", "count", "lower"),
        ("catalyst.plan_s", "s", "lower"),
        ("spark.exec_s", "s", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.executor_run_s", "s", "lower"),
        ("spark.executor_cpu_s", "s", "lower"),
        ("spark.cpu_run_ratio", "ratio", "higher"),
        ("spark.gc_s", "s", "lower"),
        ("spark.shuffle_write_mb", "MB", "lower"),
        ("spark.shuffle_read_mb", "MB", "lower"),
        ("spark.spill_mb", "MB", "lower"),
        ("spark.input_mb", "MB", "lower"),
        ("pyworker.cpu_s", "s", "lower"),
        ("storage.blocks_max", "count", "lower"),
        ("storage.blocks_end", "count", "lower"),
        ("storage_peak_mb", "MB", "lower"),
        ("stored_bytes_per_input_byte", "ratio", "lower"),
        ("first_pass_s", "s", "lower"),
        ("op_s_geomean", "s", "lower"),
        ("ops.p50_s", "s", "lower"),
        ("ops.tail_s", "s", "lower"),
    ]
)
