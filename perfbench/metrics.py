"""Every metric the benchmark prints, with its unit. BENCHMARK.json at
the repository root lists the same names (a test keeps them in step)."""

from __future__ import annotations

# name -> (unit, better, bound): bound is the share of the parent's
# median by which the metric may worsen before a change is rejected.
# Timings and memory get the widest bound allowed: run-to-run spread on
# a 4-core VM is 10-20% (README.md), mostly drift of the host itself
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "build_docs_per_s": ("docs/s", "higher", 0.25),
    "q1_latency_p50_s": ("s", "lower", 0.25),
    "q16_latency_p50_s": ("s", "lower", 0.25),
    "q512_qps": ("queries/s", "higher", 0.25),
    "index_bytes_per_input_byte": ("ratio", "lower", 0.1),
    "peak_rss_mb": ("MB", "lower", 0.25),
}

_SEARCH_STATS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "executor_cpu_s": "s", "python_cpu_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
}
_WAND_COUNTERS = {
    "block_rows": "count", "blocks_decoded": "count", "ranges_scored": "count",
    "ranges_pruned": "count", "pruned_frac": "ratio",
}

PER_LAYER: dict[str, str] = {
    "session.wall_s": "s",
    "functions.udfs.wall_s": "s",
    "functions.udfs.python_cpu_s": "s",
    "functions.udfs.tasks": "count",
    "operators.vocab.wall_s": "s",
    "operators.vocab.shuffle_write_bytes": "bytes",
    "operators.postings.wall_s": "s",
    "operators.postings.python_cpu_s": "s",
    "operators.postings.shuffle_write_bytes": "bytes",
    "operators.postings.spill_bytes": "bytes",
    "operators.postings.rows_out": "count",
    "plans.build.wall_s": "s",
    "plans.build.self_s": "s",
    "plans.build.stages_sum_s": "s",
    "plans.build.jobs": "count",
    "operators.wand.prebucket_blocks.wall_s": "s",
    "operators.wand.prebucket_blocks.jobs": "count",
    "operators.search.query_tokens.wall_s": "s",
    "operators.search.query_tokens.jobs": "count",
    **{f"operators.wand.search_bm25_wand.q{n}.{k}": u
       for n in (1, 16, 512) for k, u in _SEARCH_STATS.items()},
    **{f"operators.wand.q{n}.{k}": u for n in (16, 512) for k, u in _WAND_COUNTERS.items()},
    "functions.codec.decode_ns_per_posting": "ns",
    "functions.codec.bytes_per_posting": "bytes",
    "sources.txnlog.save_index_txn.wall_s": "s",
    "sources.txnlog.save_index_txn.jobs": "count",
    "sources.txnlog.save_index_txn.bytes_written": "bytes",
    "streaming.append.compute_batch_postings.wall_s": "s",
    "streaming.append.compute_batch_postings.jobs": "count",
    "sources.txnlog.append_batch_txn.wall_s": "s",
    "sources.txnlog.append_batch_txn.self_s": "s",
    "sources.txnlog.append_batch_txn.jobs": "count",
    "sources.txnlog.append_batch_txn.bytes_written": "bytes",
    "sources.txnlog.compact_index_txn.wall_s": "s",
    "sources.txnlog.compact_index_txn.jobs": "count",
    "sources.txnlog.compact_index_txn.bytes_rewritten": "bytes",
    "sources.txnlog.load_index_txn.wall_s": "s",
    "sources.txnlog.load_index_txn.jobs": "count",
    "sources.txnlog.read_log.wall_s": "s",
    "sources.txnlog.read_log.entries_folded": "count",
    "tracing.overhead_s": "s",
}
