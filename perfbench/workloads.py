"""The benchmark's workloads: each is a fixed set of declared queries
from ``__spark_entry__.queries()`` plus the wrapped entry points a traced
run must see it reach."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # Span-name prefixes that must each record at least one span in a
    # traced run; a missing one means a wrapper was bypassed.
    expected_spans: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        # The table layer, used two ways.  Rewrites through the
        # mack-parity operators and the SQL front end: a keyed SCD2
        # MERGE, a constraint-checked append of lineitem, duplicate
        # killing, a replaceWhere overwrite, a bin-packing OPTIMIZE, a
        # multi-clause SQL MERGE and COPY INTO.  And many small commits:
        # streaming microbatches out of a Delta table, a
        # change-feed-driven rollup through UPDATE and DELETE, and a
        # checkpoint write.  Between them the queries reach every
        # DeltaProtocolTable operation the benchmark wraps.
        Workload(
            "table_ops",
            (
                "delta_scd2_merge",
                "delta_constraint_append",
                "kill_duplicates",
                "delta_replace_where",
                "delta_optimize_where",
                "delta_multiclause_merge",
                "delta_copy_into",
                "streaming_delta_source",
                "delta_incremental_rollup",
                "delta_v2_checkpoint_write",
            ),
            (
                "entry.builder", "entry.exec", "sources.load_table",
                *(f"delta_log.{op}" for op in (
                    "create", "append", "overwrite", "merge", "delete_where",
                    "update_where", "optimize", "checkpoint", "copy_into",
                    "table_changes", "snapshot", "to_df")),
                "log_store.put_if_absent", "sql_ddl.sql", "sql_dml.execute",
                "scd.", "dedup.", "appends.", "rollup.", "merge_exec.",
            ),
        ),
        # Read-only LLM-data operators: no Delta commits, so a change to
        # the table layer should leave this workload unchanged.
        Workload(
            "llm_read",
            (
                "dedup_ngram_jaccard",
                "knn_pq_adc",
                "cluster_balance",
                "totalprice_percentiles",
                "token_counts_bpe",
                "vocab_census",
            ),
            (
                "entry.builder", "entry.exec", "sources.load_table",
                "operators.dedup_text.", "operators.similarity.", "operators.pq.",
                "operators.profile.", "operators.bpe.", "operators.textstats.",
            ),
        ),
    )
}
