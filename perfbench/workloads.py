"""The benchmark's workloads: fixed lists of registered queries. Why each
was chosen is recorded beside its name in ``BENCHMARK.json``.

Each workload puts most of its time in a different layer, so an
optimisation of one layer has a workload that shows it and one on which
the prediction is no change. A run executes whole passes over its list
(``--seed`` only permutes the order): a first pass, in which every query
runs for the first time in the JVM, and a fixed number of warm passes,
which the metrics come from. Every run pays a fresh JVM's set-up (about
18 s) and a first pass before anything warm is timed, and a full
measurement of about fifty runs has to fit in an hour, so there are two
workloads and each list is a sample.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # A sample of the 114 read-only names (q01-q97 without the three that
    # write files or tables, q70_jsonl_roundtrip, q71_orc_roundtrip and
    # q76_bucketed_join_revenue; the nine i94_*_build; the twelve dq_*).
    # q28_approx_vs_exact was left out of the population: it runs for more
    # than 6 minutes under toPandas() at sf0.1. A traced warm pass over the
    # other 113 on a 4-core host took 124 s: 77% of it in the final
    # actions, 33% with no Spark job running, and a geometric mean of 0.79
    # times the arithmetic mean per query. These 7 were found by a seeded
    # search over subsets of that pass with one dq_ and one i94_ query and
    # about 5.5 s per pass that match all three shares (77%, 33%, 0.79).
    "olap_read": (
        "dq_reconcile_versions",
        "i94_states_demographic_build",
        "q01_pricing_summary",
        "q20_column_profile",
        "q46_price_histogram",
        "q56_event_funnel",
        "q63_forecast_revenue_change",
    ),
    # Eager jobs inside the query function: a versioned-table delete
    # (tbl_delete_report), a streaming micro-batch, a checkpointed fixpoint
    # loop (k-core peeling), and an IVF ANN top-k that trains its codebook
    # eagerly and scores on Python/Arrow workers (mapInPandas) in the final
    # action. Every run pays its set-up and a first pass before the warm
    # passes, and a run must stay near a minute while the host loses 15%
    # of its CPU time to other guests, so the queries that call merge,
    # commit, change_feed, the streaming sinks or table maintenance
    # (2-11 s each on a 4-core host, 6-13 s while the host is slowed) are
    # left out.
    "write_iterative": (
        "tbl_delete_report",
        "stream_windowed_counts",
        "graph_kcore",
        "ann_ivf_kmeans_topk",
    ),
}

#: nominal seconds of one warm pass on a 4-core host at sf0.1 once the JIT
#: has settled, with room for the host's slow spells; a run makes as many
#: warm passes as fit in ``--seconds`` at this pace. Passes keep getting
#: faster for several passes after the first, and a host shared with other
#: guests changes speed by a quarter from one second to the next, so each
#: query's fastest warm run settles only over many passes. On 11 olap_read
#: runs of 12 warm passes, the spread (interquartile range over median) of
#: the summed per-query minima was 0.24 over the first 5 passes, 0.17 over
#: 8 and 0.15 over 12. A write_iterative pass is twice as long and its
#: set-up and first pass take 40 s, so it gets fewer passes; its longer
#: queries vary less from run to run.
PASS_S: dict[str, float] = {"olap_read": 4.0, "write_iterative": 7.5}
