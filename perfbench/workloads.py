"""The benchmark's workloads: each is an ordered list of registered queries,
each query tagged with the repository module it mostly exercises."""

ML = "operators.ml"
DEDUP = "operators.dedup"
TEXT = "operators.text"
FUNCTIONS = "functions"
STREAMING = "streaming"
SOURCES = "sources"
MODULES = [ML, DEDUP, TEXT, FUNCTIONS, STREAMING, SOURCES]

# Two workloads, each a few queries: a run (set-up, warm-up with the
# result dump, the timed passes and the oracle check) has to stay well under
# a minute on a shared four-core host. Every module is measured by one of
# them, and each is the other's bypass. README.md lists what was left out.
WORKLOADS = {
    "ref_ml": {
        "why": "the paper's own operators; iterative fits run many short "
               "driver-launched jobs, so driver, planning and scheduling "
               "time dominate",
        "queries": [
            ("q_fcm_fit", ML), ("q_canopy_fcm", ML),
            ("q_apriori_levelwise", ML), ("q_kmeans", ML),
            ("q_online_ahp", ML),
        ],
    },
    "text_stream": {
        "why": "text kernels, batch and incremental dedup, a state-store "
               "stream and a table rewrite; task CPU, microbatches and table "
               "writes, with no iterative ML loop",
        "queries": [
            ("q_html_text", FUNCTIONS), ("q_gopher_rules", TEXT),
            ("q_dedup_minhash", DEDUP), ("q_index_stream", DEDUP),
            ("q_count_min_stream", STREAMING), ("q_table_compact", SOURCES),
        ],
    },
}


def queries(workload):
    return [q for q, _ in WORKLOADS[workload]["queries"]]


def module_of(workload):
    return dict(WORKLOADS[workload]["queries"])
