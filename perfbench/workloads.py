"""Workload definitions: which registered queries each workload runs, and
``pass_s``, the seconds one warm pass took at the seed state on 4 cpus,
from which a run sizes its fixed number of warm passes."""

from __future__ import annotations

import numpy as np

#: ``table_io`` runs on request but is not in BENCHMARK.json: with Spark's
#: set-up and cold pass, three gated workloads do not fit the time a
#: regression check has for its repeated runs.
WORKLOADS: dict[str, dict] = {
    "cohort_core": {
        "why": "reference surface, read-only: many small plans, no eager build jobs; "
               "the bypass workload for build-job and executor changes",
        "queries": """cohort_flowchart cohort_filter topk_row_number topk_dense_rank
            privacy_round privacy_redact privacy_k_anonymity wrangle_clean_columns
            wrangle_map_values date_instructions table_standardise_hes
            config_json_map""".split(),
        "pass_s": 2.6,
    },
    "table_io": {
        "why": "writes beside reads: archive round-trip, rollup merge, CSV config "
               "round-trip, checkpointed streaming dedup; sources/streaming work at build",
        "queries": """table_archive_roundtrip table_rollup_merge config_csv_roundtrip
            streaming_dedup""".split(),
        "pass_s": 3.3,
    },
    "llm_curation": {
        "why": "dedup three ways: MinHash with eager build jobs and persists, a mapInPandas "
               "image codec, a checkpointed stream (the streaming layer, as table_io is "
               "not gated)",
        "queries": "dedup_incremental multimodal_image_jpeg streaming_dedup".split(),
        "pass_s": 4.6,
    },
}


def pass_order(queries: list[str], seed: int, pass_no: int) -> list[str]:
    """The seed's permutation of ``queries`` for one pass (pass 0 is cold)."""
    rng = np.random.default_rng([seed, pass_no])
    return [queries[i] for i in rng.permutation(len(queries))]
