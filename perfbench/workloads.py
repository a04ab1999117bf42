"""Workload definitions: which calls one pass makes, in which order, and
which input tables each call reads (for the stated input rows).

Each workload is a closed loop with one client: one driver thread runs the
passes back to back, on ``local[<nproc>]``.
"""

from __future__ import annotations

#: Fixture scale: lineitem has 6,000,000 × FIXTURE_SCALE rows. At 0.05 its
#: single-row-group file is above session._maybe_widen's 4 MB floor, so
#: lineitem scans are widened as at sf0.1, and the smaller tables are not.
FIXTURE_SCALE = 0.05
#: The CSV input of ``etl``: q_etl_pipeline's projection of the first
#: ETL_SLICE_ROWS lineitem rows, ETL_INPUT_COPIES times with shifted keys.
ETL_SLICE_ROWS = 30_000
ETL_INPUT_COPIES = 2

#: The CSV call: AutoETLPipeline() defaults through run_etl to parquet.
RUN_ETL = "run_etl_csv"

#: call name -> tables it reads ("etl_input" is the generated CSV).
CALL_TABLES = {
    "q_etl_pipeline": ("lineitem",),
    RUN_ETL: ("etl_input",),
    "q_corpus_incremental_ingest": ("documents", "embeddings"),
    "q05_region_revenue": ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    "q_stream_tumbling": ("events",),
}

WORKLOADS = {
    # AutoETL end to end: plan building and eager profile/stats jobs
    # dominate q_etl_pipeline; run_etl adds the only real reader and writer.
    "etl": ("q_etl_pipeline", RUN_ETL),
    # LLM-data operators, eager checkpoints, joins and streaming; the
    # plans layer does not run here.
    "corpus_analytics": (
        "q_corpus_incremental_ingest",
        "q05_region_revenue",
        "q_stream_tumbling",
    ),
}

ALL_CALLS = tuple(CALL_TABLES)
