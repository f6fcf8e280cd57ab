"""The benchmark's workloads: which registered queries one client runs.

Each workload is a closed loop with one client: the next query starts
when the previous result is complete. A pass runs every query of the
workload once, in an order drawn from the run seed.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # Batch text-curation jobs: most of their time is task execution and
    # the Arrow UDF boundary, with few task slots busy at this scale.
    "curation": [
        "near_dup_jaccard",
        "doc_lang_id",
        "extract_main_text",
        "udf_user_trend",
    ],
    # The write path: stateful memory-sink drains, a foreachBatch merge
    # of appended postings onto a staged index, and a partitioned sink.
    "ingest": [
        "stream_per_minute_load",
        "stream_sessionize",
        "stream_inverted_index_serve",
        "sink_partitioned_roundtrip",
    ],
}
