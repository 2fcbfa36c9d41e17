"""The benchmark's workloads: which registered queries one pass runs.

Each list is run in a seed-chosen order, once cold and then warm, by
``run.py``; every name must resolve in ``queries.registry()``.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "tpch_etl": {
        "why": "lazy plans only: a TPC-H join, JSON/XML flattening and a Python "
        "fetch stage; construction, planning and sources reads, no index or stream",
        "queries": [
            "q2_min_cost_supplier",
            "nested_flatten_awards",
            "props_json_extract",
            "xml_from_xml_struct",
            "fetch_json_notices",
        ],
    },
    "index_stream": {
        "why": "eager queries only: the cold pass builds index generations that "
        "warm passes probe, plus a micro-batch drain over events",
        "queries": [
            "minhash_index_probe_incremental",
            "bm25_index_catalog_topk",
            "stream_dedup_pairs",
        ],
    },
}
