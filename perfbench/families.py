"""Query families and the subset of queries the ``suite`` workload times.

A family is named after the package module that does a query's work, so a
per-family rollup points at the module a change has to touch:

- ``relational``: TPC-H-shaped joins, windows and aggregates on the star
  schema and the events table (plain DataFrame code, ``operators.skew``).
- ``frontier``: crawl machinery (``functions.urls``, ``plans.frontier``,
  ``sources.robots``, ``sources.sitemap``, ``operators.linkrank``,
  ``operators.freshness``, ``sources.upload_sink``).
- ``dedup``: exact and near-duplicate detection (``operators.dedup``).
- ``similarity``: embedding nearest neighbours (``operators.similarity``,
  ``corpusops.ivf_topk``).
- ``corpus``: text curation (``operators.corpusops``, ``textstats``,
  ``spans``, ``enrich``, ``shards``, ``functions.text``).
- ``codecs``: byte-format decoders and the media pipeline (``sources.*``
  codecs, ``sources.html_parse``, ``multimodal``).
- ``streaming``: Structured Streaming queries (``streaming.*``).
"""

from __future__ import annotations

FAMILIES = ("relational", "frontier", "dedup", "similarity", "corpus", "codecs", "streaming")

_MEMBERS = {
    "relational": [
        "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue", "q6_revenue_delta",
        "q4_order_priority", "top_orders_per_customer", "customer_running_total",
        "rollup_returns", "events_pivot_by_type", "events_hourly_stats", "events_sessionize",
        "cube_order_stats", "distinct_parts_per_brand", "order_value_quantiles", "salted_host_agg",
    ],
    "frontier": [
        "url_canonicalize", "frontier_rank", "politeness_schedule", "robots_filter",
        "robots_sitemap_urls", "seen_antijoin", "link_pagerank", "sitemap_discover",
        "crawl_snapshot_merge", "crawl_freshness_schedule", "crawl_engine_demo",
        "crawl_dedup_pairs", "upload_statuses",
    ],
    "dedup": [
        "dedup_exact", "docs_minhash_sigs", "docs_minhash_lsh_pairs", "lsh_bucket_stats",
        "docs_ngram_jaccard", "docs_decontaminate", "docs_decontaminate_spans", "docs_simhash",
        "docs_simhash_hamming", "docs_substring_dedup", "emb_dup_clusters",
    ],
    "similarity": [
        "emb_knn_bruteforce", "emb_knn_lsh", "emb_knn_multitable", "emb_knn_multiprobe",
        "emb_cosine_near_dup", "emb_knn_ivf",
    ],
    "corpus": [
        "spans_build", "spans_roundtrip_stats", "docs_fingerprint", "docs_quality",
        "docs_rolling_fp", "docs_lang_id", "corpus_manifest", "corpus_sample",
        "docs_repetition_filter", "docs_pii_scrub", "docs_line_dedup", "docs_vi_fold",
        "docs_importance", "corpus_mixture", "spans_lookahead_media", "spans_lookback_title",
        "docs_paragraph_merge", "docs_paragraph_merge_exact", "table_header_tiers",
        "table_annex_title", "table_chunks", "table_markdown", "table_sections",
        "docs_postprocess", "docs_full_pipeline", "ocr_golden_compare", "ocr_cost_summary",
    ],
    "codecs": [
        "media_sniff_formats", "warc_roundtrip", "warc_cdx_lookup", "workbook_sheet_tables",
        "xlsx_real_sheets", "pdf_real_text", "png_real_features", "wav_real_features",
        "avi_real_frames", "docx_real_chunks", "pdf_table_extract", "html_extract_docs",
        "media_features", "media_frame_sample", "media_ocr_route", "pdf_page_raster",
    ],
    "streaming": ["streaming_events_hourly", "streaming_seen_dedup", "streaming_politeness"],
}

FAMILY_OF = {q: fam for fam, names in _MEMBERS.items() for q in names}
