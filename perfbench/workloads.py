"""The benchmark's workloads: each is one ``plans`` module's entries.

A workload lists its module's entries in priority order, each with its
nominal wall time. ``chapter_pipeline`` also borrows one stateful stream
from ``catalog``, so a listed workload drives the RocksDB state store. The
nominal times are entry walls from one untraced run on the seed-42 tree
at 4 cores (perfbench/README.md). A run with
``--seconds S`` takes the longest prefix of that list whose nominal times
sum to at most ``S`` (at least one entry), and runs it in registration
order. The work of a run is therefore fixed by the workload and ``S``,
never by how fast the program is, so runs of two commits compare.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    entries: tuple[tuple[str, float], ...]


WORKLOADS: dict[str, Workload] = {
    "chapter_pipeline": Workload(
        entries=(
            ("chapter_pipeline_e2e", 2.54),
            ("alignment_sink_pyds_commit", 1.30),
            ("trimmer_intro_analysis", 4.08),
            ("chapter_source_pyds", 0.83),
            ("streaming_chapter_source_pyds", 2.63),
            ("streaming_tumbling_hour_stats", 2.71),
            ("corpus_verses", 0.58),
            ("audio_inventory", 0.16),
            ("transcribe_chapter", 0.93),
            ("nfc_normalize_corpus", 0.59),
            ("verse_at_time", 2.40),
            ("pdf_nlp_entities", 1.47),
            ("user_first_last_event", 0.76),
            ("wav_roundtrip_digests", 0.87),
            ("blob_upload_manifest", 1.82),
            ("chapter_pipeline_fallback", 2.78),
            ("trimmer_pipeline_e2e", 6.41),
        ),
    ),
    "event_analytics": Workload(
        entries=(
            ("streaming_tumbling_hour_stats", 2.45),
            ("streaming_user_clicks_purchase_windows", 5.12),
            ("pricing_summary", 1.20),
            ("region_revenue", 1.62),
            ("top5_recent_events_per_user", 0.59),
            ("asof_click_purchase", 0.69),
            ("user_clicks_in_purchase_windows", 0.76),
            ("user_sessions_30min", 0.67),
            ("event_conversion_funnel", 1.46),
            ("user_cohort_retention", 1.25),
            ("streaming_dedup_events", 3.39),
            ("streaming_session_windows", 3.00),
            ("hourly_value_forward_fill", 0.65),
            ("skewed_event_profile", 2.03),
        ),
    ),
    "corpus_curation": Workload(
        entries=(
            ("ann_ivf_kmeans_top10", 3.80),
            ("simhash_neardup_quotient", 4.10),
            ("embedding_near_dup_pairs", 1.52),
            ("bm25_keyword_topk", 2.26),
            ("bpe_merge_rounds", 3.42),
            ("doc_lm_perplexity", 4.37),
            ("pagerank_neardup_graph", 9.84),
        ),
    ),
}


def select(workload: str, seconds: float) -> list[str]:
    """The entries a run of ``workload`` with ``seconds`` executes, in
    registration order."""
    from hebrew_tutor_data_pipeline_spark.plans import REGISTRATION_ORDER

    chosen, total = [], 0.0
    for name, nominal in WORKLOADS[workload].entries:
        if chosen and total + nominal > seconds:
            break
        chosen.append(name)
        total += nominal
    picked = set(chosen)
    return [n for n in REGISTRATION_ORDER if n in picked]
