"""Structured Streaming tails and the streaming operators.

Names resolve on first use (PEP 562 ``__getattr__``): importing one
submodule, as the core does with ``streaming.live``, loads none of the
others (the operators pull in pandas and most of the package).
"""

from importlib import import_module

#: submodule -> the names it exports through this package
_EXPORTS = {
    "live": ("LiveTail", "stream_changes", "stream_build_index"),
    "sinks": ("compact_sink", "read_sink_manifest"),
    "stateful": (
        "latest_index_reduce",
        "read_keeper_sink",
        "read_latest_index_sink",
        "stream_asof_join",
        "stream_dedup_exact",
        "stream_dedup_minhash",
        "stream_dedup_window",
        "stream_latest_index",
        "stream_token_budget",
        "stream_topk",
    ),
    "contamination": (
        "stream_decontaminate",
        "stream_decontaminate_spans",
        "stream_semantic_decontaminate",
    ),
    "cms": (
        "bloom_reduce",
        "cms_reduce",
        "histogram_reduce",
        "hll_reduce",
        "read_bloom",
        "read_cms",
        "read_histogram",
        "read_hll",
        "stream_bloom",
        "stream_cms",
        "stream_histogram",
        "read_kmv",
        "stream_hll",
        "stream_kmv",
    ),
    "scd": ("prune_history", "read_history", "stream_scd2"),
    "packing": ("stream_pack_bfd",),
    "annintake": (
        "stream_hash_embed",
        "stream_hier_assign",
        "stream_ivf_assign",
        "stream_pq_assign",
    ),
    "mediaintake": ("stream_image_phash",),
    "quality": (
        "stream_dsir_filter",
        "stream_gopher_filter",
        "stream_lm_filter",
        "stream_nb_filter",
    ),
    "scrub": ("scrub_expr", "stream_scrub_pii"),
    "webfilter": ("stream_web_filter",),
    "windows": ("session_windows", "windowed_agg"),
}
_WHERE = {name: mod for mod, names in _EXPORTS.items() for name in names}

__all__ = [
    "LiveTail",
    "stream_changes",
    "stream_build_index",
    "stream_latest_index",
    "stream_asof_join",
    "stream_dedup_exact",
    "stream_dedup_minhash",
    "stream_dedup_window",
    "stream_token_budget",
    "stream_topk",
    "read_keeper_sink",
    "read_latest_index_sink",
    "compact_sink",
    "read_sink_manifest",
    "latest_index_reduce",
    "cms_reduce",
    "bloom_reduce",
    "hll_reduce",
    "histogram_reduce",
    "stream_scrub_pii",
    "stream_web_filter",
    "stream_gopher_filter",
    "stream_lm_filter",
    "stream_nb_filter",
    "stream_dsir_filter",
    "stream_hash_embed",
    "stream_pack_bfd",
    "stream_image_phash",
    "stream_hier_assign",
    "stream_ivf_assign",
    "stream_pq_assign",
    "stream_cms",
    "read_cms",
    "stream_bloom",
    "read_bloom",
    "read_kmv",
    "stream_hll",
    "stream_kmv",
    "read_hll",
    "stream_histogram",
    "read_histogram",
    "stream_decontaminate",
    "stream_decontaminate_spans",
    "stream_semantic_decontaminate",
    "stream_scd2",
    "read_history",
    "prune_history",
    "scrub_expr",
    "session_windows",
    "windowed_agg",
]


def __getattr__(name):
    mod = _WHERE.get(name)
    if mod is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(import_module(f"{__name__}.{mod}"), name)
    globals()[name] = value  # resolve once
    return value
