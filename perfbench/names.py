"""The benchmark's metric names and units (BENCHMARK.json lists the same
names, with directions and bounds)."""

from __future__ import annotations

from inputs import CLASSES

# name → unit, in BENCHMARK.json order; bounds and directions live there.
# The pipeline and query costs are process-tree CPU-seconds (see cpu.py).
# Their wall-time counterparts (build_triples_per_s, landing_lag_max_s,
# query_p50_ms, convert_s, canonicalize_s, query_qps) are printed too,
# without a bound: on a shared 4-vCPU machine other tenants' load moves
# whole runs by up to 60%, past any bound allowed
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "build_triples_per_cpu_s": "1/s",
    "bytes_per_triple": "B",
    "landing_cpu_s": "s",
    "query_cpu_ms": "ms",
}

# pipeline layers, named <module>.<function> after the public function
# the benchmark calls; each reports the four LAYER_COUNTERS
PIPELINE_LAYERS = [
    "transcripts.transcripts_from_events",
    "convert.observation_triples",
    "convert.dataset_triples",
    "convert.mention_triples",
    "mentions.mention_triples_pandas",
    "io.write_triples",
    "manifest.pending",
    "manifest.record_many",
    "canon.property_alias_edges",
    "canon.connected_components",
    "canon.prefer_representatives",
    "canon.canonicalize_triples_minimal_dedup",
    "serve.bgp_stats",
]
LAYER_COUNTERS = [
    ("wall_s", "s"), ("cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
]
# counters only some layers have: name → unit. The ``.jobs`` ones are the
# Spark jobs one call launches (median over calls); files and bytes are
# what the writes left on disk, summed
EXTRA_COUNTERS = {
    "io.write_triples.files": "count",
    "io.write_triples.bytes_mb": "MB",
    "canon.connected_components.jobs": "count",
    "jobs.run_transcripts_job.jobs": "count",
    "jobs.run_canonicalize_job.jobs": "count",
}
# serving layers: per query class, then medians over the whole mix
SERVING_PER_CLASS = [
    ("sparql.select_text.{}.ms", "ms"),
    ("sparql.select_text.{}.jobs", "count"),
    ("execute.{}.ms", "ms"),
]
SERVING_MIX = {"sparql.parse_select.ms": "ms", "rest.serialize.ms": "ms", "rest.http.ms": "ms"}


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better)."""
    out = [
        (f"{layer}.{c}", unit, "lower")
        for layer in PIPELINE_LAYERS
        for c, unit in LAYER_COUNTERS
    ]
    out += [(n, u, "lower") for n, u in EXTRA_COUNTERS.items()]
    out += [
        (pattern.format(cls), unit, "lower")
        for cls in CLASSES
        for pattern, unit in SERVING_PER_CLASS
    ]
    out += [(n, u, "lower") for n, u in SERVING_MIX.items()]
    out += [("trace.coverage", "ratio", "higher"), ("trace.overhead", "s", "lower")]
    return out
