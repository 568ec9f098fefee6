"""The benchmark's workloads: which keys each one times, the module each
key belongs to, and the size of its generated inputs."""

STAR_SF = 0.01  # star-schema scale: lineitem = 6M x sf rows
FHIR_PATIENTS = 150  # about 11 resources and 14 KB of NDJSON per patient

REL = ["window_rank", "agg_weighted_median", "join_shuffle_sortmerge"]
LLM = ["dedup_substring_winnow"]
UDX = ["udaf_typed_geomean"]
FHIR = ["fhir_decode", "opt_annotation_rewrite", "opt_numeric_rewrite",
        "fhir_patient_timeline", "fhir_view_definition_eob"]
STREAM = ["stream_tumbling_window", "stream_stateful_dedup"]

# Keys left out of the workloads, with the reason.
EXCLUDED = {
    "fhir_schema_derive": "oracle is a literal table of the spec's golden Patient schema",
    "fhir_encode": "encodes three literal resources; oracle is a constant",
    "fhir_schema_from_definition": "reads only the bundled StructureDefinition; oracle is a constant",
    "scan_projection_pushdown": "ignores the dataset directory",
    "fhir_annotate_quantity_canonical": "fails its oracle on generated data: for '/min' "
        "(factor 0.016667) Spark rounds the canonical value half-up (81.8 -> 1.363361) "
        "while the DuckDB oracle gives 1.363360",
    "agg_hash_group": "fails its oracle on some seeds: avg over DECIMAL(18,4) is rounded "
        "half-up to 8 places, then again to 6, so 253491 / 9942 = 25.4969824985 gives "
        "25.496983 where the DuckDB oracle gives 25.496982 (star seed 2001)",
}

# name -> (input kind, [(module, key)])
WORKLOADS = {
    "fhir_ingest_query": ("fhir", [("fhir", k) for k in FHIR]),
    "star_operators": ("star", [("rel", k) for k in REL] + [("llm", k) for k in LLM]
                       + [("udx", k) for k in UDX]),
    "stream_replay": ("star", [("stream", k) for k in STREAM]),
}


def module_of(workload):
    """key -> module for one workload; raises if a key is listed twice."""
    out = {}
    for m, k in WORKLOADS[workload][1]:
        if k in out:
            raise ValueError(f"{k} listed twice in {workload}")
        out[k] = m
    return out
