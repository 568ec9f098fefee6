"""Turns one harness dump into the benchmark's metrics.

End-to-end metrics come from the untraced timings; per-layer metrics from
the traced passes of a traced run, as a mean per traced pass. Every
function here is pure and covered by perfbench/tests.
"""
import math
import statistics

PHASES = ("analysis", "optimization", "planning")
STREAM_PHASES = {"trigger_s": "triggerExecution", "add_batch_s": "addBatch",
                 "wal_commit_s": "walCommit", "commit_offsets_s": "commitOffsets",
                 "query_planning_s": "queryPlanning", "latest_offset_s": "latestOffset"}


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1]."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def key_medians(samples):
    """key -> median wall time of its successful samples."""
    by = {}
    for s in samples:
        if s.get("ok"):
            by.setdefault(s["key"], []).append(s["wall_s"])
    return {k: median(v) for k, v in by.items()}


def key_geomean(samples):
    """Geometric mean over keys of each key's median time."""
    return geomean(list(key_medians(samples).values()))


def tail_ratio(samples, q=0.9):
    """q-quantile of (sample time / its key's median)."""
    med = key_medians(samples)
    return quantile([s["wall_s"] / med[s["key"]] for s in samples if s.get("ok")], q)


def in_window(ts_ms, start_ms, end_ms):
    return start_ms <= ts_ms <= end_ms


def pass_input_rows(progress, p):
    """Stream input rows whose micro-batch started inside pass p."""
    return sum(r["input_rows"] for r in progress if in_window(r["ts_ms"], p["start_ms"], p["end_ms"]))


def events_per_pass(progress, passes):
    """Median over passes of the stream input rows read in the pass."""
    return median([pass_input_rows(progress, p) for p in passes])


def typical_pass_s(samples):
    """Sum over keys of each key's median time: one typical pass. Each key's
    outlier samples drop out on their own, which a median of whole-pass
    totals does not achieve with three passes."""
    return sum(key_medians(samples).values())


def stored_ratio(written_bytes, input_bytes):
    return written_bytes / input_bytes


def self_times(spans):
    """span id -> duration minus the union of its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def self_time_by_name(spans):
    """span name -> summed self time in seconds."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def end_to_end(d, gen_s):
    """The end-to-end metrics of one run: name -> (value, unit)."""
    samples = d["samples"]
    passes = d["passes"]
    w = d["workload"]
    pass_s = typical_pass_s(samples)
    if w == "fhir_ingest_query":
        items = median([r["resources"] / r["wall_s"] for r in d["ingest"]])
    elif w == "stream_replay":
        items = events_per_pass(d["stream_progress"], passes) / pass_s
    else:
        rows = {}
        for s in samples:
            rows[s["pass"]] = rows.get(s["pass"], 0) + s.get("rows", 0)
        items = median(list(rows.values())) / pass_s
    return {
        "setup_s": (gen_s + d["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "key_geomean_s": (key_geomean(samples), "s"),
        "items_per_s": (items, "1/s"),
        "retained_heap_mb": (d["retained_heap_mb"], "MB"),
    }


def per_layer(d):
    """The per-layer metrics of one traced run: name -> (value, unit)."""
    mod = d["modules"]
    traced = [p for p in d["passes"] if p["traced"]]
    tp = {p["pass"] for p in traced}
    n = len(traced)
    cpus = d["cpus"]
    ts = [s for s in d["samples"] if s["pass"] in tp]
    m = {}

    def put(name, v, unit):
        m[name] = (v, unit)

    put("core.build_s", sum(s.get("build_s", 0.0) for s in ts) / n, "s")
    for ph in PHASES:
        put(f"plan.{ph}_s", sum(s.get("plan", {}).get(f"{ph}_ms", 0) for s in ts) / 1000 / n, "s")

    ex = {}
    for tag, c in d["exec"].items():
        p, key = tag.split("/", 1)
        if int(p) in tp:
            acc = ex.setdefault(key, {})
            for f, v in c.items():
                acc[f] = max(acc.get(f, 0), v) if f == "peak_task_mem_bytes" else acc.get(f, 0) + v
    tot = lambda f: sum(c[f] for c in ex.values())
    for f in ("jobs", "stages", "tasks"):
        put(f"exec.{f}", tot(f) / n, "count")
    busy = tot("busy_ms") / 1000 / n
    put("exec.task_busy_s", busy, "s")
    put("exec.task_wait_s", tot("wait_ms") / 1000 / n, "s")
    put("exec.busy_share", busy / (median([p["wall_s"] for p in traced]) * cpus), "ratio")
    put("exec.gc_s", tot("gc_ms") / 1000 / n, "s")
    put("exec.shuffle_write_bytes", tot("shuffle_write_bytes") / n, "B")
    put("exec.shuffle_read_bytes", tot("shuffle_read_bytes") / n, "B")
    put("exec.spill_bytes", tot("spill_bytes") / n, "B")
    put("exec.peak_task_mem_mb", max([c["peak_task_mem_bytes"] for c in ex.values()] or [0]) / 2**20, "MB")
    put("exec.failed_tasks", tot("failed_tasks") / n, "count")

    def mod_wall(x):
        return sum(s["wall_s"] for s in ts if mod.get(s["key"]) == x) / n

    def mod_shuffle(x):
        return sum(c["shuffle_write_bytes"] for k, c in ex.items() if mod.get(k) == x) / n

    for x in ("rel", "llm", "udx"):
        put(f"{x}.exec_s", mod_wall(x), "s")
    put("rel.shuffle_bytes", mod_shuffle("rel"), "B")
    put("llm.shuffle_bytes", mod_shuffle("llm"), "B")

    ti = [r for r in d["ingest"] if r["pass"] in tp]
    for st in ("derive", "encode", "annotate", "write"):
        put(f"fhir.{st}_s", sum(r["stages_s"].get(st, 0.0) for r in ti) / len(ti) if ti else 0.0, "s")
    ing = d.get("ingest_setup") or {}
    put("fhir.resources", ing.get("resources", 0), "count")
    put("fhir.input_bytes", ing.get("input_bytes", 0), "B")
    put("fhir.written_bytes", ing.get("written_bytes", 0), "B")
    put("fhir.stored_bytes_per_input_byte",
        stored_ratio(ing["written_bytes"], ing["input_bytes"]) if ing else 0.0, "ratio")
    rt = d.get("roundtrip") or {}
    put("fhir.decode_s", rt.get("decode_s", 0.0), "s")
    put("fhir.exec_s", mod_wall("fhir"), "s")
    put("fhir.roundtrip_mismatches", rt.get("mismatches", 0), "count")

    fs = [s for s in ts if mod.get(s["key"]) == "fhir" and "plan" in s]
    put("opt.annotation_filters", sum(s["plan"]["annotation_filters"] for s in fs) / n, "count")
    rows = sum(s["rows"] for s in fs)
    put("opt.scan_rows_per_result", sum(s["plan"]["scan_rows"] for s in fs) / rows if rows else 0.0, "ratio")
    put("opt.scan_bytes", sum(s["plan"]["scan_bytes"] for s in fs) / n, "B")

    prog = [r for r in d["stream_progress"]
            if any(in_window(r["ts_ms"], p["start_ms"], p["end_ms"]) for p in traced)]
    put("stream.batches", len(prog) / n, "count")
    put("stream.input_rows", sum(r["input_rows"] for r in prog) / n, "count")
    for name, phase in STREAM_PHASES.items():
        put(f"stream.{name}", sum(r["duration_ms"].get(phase, 0) for r in prog) / 1000 / n, "s")
    put("stream.state_commit_s", sum(r["state_commit_ms"] for r in prog) / 1000 / n, "s")
    put("stream.state_rows", sum(r["state_rows"] for r in prog) / n, "count")
    put("stream.state_memory_bytes", sum(r["state_memory_bytes"] for r in prog) / n, "B")
    trig = sum(r["duration_ms"].get("triggerExecution", 0) for r in prog) / 1000
    put("stream.lifecycle_s", (sum(s["wall_s"] for s in ts if mod.get(s["key"]) == "stream") - trig) / n
        if prog else 0.0, "s")

    put("ckpt.persisted_rdds_end", d["persisted_rdds_end"], "count")
    put("memo.warm_s", sum(d["warm_s"][k] for k in d["memoized"]), "s")
    put("tail.p90_over_p50", tail_ratio(d["samples"]), "ratio")
    untraced = [s for s in d["samples"] if s["pass"] not in tp]
    put("trace.overhead_share", key_geomean(ts) / key_geomean(untraced) - 1.0, "ratio")
    return m

