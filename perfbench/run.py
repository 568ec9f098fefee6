#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as the last line.

    python3 perfbench/run.py --workload star_operators --seed 3 --seconds 8 --trace 0

Steps: build the program from source (perfbench/build.py), generate the
workload's inputs from the seed (perfbench/gen), run the harness JVM
(perfbench/harness), check every timed key against its DuckDB oracle and
the FHIR ingest against its input (perfbench/gate.py), and turn the dump
into metrics (perfbench/metrics.py). With --trace 1 it prints the
per-layer metrics instead of the end-to-end ones and writes the spans to
.bench_out/trace-<workload>-<seed>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, os.path.join(HERE, "gen")]

import build  # noqa: E402
import fhir as fhirgen  # noqa: E402
import gate  # noqa: E402
import metrics  # noqa: E402
import star  # noqa: E402
import workloads  # noqa: E402

GEN_REPEATS = 2  # inputs are generated this often; the copies must agree byte for byte
TIME_LIMIT_S = 170  # the harness is stopped after this long
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(kind, out, seed):
    if kind == "fhir":
        return fhirgen.write(out, seed, workloads.FHIR_PATIENTS)
    star.write(out, seed, workloads.STAR_SF)
    return None


def run(a):
    if a.workload not in workloads.WORKLOADS:
        sys.exit(f"unknown workload {a.workload}; one of {sorted(workloads.WORKLOADS)}")
    try:
        classes = build.build()
    except (FileNotFoundError, RuntimeError) as e:
        sys.exit(f"build failed: {e}")
    t_built = time.monotonic()
    kind, mod_keys = workloads.WORKLOADS[a.workload]
    workloads.module_of(a.workload)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        gen_s, digests, counts = [], set(), None
        for i in range(GEN_REPEATS):
            d = os.path.join(work, f"input{i}")
            t0 = time.perf_counter()
            counts = generate(kind, d, a.seed)
            gen_s.append(time.perf_counter() - t0)
            digests.add(digest(d))
            if i:
                shutil.rmtree(d)
        inputs = os.path.join(work, "input0")
        dump = os.path.join(work, "dump.json")
        results = os.path.join(work, "results")
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
               ["-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", "-cp", build.classpath(classes),
                "perfbench.Harness", f"workload={a.workload}",
                f"data={inputs if kind == 'star' else '-'}",
                f"fhir={inputs if kind == 'fhir' else '-'}",
                f"work={work}", f"results={results}", f"out={dump}",
                f"seconds={a.seconds}", f"seed={a.seed}", f"trace={a.trace}",
                "keys=" + ",".join(f"{m}:{k}" for m, k in mod_keys)])
        log_path = os.path.join(work, "jvm.log")
        t_jvm = time.monotonic()
        with open(log_path, "w") as log:
            # Spark prefers these over spark.local.dir; unset, scratch stays in the checkout
            env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, env=env)
            try:
                rc = p.wait(timeout=max(30, TIME_LIMIT_S - (time.monotonic() - t_built)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"harness exited with {rc}")
        with open(dump) as f:
            d = json.load(f)
        jvm_s = time.monotonic() - t_jvm

        keys = [k for _, k in mod_keys]
        checks = gate.check(results, d["oracle"], keys,
                            star_dir=inputs if kind == "star" else None,
                            golden_dir=d["golden_dir"],
                            fhir_dir=os.path.join(d["data_dir"], "fhir"))
        print(f"timing: generate {sum(gen_s):.2f}s, jvm {jvm_s:.2f}s (main {d['main_s']:.2f}s, "
              f"drain {d['drain_s']:.2f}s), oracle gate {time.monotonic() - t_jvm - jvm_s:.2f}s",
              file=sys.stderr)
        bad_keys = {k: r for k, r in checks.items() if r}
        bad_keys.update(d["gate_errors"])
        for k, r in sorted(bad_keys.items()):
            print(f"gate FAIL {k}: {r}", file=sys.stderr)
        attempted = len(d["samples"]) + len(d["ingest"])
        failed = sum(1 for s in d["samples"] if not s.get("ok") or s["key"] in bad_keys)
        for s in d["samples"]:
            if s.get("error"):
                print(f"error {s['key']}: {s['error']}", file=sys.stderr)
        rt = d["roundtrip"]
        ingest_ok = not rt or (rt["mismatches"] == 0 and rt["counts"] == counts)
        if not ingest_ok:
            print(f"ingest round trip FAIL: {rt} expected counts {counts}", file=sys.stderr)
            failed += len(d["ingest"])
        if len(digests) != 1:
            print("input generation is not deterministic", file=sys.stderr)

        if a.trace:
            values = metrics.per_layer(d)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".bench_out", f"trace-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"spans": d["spans"], "self_s": metrics.self_time_by_name(d["spans"]),
                           "exec": d["exec"], "stream_progress": d["stream_progress"],
                           "per_layer": values}, f)
        else:
            values = metrics.end_to_end(d, metrics.median(gen_s))
        result = {
            "correct": failed == 0 and not bad_keys and ingest_ok and len(digests) == 1,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items()},
        }
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
