#!/usr/bin/env python3
"""The repository's benchmark: build and live workloads.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and the Scala harness in
perfbench/ with sbt (offline, from source) and caches the classpath under
.bench_build/. Each run starts one JVM running perfbench.Main, which
sets up the workload from the seed, measures it, checks the outputs and
hands back raw samples. This script turns them into metrics, checks the
faces' digests (traced live runs) against perfbench/goldens, prints every
metric by name and unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 the per-layer ones, from a run where every other operation
is traced. A per-layer metric the workload does not exercise reads 0; one
it should produce but did not fails the run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BUILD_DIR, "classpath.txt")
WORKLOADS = ("build", "live")
GOLDENS = os.path.join(HERE, "goldens", "faces_sf0.01.json")
FACES = os.path.join(HERE, "goldens", "faces.tsv")
# Per-layer metrics each workload's traced run must produce.
COMMON_LAYERS = ["failed_share", "trace.unattributed_share", "trace.overhead_share"]
LAYERS = {
    "build": [
        "IndexBuilder.shuffle_map.cpu_s", "IndexBuilder.shuffle_map.shuffle_write_mb",
        "IndexBuilder.segment_write.cpu_s", "IndexBuilder.segment_write.gc_s",
        "IndexBuilder.segment_write.spill_mb", "IndexBuilder.segment_write.task_skew",
        "IndexBuilder.jobs", "IndexBuilder.commit.wall_s",
        "build.rate_1core_docs_per_s", "build.rate_nproc_docs_per_s",
        "build_docs_per_s", "build_scaling_eff", "index_bytes_per_input_byte",
        "index.posting_bytes_per_doc", "index.fnorm_bytes_per_doc", "index.doc_bytes_per_doc",
        # the serving tier, measured inside the traced build run
        "core.PostingsCursor.ns_per_posting", "core.BlockWand.run_us",
        "core.BlockWand.scored_share", "Searcher.fetch_jobs", "Searcher.fetch_s",
        "Searcher.miss_query_share", "Searcher.fetch.p50_ms", "InvertedIndex.open.p50_s",
        "serve.cpu_ms_per_query", "serve.gc_s", "serve_p50_ms", "serve_p99_ms", "serve_qps",
        "serve.trace.unattributed_share", "serve.trace.overhead_share",
    ],
    "live": [
        "LiveIndex.appendBatch.p50_s", "LiveIndex.appendBatch.jobs",
        "LiveIndex.writeSegments.cpu_s", "IndexBuilder.jobs", "IndexBuilder.commit.wall_s",
        "InvertedIndex.open.p50_s", "live.segments", "Searcher.miss_query_share",
        "Searcher.fetch.p50_ms", "SegmentMerge.merge_s", "SegmentMerge.cpu_s",
        "SegmentMerge.shuffle_mb", "SegmentMerge.jobs", "compact_docs_per_s",
        "live_visible_p50_s", "live_visible_tail_s", "live_query_p50_ms", "live_query_tail_ms",
        "SparkEntry.warm_s", "faces_total_s", "faces.unattributed_share",
    ],
}

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 870
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def faces():
    """(face, module) pairs of goldens/faces.tsv, in run order."""
    with open(FACES) as f:
        return [tuple(ln.split("\t")[:2]) for ln in f.read().splitlines() if ln.strip()]


def expected_layers(workload):
    """Every per-layer metric a traced run of the workload must produce."""
    names = COMMON_LAYERS + LAYERS[workload]
    if workload == "live":
        fs = faces()
        for m in dict.fromkeys(m for _, m in fs):
            names += [f"faces.{m}_s", f"faces.{m}.jobs"]
        names += [f"face.{name}_s" for name, _ in fs]
    return names


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def sources_mtime():
    """Newest modification time of anything the build reads."""
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames[:] = [d for d in dirnames if d != "target"]
            files.extend(os.path.join(dirpath, f) for f in filenames)
    for f in files:
        if os.path.isfile(f):
            newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles the engine and the harness unless the cached classpath is
    newer than every source; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found next to perfbench/ (build.sbt, src/main/scala/graft)")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) > sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as out:
        try:
            code = subprocess.run(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, env=env,
                                  timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"sbt build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "perfbench" in ln and "target" in ln and ":" in ln
          and not ln.startswith("[")]
    if code != 0 or not cp:
        fail(f"sbt build failed (exit {code}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    return cp[-1].strip()


def run_jvm(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap: growing it through the cold start costs seconds
    cmd = [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main", *args]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {JVM_TIMEOUT_S} s; see {log}")
    shutil.copyfile(log, os.path.join(ROOT, ".bench_build", "last-jvm.log"))
    found = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not found:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"harness failed (exit {proc.returncode}):\n{tail}")
    return json.loads(found[-1][len("PERFBENCH_RESULT "):])


def check_faces(raw):
    """Compares each face's output with its golden digest (rows-only faces
    by row count). Returns the list of failures."""
    with open(GOLDENS) as f:
        goldens = json.load(f)
    failures = []
    for name, want in sorted(goldens.items()):
        path = os.path.join(raw["faces_dir"], name)
        if not os.path.isdir(path):
            continue  # the face itself failed and is counted already
        try:
            cols, rows, md5 = benchlib.digest(benchlib.read_parquet_dir(path))
        except Exception as e:  # a digest that cannot be taken is a failure
            failures.append(f"face {name}: digest error {e}")
            continue
        if rows != want["rows"] or ("md5" in want and md5 != want["md5"]):
            failures.append(f"face {name}: rows {rows} md5 {md5}, want {want}")
    return failures


def metric(value, unit):
    return {"value": value, "unit": unit}


def figures(raw):
    """The named figures of a run: scalars plus median and tail of
    each sample set."""
    out = {k: metric(v["value"], v["unit"]) for k, v in raw["named"].items()}
    levels = {}
    for name, s in raw["samples"].items():
        if not s["values"]:
            continue
        summ = benchlib.summarize(s["values"])
        u = s["unit"]
        out[f"{name}_p50_{u}"] = metric(summ["p50"], u)
        if name == "serve":
            p99 = benchlib.percentile(s["values"], 0.99)
            out[f"{name}_p99_{u}"] = metric(p99, u)
            levels[f"{name}_p99_{u}"] = (0.99, summ["n"])
        else:
            out[f"{name}_tail_{u}"] = metric(summ["tail"], u)
            levels[f"{name}_tail_{u}"] = (summ["tail_level"], summ["n"])
        levels[f"{name}_p50_{u}"] = (0.5, summ["n"])
    return out, levels


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    n = cores()
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        raw = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                           work, ROOT, str(n)], work)
        failures = list(raw["failures"])
        failed = raw["failed"]
        if raw["faces_dir"]:
            bad = check_faces(raw)
            failures += bad
            failed += len(bad)
        trace = os.path.join(work, "trace.jsonl")
        if os.path.isfile(trace):
            keep = os.path.join(ROOT, ".bench_build", "traces", f"{a.workload}-{a.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(trace, keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted = raw["attempted"]

    op = benchlib.summarize(raw["op_ms"])
    setup = benchlib.summarize(raw["setup_s"])
    e2e = {
        "setup_s": metric(setup["p50"], "s"),
        "op_p50_ms": metric(op["p50"], "ms"),
        "op_tail_ms": metric(op["tail"], "ms"),
        "throughput_per_s": metric(raw["throughput_per_s"], "1/s"),
    }
    named, levels = figures(raw)
    named["failed_share"] = metric(failed / attempted, "ratio")

    print(f"perfbench {a.workload}: seed {a.seed}, {a.seconds:g} s, trace {a.trace}, "
          f"{n} cores, {time.time() - t0:.1f} s wall")
    print(f"  set-up: median of {setup['n']}; op: {op['n']} samples, "
          f"tail = {benchlib.level_name(op['tail_level'])}")
    for k, v in e2e.items():
        print(f"  {k:38s} {v['value']:14.6g} {v['unit']}")
    for k, v in named.items():
        lv = levels.get(k)
        note = f"  ({benchlib.level_name(lv[0])}, n={lv[1]})" if lv else ""
        print(f"  {k:38s} {v['value']:14.6g} {v['unit']}{note}")
    if a.trace:
        layers = {k: metric(v["value"], v["unit"]) for k, v in raw["layers"].items()}
        layers.update(named)
        for k, v in layers.items():
            print(f"  layer {k:32s} {v['value']:14.6g} {v['unit']}")
    for f in failures[:20]:
        print(f"  FAILED: {f}")

    if a.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        try:
            metrics = benchlib.layer_metrics(units, layers, expected_layers(a.workload))
        except KeyError as e:
            fail(f"traced {a.workload} run did not produce {e.args[0]}")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
