#!/usr/bin/env python3
"""itdbspark benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload library_refresh --seed 1 --seconds 30 --trace 0

Generates the workload's inputs from the seed, builds the library together
with the harness (perfbench/build.sbt, cached in .bench_build/), runs the
set-up and the timed passes in one JVM, checks every output, and
prints each metric by name with its unit. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics when --trace 0 and the per-layer metrics when --trace 1.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_library  # noqa: E402
import gen_tables  # noqa: E402

# Inputs per workload. The library is far below the ~22.5k tracks of the
# reference author's library: at that size one cold pass with 12 exported
# playlists took 190 s on a 4-core box (every export re-parses the whole
# XML), over the per-run limit.
LIBRARY = dict(n_tracks=1500, n_playlists=60, n_pages=1)
TABLES_SF = 0.01
# curation_batch: a systematic sample of the read-only d, s, t and m gates
# (README.md, "Gate sample"; measurements in gate_probe.tsv): in each family,
# the gates sorted by their time alone on a fresh replica at this scale,
# every 10th from the 6th, or the median gate of a family of fewer than 6
CURATION_GATES = [
    "d5_simhash", "d56b_tenant_recall_census_sampled", "d14_span_scrub",
    "s7_ann_quantized", "s6_ann_kmeans",
    "t19_token_packing", "t23b_sequence_manifest", "t15_heavy_hitters",
    "m2_media_stats",
]
# index_maintenance: the corpus write+retract and write+diff gates, and the
# report slice: one query per plans aggregate (HLL, percentile sketch,
# top-k) and one scalar roundtrip. Its index build, streamed ingest, label
# save and takedown stream are not SparkEntry operations.
INDEX_GATES = [
    "e2_corpus_retract", "e3_corpus_diff",
    "a2c_sketch_rollup", "a16c_percentile_sketch_rollup", "w9_topk_agg",
    "x1_stars_roundtrip",
]
HELD_OUT = dict(n_docs=30, n_shards=1, n_takedown=10)
JVM_TIMEOUT_S = 150

# workload and metric names with their units come from BENCHMARK.json
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
END_TO_END = [(m["name"], m["unit"]) for m in SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in SPEC["per_layer"]]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- resources

def machine():
    """Cores and heap sized from the machine: local[N] with N <= nproc, and a
    heap derived from MemTotal the way the test suite's SPARK_DRIVER_MEM is
    (a share of MemTotal, clamped), at a quarter clamped to 2..4 GB since the
    inputs are small. The heap is fixed (-Xms = -Xmx): with a growing heap
    the peak RSS follows the collector's resizing decisions and moved by
    ~60% between identical runs."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_g = min(4, max(2, mem_kb // 4194304))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "cores": min(4, nproc),
            "heap": f"{heap_g}g"}


# -------------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
              os.path.join(ROOT, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile library + harness with sbt once per source state; returns the
    runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{source_hash()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's temporary files inside the checkout
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -XX:-UsePerfData"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"], out, 840, cwd=HERE, env=env)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def run_proc(cmd, out, timeout, **kw):
    """Run a child in its own process group; on timeout kill the whole group
    and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------------------- inputs

def make_inputs(workload, seed):
    # cached per seed and per version of the generators and their settings
    h = hashlib.sha256(repr((LIBRARY, TABLES_SF, CURATION_GATES, INDEX_GATES, HELD_OUT)).encode())
    for mod in (gen_library, gen_tables):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{h.hexdigest()[:12]}")
    if os.path.exists(os.path.join(d, "done")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    if workload == "library_refresh":
        gen_library.generate(d, seed, **LIBRARY)
    else:
        gen_tables.generate(os.path.join(d, "tables"), seed, TABLES_SF)
        gates = CURATION_GATES
        if workload == "index_maintenance":
            gen_tables.held_out(os.path.join(d, "tables"), d, seed, **HELD_OUT)
            gates = INDEX_GATES
        with open(os.path.join(d, "ops.json"), "w") as f:
            json.dump({"gates": gates}, f)
    open(os.path.join(d, "done"), "w").close()
    return d


# ---------------------------------------------------------------------- jvm

def jvm(cp, res, args, out_dir, timeout):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *opens, f"-Xms{res['heap']}", f"-Xmx{res['heap']}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-cp", cp, "perfbench.Main", *args]
    log = os.path.join(out_dir, "jvm.log")
    with open(log, "w") as out:
        rc = run_proc(cmd, out, timeout, cwd=out_dir)
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited {rc}; log {log}:\n{tail}")


# ------------------------------------------------------------------- checks

def check_library(inputs, out_dir, run):
    """Outputs against the generator's own answers. Returns {op: reason}."""
    with open(os.path.join(inputs, "expected.json"), encoding="utf-8") as f:
        exp = json.load(f)
    with open(os.path.join(out_dir, "outputs.json"), encoding="utf-8") as f:
        got = json.load(f)
    bad = {}

    def expect(op, ok, why):
        if not ok:
            bad[op] = why

    expect("load", sorted(map(list, got.get("load", []))) ==
           sorted([[1, p, r, n] for p, r, n in exp["playlist_stats"]]),
           "playlist_stats differs from the recount of tracks x playlist_tracks")
    expect("library_stats", got.get("library_stats") == [exp["library_stats"]],
           f"got {got.get('library_stats')} want {[exp['library_stats']]}")
    for i, name in enumerate(exp["pages"]):
        expect(f"page_{i}", sorted(map(list, got.get(f"page_{i}", []))) == exp["page_hist"][name],
               "star histogram differs")
        m = exp["members"][name]
        m3u = got.get(f"m3u_{i}", "").splitlines()
        expect(f"m3u_{i}", m3u[:1] == ["#EXTM3U"] and
               sum(l.startswith("#ITDBFILE:") for l in m3u) == m["with_location"] and
               sum(not l.startswith("#") for l in m3u) == m["with_location"],
               f"m3u entries differ from {m['with_location']} located members")
        html = got.get(f"html_{i}", "")
        hist = dict(exp["page_hist"][name])
        summary = "".join(f"<th>{'★' * s}{'☆' * (5 - s)}</th><td>{hist.get(s, 0)}</td>"
                          for s in range(6))
        expect(f"html_{i}", html.count("<tr><td>") == m["rows"] and
               f"<th>All Tracks</th><td>{m['rows']}</td>{summary}" in html,
               f"html rows or star summary differ from {m['rows']} members")
        script = got.get(f"script_{i}", "")
        expect(f"script_{i}", script.count("whose persistent ID is") == m["rows"],
               f"script adds differ from {m['rows']} members")
    for k, want in exp["sql_ids"].items():
        ids = sorted(r[0] for r in got.get(f"sql_{k}", []))
        expect(f"sql_{k}", ids == want, f"{len(ids)} ids, want {len(want)}")
    missing = {s["op"] for s in run["samples"] if s["pass"] == 0} - set(got)
    for op in missing:
        bad.setdefault(op, "no pass-0 output")
    return bad


def check_gates(inputs, out_dir, run):
    """SparkEntry outputs against their DuckDB oracles, via the repository's
    own checker, and any other checks the JVM made (checks.json). Returns
    {op: reason}."""
    with open(os.path.join(inputs, "ops.json")) as f:
        gates = set(json.load(f)["gates"])
    results = os.path.join(out_dir, "results")
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracles.py"),
                           os.path.join(inputs, "tables"), results],
                          capture_output=True, text=True, timeout=120)
    bad = {}
    passed = set()
    for line in proc.stdout.splitlines():
        m = re.match(r"\s+FAIL (\S+): (.*)", line)
        if m:
            bad[m.group(1)] = "oracle: " + m.group(2)[:200]
        m = re.match(r"\s+pass (\S+) ", line)
        if m:
            passed.add(m.group(1))
    for g in gates - passed:
        bad.setdefault(g, "oracle check did not pass: " + (proc.stderr.strip()[-200:] or "no result"))
    checks = os.path.join(out_dir, "checks.json")
    if os.path.exists(checks):
        with open(checks) as f:
            bad.update(json.load(f))
    return bad


# ------------------------------------------------------------------ metrics

def p90(xs):
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def end_to_end(run):
    passes = [p for p in run["passes"] if not p["traced"]]
    steady_passes = {p["pass"] for p in passes if p["pass"] > 0}
    steady = [s["ms"] for s in run["samples"] if s["pass"] in steady_passes]
    return {
        "setup_s": run["setup_s"],
        "cold_pass_s": run["passes"][0]["wall_s"],
        "steady_pass_s": statistics.median(p["wall_s"] for p in passes if p["pass"] > 0),
        "op_p50_ms": statistics.median(steady),
        "op_p90_ms": p90(steady),
        "rss_peak_mb": run["rss_peak_mb"],
    }, steady


def self_times(spans_path, steady_traced_ops):
    """Self time per layer (span duration minus the part its children
    cover), summed over the traced steady passes' operations."""
    spans = []
    with open(spans_path) as f:
        for line in f:
            if line.strip():
                spans.append(json.loads(line))
    child = {}
    for s in spans:
        child.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["op_id"] not in steady_traced_ops:
            continue
        dur = s["end_ns"] - s["start_ns"]
        covered = sum(c["end_ns"] - c["start_ns"] for c in child.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + (dur - covered) / 1e6
    return out


def per_layer(run, out_dir, res, workload):
    """Per-layer numbers of a traced run: the median over its traced steady
    passes of each per-pass quantity (cache.new_rdds counts the cold pass).
    Returns the metrics BENCHMARK.json lists, which every workload has, and
    the layer-specific ones, which are printed and kept in the artifact."""
    samples = run["samples"]
    traced = [p for p in run["passes"] if p["traced"] and p["pass"] > 0]
    untraced = [p for p in run["passes"] if not p["traced"] and p["pass"] > 0]

    def med(f):
        return statistics.median(f(p) for p in traced)

    def count(k, scale=1.0):
        return med(lambda p: p["counters"].get(k, 0.0) * scale)

    def op_sum(keep, value=lambda s: s["ms"]):
        return med(lambda p: sum(value(s) for s in samples if s["pass"] == p["pass"] and keep(s)))

    steady = [s for s in samples if s["pass"] in {p["pass"] for p in traced}]
    mb = 1 / 2**20
    m = {
        "op.build_ms": op_sum(lambda s: True, lambda s: s["build_ms"]),
        "op.exec_ms": op_sum(lambda s: True, lambda s: s["ms"] - s["build_ms"]),
        "spark.plan_ms": count("spark.plan_ms"),
        "spark.jobs": count("spark.jobs"),
        "spark.stages": count("spark.stages"),
        "spark.tasks": count("spark.tasks"),
        "spark.task_busy_s": count("spark.task_busy_ms", 1e-3),
        "spark.core_util": med(lambda p: p["counters"].get("spark.task_busy_ms", 0.0) / 1e3
                               / (p["wall_s"] * res["cores"])),
        "spark.shuffle_read_mb": count("spark.shuffle_read_b", mb),
        "spark.shuffle_write_mb": count("spark.shuffle_write_b", mb),
        "spark.gc_s": count("spark.gc_ms", 1e-3),
        "cache.new_rdds": float(sum(s["new_rdds"] for s in samples if s["pass"] == 0)),
        "cache.reuse_ratio": sum(s["new_rdds"] == 0 for s in steady) / len(steady),
        "cache.rdds": count("cache.rdds"),
        "cache.mb": count("cache.bytes", mb),
        "trace.traced_pass_s": med(lambda p: p["wall_s"]),
        "trace.untraced_pass_s": statistics.median(p["wall_s"] for p in untraced),
        "jvm.heap_after_gc_peak_mb": run["heap_after_gc_peak_mb"],
    }
    extra = {
        "spark.spill_mb": (count("spark.spill_b", mb), "MB"),
        "spark.queries": (count("spark.queries"), "count"),
        "warehouse.tables": (count("warehouse.tables"), "count"),
        "trace.overhead_s": (m["trace.traced_pass_s"] - m["trace.untraced_pass_s"], "s"),
    }
    if workload == "library_refresh":
        extra.update({
            "sources.parse_ms": (op_sum(lambda s: s["op"] == "load"), "ms"),
            "sources.rows": (count("spark.input_records"), "count"),
            "sources.xml_read_amp": (med(lambda p: p["counters"]["fs.bytes_read"]
                                         / p["counters"]["sources.xml_bytes"]), "ratio"),
            "itdb.stats_ms": (op_sum(lambda s: s["op"] == "library_stats"), "ms"),
            "itdb.page_ms": (op_sum(lambda s: s["op"].startswith("page_")), "ms"),
            "sqlsurface.query_ms": (op_sum(lambda s: s["layer"] == "sqlsurface"), "ms"),
            "emit.page_ms": (op_sum(lambda s: s["layer"] == "emit"), "ms"),
            "emit.bytes_written": (count("emit.bytes_written"), "bytes"),
        })
    else:
        mods = (("dedup", "similarity", "textanalysis", "multimodal") if workload == "curation_batch"
                else ("dedup", "takedown", "library", "scalars"))
        for mod in mods:
            extra[f"{mod}.op_ms"] = (op_sum(lambda s, mod=mod: s["layer"] == mod), "ms")
        extra["tables.read_ms"] = (run["tables_read_ms"], "ms")
    if workload == "index_maintenance":
        corpus_mb = count("emit.corpus_bytes", mb)
        written_mb = count("fs.bytes_written", mb) - corpus_mb
        extra.update({
            "emit.corpus_ms": (op_sum(lambda s: s["layer"] == "emit"), "ms"),
            "emit.corpus_mb_written": (corpus_mb, "MB"),
            "streaming.batches": (count("streaming.batches"), "count"),
            "streaming.batch_ms_p50": (count("streaming.batch_ms_p50"), "ms"),
            "streaming.addbatch_ms": (count("streaming.addbatch_ms"), "ms"),
            "streaming.plan_ms": (count("streaming.plan_ms"), "ms"),
            "streaming.commit_ms": (count("streaming.commit_ms"), "ms"),
            "streaming.rows_per_s": (med(lambda p: p["counters"]["streaming.rows"]
                                         / (p["counters"]["streaming.trigger_ms"] / 1e3)), "1/s"),
            "streaming.op_ms": (op_sum(lambda s: s["layer"] == "streaming"), "ms"),
            "warehouse.mb_written": (written_mb, "MB"),
            "warehouse.files_written": (count("warehouse.files"), "count"),
            "warehouse.write_amp": (med(lambda p: (p["counters"]["fs.bytes_written"]
                                                   - p["counters"]["emit.corpus_bytes"])
                                        / p["counters"]["shards.bytes"]), "ratio"),
        })
    # operation ids are the 1-based order of the samples
    traced_ids = {i + 1 for i, s in enumerate(samples) if s in steady}
    for layer, ms in self_times(os.path.join(out_dir, "spans.jsonl"), traced_ids).items():
        extra[f"self_ms.{layer}"] = (ms / len(traced), "ms")
    return m, extra


# --------------------------------------------------------------------- main

def main():
    # a terminated run still kills and waits for its JVM (see run_proc)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "check_oracles.py")):
        if not os.path.exists(need):
            fail(f"not a checkout of the library: {os.path.relpath(need, ROOT)} is missing")
    res = machine()
    cp = build()
    inputs = make_inputs(a.workload, a.seed)
    runs = os.path.join(BUILD, "runs")
    out_dir = os.path.join(runs, f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)

    main_dir = os.path.join(out_dir, "main")
    os.makedirs(main_dir)
    t0 = time.time()
    jvm(cp, res, [a.workload, inputs, main_dir, str(a.seconds), str(a.trace), str(res["cores"])],
        main_dir, JVM_TIMEOUT_S)
    wall = time.time() - t0
    with open(os.path.join(main_dir, "run.json")) as f:
        run = json.load(f)

    t1 = time.time()
    bad = (check_library if a.workload == "library_refresh" else check_gates)(
        inputs, main_dir, run)
    check_s = time.time() - t1
    attempted = len(run["samples"])
    failed_ops = {}
    for s in run["samples"]:
        why = s["error"] or bad.get(s["op"])
        if not s["ok"] or s["op"] in bad:
            failed_ops.setdefault(s["op"], why)
    failed = sum(1 for s in run["samples"] if not s["ok"] or s["op"] in bad)

    e2e, steady = end_to_end(run)
    cfg = dict(run["config"], nproc=res["nproc"], mem_total_mb=res["mem_total_mb"],
               heap=res["heap"], seed=a.seed, seconds=a.seconds, trace=a.trace,
               steady_samples=len(steady),
               passes=len(run["passes"]), jvm_wall_s=round(wall, 2), check_s=round(check_s, 2))
    print(f"workload {a.workload}  seed {a.seed}  config " + json.dumps(cfg, sort_keys=True))
    # end-to-end figures come from untraced runs only: a traced run's cold
    # pass is traced
    if not a.trace:
        for k, unit in END_TO_END:
            print(f"  {k:<24} {e2e[k]:.4f} {unit}")
        print(f"  op_p90_ms is over {len(steady)} steady samples "
              f"({sum(ms > e2e['op_p90_ms'] for ms in steady)} above it)")
    print(f"  {'op_fail_frac':<24} {failed / attempted:.4f} ratio ({failed}/{attempted})")
    for op, why in sorted(failed_ops.items()):
        print(f"  FAILED {op}: {why}")

    artifact = {"config": cfg, "failed_ops": failed_ops, "op_fail_frac": failed / attempted}
    if not a.trace:
        artifact["end_to_end"] = e2e
    if a.trace:
        m, extra = per_layer(run, main_dir, res, a.workload)
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER}
        for k, u in PER_LAYER:
            print(f"  {k:<26} {m[k]:.4f} {u}")
        for k, (v, u) in sorted(extra.items()):
            print(f"  {k:<26} {v:.4f} {u}")
        print(f"  tracing overhead: traced - untraced steady pass = "
              f"{extra['trace.overhead_s'][0]:.4f} s")
        artifact.update(per_layer=m, per_layer_extra=extra)
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    with open(os.path.join(out_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    # keep the measurements, drop the bulky temporary files the run wrote
    for d in ("replica", "warehouse", "spark-local", "tmp", "exports", "results"):
        shutil.rmtree(os.path.join(main_dir, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
