#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

Usage:
  python3 perfbench/run.py --workload analytics|curation|maintenance \
      --seed N --seconds S --trace 0|1

Builds the engine and harness if their sources changed (perfbench/build.py),
generates the input tables once (perfbench/gen_data.py), then runs the
workload in one JVM on a local[nproc] session. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before it is the run summary (host probes, drift, sample counts).
The full run record and the span log stay in .bench_build/work/<workload>/.
"""
import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
WORKLOADS = ("analytics", "curation", "maintenance")
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
FAMILIES = ("exact", "minhash", "winnow")
QUALITY = ("ml_accuracy", "ivf_recall_at_10", "pq_recall_at_10", "ivfpq_recall_at_10")
KERNELS = ("dot", "md5_hash60", "minhash_band_keys", "minhash_signature", "nfc_normalize",
           "shingle_hashes", "simhash_packed", "winnow_mins")


def pct(xs, q, steps=2000):
    """q-quantile by the Harrell-Davis estimator: a Beta((n+1)q,
    (n+1)(1-q))-weighted mean of all order statistics. With one sample
    per op type, a plain sample percentile jumps across the gaps between
    op types; this estimator moves smoothly with every sample."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = q * (n + 1), (1 - q) * (n + 1)
    logc = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    h = 1.0 / (n * steps)
    w = [0.0] * n
    for k in range(n * steps):  # midpoint rule over the Beta density
        t = (k + 0.5) * h
        w[k // steps] += math.exp(logc + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def med(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def ensure_data():
    """Generate the input tables if the generator changed; return the
    data directory and a digest of its bytes."""
    data = os.path.join(BUILD, "data")
    gen = os.path.join(HERE, "gen_data.py")
    digest = build.stamp([gen])
    stamp_file = data + ".stamp"
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == digest):
        shutil.rmtree(data, ignore_errors=True)
        subprocess.run([sys.executable, gen, data], check=True, timeout=300)
        with open(stamp_file, "w") as fh:
            fh.write(digest)
    return data, build.stamp(sorted(glob.glob(os.path.join(data, "*.parquet"))))


def run_jvm(classpath, workload, seed, seconds, trace, data, extra=()):
    """Run the harness JVM in a fresh work directory; return its record."""
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    report = os.path.join(work, "record.json")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens +
           # fixed heap, throughput GC and two JIT threads: with the JVM
           # defaults (G1, a growing heap, three JIT threads beside four
           # task threads) pass walls spread about twice as wide
           ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:CICompilerCount=2",
            "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-cp", classpath, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", work, "--report", report]
           + list(extra))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        try:
            r = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {workload} JVM exceeded {JVM_TIMEOUT_S}s (log: {log})")
    if r.returncode != 0 or not os.path.exists(report):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        raise SystemExit(f"perfbench: {workload} JVM failed with code {r.returncode}")
    with open(report) as fh:
        rec = json.load(fh)
    rec["work"] = work
    return rec


def check_outputs(rec, data, digest, verified_file):
    """Oracle-check every op output not verified before in this checkout;
    mark all samples of a failing op."""
    verdicts = {}
    todo = {n: c for n, c in rec["checked_outputs"].items() if c["dir"]}
    for name, c in rec["checked_outputs"].items():
        if not c["dir"]:
            verdicts[name] = (True, "ok (verified output)")
    if todo:
        import oracle
        orc = oracle.Oracle(data, os.path.join(BUILD, "oracle"), digest)
        with open(verified_file, "a") as fh:
            for name, c in sorted(todo.items()):
                verdicts[name] = orc.check(c["dir"], c["sql"])
                if verdicts[name][0]:
                    fh.write(c["key"] + "\n")
    for s in rec["samples"]:
        if s["op"] in verdicts and not verdicts[s["op"]][0]:
            s["ok"] = False
    return {k: v[1] for k, v in verdicts.items()}


def check_quality(rec):
    """Pinned quality figures (recall, classifier accuracy) must repeat."""
    with open(os.path.join(HERE, "expected.json")) as fh:
        pinned = json.load(fh)
    got = rec["finish"].get("quality", {})
    return {k: (v, pinned.get(k)) for k, v in got.items()
            if pinned.get(k) is None or v is None or abs(v - pinned[k]) > 1e-9}


def e2e_metrics(rec, samples):
    walls = [s["wall_ms"] for s in samples]
    ok = sum(1 for s in samples if s["ok"])
    return {
        "setup_s": (rec["setup_s"], "s"),
        "throughput_ops_s": (ok / (sum(walls) / 1e3), "1/s"),
        "latency_p50_ms": (pct(walls, 0.5), "ms"),
        "latency_p90_ms": (pct(walls, 0.9), "ms"),
        "heap_peak_mb": (rec["heap_peak_mb"], "MB"),
        "ok_frac": (ok / len(samples), "fraction"),
    }


def layer_metrics(rec, samples):
    """Per-layer metrics of a traced run. Exec, plan and JVM figures come
    from the workload's own traced samples; maintenance figures from the
    maintenance samples (the workload's own, or its layer probe's)."""
    own = [s for s in samples if s["traced"] and not s["probe"]]
    if rec["workload"] == "maintenance":
        maint, mfin = own, rec["finish"]
    else:
        maint, mfin = [s for s in samples if s["probe"]], rec["finish"].get("maintenance", {})
    ids = {s["id"] for s in own + maint}
    spans = {}
    with open(os.path.join(rec["work"], "spans.jsonl")) as fh:
        for line in fh:
            sp = json.loads(line)
            if sp["op"] in ids:
                spans.setdefault(sp["name"], []).append((sp["end_ns"] - sp["start_ns"]) / 1e6)
    own_ids = {s["id"] for s in own}
    per = [p for p in rec["layers"]["samples"] if p["id"] in own_ids]
    m = {"tables.validate_ms": (rec["setup_phases"]["validate_s"] * 1e3, "ms"),
         "jobs.build_ms": (med(spans.get("jobs.build", [])), "ms")}
    for k, unit in [("plan.analyze_ms", "ms"), ("plan.optimize_ms", "ms"),
                    ("plan.physical_ms", "ms"), ("plan.actions", "count"),
                    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
                    ("exec.tasks_failed", "count"), ("exec.task_cpu_ms", "ms"),
                    ("exec.task_run_ms", "ms"), ("exec.task_gc_ms", "ms"),
                    ("exec.core_util", "fraction"), ("exec.driver_gap_ms", "ms"),
                    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
                    ("exec.spill_bytes", "bytes"), ("exec.input_bytes", "bytes")]:
        m[k] = (med(p[k] for p in per), unit)
    kernels = rec["finish"].get("kernels", {})
    for k in KERNELS:
        m[f"kernel.{k}.rows_per_s"] = (kernels.get(k, 0.0), "rows/s")
    for f in FAMILIES:
        for a in ("screen", "append", "compact"):
            m[f"dedup.{f}.{a}_ms"] = (med(spans.get(f"dedup.{f}.{a}", [])), "ms")
    trig = mfin.get("trigger_ms", [])
    m["ingest.trigger_ms"] = (med(trig), "ms")
    steady = trig[1:] if len(trig) > 1 else trig
    m["ingest.flatness"] = (max(steady) / min(steady) if steady else 0.0, "ratio")
    m["postings.lifecycle_ms"] = (
        med(s["wall_ms"] for s in maint if s["op"].startswith("q")), "ms")
    maint_passes = max(1, len({s["pass"] for s in maint}))
    for k in ("bytes_written", "bytes_read", "write_ops", "read_ops"):
        unit = "bytes" if k.startswith("bytes") else "count"
        m[f"store.{k}"] = (sum(s["store"][k] for s in maint) / maint_passes, unit)
    m["store.files_live"] = (mfin.get("files_live", 0), "count")
    m["store.files_retired"] = (mfin.get("files_retired", 0), "count")
    own_passes = max(1, len({s["pass"] for s in own}))
    for k, name, unit in [("gc_ms", "jvm.gc_ms", "ms"), ("jit_ms", "jvm.jit_ms", "ms"),
                          ("code_cache_mb", "jvm.code_cache_mb", "MB"),
                          ("codegen_compiles", "codegen.compiles", "count"),
                          ("codegen_compile_ms", "codegen.compile_ms", "ms")]:
        m[name] = (sum(s["jvm"][k] for s in own) / own_passes, unit)
    m["ml.fit_ms"] = (med(spans.get("ml.fit", [])), "ms")
    m["ml.eval_ms"] = (med(spans.get("ml.eval", [])), "ms")
    writes = [s["wall_ms"] for s in maint if s["kind"] == "write"]
    m["read_latency_p50_ms"] = (pct([s["wall_ms"] for s in maint if s["kind"] == "read"], 0.5), "ms")
    m["write_latency_p50_ms"] = (pct(writes, 0.5), "ms")
    m["write_latency_p90_ms"] = (pct(writes, 0.9), "ms")
    m["write_amp"] = (write_amp(maint), "ratio")
    m["space_amp"] = (mfin.get("space_amp", 0.0), "ratio")
    q = rec["finish"].get("quality", {})
    for k in QUALITY:
        m[k] = (q.get(k) or 0.0, "fraction")
    m["failed_frac"] = (sum(1 for s in samples if not s["ok"]) / len(samples), "fraction")
    untraced = [p["wall_s"] for p in rec["timed_passes"] if not p["traced"]]
    tr = [p["wall_s"] for p in rec["timed_passes"] if p["traced"]]
    m["trace.overhead"] = (med(tr) / med(untraced) if untraced and tr else 0.0, "ratio")
    m["trace.span_gap_ms"] = (rec["layers"]["span_check_max_abs_ms"], "ms")
    return m


def write_amp(samples):
    """Artifact-store bytes written per user byte ingested, over the
    dedup-family append, redelivery and compaction ops."""
    ops = [s for s in samples if s["op"].split(".")[0] in FAMILIES and s["kind"] == "write"]
    user = sum(s["user_bytes"] for s in ops)
    return sum(s["store"]["bytes_written"] for s in ops) / user if user else 0.0


def summary(rec, samples, verdicts, quality_bad):
    """The run summary line; `samples` excludes layer-probe samples."""
    walls = [p["wall_s"] for p in rec["timed_passes"] if not p["traced"]]
    warm = rec["warmup_pass_s"]
    return {
        "workload": rec["workload"], "seed": rec["seed"], "nproc": rec["nproc"],
        "samples": len(samples), "passes": len(rec["timed_passes"]),
        "warmup_pass_s": warm,
        "timed_pass_s": [p["wall_s"] for p in rec["timed_passes"]],
        "drift_first_over_last": walls[0] / walls[-1] if walls else None,
        "warm_over_first_timed": warm[-1] / walls[0] if warm and walls else None,
        "probes": rec["probes"], "setup_phases": rec["setup_phases"],
        "oracle": verdicts, "quality": rec["finish"].get("quality", {}),
        "quality_mismatch": quality_bad,
        "checks": {k: v for k, v in rec["finish"].items() if k != "quality"},
        "op_p50_ms": {op: pct([s["wall_ms"] for s in samples if s["op"] == op], 0.5)
                      for op in sorted({s["op"] for s in samples})},
        "errors": sorted({f'{s["op"]}: {s["error"]}' for s in samples if s["error"]}),
    }


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plan-only", action="store_true",
                    help="print the seeded op order and batch split, run nothing")
    ap.add_argument("--inject-throw", help="op name that throws (self-test)")
    ap.add_argument("--corrupt-fingerprint", help="op whose expected output is corrupted")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.stderr.write("perfbench: engine sources (src/main) not found next to perfbench/\n")
        return 2
    classpath = build.ensure()
    data, digest = ensure_data()
    verified_file = os.path.join(BUILD, "oracle", f"verified-{digest}.txt")
    os.makedirs(os.path.dirname(verified_file), exist_ok=True)
    extra = ["--verified", verified_file]
    if a.plan_only:
        extra.append("--plan-only")
    if a.inject_throw:
        extra += ["--inject-throw", a.inject_throw]
    if a.corrupt_fingerprint:
        extra += ["--corrupt-fingerprint", a.corrupt_fingerprint]
    rec = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace, data, extra)
    if a.plan_only:
        print(json.dumps(rec))
        return 0
    verdicts = check_outputs(rec, data, digest, verified_file)
    quality_bad = check_quality(rec)
    if quality_bad:  # a moved recall or accuracy fails every sample's run
        for s in rec["samples"]:
            s["ok"] = False
    failed = sum(1 for s in rec["samples"] if not s["ok"])
    timed = [s for s in rec["samples"] if not s["probe"]]
    metrics = layer_metrics(rec, rec["samples"]) if a.trace else e2e_metrics(rec, timed)
    print(json.dumps(summary(rec, timed, verdicts, quality_bad)))
    print(json.dumps({
        "correct": failed == 0 and not quality_bad,
        "attempted": len(rec["samples"]), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
