#!/usr/bin/env python3
"""graft benchmark runner: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles graft (src/main/scala) and the
benchmark's own Scala sources with the Scala compiler shipped in the Spark
jars directory, generates (or reuses) the seeded corpus, runs the workload in
a plain `java` process, checks the outputs against DuckDB, prints every
metric with its unit, and ends with one JSON line. Exit code 0 only if every
check passed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# every workload the runner knows -> the corpus part it reads (see gen.py);
# BENCHMARK.json lists the ones a full check runs (README: slice_bulk is extra)
WORKLOADS = {"slice_fixture": "star", "slice_bulk": "star", "curate_corpus": "docs",
             "stream_ingest": "stream"}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DEADLINE_S = 175  # a run must end within 180 s (900 s when it builds)


class Failure(Exception):
    pass


def tail(xs):
    """(p50, tail, tail percentile, n): the tail is the highest percentile
    of the ladder with at least ten samples beyond it; with fewer than
    twenty samples no percentile qualifies and the median stands in."""
    s = sorted(xs)
    n = len(s)

    def rank(p):  # nearest rank, 1-based
        return max(1, math.ceil(p * n / 100 - 1e-9))

    def pct(p):
        return s[min(n, rank(p)) - 1] if s else 0.0

    p = next((q for q in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0) if n - rank(q) >= 10), 50.0)
    return pct(50.0), pct(p), p, n


def lower_median(xs):
    """Nearest-rank median: a sample, never an average of two."""
    s = sorted(xs)
    return s[(len(s) - 1) // 2]


def metric_spec(root):
    """(end-to-end, per-layer) metric units, in BENCHMARK.json order."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def spark_jars():
    d = os.environ.get("SPARK_JARS_DIR") or os.path.join(
        os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(d) or not any(f.startswith("scala-compiler") for f in os.listdir(d)):
        raise Failure(f"no Spark jars with a Scala compiler at {d}")
    return d


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    bench = os.path.join(HERE, "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise Failure(f"no graft sources at {main}: run from the repository root")
    found = []
    for d in (main, bench):
        for dp, _, fs in os.walk(d):
            found += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(found)


def build(root, build_dir, jars):
    """Compile graft + the benchmark once per source tree; returns the
    classpath. Cached under the build directory by a hash of the sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".ok")):
        shutil.rmtree(out, ignore_errors=True)
        bench = [p for p in srcs if p.startswith(os.path.join(HERE, ""))]
        graft = [p for p in srcs if p not in bench]
        for stage, files, cp in [("graft", graft, f"{jars}/*"),
                                 ("bench", bench, f"{out}/graft:{jars}/*")]:
            os.makedirs(f"{out}/{stage}")
            argfile = f"{out}/{stage}.args"
            with open(argfile, "w") as f:
                f.write("\n".join(files))
            t0 = time.time()
            p = subprocess.run(
                ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                 "scala.tools.nsc.Main",
                 "-nowarn", "-d", f"{out}/{stage}", "-classpath", cp, f"@{argfile}"],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if p.returncode != 0:
                raise Failure(f"compiling {stage} failed:\n{p.stdout[-4000:]}")
            print(f"[perfbench] compiled {stage} ({len(files)} files) in {time.time() - t0:.1f} s",
                  file=sys.stderr)
        open(os.path.join(out, ".ok"), "w").close()
    return f"{out}/graft:{out}/bench:{jars}/*"


def sizing():
    """local[N] from the usable cores; the heap from MemTotal (1/6, 1-4 GB)."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        pass
    heap_mb = max(1024, min(4096, mem_kb // 1024 // 6))
    return max(1, cores), heap_mb


def run_jvm(cp, args, work, heap_mb, cores, budget_s):
    # -UsePerfData: no hsperfdata files outside the checkout
    cmd = ["java", f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-XX:ActiveProcessorCount={cores}",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + args
    log = open(os.path.join(work, "jvm.log"), "w")
    launched = time.time()
    # SPARK_LOCAL_DIRS would override spark.local.dir with a path outside
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                            env=env, start_new_session=True)
    try:
        rc = proc.wait(timeout=budget_s)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        raise Failure(f"benchmark JVM exited with {rc}")
    return launched


def metrics_of(res, launched):
    p50, tl, pct, n = tail(res["latencies"])
    out_mb = lower_median(res["op_bytes"]) / 1e6 if res["op_bytes"] else 0.0
    jvm_s = res["jvm_entered_ms"] / 1e3 - launched
    return {
        "setup_s": jvm_s + res["session_s"] + res["warm_s"],
        "items_per_s": res["items"] / res["item_seconds"] if res["item_seconds"] > 0 else 0.0,
        "latency_p50_s": p50,
        "latency_tail_s": tl,
        "peak_rss_mb": res["peak_rss_mb"],
        "output_mb": out_mb,
    }, {"tail_percentile": pct, "latency_n": n, "jvm_start_s": jvm_s,
        "session_s": res["session_s"], "warm_s": res["warm_s"]}


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    e2e_units, layer_units = metric_spec(root)
    jars = spark_jars()
    cp = build(root, build_dir, jars)
    t_built = time.time()

    import checks
    import gen
    t0 = time.time()
    part = WORKLOADS[a.workload]
    corpus = gen.ensure(a.seed, build_dir, [part])
    with open(os.path.join(corpus, "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(corpus, f"part-{part}.json")) as f:
        tables = json.load(f)["tables"]  # the tables this workload reads
    t_gen = time.time()
    cores, heap_mb = sizing()
    os.makedirs(os.path.join(build_dir, "tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(build_dir, "tmp"))
    try:
        for d in ("tmp", "derby", "local", "warehouse"):
            os.makedirs(os.path.join(work, d))
        result_path = os.path.join(work, "result.json")
        budget = DEADLINE_S - (time.time() - t_built) - 15
        launched = run_jvm(cp, [a.workload, corpus, work, str(a.seconds), str(a.trace),
                                str(cores), result_path], work, heap_mb, cores, budget)
        with open(result_path) as f:
            res = json.load(f)
        t_jvm = time.time()
        failures = list(res["failures"]) + checks.run(a.workload, res, corpus, build_dir,
                                                      a.seed, meta)
        print(f"[perfbench] corpus {t_gen - t0:.1f} s, jvm {t_jvm - t_gen:.1f} s, "
              f"checks {time.time() - t_jvm:.1f} s", file=sys.stderr)
        e2e, detail = metrics_of(res, launched)
        layers = {}
        if a.trace:
            layers = {k: 0.0 for k in layer_units}
            layers.update(res["layers"])
            batches = res["obs"].get("batch_s") or []
            if batches:
                bp50, btail, _, _ = tail(batches)
                layers["streaming.batch_p50_s"], layers["streaming.batch_tail_s"] = bp50, btail
            unknown = set(layers) - set(layer_units)
            if unknown:
                raise Failure(f"unlisted per-layer metrics: {sorted(unknown)}")
        artifact = write_artifact(build_dir, a, res, e2e, detail, layers, tables, failures,
                                  cores, heap_mb)
    finally:
        logs = os.path.join(build_dir, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        shutil.rmtree(work, ignore_errors=True)

    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, len(failures))
    for msg in failures[:20]:
        print(f"[perfbench] FAILED {msg}", file=sys.stderr)
    print(f"[perfbench] workload={a.workload} seed={a.seed} cores={cores} heap={heap_mb}m "
          f"attempted={attempted} failed={failed} failed_ratio={failed / attempted:.4f} "
          f"tail=p{detail['tail_percentile']:g} n={detail['latency_n']} artifact={artifact}")
    shown, units = (layers, layer_units) if a.trace else (e2e, e2e_units)
    missing = set(units) - set(shown)
    if missing:
        raise Failure(f"metrics not measured: {sorted(missing)}")
    for k in units:
        print(f"{k} {shown[k]:.6g} {units[k]}")
    print(summary_line(attempted, failed, shown, units))
    return 0 if failed == 0 else 1


def summary_line(attempted, failed, values, units):
    """The last stdout line: one JSON object with exactly these keys."""
    return json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}})


def write_artifact(build_dir, a, res, e2e, detail, layers, tables, failures, cores, heap_mb):
    """spans.jsonl + summary.json (metrics, the per-layer and self-time
    tables, corpus sizes and the workload's working set)."""
    d = os.path.join(build_dir, "artifacts", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    if a.trace:
        with open(os.path.join(d, "spans.jsonl"), "w") as f:
            for sid, name, parent, req, s, e in res.get("spans", []):
                f.write(json.dumps({"id": sid, "name": name, "parent": parent, "req": req,
                                    "start_ns": s, "end_ns": e}) + "\n")
    summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "cores": cores, "heap_mb": heap_mb, "e2e": e2e, "detail": detail,
               "layers": layers, "self_time": res.get("span_table", []),
               "failures": failures, "corpus": tables,
               "working_set": {"input_mb": sum(t["bytes"] for t in tables.values()) / 1e6,
                               "block_store_max_mb": res.get("block_store_max_mb")},
               "latencies": res["latencies"], "batch_s": res["obs"].get("batch_s"),
               "jobs_by_file": res.get("jobs_by_file"), "stages": res["obs"].get("stages")}
    with open(os.path.join(d, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    return d


if __name__ == "__main__":
    def _term(signum, frame):
        raise SystemExit(143)
    signal.signal(signal.SIGTERM, _term)
    try:
        sys.exit(main(sys.argv[1:]))
    except Failure as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
