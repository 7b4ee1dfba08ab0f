#!/usr/bin/env python3
"""graft's benchmark: one closed-loop workload per run, end to end or traced.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload bro_scan --seed 1 --seconds 10 --trace 0

It builds the checkout (sbt, through ``perfbench/build.sbt``) unless the
build under ``.bench_build`` already matches the sources, writes the
seed's inputs and their DuckDB reference answers, and runs the workload
in one JVM with Spark ``local[N]``, N = min(4, available cores). The last
line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

holding the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``
and its per-layer metrics with ``--trace 1``. ``--selftest`` runs the
negative control instead: scans of ``.bro`` and ``.brf`` copies with one
flipped byte must be counted as failed. See ``perfbench/README.md``.
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
sys.path.insert(0, HERE)

WORKLOADS = ("bro_scan", "llm_pipeline", "table_commit")
# The per-layer metrics a workload drives: every traced run probes the
# codec layers and the JVM; each workload adds the layer it exercises
# and the stored formats it writes. A driven metric that a traced run
# does not produce makes the run incorrect; the others read 0.
PROBED = ("brotli.", "codec.", "jvm.", "trace.", "probe.")
LAYERS = {"bro_scan": ("spark_io.",), "llm_pipeline": ("ops.", "functions."),
          "table_commit": ("sources.",)}
STORED = {"bro_scan": ("bro", "brf"), "llm_pipeline": ("parquet",),
          "table_commit": ("parquet",)}
RUN_LIMIT_S = 170
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
            "perfbench/project", "perfbench/src", "perfbench/inputs.py"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path)
            if "target" not in os.path.relpath(d, root).split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile graft and the harness, export the classpath, dump the
    registry's reference SQL and write the base tables. Cached by stamp."""
    import inputs
    stamp = source_stamp(root)
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("building graft and the benchmark harness (sbt)")
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
           "export perfbench/Runtime/fullClasspath"]
    with open(os.path.join(out, "build.log"), "w") as logf:
        p = subprocess.run(cmd, cwd=os.path.join(root, "perfbench"),
                           stdout=subprocess.PIPE, stderr=logf, text=True)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    # `export` prints the classpath as the last line, without a log prefix
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed (exit {p.returncode}); see {out}/build.log", 3)
    classpath = lines[-1].strip()
    with open(os.path.join(out, "classpath"), "w") as f:
        f.write(classpath)
    oracle = os.path.join(out, "oracle.json")
    subprocess.run(java_cmd(classpath, out) + ["--dump-oracle", oracle],
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    inputs.make_base(os.path.join(out, "base"))
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(classpath, tmp):
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap keeps GC sizing from varying run to run; peak_live_mb
    # reads what is live after forced full collections, not how much of
    # the heap the collector touched
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + opens +
            ["-cp", classpath, "graftbench.Main"])


def cores():
    """Spark's local[N]: the cores this process may use, at most 4."""
    return min(4, len(os.sched_getaffinity(0)))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the negative control (bro_scan inputs) instead")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("no graft sources under src/main/scala/graft: run from a graft checkout")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    out = os.path.join(root, ".bench_build")
    build(root, out)

    import inputs
    setup_start_ms = int(time.time() * 1000)
    mode = "selftest" if a.selftest else "run"
    workload = "bro_scan" if a.selftest else a.workload
    run_dir = os.path.join(out, "runs", f"{workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    logs = os.path.join(out, "logs")
    os.makedirs(logs, exist_ok=True)
    tag = f"{workload}-seed{a.seed}-trace{a.trace}" + ("-selftest" if a.selftest else "")
    result_path = os.path.join(run_dir, "result.json")
    params_path = os.path.join(run_dir, "params.json")
    cmd = java_cmd(open(os.path.join(out, "classpath")).read(),
                   os.path.join(run_dir, "tmp")) + [
        "--mode", mode, "--workload", workload, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir, "--params", params_path,
        "--cores", str(cores()), "--out", result_path,
        "--setup-start-ms", str(setup_start_ms),
        "--trace-out", os.path.join(logs, f"{tag}.spans.jsonl")]
    # the JVM starts its SparkSession while the inputs are written; it
    # waits for params.json, which appears (atomically) once they are
    logf = open(os.path.join(logs, f"{tag}.log"), "w")
    proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
    try:
        oracle = json.load(open(os.path.join(out, "oracle.json")))
        params = inputs.prepare(workload, a.seed, os.path.join(out, "base"), run_dir,
                                oracle if workload == "llm_pipeline" else {}, root)
        inputs.write_params(params, params_path + ".tmp")
        os.replace(params_path + ".tmp", params_path)
        try:
            rc = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - setup_start_ms / 1e3)))
        except subprocess.TimeoutExpired:
            die(f"run exceeded {RUN_LIMIT_S} s; see {logs}/{tag}.log", 4)
        if rc != 0 or not os.path.exists(result_path):
            die(f"benchmark JVM exited {rc}; see {logs}/{tag}.log", 5)
        res = json.load(open(result_path))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        logf.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in res["errors"]:
        log(f"error: {e}")
    if a.selftest:
        ok = res["clean_failed"] == 0 and res["detected"] == 2
        print(f"negative control: clean scan failed={res['clean_failed']}, "
              f"corrupted scans detected={res['detected']}/2")
        print(json.dumps({"selftest_passed": ok}))
        sys.exit(0 if ok else 1)
    report(spec, a, res)


def driven(workload, metric):
    """Whether a traced run of ``workload`` must produce ``metric``."""
    if metric.startswith("codec.stored_per_input."):
        return metric.rsplit(".", 1)[1] in STORED[workload]
    return metric.startswith(PROBED + LAYERS[workload])


def report(spec, a, res):
    got = res["metrics"]
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            if a.trace and not driven(a.workload, m["name"]):
                v = 0.0
            else:
                missing.append(m["name"])
                continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    attempted, failed = res["attempted"], res["failed"]
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}")
    for name, m in metrics.items():
        shown = m["value"] if got.get(name) is not None else "n/a (0)"
        print(f"  {name:40s} {shown!s:>22} {m['unit']}")
    print(f"  {'error_rate':40s} {failed / max(1, attempted):>22.6f} ratio "
          f"({failed} of {attempted} operations)")
    if a.trace:
        print(f"  tracing overhead: traced op p50 {res['traced_op_p50_s']:.4f} s vs "
              f"untraced {res['untraced_op_p50_s']:.4f} s")
    else:
        print(f"  op_tail_s is p{res['op_tail_percentile']:.1f} of {res['ops']} timed ops "
              f"({res['op_tail_beyond']} beyond it); peak RSS {res['peak_rss_mb']:.0f} MB; "
              "op seconds: "
              + " ".join(f"{t:.3f}" for t in res["op_seconds"]))
        print("  live MB before each operation and after the last: "
              + " ".join(f"{m:.1f}" for m in res["live_mb"]))
    for name in missing:
        log(f"metric {name} was not produced")
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
