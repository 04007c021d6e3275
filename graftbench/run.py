"""Benchmark of the spark-graft engine: one workload per run, one JVM per run.

    python3 graftbench/run.py --workload live-ticks|history-batch \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness into .bench_build (see build.py); each run then launches one JVM
directly (no sbt) with fixed cores and heap from config.json, in a fresh
scratch directory that is deleted afterwards. The last line of stdout is
the result: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics of BENCHMARK.json when --trace 0 and its per-layer
metrics when --trace 1. The lines before it name every metric with its
unit and sample count, and record how noisy the host was.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402


def log(msg):
    print("[graftbench] " + msg, file=sys.stderr, flush=True)


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def shm_bytes():
    total = 0
    for base, _, files in os.walk("/dev/shm"):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def tail(samples):
    """The 75th percentile (nearest rank), as (value, percentile, samples
    beyond). A higher one would rest on a handful of samples: `live-ticks`
    times 20 files a run at 20 seconds."""
    v = sorted(samples)
    k = max(1, -(-3 * len(v) // 4))
    return v[k - 1], 100.0 * k / len(v), len(v) - k


def launch(cmd, env, log_path, timeout):
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGTERM)
            try:
                p.wait(timeout=15)
            except subprocess.TimeoutExpired:
                pass
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    # a terminated run still stops its JVM (launch's finally clause)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write this run's history-batch digests as the expected ones")
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in cfg["workloads"]:
        log("unknown workload %s" % a.workload)
        return 2
    w = cfg["workloads"][a.workload]
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        log(str(e))
        return 2

    work = os.path.join(root, ".bench_build")
    run_dir = os.path.join(work, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    out = os.path.join(run_dir, "record.json")
    jargs = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "cpus": cfg["cpus"], "scratch": run_dir, "out": out}
    if a.workload == "live-ticks":
        jargs.update(rate=w["rate_files_per_s"], ticks_per_file=w["ticks_per_file"],
                     warmup_files=w["warmup_files"], max_steal_pct=w["max_steal_pct"])
    else:
        corpus = os.environ.get(w["corpus_env"]) or os.path.expanduser(w["corpus"])
        if not os.path.isfile(os.path.join(corpus, "lineitem.parquet")):
            log("corpus %s not found (set %s)" % (corpus, w["corpus_env"]))
            return 2
        expected = os.path.join(HERE, "expected", "history-batch-%s.tsv" % os.path.basename(corpus.rstrip("/")))
        jargs.update(corpus=corpus, queries=",".join(w["queries"]), expected=expected,
                     timed_passes=max(3, -(-a.seconds // w["nominal_pass_s"])))
    mem = cfg["driver_mem"]
    cmd = (["java"] + sum((["--add-opens", p + "=ALL-UNNAMED"] for p in cfg["add_opens"]), [])
           + ["-Xms" + mem, "-Xmx" + mem] + cfg["java_options"]
           + ["-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-Dgraft.artifact.dir=" + os.path.join(run_dir, "artifacts"),
              "-cp", classpath, "graft.perf.Main"]
           + ["%s=%s" % kv for kv in jargs.items()])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cfg["cpus"]), SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_GRAFT_ARTIFACT_DIR", None)

    cpu0, load0, shm0 = cpu_times(), loadavg(), shm_bytes()
    launched = time.time()
    rc = launch(cmd, env, os.path.join(run_dir, "jvm.log"), cfg["run_timeout_s"])
    wall = time.time() - launched
    cpu1, load1, shm1 = cpu_times(), loadavg(), shm_bytes()
    if rc != 0 or not os.path.isfile(out):
        log("JVM %s after %.1f s; log tail:" % ("timed out" if rc is None else "exited %s" % rc, wall))
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(out) as f:
        rec = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    samples = rec["samples_ms"]
    if not samples:
        log("no operation completed: %s" % rec["failures"][:5])
        return 1
    p50 = rec.get("p50_ms", statistics.median(samples))
    tail_v, tail_p, beyond = tail(samples)
    e2e = {
        "setup_s": rec["first_timed_epoch_ms"] / 1000.0 - launched,
        "p50_ms": p50,
        "tail_ms": tail_v,
        "job_s": rec["job_s"],
        "retained_mb": rec["retained_mb"],
    }
    dt = [y - x for x, y in zip(cpu0, cpu1)]
    total = sum(dt) or 1
    host = {
        "cores": os.cpu_count(), "jvm_cores": rec["cores"], "cpus": cfg["cpus"],
        "heap": mem, "heap_max_mb": rec["heap_max_mb"],
        "iowait_pct": 100.0 * dt[4] / total, "steal_pct": 100.0 * dt[7] / total,
        "loadavg_start": load0, "loadavg_end": load1,
        "shm_bytes_left": shm1 - shm0, "run_wall_s": wall,
    }
    host["probe_ms"] = rec["host_probe_ms"]
    if "generator_late_ms" in rec:
        host["generator_late_ms"] = rec["generator_late_ms"]
        host["timed_windows"] = rec["windows"]

    failed = min(len(rec["failures"]), rec["attempted"])
    for msg in rec["failures"][:20]:
        log("FAILED " + msg)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    n = len(samples)
    print("workload %s seed %d: %d operations attempted, %d failed"
          % (a.workload, a.seed, rec["attempted"], failed))
    print("p50_ms      %.3f ms (median of %d samples: %s)"
          % (p50, rec.get("p50_samples", n), w.get("p50_sample", w["sample"])))
    print("tail_ms     %.3f ms (p%.1f of %d samples, %d beyond it)" % (tail_v, tail_p, n, beyond))
    print("job_s       %.4f s (%s, %d samples)"
          % (rec["job_s"], w["job_sample"], len(rec["unit_walls_s"])))
    print("setup_s     %.3f s (JVM launch to the first timed operation, 1 sample)" % e2e["setup_s"])
    print("retained_mb %.1f MB (live heap after a forced full GC at the end, 1 sample)"
          % rec["retained_mb"])
    print("host " + json.dumps(host, sort_keys=True))
    print("setup phases (s since JVM start): " + ", ".join(
        "%s %.2f" % kv for kv in sorted(rec["setup_marks"].items(), key=lambda kv: kv[1])))

    mode = "traced" if a.trace else "untraced"
    stamp = "%s-seed%d-%d" % (mode, a.seed, int(launched * 1000))
    res_dir = os.path.join(work, "results", a.workload)
    os.makedirs(res_dir, exist_ok=True)
    if a.trace:
        metrics = {m["name"]: float(rec["layers"].get(m["name"], 0.0)) for m in spec["per_layer"]}
        metrics.update({"traced.p50_ms": p50, "traced.tail_ms": tail_v, "traced.job_s": rec["job_s"]})
        trace_path = os.path.join(work, "traces", "%s-%s.json" % (a.workload, stamp))
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"spans": rec["spans"], "ops": rec["ops"]}, f)
        print("spans and per-operation Spark counters written to %s" % os.path.relpath(trace_path, root))
        prior = []
        for p in glob.glob(os.path.join(res_dir, "untraced-*.json")):
            with open(p) as f:
                prior.append(json.load(f)["end_to_end"])
        if prior:
            for k in ("p50_ms", "tail_ms", "job_s"):
                base = statistics.median(r[k] for r in prior)
                print("tracing overhead %-7s %+.3f (%+.1f%%) vs median of %d untraced runs"
                      % (k, e2e[k] - base, 100.0 * (e2e[k] - base) / base, len(prior)))
        else:
            print("tracing overhead: no untraced run of %s in this checkout to compare with" % a.workload)
    else:
        metrics = e2e
    for name in metrics:
        if name not in units:
            log("metric %s is not declared in BENCHMARK.json" % name)
            return 1
    with open(os.path.join(res_dir, stamp + ".json"), "w") as f:
        json.dump({"end_to_end": e2e, "metrics": metrics, "host": host, "failures": rec["failures"],
                   "attempted": rec["attempted"], "digests": rec.get("digests"),
                   "order": rec.get("order"), "unit_walls_s": rec["unit_walls_s"], "samples_ms": samples,
                   "cold_ms": rec.get("cold_ms"), "setup_marks": rec["setup_marks"]}, f, indent=1)
    if a.record_expected and "digests" in rec:
        with open(jargs["expected"], "w") as f:
            f.write("# query\trows\tdigest (graftbench/src/Digest.scala) over %s\n"
                    % os.path.basename(jargs["corpus"].rstrip("/")))
            for q in sorted(rec["digests"]):
                f.write("%s\t%d\t%s\n" % (q, rec["digests"][q]["rows"], rec["digests"][q]["digest"]))
    result = {"correct": failed == 0 and not rec["failures"], "attempted": rec["attempted"],
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
