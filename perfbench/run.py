#!/usr/bin/env python3
"""Benchmark of the engine: the paper's streaming recommend loop under
open-loop load, and a closed-loop mix of registry queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload recommend_stream --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --self-check

It builds the engine and the harness from source (sbt, offline), generates
the inputs from the seed, runs one workload in one JVM, checks the outputs
(perfbench/gate.py) and prints every metric by name and unit. The last line
of standard output is one JSON object: correct, attempted, failed, metrics.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
It exits non-zero when the output gate fails. Workloads, metrics and the
layer map are described in perfbench/README.md.

Everything it writes stays under `.bench_work/` in the checkout; the run's
scratch (including the engine's tmpfs and temp-dir scratch, bound there in
a private mount namespace) is removed at exit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
RUN = os.path.join(WORK, "run")
RESULTS = os.path.join(WORK, "results")
DEADLINE_S = 170  # whole run, build excluded

# workload -> corpus scale and tables it reads
WORKLOADS = {
    "recommend_stream": {"scale": 0.1, "tables": ["events", "stream_order"]},
    "query_mix": {"scale": 0.01, "tables": ["region", "nation", "customer", "supplier",
                                            "part", "orders", "lineitem", "events",
                                            "documents", "embeddings"]},
}
STREAM_K, STREAM_MIN_CNT = 25, 25
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def spark_home():
    """SPARK_HOME, else the distribution holding `spark-submit` on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile engine + harness with sbt; return the runtime classpath."""
    bdir = os.path.join(WORK, "build")
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    shutil.rmtree(bdir, ignore_errors=True)  # stale classes archive too
    os.makedirs(bdir)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "-batch", "-Dsbt.global.base=" + os.path.join(WORK, "sbt-global"),
           "compile", "export Runtime/fullClasspath"]
    with open(os.path.join(bdir, "build.log"), "w") as log:
        rc = subprocess.call(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    lines = open(os.path.join(bdir, "build.log")).read().splitlines()
    cp = [ln.strip() for ln in lines if "scala-2.13" in ln and ln.strip().startswith("/")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cp[-1]


# ---------------------------------------------------------------- process

class Child:
    """The JVM, in its own process group, stopped and reaped on any exit."""
    proc = None

    @classmethod
    def stop(cls):
        p = cls.proc
        if p is None or p.poll() is not None:
            return
        for sig, wait in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                return
            try:
                p.wait(wait)
                return
            except subprocess.TimeoutExpired:
                pass


def on_signal(sig, _frame):
    raise SystemExit(128 + sig)


def namespace_ok():
    """True when a private mount namespace can bind the engine's scratch."""
    try:
        return subprocess.call(["unshare", "--mount", "--propagation", "private", "true"],
                               stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                               timeout=10) == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def scratch_entries():
    return {d: set(os.listdir(d)) for d in ("/dev/shm", "/tmp") if os.path.isdir(d)}


def heap_mb():
    total_kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                    if ln.startswith("MemTotal:"))
    return min(4096, max(2048, total_kb // 4096))


def run_jvm(cp, args, seconds, trace, stall_ms, t_start):
    """Run perfbench.Main; return (result dict, path map for oracle SQL, mode)."""
    out, work = os.path.join(RUN, "out"), os.path.join(RUN, "work")
    shm, tmp = os.path.join(RUN, "shm"), os.path.join(RUN, "tmp")
    for d in (out, work, shm, tmp):
        os.makedirs(d)
    jvm = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    # class-data sharing: the first run of a build archives the classes it
    # loaded, later runs map them instead of loading and verifying again
    jsa = os.path.join(WORK, "build", "classes.jsa")
    jvm.append(f"-XX:SharedArchiveFile={jsa}" if os.path.exists(jsa)
               else f"-XX:ArchiveClassesAtExit={jsa}.tmp")
    jvm += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(seconds), "--trace", str(trace), "--data", args.data,
            "--out", out, "--work", work, "--cpus", str(os.cpu_count() or 1),
            "--stall-ms", str(stall_ms), "--scratch", f"{shm},{tmp}"]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_LOCAL_DIRS")}
    inside = any(ROOT == d or ROOT.startswith(d + "/") for d in ("/tmp", "/dev/shm"))
    if not inside and namespace_ok():
        mode, path_map = "mount-namespace", [("/dev/shm/", shm + "/"), ("/tmp/", tmp + "/")]
        cmd = ["unshare", "--mount", "--propagation", "private", "--", "sh", "-c",
               'mount --bind "$0" /dev/shm && mount --bind "$1" /tmp && shift && exec "$@"',
               shm, tmp, *jvm]
    else:
        mode, path_map, cmd = "cleanup", [], jvm
    before = scratch_entries()
    log_path = os.path.join(RUN, "jvm.log")
    try:
        with open(log_path, "w") as log:
            Child.proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                          stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                          start_new_session=True)
            try:
                rc = Child.proc.wait(max(10.0, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                Child.stop()
                rc = "timeout"
    finally:
        Child.stop()
        if mode == "cleanup":  # the engine's own scratch outside the checkout
            for d, names in scratch_entries().items():
                for n in names - before.get(d, set()):
                    if n.startswith("graft"):
                        shutil.rmtree(os.path.join(d, n), ignore_errors=True)
    res_file = os.path.join(out, "result.json")
    if rc == 0 and os.path.exists(jsa + ".tmp"):
        os.replace(jsa + ".tmp", jsa)
    if rc != 0 or not os.path.exists(res_file):
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"engine run failed ({rc})", 4)
    with open(res_file) as f:
        return json.load(f), path_map, mode


# ---------------------------------------------------------------- report

def provenance(args, digest, mode):
    def sh(cmd):
        try:
            return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                                  timeout=20).stdout.strip()
        except (OSError, subprocess.TimeoutExpired):
            return ""
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    jars = os.listdir(os.path.join(spark_home(), "jars"))
    spark = next((j[len("spark-core_2.13-"):-4] for j in jars
                  if j.startswith("spark-core_2.13-")), "unknown")
    sha = sh(["git", "rev-parse", "HEAD"]) if os.path.isdir(os.path.join(ROOT, ".git")) else ""
    dirty = bool(sh(["git", "status", "--porcelain", "--untracked-files=no"])) if sha else None
    mem_kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024,
            "jdk": java.splitlines()[0] if java else "unknown", "spark": spark,
            "git_sha": sha or "unknown (not a git checkout)", "git_dirty": dirty,
            "source_sha256": digest, "seed": args.seed, "workload": args.workload,
            "scale": WORKLOADS[args.workload]["scale"], "seconds": args.seconds,
            "trace": args.trace, "heap_mb": heap_mb(), "scratch_isolation": mode}


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def gate(args, res, path_map):
    """(failed operations from wrong outputs, list of gate failures)."""
    import gate as g
    out = os.path.join(RUN, "out")
    if args.workload == "recommend_stream":
        bad, sizes = g.check_stream(out, args.data, STREAM_K, STREAM_MIN_CNT)
        return sum(sizes[b] for b in bad), [f"batch {b}: {r}" for b, r in sorted(bad.items())]
    verdicts = g.check_mix(out, args.data, path_map)
    for q, err in res.get("gate_errors", {}).items():
        verdicts[q] = f"construction failed: {err}"
    wrong = {q for q, v in verdicts.items() if v}
    failed = sum(1 for e in res["executions"] if e["query"] in wrong and e["ok"])
    return failed, [f"{q}: {verdicts[q]}" for q in sorted(wrong)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-check", action="store_true",
                    help="inject a generator stall into recommend_stream and assert "
                         "that the latency accounting shows it")
    args = ap.parse_args()
    if args.self_check:
        args.workload, args.trace = "recommend_stream", 0
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the engine (src/main/scala/graft missing)")
    bench = spec()
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, on_signal)
    shutil.rmtree(RUN, ignore_errors=True)
    try:
        return measure(args, bench)
    finally:
        Child.stop()
        shutil.rmtree(RUN, ignore_errors=True)


def measure(args, bench):
    import datagen
    digest = source_digest()
    t_build = time.time()
    cp = build(digest)
    t_start = time.time()
    w = WORKLOADS[args.workload]
    args.data = os.path.join(WORK, "data", f"scale{w['scale']}-seed{args.seed}")
    datagen.generate(args.data, args.seed, w["scale"], w["tables"])
    stall_ms = 5000 if args.self_check else 0
    t_jvm = time.time()
    res, path_map, mode = run_jvm(cp, args, args.seconds, args.trace, stall_ms, t_start)
    if args.self_check:
        return self_check(res, stall_ms / 1000.0)
    t_gate = time.time()
    wrong, problems = gate(args, res, path_map)
    wall = {"build": t_start - t_build, "inputs": t_jvm - t_start, "engine": t_gate - t_jvm,
            "gate": time.time() - t_gate}
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + wrong)
    prov = provenance(args, digest, mode)

    if args.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        values = res["per_layer"]
    else:
        names = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        values = dict(res["e2e"], setup_s=statistics.median(res["setup_s"]),
                      peak_rss_mb=res["peak_rss_mb"])
    missing = [n for n, _ in names if n not in values]
    if missing:
        fail(f"engine run did not report {missing}")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names}

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    print("provenance " + json.dumps(prov, sort_keys=True))
    width = max(len(n) for n, _ in names)
    for n, u in names:
        print(f"  {n:<{width}}  {metrics[n]['value']:.6g} {u}")
    print(f"  setup_s samples: {[round(x, 3) for x in res['setup_s']]}")
    d = res["detail"]
    if args.workload == "recommend_stream" and not args.trace:
        print(f"  rec_latency_p50_s = {values['latency_p50_s']:.4f} s, "
              f"rec_latency_p99_s = {values['latency_p99_s']:.4f} s, "
              f"ratings_per_s = {values['throughput_per_s']:.3f} 1/s "
              f"({d['batches']} batches, rows {d['batch_rows']}, ms {d['batch_ms']}, "
              f"latency limit {d['limit_s']} s, offered {d['rate_per_s']}/s)")
    elif not args.trace:
        print(f"  mix_s = {d['mix_s']:.4f} s ({d['passes']} passes of {d['queries']} queries), "
              f"query_geomean_s = {values['latency_geomean_s']:.4f} s")
    print(f"  failed_ratio = {failed / attempted:.6f} ({failed} of {attempted})")
    print("  wall seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in wall.items()))
    print("  output gate: " + ("ok" if not problems else "FAILED"))
    for p in problems:
        print(f"    {p}")
    os.makedirs(RESULTS, exist_ok=True)
    stem = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump({"provenance": prov, "metrics": metrics, "attempted": attempted,
                   "failed": failed, "gate": problems, "engine": res}, f)
    for kind in ("spans", "jobs"):
        src = os.path.join(RUN, "out", f"{kind}.jsonl")
        if os.path.exists(src):
            shutil.copy(src, f"{stem}.{kind}.jsonl")
    print(f"  record: {os.path.relpath(stem, ROOT)}.json")
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if not problems else 1


def self_check(res, stall_s):
    """A generator stall must show in latency timed from the due time, and
    would be hidden by timing from the send time."""
    d = res["detail"]
    checks = {
        "generator ran late by the stall": d["generator_lag_ms_max"] / 1000.0 >= stall_s * 0.95,
        "the rating due at the stall waited it out": d["stall_latency_from_due_s"] >= stall_s,
        "timing from the send time would hide the stall":
            d["stall_latency_from_due_s"] - d["stall_latency_from_send_s"] >= 0.9 * stall_s,
        "the stall reaches the p99 latency": res["e2e"]["latency_p99_s"] >= stall_s,
    }
    for name, ok in checks.items():
        print(f"  {'PASS' if ok else 'FAIL'} {name}")
    print(f"  detail: {json.dumps(d)}")
    ok = all(checks.values())
    print("self-check " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
