#!/usr/bin/env python3
"""Benchmark of the graft engine: transfer, relational and corpus workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload transfer --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

One run builds the engine and the harness from source if needed (sbt,
offline), generates the workload's inputs from the seed, starts one JVM
that sets the workload up several times, runs an untimed correctness
pass and then timed passes, and checks every result:

* relational and corpus query results against the DuckDB oracles, with
  the repository's `tools/check.py` (the `graft.Verify` layout);
* transfer read-back checksums against the source tables, and the source
  tables against the generated inputs;
* the `Pipeline.curate` funnel counts against an independent replay.

The last line of standard output is the result object; the line before it
is the full record (every end-to-end metric with its unit, context
fields, tracing overhead), also written under `.perfbench/results/`.
With `--trace 1` the result carries the per-layer metrics instead.
"""
import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Input sizes per workload: star-schema scale factor, documents,
# embeddings, analytics-event rows. Each is sized so that a run (set-up,
# correctness pass, timed window) ends well inside the time limit.
WORKLOADS = {
    "transfer": dict(sf=0.001, docs=500, emb=500, analytics=2000),
    "relational": dict(sf=0.001, docs=500, emb=500, analytics=0),
    "corpus": dict(sf=0.001, docs=300, emb=300, analytics=0),
}
SETUP_REPS = 3
RUN_LIMIT_S = 175.0   # whole run, build excluded
CHECK_RESERVE_S = 25.0  # kept from the JVM's share for the result checks
BUILD_LIMIT_S = 850.0
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
# the end-to-end metrics BENCHMARK.json bounds; the record line carries
# the rest (op_p50_s, op_tail_s, throughput, failed_frac)
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"),
              ("peak_rss_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ build

def source_files(root):
    for base in (os.path.join(root, "src", "main", "scala"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith((".scala", ".properties")):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build(root):
    """Compile engine + harness unless the sources are unchanged since the
    last build; returns the runtime classpath."""
    digest = hashlib.sha256()
    for p in sorted(source_files(root)):
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    want = digest.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}", "-Dsbt.offline=true"]
    tmp = os.path.join(root, ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}")
    log("building engine and harness")
    t0 = time.time()
    r = subprocess.run(cmd + ["writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr,
                       timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        raise RuntimeError(f"build failed (exit {r.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(want)
    with open(cp_file) as f:
        return f.read().strip()


# ------------------------------------------------------------------ run

# A fixed-size heap keeps the resident set from following the collector's
# resizing decisions, so peak_rss_mb moves with what the engine holds.
HEAP = "2g"


def run_jvm(cp, workload, seed, seconds, trace, data, out, deadline):
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={out}/tmp", "-cp", cp, "perfbench.Harness",
            workload, str(seed), str(seconds), str(trace), data, out,
            str(SETUP_REPS)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise RuntimeError("JVM exceeded the run time limit")


def check_queries(root, data, verify, queries, plant, deadline):
    """Run tools/check.py over the dumped results; returns wrong names."""
    if plant:
        # a planted wrong expected value: the oracle of the first query
        # loses its first row, so its comparison must fail
        path = os.path.join(verify, "oracle_sql.json")
        with open(path) as f:
            oracles = json.load(f)
        q = queries[0]
        oracles[q] = f"SELECT * FROM ({oracles[q]}) OFFSET 1"
        with open(path, "w") as f:
            json.dump(oracles, f)
    r = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"),
                        data, verify], capture_output=True, text=True,
                       timeout=max(1.0, deadline - time.time()))
    ok = {line.split()[1].rstrip(":") for line in r.stdout.splitlines()
          if line.startswith("OK ")}
    for line in r.stdout.splitlines():
        if line.startswith("FAIL"):
            log(line)
    return [q for q in queries if q not in ok]


def record(args, res, wrong, context):
    ops = res["ops"]
    passes = res["passes"]
    # summaries use the untraced passes after the warm-up pass
    timed_ids = {i for i, p in enumerate(passes, 1)
                 if not p["traced"] and not p["warmup"]}
    timed = [passes[i - 1] for i in sorted(timed_ids)]
    traced = [p for p in passes if p["traced"]]
    pass_s = median([p["wall_s"] for p in timed])
    lat = sorted(o["secs"] for o in ops if o["ok"] and o["pass"] in timed_ids)
    n = len(lat)
    tail_n = n - 10 if n > 10 else n
    failed_ops = sum(1 for o in ops if not o["ok"])
    attempted = len(ops) + res["gate"]["ops"]
    failed = failed_ops + len(wrong)
    units = res["units_per_pass"]
    m = {
        "setup_s": (median(res["setup_s"]), "s"),
        "pass_s": (pass_s, "s"),
        "cpu_s": (median([p["cpu_s"] for p in timed]), "s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (lat[tail_n - 1] if lat else float("nan"), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "failed_frac": (failed / attempted, "frac"),
    }
    if args.workload == "corpus":
        curate = [o["secs"] for o in ops if o["name"] == "pipeline_curate"
                  and o["ok"] and o["pass"] in timed_ids]
        m["docs_per_s"] = (units / median(curate) if curate else 0.0, "1/s")
    else:
        m["rows_per_s"] = (units / pass_s, "1/s")
    ctx = dict(context)
    ctx.update({
        "op_tail_percentile": round(100.0 * tail_n / n, 1) if n else None,
        "op_samples": n, "pass_walls_s": [p["wall_s"] for p in passes],
        "passes": len(timed), "traced_passes": len(traced),
        "wrong": wrong, "failed_ops": [o["name"] for o in ops if not o["ok"]],
        "setup_reps_s": res["setup_s"], "gate_s": res["gate_s"],
        "window_cpu_s": res["window_cpu_s"],
        "units_per_pass": units, "nproc": res["nproc"]})
    out = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
           "context": ctx}
    if args.trace:
        layers = dict(res["layers"])
        overhead = (median([p["wall_s"] for p in traced]) / pass_s - 1.0
                    if traced and timed else float("nan"))
        layers["trace.overhead_frac"] = {"value": overhead, "unit": "frac"}
        out["layers"] = layers
    return out


def one_run(args, root, cp, plant=False):
    started = time.time()
    deadline = started + RUN_LIMIT_S
    cfg = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = os.path.join(root, ".perfbench", "runs", run_id)
    data = os.path.join(out, "data")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    context = {"loadavg_start": loadavg()}
    try:
        rows = gen.generate(data, args.seed, cfg["sf"], cfg["docs"], cfg["emb"],
                            cfg["analytics"])
        context["gen_s"] = time.time() - started
        ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
        steal0 = steal_s()
        t_jvm = time.time()
        rc = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                     data, out, deadline - CHECK_RESERVE_S)
        ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
        context["jvm_s"] = time.time() - t_jvm
        context["steal_s"] = steal_s() - steal0
        if rc != 0:
            raise RuntimeError(f"benchmark JVM failed (exit {rc})")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        info = res["gate"]["info"]
        wrong = list(res["gate"]["wrong"])
        if args.workload in ("relational", "corpus"):
            wrong += check_queries(root, data, os.path.join(out, "verify"),
                                   info["queries"], plant, deadline)
        if args.workload == "corpus":
            want = oracle.funnel(os.path.join(data, "documents.parquet"))
            if info["funnel"] != want:
                log(f"curate funnel {info['funnel']} != expected {want}")
                wrong.append("pipeline_curate")
        if args.workload == "transfer":
            want = {t.upper(): n for t, n in rows.items()
                    if t not in ("events", "documents", "embeddings")}
            want["ANALYTICS_ANALYTICSEVENT"] = want.pop("ANALYTICS_EVENT_RAW")
            for t, n in sorted(want.items()):
                if info["checksums"][t]["rows"] != n:
                    log(f"source table {t}: {info['checksums'][t]['rows']} rows, "
                        f"expected {n}")
                    wrong.append(f"source:{t}")
        context.update({
            "loadavg_end": loadavg(),
            "process_cpu_s": (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime),
            "run_wall_s": time.time() - started, "inputs": rows})
        rec = record(args, res, wrong, context)
        results = os.path.join(root, ".perfbench", "results")
        os.makedirs(results, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        with open(os.path.join(results, name + ".json"), "w") as f:
            json.dump(rec, f, indent=1)
        if args.trace:
            shutil.copy(os.path.join(out, "trace.json"),
                        os.path.join(results, name + ".trace.json"))
        return rec
    finally:
        shutil.rmtree(out, ignore_errors=True)


def result_line(rec, trace):
    if trace:
        metrics = rec["layers"]
    else:
        metrics = {k: rec["metrics"][k] for k, _ in END_TO_END}
    return {"correct": rec["correct"], "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def selftest(args, root, cp):
    """Every workload once through its correctness gate at sf0.001; the
    relational run carries one planted wrong expected value, which must
    surface as exactly one failure."""
    ok = True
    for w in WORKLOADS:
        planted = w == "relational"
        a = argparse.Namespace(workload=w, seed=args.seed, seconds=1, trace=0)
        rec = one_run(a, root, cp, plant=planted)
        frac = rec["metrics"]["failed_frac"]["value"]
        good = (rec["failed"] == 1 and frac > 0) if planted else rec["correct"]
        log(f"selftest {w}{' (planted)' if planted else ''}: failed={rec['failed']} "
            f"failed_frac={frac:.3f} -> {'ok' if good else 'FAIL'}")
        ok = ok and good
    print(json.dumps({"selftest": "pass" if ok else "fail"}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    root = os.getcwd()
    needed = [os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala"),
              os.path.join(root, "tools", "check.py")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        log(f"not a checkout of the engine: missing {', '.join(missing)}")
        return 2
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    try:
        cp = build(root)
        if args.selftest:
            return selftest(args, root, cp)
        rec = one_run(args, root, cp)
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        log(f"run failed: {e}")
        return 1
    line = result_line(rec, args.trace)
    if not all(math.isfinite(m["value"]) for m in line["metrics"].values()):
        log("run failed: a metric could not be measured")
        return 1
    print(json.dumps(rec))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
