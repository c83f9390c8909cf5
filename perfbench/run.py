#!/usr/bin/env python3
"""graft's benchmark: one workload at one seed, end to end.

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness (sbt, under
perfbench/) together with graft's sources; later runs reuse the build while
the sources are unchanged. The run generates its inputs from --seed, sets up
Spark at local[N] (N = cores), times the workload's closed loop for about
--seconds seconds, checks every output against its oracle, and prints one
JSON object as its last line: the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer metrics with --trace 1. Lines before it name the
workload's own metrics with unit and sample count, and the contention gauges.
See perfbench/README.md.
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
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 150

# Input sizes per workload; --small shrinks them for the smoke test.
PARAMS = {
    "elt_daily": {"every": 8, "hot": 0.1, "redeliver": 0.1},
    "query_mix": {"sf": 0.01, "docs": 500, "dup": 0.1, "passes": 3, "warm_sf": 0.001,
                  "warm_docs": 100},
}
SMALL = {
    "elt_daily": {"every": 64},
    "query_mix": {"sf": 0.001, "docs": 100, "passes": 1},
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def source_stamp():
    """Hash of every file the build reads, to reuse an up-to-date build."""
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d != HERE)
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")) or "META-INF" in d:
                    p = os.path.join(d, f)
                    h.update(p.encode())
                    h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    """Compiles the harness and graft with sbt; returns the classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [x for x in p.stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("build failed")
    open(cp_file, "w").write(lines[-1].strip())
    open(stamp_file, "w").write(stamp)
    return lines[-1].strip()


def prepare(workload, work, seed, params):
    """Generates the workload's inputs from the seed (the tick days of
    elt_daily are generated inside the JVM by graft's tick source)."""
    if workload == "query_mix":
        gen.tables(f"{work}/tables", seed, params["sf"])
        gen.tables(f"{work}/warm_tables", seed + 1000, params["warm_sf"])
        gen.corpus(f"{work}/corpus/warm", seed + 1000, params["warm_docs"], params["dup"])
        for k in range(params["passes"]):
            gen.corpus(f"{work}/corpus/c{k}", seed * 100 + k, params["docs"], params["dup"])


def run_jvm(cp, args, work):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           *ADD_OPENS, "-cp", cp, "perfbench.Main", *args]
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-4000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")


def end_to_end(workload, res, params):
    """The workload's end-to-end metrics under their own names (value,
    unit, sample count), and the generic ones BENCHMARK.json lists."""
    samples = res["samples"]
    n, ok = len(samples), [s for s in samples if s["ok"]]
    # a cycle is one day of the ELT job or one pass over the analyst's mix;
    # a cycle with a failed operation has no latency (the run then fails)
    cycles, broken = {}, {s["pass"] for s in samples if not s["ok"]}
    for s in samples:
        if s["pass"] not in broken:
            cycles[s["pass"]] = cycles.get(s["pass"], 0.0) + s["ms"] / 1000
    cycle = statistics.median(cycles.values()) if cycles else res["window_s"]
    own = {"setup_s": (res["setup_s"], "s", 1),
           "failed_ratio": ((n - len(ok)) / n, "ratio", n),
           "peak_rss_mb": (res["peak_rss_mb"], "MB", 1)}
    if workload == "elt_daily":
        ticks = statistics.median(s["units"] for s in samples)
        own["elt_day_s"] = (cycle, "s", len(cycles))
        own["elt_rows_per_s"] = (ticks / cycle, "1/s", len(cycles))
    else:
        q = [s["ms"] for s in ok if s["name"][0] == "q"] or [res["window_s"] * 1000]
        own["query_p50_ms"] = (statistics.median(q), "ms", len(q))
        own["mix_pass_s"] = (cycle, "s", len(cycles))
        curate = {}
        for s in samples:
            if s["name"][0] == "d" and s["pass"] not in broken:
                curate[s["pass"]] = curate.get(s["pass"], 0.0) + s["ms"] / 1000
        own["corpus_pass_s"] = (statistics.median(curate.values() or [res["window_s"]]), "s", len(curate))
        own["corpus_docs_per_s"] = (params["docs"] / own["corpus_pass_s"][0], "1/s", len(curate))
    return own, {"cycle_s": cycle, "peak_rss_mb": res["peak_rss_mb"], "setup_s": res["setup_s"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="tiny inputs (smoke test)")
    ap.add_argument("--keep", metavar="DIR", help="keep the run's work dir (for tests)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("run from the root of a graft checkout (src/main/scala/graft is missing)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    params = dict(PARAMS[a.workload], **(SMALL[a.workload] if a.small else {}))
    cp = build()
    work = os.path.abspath(a.keep or os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare(a.workload, work, a.seed, params)
        out = f"{work}/result.json"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out, "--cores", str(cores())]
        for k, v in params.items():
            args += [f"--p.{k}", str(v)]
        run_jvm(cp, args, work)
        res = json.load(open(out))

        t0 = time.time()
        done = [s["name"] for s in res["samples"] if s["ok"]]
        if a.workload == "elt_daily":
            fails = checks.check_elt(work, sorted(os.listdir(f"{work}/out")))
        else:
            fails = (checks.check_query(work, sorted({n for n in done if n[0] == "q"}))
                     + checks.check_corpus(work, sorted(os.listdir(f"{work}/cout"))
                                         if os.path.isdir(f"{work}/cout") else []))
        for f in fails:
            log(f"CHECK FAILED {f}")
        log(f"checks: {len(fails)} failed ({time.time() - t0:.1f} s)")

        own, generic = end_to_end(a.workload, res, params)
        print(json.dumps({"workload": a.workload, "seed": a.seed, "cores": cores(),
                          "params": params, "window_s": res["window_s"],
                          "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in own.items()},
                          "gauges": res["gauges"]}))
        if a.trace:
            wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
            layers = res["layers"]
            side = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}")
            shutil.rmtree(side, ignore_errors=True)
            os.makedirs(side)
            for f in ("spans.jsonl", "result.json"):
                shutil.copy(f"{work}/{f}", side)
            print(json.dumps({"self_time_s": self_times(work), "end_to_end_traced": generic,
                              "side_file": os.path.relpath(side, ROOT)}))
            metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in wanted.items()}
        else:
            metrics = {m["name"]: {"value": generic[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        failed = sum(not s["ok"] for s in res["samples"])
        print(json.dumps({"correct": not fails, "attempted": len(res["samples"]),
                          "failed": failed, "metrics": metrics}))
        return 0 if not fails and not failed else 1
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


def self_times(work):
    """Self time per layer (span wall minus child spans) over the window."""
    total = {}
    for line in open(f"{work}/spans.jsonl"):
        s = json.loads(line)
        total[s["layer"]] = total.get(s["layer"], 0.0) + s["self_s"]
    return {k: round(v, 4) for k, v in sorted(total.items(), key=lambda kv: -kv[1])}


if __name__ == "__main__":
    sys.exit(main())
