#!/usr/bin/env python3
"""CDC/ETL benchmark for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sql_dml --seed 1 --seconds 13 --trace 0
    python3 perfbench/run.py --workload all            # every workload in turn
    python3 perfbench/run.py --workload query_sweep --record-sweep-reference

Builds the program in the checkout from source together with the harness
in perfbench/ (sbt, offline; again only when the sources change), runs the
workload in one JVM on Spark local[min(4, cpus)], runs its output checks,
writes the full results to .bench_build/results/<workload>-s<seed>-t<trace>
.json, prints one compact line per workload and, last, one JSON line with
the metrics BENCHMARK.json names: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1. Exits non-zero when a check fails or
nothing can be built.

Workloads: sql_dml and query_sweep. perfbench/layers.json says
what every metric means and which end-to-end metric each per-layer metric
should move; perfbench/baseline.json holds the numbers measured when the
benchmark was added. --record-sweep-reference rewrites the query_sweep
result hashes in perfbench/sweep_reference.json from the checkout's program.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["sql_dml", "query_sweep"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Duser.timezone=UTC"] + \
    [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles program and harness unless the last build was of the same
    sources; returns the runtime classpath and the source hash."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program source (build.sbt, src/main/scala) next to perfbench/")
    tag = source_hash()
    # one marker for the one set of class directories sbt writes: sources
    # that differ from the last build's, even an older state, rebuild
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            built, cp = (f.read().split("\n", 1) + [""])[:2]
        if built == tag and cp.strip():
            return cp.strip(), tag
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx3g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"]
         if os.path.isfile(repo_cfg) else [])))
    t0 = time.time()
    p = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                  "export perfbench/Runtime/fullClasspath"],
                 BENCH, env, BUILD_TIMEOUT_S)
    if p is None or p[0] != 0:
        if p:
            errors = [l for l in p[1].splitlines() if l.startswith("[error]")]
            sys.stderr.write("\n".join(errors[:40] or [p[1][-4000:]]) + "\n")
        fail("build failed")
    cp = [l for l in p[1].splitlines()
          if l.startswith("/") and ".jar" in l and "[" not in l]
    if not cp:
        fail("build printed no classpath")
    with open(cp_file, "w") as f:
        f.write(f"{tag}\n{cp[-1]}")
    print(f"perfbench: built {tag} in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1], tag


def run_proc(cmd, cwd, env, timeout):
    """Runs cmd in its own process group; kills the group on timeout, or
    when this script is interrupted or terminated, and waits for it.
    Returns (code, combined output) or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        raise KeyboardInterrupt(signum)
    old = signal.signal(signal.SIGTERM, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("interrupted", 130)
    finally:
        signal.signal(signal.SIGTERM, old)


def cpu_ticks():
    """Aggregate CPU tick counters from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor gave to others between a and b."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d[:8]))


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def run_one(workload, seed, seconds, trace, cp, tag, deadline, record=None):
    cores = min(4, len(os.sched_getaffinity(0)))
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out_file = os.path.join(results_dir, f"{workload}-s{seed}-t{trace}.json")
    if os.path.exists(out_file):
        os.remove(out_file)
    flags = JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
    cmd = ["java"] + flags + ["-cp", cp, "perfbench.Main",
                              "--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", str(trace),
                              "--cores", str(cores), "--work", work,
                              "--out", out_file] + \
        (["--record", record] if record else [])
    load0, stat0 = os.getloadavg(), cpu_ticks()
    p = run_proc(cmd, ROOT, dict(os.environ), max(10, deadline - time.time()))
    load1, stat1 = os.getloadavg(), cpu_ticks()
    shutil.rmtree(work, ignore_errors=True)
    if p is None:
        fail(f"{workload}: timed out", 3)
    code, log = p
    if code != 0 or not os.path.isfile(out_file):
        sys.stderr.write(log[-6000:])
        fail(f"{workload}: harness exited with {code}", 3)
    for l in log.splitlines():
        if l.startswith("CHECK FAILED") or l.startswith("FAILED"):
            print(l, file=sys.stderr)
    with open(out_file) as f:
        res = json.load(f)
    res["env"] = {"nproc": os.cpu_count(),
                  "affinity": len(os.sched_getaffinity(0)),
                  "local": f"local[{cores}]", "jvm_flags": flags,
                  "seed": seed, "revision": revision(), "source_hash": tag,
                  "loadavg_start": load0, "loadavg_end": load1,
                  "cpu_steal_share": steal_share(stat0, stat1)}
    if trace:
        base = os.path.join(results_dir, f"{workload}-s{seed}-t0.json")
        if os.path.isfile(base):
            with open(base) as f:
                base_res = json.load(f)
            # only an untraced run of the same build and seed is comparable
            if base_res.get("env", {}).get("source_hash") == tag:
                untraced = base_res["end_to_end"]
                res["trace_overhead"] = {
                    k: v - untraced[k] for k, v in res["end_to_end"].items()
                    if isinstance(v, (int, float)) and
                    isinstance(untraced.get(k), (int, float))}
    with open(out_file, "w") as f:
        json.dump(res, f, indent=1)
    return res, out_file


def metric_aliases(spec):
    """Reads perfbench/layers.json, which says what each metric means;
    fails unless it describes exactly the metrics BENCHMARK.json names.
    Returns, per workload, the workload's own name of each shared
    end-to-end metric (op_p50_s is merge_p50_s on sql_dml, ...)."""
    with open(os.path.join(BENCH, "layers.json")) as f:
        doc = json.load(f)
    for key in ("end_to_end", "per_layer"):
        named = [m["name"] for m in spec[key]]
        if sorted(named) != sorted(doc[key]):
            fail(f"perfbench/layers.json {key} differs from BENCHMARK.json: "
                 f"{sorted(set(named) ^ set(doc[key]))}")
    aliases = {}
    for metric, d in doc["end_to_end"].items():
        for w, alias in d.get("as", {}).items():
            aliases.setdefault(w, {})[metric] = alias
    return aliases


def compact(res, aliases):
    """One line: the end-to-end values under the workload's own names
    (from perfbench/layers.json), then the median of every operation kind."""
    names = aliases.get(res["workload"], {})
    parts = [f"{names.get(k, k)}={v:.4g}" for k, v in res["end_to_end"].items()
             if isinstance(v, (int, float))]
    parts.append(f"error_rate={res['error_rate']:.3g}")
    ops = [f"{k}={v['p50_s']:.3g}s/{v['n']}" for k, v in res["operations"].items()
           if isinstance(v["p50_s"], (int, float))]
    return (f"{res['workload']} {'ok' if res['correct'] else 'WRONG'} "
            f"seed={res['seed']} {res['env']['local']} "
            f"ops={res['attempted']}/{res['failed']}f " + " ".join(parts) +
            " | p50 " + " ".join(ops))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=13)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-sweep-reference", action="store_true",
                    help="rewrite perfbench/sweep_reference.json from this "
                         "checkout's program instead of running a workload")
    a = ap.parse_args()
    t0 = time.time()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    with open(bench_json) as f:
        spec = json.load(f)
    key = "per_layer" if a.trace else "end_to_end"
    wanted = [(m["name"], m["unit"]) for m in spec[key]]
    aliases = metric_aliases(spec)

    cp, tag = build()
    if a.record_sweep_reference:
        ref = os.path.join(BENCH, "sweep_reference.json")
        res, _ = run_one("query_sweep", a.seed, a.seconds, 0, cp, tag,
                         time.time() + 900, record=ref)
        print(f"perfbench: wrote {os.path.relpath(ref, ROOT)}", file=sys.stderr)
        sys.exit(0)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    metrics, correct, attempted, failed = {}, True, 0, 0
    for w in names:
        res, path = run_one(w, a.seed, a.seconds, a.trace, cp, tag,
                            time.time() + RUN_TIMEOUT_S)
        got = res["per_layer" if a.trace else "end_to_end"]
        missing = [n for n, _ in wanted if not isinstance(got.get(n), (int, float))
                   or not math.isfinite(got[n])]
        if missing:
            fail(f"{w}: no value for {', '.join(missing)}", 3)
        prefix = f"{w}." if a.workload == "all" else ""
        for n, u in wanted:
            # per-layer values to four significant digits keep the traced
            # line short; end-to-end values keep every digit
            v = float(f"{got[n]:.4g}") if a.trace else got[n]
            metrics[prefix + n] = {"value": v, "unit": u}
        correct &= bool(res["correct"])
        attempted += res["attempted"]
        failed += res["failed"]
        print(f"perfbench: {w} results in {os.path.relpath(path, ROOT)}",
              file=sys.stderr)
        print(compact(res, aliases), flush=True)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics},
                     separators=(",", ":")), flush=True)
    print(f"perfbench: total {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
