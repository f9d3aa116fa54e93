#!/usr/bin/env python3
"""Process-start census and per-thread CPU samples of a JFR recording.

    python3 tools/jfr_census.py rec.jfr [--top N] [--match REGEX]

Reads the recording through the JDK's `jfr print --json` and prints:
  * the processes the JVM started (`jdk.ProcessStart`), by program, and
    by caller: the thread and the first stack frame outside the JDK and
    Hadoop (the Spark, Parquet or graft code that asked for the fork);
  * the execution samples (`jdk.ExecutionSample`, from
    `settings=profile`) by thread, each thread with its leading first
    frames outside the JDK and Hadoop, and with `--match` the samples
    whose stack holds a frame matching REGEX (say
    `FileStreamSource.allFiles`).
See tools/profile_key.md for how to record.
"""
import argparse
import collections
import json
import re
import subprocess

SKIP = ("java.", "jdk.", "sun.", "scala.", "org.apache.hadoop.")


def events(path, names):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "60", "--events", names, path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    return [f'{f["method"]["type"]["name"].replace("/", ".")}.{f["method"]["name"]}'
            for f in st.get("frames", [])]


def thread(ev):
    t = ev["values"].get("eventThread") or ev["values"].get("sampledThread") or {}
    # pool threads differ only by their number
    return re.sub(r"\d+", "N", t.get("javaName") or t.get("osName") or "?")


def show(counter, top, indent="  "):
    for k, n in counter.most_common(top):
        print(f"{indent}{n:7d}  {k}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("--match")
    a = ap.parse_args()

    forks = events(a.recording, "jdk.ProcessStart")
    print(f"processes started: {len(forks)}")
    by_prog, by_caller = collections.Counter(), collections.Counter()
    for ev in forks:
        prog = ev["values"]["command"].split()[0].rsplit("/", 1)[-1]
        caller = next((f for f in frames(ev) if not f.startswith(SKIP)), "?")
        by_prog[prog] += 1
        by_caller[f"{prog:10s} {thread(ev):40s} {caller}"] += 1
    print("by program:")
    show(by_prog, a.top)
    print("by program, thread and caller:")
    show(by_caller, a.top)

    samples = events(a.recording, "jdk.ExecutionSample")
    print(f"execution samples: {len(samples)}")
    by_thread = collections.defaultdict(collections.Counter)
    matched = collections.Counter()
    for ev in samples:
        fs = frames(ev)
        by_thread[thread(ev)][next((f for f in fs if not f.startswith(SKIP)), "?")] += 1
        if a.match and any(re.search(a.match, f) for f in fs):
            matched[thread(ev)] += 1
    for t, c in sorted(by_thread.items(), key=lambda kv: -sum(kv[1].values()))[:a.top]:
        hit = f"  ({matched[t]} match {a.match})" if a.match else ""
        print(f"{sum(c.values()):7d}  {t}{hit}")
        show(c, 5, indent="           ")


if __name__ == "__main__":
    main()
