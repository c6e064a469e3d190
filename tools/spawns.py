#!/usr/bin/env python3
"""Tally the child processes a JVM started, from a JFR recording.

  python3 tools/spawns.py <file.jfr> [--top N]

Reads the `jdk.ProcessStart` events with the JDK's `jfr` tool
(`jfr print --json --stack-depth 64 --events jdk.ProcessStart`) and prints the total,
then the count per command (the program name, arguments dropped) and
per first Spark or graft frame of the starting thread's stack (the
nearest `org.apache.spark.*` or `graft.*` method), each with the
commands it started. Record a benchmark run with e.g.

  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=run.jfr,settings=profile \\
    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0

(`settings=profile` enables `jdk.ProcessStart` with stack traces.)
"""
import argparse
import collections
import json
import os
import subprocess
import sys

OWN = ("org.apache.spark.", "graft.")


def events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "64",
         "--events", "jdk.ProcessStart", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def program(command):
    """`/bin/chmod 0644 /x` -> `chmod`."""
    return os.path.basename(command.split(" ", 1)[0]) if command else "?"


def first_own_frame(event):
    frames = (event["values"].get("stackTrace") or {}).get("frames") or []
    for f in frames:
        m = f["method"]
        cls = m["type"]["name"].replace("/", ".")
        if cls.startswith(OWN):
            return f"{cls}.{m['name']}"
    return "(no Spark or graft frame)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr", help="a JFR recording")
    ap.add_argument("--top", type=int, default=15,
                    help="rows per table (default 15)")
    a = ap.parse_args()
    if not os.path.exists(a.jfr):
        sys.exit(f"no such file: {a.jfr}")
    evs = events(a.jfr)
    by_cmd = collections.Counter(program(e["values"].get("command")) for e in evs)
    by_frame = collections.defaultdict(collections.Counter)
    for e in evs:
        by_frame[first_own_frame(e)][program(e["values"].get("command"))] += 1
    print(f"{len(evs)} processes started")
    print("\nby command:")
    for cmd, n in by_cmd.most_common(a.top):
        print(f"  {n:6d}  {cmd}")
    print("\nby first Spark or graft frame:")
    frames = sorted(by_frame.items(), key=lambda kv: -sum(kv[1].values()))
    for frame, cmds in frames[:a.top]:
        detail = ", ".join(f"{c} {n}" for c, n in cmds.most_common())
        print(f"  {sum(cmds.values()):6d}  {frame}  ({detail})")


if __name__ == "__main__":
    main()
