#!/usr/bin/env python3
"""Count the processes a benchmark run forks, and say where they come from.

Usage: python3 tools/forks.py --workload lakehouse|textdedup [--seed N]

Runs graftbench/run.py unchanged (--trace 0) with a JFR recording of
jdk.ProcessStart only (tools/forks.jfc) passed through JAVA_TOOL_OPTIONS,
then reads it back with `jfr print --json --stack-depth 40` and prints the
forks grouped by command (paths dropped), the kind of thread that forked
and the first frame outside the JDK and Hadoop. A fork whose stack holds
org.apache.hadoop.util.Shell is a Hadoop Shell fork ("yes"), apart from the
`setsid` probe of Shell's class initializer, which runs once per JVM
("init"). The benchmark is built first without the recording, so only the
harness JVM is recorded.
"""
import argparse
import collections
import json
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETTINGS = ROOT / "tools" / "forks.jfc"
SHELL = "org.apache.hadoop.util.Shell"
# Frames skipped when looking for the caller that asked for the fork.
PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.")


def command_of(cmd):
    """The command line without its path arguments: `chmod 0644`, `readlink`."""
    words = [w for w in cmd.split() if "/" not in w]
    return " ".join(words) or cmd


def thread_kind(name):
    if name.startswith("stream execution thread"):
        return "stream"
    if name.startswith("Executor task launch worker"):
        return "executor"
    if name == "main":
        return "driver"
    return re.sub(r"\d+", "N", name)


def frames_of(values):
    trace = values.get("stackTrace") or {}
    # jfr prints class names in their internal form, java/lang/Object
    return [(f["method"]["type"]["name"].replace("/", "."), f["method"]["name"])
            for f in trace.get("frames", [])]


def caller(frames):
    for cls, meth in frames:
        if not cls.startswith(PLUMBING):
            return f"{cls}.{meth}"
    return "(only JDK and Hadoop frames)"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()

    subprocess.run([sys.executable, str(ROOT / "graftbench" / "build.py")],
                   check=True, stdout=subprocess.DEVNULL)
    with tempfile.TemporaryDirectory(prefix="forks_") as tmp:
        jfr = Path(tmp) / "forks.jfr"
        env = dict(os.environ, JAVA_TOOL_OPTIONS=(
            f"-XX:StartFlightRecording=filename={jfr},settings={SETTINGS},"
            "dumponexit=true"))
        subprocess.run([sys.executable, str(ROOT / "graftbench" / "run.py"),
                        "--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", "15", "--trace", "0",
                        "--out", str(Path(tmp) / "run.json")],
                       check=True, env=env)
        printed = subprocess.run(["jfr", "print", "--json", "--stack-depth", "40",
                                  "--events", "jdk.ProcessStart", str(jfr)],
                                 check=True, stdout=subprocess.PIPE, text=True).stdout
    events = json.loads(printed)["recording"]["events"]

    groups = collections.Counter()
    for e in events:
        v = e["values"]
        frames = frames_of(v)
        shell = ("init" if (SHELL, "<clinit>") in frames
                 else "yes" if any(cls == SHELL for cls, _ in frames) else "no")
        thread = (v.get("eventThread") or {}).get("javaName") or "?"
        groups[(command_of(v.get("command", "")), thread_kind(thread),
                caller(frames), shell)] += 1

    via = collections.Counter(k[3] for k in groups.elements())
    print(f"[forks] {a.workload} seed={a.seed}: {len(events)} forks, "
          f"{via['yes']} through {SHELL} commands, "
          f"{via['init']} from its class initializer")
    print(f"{'count':>6}  {'shell':5}  {'thread':18}  {'command':24}  first non-Hadoop frame")
    for (cmd, kind, frame, shell), n in groups.most_common():
        print(f"{n:6d}  {shell:5}  {kind[:18]:18}  {cmd[:24]:24}  {frame}")


if __name__ == "__main__":
    main()
