#!/usr/bin/env python3
"""Process starts in a JFR recording, as a markdown table.

    python3 scripts/jfr_procs.py <file.jfr>

Record one benchmark run without editing it, through the bench JVM's
environment (the recording covers that JVM alone):

    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=/tmp/pipeline.jfr,settings=profile \\
      python3 medbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Reads the `jdk.ProcessStart` events through the JDK's `jfr print --json` and
prints one row per (command, caller): the command is the program the JVM
started (its first word), the caller the first stack frame outside the JDK
and `org.apache.hadoop.util.Shell`. The last row is the total.
"""
import collections
import json
import subprocess
import sys

SKIP = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.util.Shell")


def caller(frames):
    for f in frames:
        m = f["method"]
        cls = m["type"]["name"].replace("/", ".")
        if not cls.startswith(SKIP):
            return f"{cls}.{m['name']}"
    return "(jdk only)"


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", sys.argv[1]],
                         check=True, capture_output=True, text=True).stdout
    events = json.loads(out)["recording"]["events"]
    rows = collections.Counter()
    for e in events:
        v = e["values"]
        cmd = v["command"].split()[0].rsplit("/", 1)[-1] if v["command"] else "?"
        frames = (v.get("stackTrace") or {}).get("frames") or []
        rows[(cmd, caller(frames))] += 1
    print("| command | caller | starts |")
    print("|---|---|---|")
    for (cmd, frame), n in sorted(rows.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"| `{cmd}` | `{frame}` | {n} |")
    print(f"| TOTAL | | {sum(rows.values())} |")


if __name__ == "__main__":
    main()
