#!/usr/bin/env python3
"""Per-run table of a traced `pipeline` benchmark run.

    python3 scripts/pipeline_runs.py .medbench/runs/pipeline-seed501-trace1.spans.jsonl

Reads the spans file a `medbench/run.py --workload pipeline --trace 1` run
leaves behind and prints one markdown row per `IngestJob` run: run 0 is the
cold backfill, runs 1.. are the hourly increments. A run starts at its
top-level `ingest` / `UsgsSource.backfill` span and ends where its last
top-level span ends. Columns: the run's wall time, then per layer its self
time in seconds, Spark jobs and tasks (jobs and tasks count toward the
innermost span, as the benchmark's own `<layer>.jobs` metric does). The
TOTAL row sums every run.
"""
import json
import sys


def runs(spans):
    """Spans grouped by run, in file order."""
    out = []
    for s in spans:
        if s["parent"] == -1 and s["layer"] == "ingest" and s["name"] == "UsgsSource.backfill":
            out.append([])
        if out:
            out[-1].append(s)
    return out


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2].strip())
    with open(sys.argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    groups = runs(spans)
    if not groups:
        sys.exit(f"{sys.argv[1]}: no UsgsSource.backfill span; not a traced pipeline run")
    layers = list(dict.fromkeys(s["layer"] for g in groups for s in g))

    def row(label, group):
        top = [s for s in group if s["parent"] == -1]
        wall = max(s["start_ms"] + 1e3 * s["wall_s"] for s in top) - top[0]["start_ms"]
        cells = [label, f"{wall / 1e3:.2f}"]
        for layer in layers:
            ss = [s for s in group if s["layer"] == layer]
            cells += [f"{sum(s['self_s'] for s in ss):.2f}",
                      str(sum(s["jobs"] for s in ss)), str(sum(s["tasks"] for s in ss))]
        return cells

    rows = [row(str(i), g) for i, g in enumerate(groups)]
    total = ["TOTAL", f"{sum(float(r[1]) for r in rows):.2f}"]
    for c in range(2, len(rows[0])):
        vals = [r[c] for r in rows]
        total.append(f"{sum(map(float, vals)):.2f}" if "." in vals[0] else str(sum(map(int, vals))))
    rows.append(total)
    head = ["run", "wall_s"] + [f"{l}.{k}" for l in layers for k in ("s", "jobs", "tasks")]
    print("| " + " | ".join(head) + " |")
    print("|" + "---|" * len(head))
    for r in rows:
        print("| " + " | ".join(r) + " |")


if __name__ == "__main__":
    main()
