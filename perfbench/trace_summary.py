#!/usr/bin/env python3
"""Per-layer table from the span files of traced runs.

    python3 perfbench/trace_summary.py .bench_build/perfbench/trace/*.jsonl

For each span: self time, wall time, the counts recorded at its boundary,
Spark shuffle/spill MB, task skew (max/median task time of its heaviest
stage) and busy_frac (summed task time / (wall x 3 task threads)). The last lines
give the staged-vs-fused round digest verdict and tracing.overhead_frac.
"""

import json
import sys


def table(path):
    spans, notes = [], {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            if rec["name"] == "summary":
                notes = rec["notes"]
            else:
                spans.append(rec)
    run = spans[0]["run"] if spans else path
    out = [f"== {run}",
           f"{'span':<26}{'self_s':>9}{'wall_s':>9}{'shuf_mb':>9}{'spill_mb':>9}"
           f"{'skew':>7}{'busy':>7}  counts"]
    depth = {}
    for s in spans:
        depth[s["id"]] = depth.get(s["parent"], -1) + 1
        name = "  " * depth[s["id"]] + s["name"]
        counts = " ".join(f"{k}={v:g}" for k, v in s["counts"].items())
        out.append(f"{name:<26}{s['self_s']:9.3f}{s['wall_s']:9.3f}"
                   f"{s['shuffle_write_mb']:9.2f}{s['spill_mb']:9.2f}"
                   f"{s['task_skew']:7.2f}{s['busy_frac']:7.2f}  {counts}")
    out.append(f"staged vs fused round digest: {notes.get('staged_vs_fused_digest', 'n/a')}")
    overhead = notes.get("tracing.overhead_frac")
    out.append("tracing.overhead_frac: " + ("n/a" if overhead is None else f"{overhead:+.3f}"))
    problems = notes.get("problems") or []
    out.append("cross-checks: " + ("PASS" if not problems else "FAIL: " + "; ".join(problems)))
    return "\n".join(out)


def main(paths):
    if not paths:
        sys.exit(__doc__)
    print("\n\n".join(table(p) for p in paths))


if __name__ == "__main__":
    main(sys.argv[1:])
