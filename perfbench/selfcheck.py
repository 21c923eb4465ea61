"""Counter self-check: two traced runs of the same seed must report
identical deterministic counters (jobs, completed stages, shuffle
write and read bytes) for every span they share, per workload.

    python3 perfbench/selfcheck.py [--seed 1] [--seconds 1] [workload ...]

Spans are matched by (name, key, pass, occurrence). Prints one JSON
line per workload and exits 1 if any counter differs. For a span whose
counters differ, the line also names the jobs that ran in one run and
not in the other (by job name and description, ids and uuids masked)
and the stages whose shuffle bytes differ.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spine import DETERMINISTIC_KEYS  # noqa: E402


_IDS = re.compile(r"[0-9a-f]{8}-[0-9a-f-]{27}|\d+")


def _spans(path: str) -> dict:
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    out, occ = {}, {}
    for s in spans:
        base = (s["name"], s["key"], s["pass"])
        occ[base] = occ.get(base, 0) + 1
        out[(*base, occ[base])] = s
    return out


def _counters(span: dict) -> tuple:
    return tuple(span["counters"][k] for k in DETERMINISTIC_KEYS)


def _job_diff(a: dict, b: dict) -> dict:
    """Jobs of span ``a`` without a match in span ``b``, and the
    reverse, as masked "name | description" strings with counts."""
    def jobs(span):
        return Counter(_IDS.sub("#", f"{name} | {desc or ''}")
                       for _, name, desc in span.get("jobs", []))

    ja, jb = jobs(a), jobs(b)
    sa = {(sid, name): rest for sid, name, *rest in a.get("stages", [])}
    sb = {(sid, name): rest for sid, name, *rest in b.get("stages", [])}
    return {"only_in_1": dict(ja - jb), "only_in_2": dict(jb - ja),
            "stage_shuffle_bytes": [[*key, sa.get(key), sb.get(key)]
                                    for key in sorted(set(sa) | set(sb))
                                    if sa.get(key) != sb.get(key)]}


def check(workload: str, seed: int, seconds: float, out_dir: str) -> dict:
    runs = []
    for i in (1, 2):
        trace_file = os.path.join(out_dir, f"{workload}-{i}.json")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
             "--trace-file", trace_file],
            check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        runs.append(_spans(trace_file))
    shared = sorted(set(runs[0]) & set(runs[1]), key=str)
    diffs = []
    for k in shared:
        a, b = runs[0][k], runs[1][k]
        if _counters(a) != _counters(b):
            diffs.append({"span": list(k), **{
                name: [x, y] for name, x, y in
                zip(DETERMINISTIC_KEYS, _counters(a), _counters(b)) if x != y
            }, "jobs": _job_diff(a, b)})
    return {"workload": workload, "seed": seed, "spans_compared": len(shared),
            "mismatches": len(diffs), "diffs": diffs[:20]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workloads", nargs="*", default=["forecast_cycle", "dedup_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args()
    ok = True
    base = os.path.join(os.path.dirname(HERE), ".perfbench_out")
    os.makedirs(base, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=base) as out_dir:
        for wl in args.workloads:
            res = check(wl, args.seed, args.seconds, out_dir)
            ok &= res["mismatches"] == 0 and res["spans_compared"] > 0
            print(json.dumps(res), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
