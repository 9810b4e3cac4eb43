"""Tables for README.md from runs.jsonl: per workload, seed and trace flag,
each end-to-end (or per-layer) metric's median [q1, q3] and min-max per
side, the pairs the change wins on `ops_per_s`, and the median completion
interval of each dashboard request shape, pooled over a side's runs.

    python3 summary.py runs.jsonl
"""
import json
import statistics
import sys
from collections import defaultdict


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def main(path):
    runs = [json.loads(line) for line in open(path)]
    groups = defaultdict(list)
    for r in runs:
        groups[(r["workload"], r["seed"], r["trace"])].append(r)
    for (w, seed, trace), rs in groups.items():
        print("## %s seed %d trace %d: %d runs" % (w, seed, trace, len(rs)))
        by = {s: [r for r in rs if r["side"] == s and "result" in r] for s in ("parent", "change")}
        names = sorted(by["parent"][0]["result"]["metrics"]) if by["parent"] else []
        for m in names:
            cells = []
            for s in ("parent", "change"):
                xs = [r["result"]["metrics"][m]["value"] for r in by[s]]
                q1, med, q3 = quartiles(xs)
                cells.append("%.4g [%.4g, %.4g] (%.4g-%.4g)" % (med, q1, q3, min(xs), max(xs)))
            print("| `%s` | %s | %s |" % (m, cells[0], cells[1]))
        if not trace:
            pairs = defaultdict(dict)
            for s, xs in by.items():
                for r in xs:
                    pairs[r["pair"]][s] = r["result"]["metrics"]["ops_per_s"]["value"]
            wins = sum(p["change"] > p["parent"] for p in pairs.values() if len(p) == 2)
            print("ops_per_s: change higher in %d of %d pairs" % (wins, len(pairs)))
            failed = {s: sum(r["result"]["failed"] for r in xs) for s, xs in by.items()}
            print("failed ops: %s; checks: %s" % (failed, sorted({r.get("checks", "").split("mismatches: ")[-1]
                                                                   for r in rs})))
        shapes = defaultdict(lambda: defaultdict(list))
        for s, xs in by.items():
            for r in xs:
                for kind, q, n, med in r.get("interval_ms_by_request", []):
                    shapes[(kind, q)][s].append(med)
        for (kind, q), sides in sorted(shapes.items()):
            print("| %s | `%s` | %s | %s |" % (kind, q, *["%.1f (%.1f-%.1f)" % (statistics.median(v), min(v), max(v))
                                                          if v else "-" for v in (sides["parent"], sides["change"])]))
        print()


if __name__ == "__main__":
    main(sys.argv[1])
