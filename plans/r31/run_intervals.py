#!/usr/bin/env python3
"""Median completion interval per request shape for one perfbench run.

    python3 run_intervals.py <checkout> --workload dashboard --seed 3 --seconds 8 --trace 0

Runs `<checkout>/perfbench/run.py` unchanged, with the arguments after the
checkout, so its output is run.py's own. It then prints one more line: in
the run's measured (untraced) window, the median interval (ms) between
consecutive completions, keyed by the shape of the request that completed
second, with the event-type selector written `sel`.
"""
import json
import os
import re
import statistics
import sys

checkout = os.path.abspath(sys.argv[1])
sys.argv = [os.path.join(checkout, "perfbench", "run.py")] + sys.argv[2:]
sys.path.insert(0, os.path.dirname(sys.argv[0]))
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import run  # noqa: E402

seen = {}
jvm = run.run_jvm


def run_jvm(classes, workload, work, *rest, **kw):
    r = seen["result"] = jvm(classes, workload, work, *rest, **kw)
    with open(os.path.join(work, "requests.json")) as f:  # removed once run.py's main returns
        seen["requests"] = json.load(f)["requests"]
    return r


run.run_jvm = run_jvm
run.main()

seq = seen["requests"]
ordered = sorted(seen["result"]["window"]["ops"], key=lambda o: o["end_s"])
by_req = {}
for o0, o1 in zip(ordered, ordered[1:]):
    q = seq[o1["index"] % len(seq)]
    key = re.sub(r'events\{event_type="[^"]*"\}', "sel", q.get("query") or q["url"].split("?")[0])
    by_req.setdefault((q["kind"], key), []).append(1000 * (o1["end_s"] - o0["end_s"]))
print("interval ms by request: " + json.dumps(
    [[k, q, len(v), round(statistics.median(v), 2)] for (k, q), v in sorted(by_req.items())]))
