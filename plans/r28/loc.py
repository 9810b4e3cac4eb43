#!/usr/bin/env python3
"""Non-blank, non-comment line counts of the store files.

    python3 plans/r28/loc.py [checkout]

Blank lines, `//` lines and `/* ... */` blocks (scaladoc included) are not
counted. Search.scala is counted whole.
"""
import os
import sys

FILES = [
    "sources/StoreOps.scala", "llm/AnnIndex.scala", "llm/CentroidStore.scala",
    "llm/DedupIndex.scala", "llm/SubstrIndex.scala", "llm/SketchStore.scala",
    "llm/Search.scala", "sources/RollupStore.scala", "sources/MergeStore.scala",
]


def count(path):
    n, in_block = 0, False
    for line in open(path, encoding="utf-8"):
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                rest = s.split("*/", 1)[1].strip()
                if rest and not rest.startswith("//"):
                    n += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            if "*/" not in s:
                in_block = True
            elif s.split("*/", 1)[1].strip():
                n += 1
            continue
        n += 1
    return n


root = os.path.join(sys.argv[1] if len(sys.argv) > 1 else ".", "src/main/scala/graft")
total = 0
for f in FILES:
    c = count(os.path.join(root, f))
    total += c
    print("%6d  %s" % (c, f))
print("%6d  total" % total)
