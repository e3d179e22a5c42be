#!/usr/bin/env python3
"""Compare two oracle_sql.json files written by graft.Verify.
Usage: oracle_diff.py <a/oracle_sql.json> <b/oracle_sql.json>

Prints the query names that b adds, removes or changes relative to a, and a
summary line. Exits 1 on any difference, 0 when both hold the same
name -> SQL pairs.

To dump only oracle_sql.json, let Verify select no query:
  SPARK_GRAFT_ONLY=__none__ sbt -batch "runMain graft.Verify <sfDir> <outDir>"
"""
import json
import sys

if len(sys.argv) != 3:
    sys.exit(__doc__)
a = json.load(open(sys.argv[1]))
b = json.load(open(sys.argv[2]))
added = sorted(b.keys() - a.keys())
removed = sorted(a.keys() - b.keys())
changed = sorted(n for n in a.keys() & b.keys() if a[n] != b[n])
for tag, names in (("ADDED", added), ("REMOVED", removed), ("CHANGED", changed)):
    for n in names:
        print(f"{tag} {n}")
print(f"{len(a)} vs {len(b)} oracles: {len(added)} added, {len(removed)} removed, "
      f"{len(changed)} changed")
sys.exit(1 if added or removed or changed else 0)
