#!/usr/bin/env python3
"""Compare two physical-plan dumps written by `graft.Diag explain`.
Usage: plan_diff.py <a.txt> <b.txt>

Each dump is the sbt output of
  sbt -batch "runMain graft.Diag explain <sfDir> [query ...]" > a.txt
(stdout; Spark's forwarded log lines are skipped). The plans are split at
Diag's "===...=== <query> ===...===" banners (21 '=' a side) and normalised
before comparing:
  - expression ids: name#123 / name#123L -> name#N / name#NL
  - exchange ids: plan_id=123 -> plan_id=N, [id=#123] -> [id=#N]
  - subquery ids: subquery#123 -> subquery#N
  - checkpointed scans: MapPartitionsRDD[12] at localCheckpoint at Ann.scala:531
    -> MapPartitionsRDD[N] at localCheckpoint at Ann.scala:N (the RDD id
    counts the session's earlier RDDs, and the call site's line moves with
    any edit above it; neither is part of the plan)
  - higher-order functions: lambda x_126 -> lambda x_N (a JVM-wide counter)
  - Scala function objects: Foo$$$Lambda$5806/0x00007f..@31e565ca ->
    Foo$$$Lambda/N (the class number and the object hash vary per JVM)
  - staged inputs: file:/path/to/checkout/target/stage/... ->
    file:<checkout>/target/stage/... (each checkout stages under its own
    working directory)

Prints each query whose normalised plan differs, with its differing lines
("-" from a, "+" from b), the queries only one dump holds, and a summary
line. Exits 1 on any difference, 0 when every plan is the same.
"""
import difflib
import re
import sys

BANNER = re.compile(r"^={21} (\S+) ={21}$")  # Diag's banner, not Spark's "===== Subqueries ====="
NORMALISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(r"\$Lambda[$\d]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda/N"),
    (re.compile(r"file:\S*?/target/stage/"), "file:<checkout>/target/stage/"),
]


def plans(path):
    """query name -> normalised plan lines, in dump order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if not line.startswith("[info] "):
                continue  # sbt status and Spark's log lines
            line = line[len("[info] "):]
            m = BANNER.match(line.strip())
            if m:
                cur = out.setdefault(m.group(1), [])
                continue
            if cur is None:
                continue
            for pat, rep in NORMALISE:
                line = pat.sub(rep, line)
            cur.append(line)
    # drop trailing blank lines so a dump's last query compares like the rest
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = plans(sys.argv[1]), plans(sys.argv[2])
    only_a = sorted(a.keys() - b.keys())
    only_b = sorted(b.keys() - a.keys())
    changed = []
    for name in sorted(a.keys() & b.keys()):
        if a[name] == b[name]:
            continue
        changed.append(name)
        print(f"CHANGED {name}")
        for d in difflib.unified_diff(a[name], b[name], lineterm="", n=0):
            if d.startswith(("---", "+++", "@@")):
                continue
            print(f"  {d}")
    for n in only_a:
        print(f"ONLY_A {n}")
    for n in only_b:
        print(f"ONLY_B {n}")
    print(f"{len(a)} vs {len(b)} plans: {len(changed)} changed, "
          f"{len(only_a)} only in a, {len(only_b)} only in b")
    sys.exit(1 if changed or only_a or only_b else 0)


if __name__ == "__main__":
    main()
