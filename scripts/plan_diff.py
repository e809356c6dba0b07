#!/usr/bin/env python3
"""Compare two `graft.PlanDump` output directories, query by query.

Usage: python3 scripts/plan_diff.py <dirA> <dirB>

PlanDump writes one `<query>_<suffix>.txt` file per catalog query
(`runMain graft.PlanDump <outDir> <suffix>`). Files pair up by query
name, so the two directories may use different suffixes. Before
comparing, each plan drops what differs between two runs of the same
code:

- expression ids (`doc_id#19449L`) and exchange ids (`plan_id=117967`);
- RDD ids (`MapPartitionsRDD[3518]`) and call-site line numbers
  (`localCheckpoint at Dedup.scala:264`);
- lambda class names (`Multimodal$$$Lambda$4979/0x...@2c5dfc9b`);
- JVM identity hashes of literals (`UnsafeArrayData@7a50b5f7`, `[B@1be49fb9`);
- the warehouse path prefix (`file:/.../spark-warehouse`), which follows
  the working directory of the run.

Prints the queries whose normalized plans differ (plus any query dumped
on one side only) and exits 1 if there is any; exits 0 when every plan
matches.
"""
import re
import sys
from pathlib import Path

RULES = [
    (re.compile(r"\$+Lambda[$\w]*/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"(?<=[\w;$\]])@[0-9a-f]{4,8}\b"), "@H"),
    (re.compile(r"(?:file:)?[^\s\[\],]*/spark-warehouse"), "<warehouse>"),
]


def normalize(text: str) -> str:
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def plans(d: Path) -> dict:
    out = {}
    for f in sorted(d.glob("*.txt")):
        query = re.sub(r"_[^_]+$", "", f.stem)
        out[query] = normalize(f.read_text())
    return out


def main() -> int:
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = (plans(Path(p)) for p in sys.argv[1:3])
    if not a or not b:
        print("no plan files in one of the directories", file=sys.stderr)
        return 2
    only = sorted(set(a) ^ set(b))
    differ = sorted(q for q in set(a) & set(b) if a[q] != b[q])
    for q in only:
        print(f"{q}: only in {sys.argv[1] if q in a else sys.argv[2]}")
    for q in differ:
        print(f"{q}: plan differs")
    print(f"{len(set(a) & set(b))} compared, {len(differ)} differ, "
          f"{len(only)} unpaired")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main())
