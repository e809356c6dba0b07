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
  the working directory of the run;
- the order of a distinct-aggregate `Expand`'s groups and columns. Spark
  orders them by a hash of the expressions, and expression ids come from
  one JVM-wide counter, so one query's plan depends on how many
  expressions the queries before it in the same JVM made. Each such
  `Expand` is put in column-name order: its rows, its `gid` numbers (and
  every `gid = k` that reads them), and each list that holds exactly its
  output columns.

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


EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], \[(.*)\]$")


def split_items(s: str) -> list:
    """Split a comma-separated list at the top level of its brackets."""
    items, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


def closing(s: str, i: int) -> int:
    """Index of the bracket that closes the one at `i`."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "([{":
            depth += 1
        elif s[j] in ")]}":
            depth -= 1
            if depth == 0:
                return j
    return len(s) - 1


def reorder_lists(s: str, rank: dict) -> str:
    """Put each bracketed list whose items name every column of `rank`,
    one column per item, in rank order; items that name no column keep
    their places (a partition count, say)."""
    pats = {c: re.compile(r"(?<![\w.])" + re.escape(c) + r"(?![\w])")
            for c in rank}
    out, i = [], 0
    while i < len(s):
        if s[i] not in "([":
            out.append(s[i])
            i += 1
            continue
        j = closing(s, i)
        items = split_items(s[i + 1:j])
        refs = [[c for c, p in pats.items() if p.search(it)] for it in items]
        named = [k for k, r in enumerate(refs) if r]
        if (all(len(refs[k]) == 1 for k in named) and
                sorted(refs[k][0] for k in named) == sorted(rank)):
            ordered = sorted(named, key=lambda k: rank[refs[k][0]])
            new = list(items)
            for slot, k in zip(named, ordered):
                new[slot] = items[k]
            items = new
        items = [reorder_lists(it, rank) for it in items]
        out.append(s[i] + ", ".join(items) + s[j])
        i = j + 1
    return "".join(out)


def canonical_expands(text: str) -> str:
    """Put each distinct-aggregate Expand (rows `[..., gid]`, outputs
    `[..., gid#id]`) in column-name order, relabel its gids to match,
    and reorder the lists that carry its output columns."""
    lines = text.split("\n")
    for n, line in enumerate(lines):
        m = EXPAND_ARGS.match(line)
        if not m or n < 2 or "Expand" not in lines[n - 2]:
            continue
        rows = [split_items(r.strip("[]")) for r in split_items(m.group(1))]
        outs = split_items(m.group(2))
        if (not outs[-1].startswith("gid#") or
                not all(len(r) == len(outs) and r[-1].isdigit() for r in rows)):
            continue
        cols = outs[:-1]
        perm = sorted(range(len(cols)),
                      key=lambda k: (re.sub(r"#\d+", "", cols[k]), k))
        rows = [[r[k] for k in perm] + [r[-1]] for r in rows]
        rows.sort(key=lambda r: [re.sub(r"#\d+", "", x) for x in r[:-1]])
        gids = sorted((r[-1] for r in rows), key=int)
        relabel = {r[-1]: g for r, g in zip(rows, gids)}
        rows = [r[:-1] + [relabel[r[-1]]] for r in rows]
        lines[n] = ("Arguments: [" +
                    ", ".join("[" + ", ".join(r) + "]" for r in rows) +
                    "], [" + ", ".join([cols[k] for k in perm] + [outs[-1]]) +
                    "]")
        gid = re.escape(outs[-1])
        rank = {c: i for i, c in enumerate([cols[k] for k in perm] + [outs[-1]])}
        for k, other in enumerate(lines):
            if k != n:
                other = re.sub(r"(?<![\w.])(" + gid + r" = )(\d+)",
                               lambda g: g.group(1) + relabel.get(
                                   g.group(2), g.group(2)), other)
                lines[k] = reorder_lists(other, rank)
    return "\n".join(lines)


def normalize(text: str) -> str:
    text = canonical_expands(text)
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
