#!/usr/bin/env python3
"""Compare the joins of two PlanDump directories.

    python3 tools/plan_joins.py DIR_A DIR_B

Each directory holds one `explain("formatted")` file per query, as written
by `graft.PlanDump <sf-dir> <out-dir>`. For every query, the joins are read
from the plan's tree sketch as a multiset of (operator, join type, build
side). A query whose multisets differ is printed with both; the last line
is the count of queries that differ. A query whose file exists on one side
only counts as differing.
"""
import re
import sys
from collections import Counter
from pathlib import Path

JOIN = re.compile(
    r"^[\s:|+*-]*(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)\b(.*?)\s*\(\d+\)\s*$")


def joins(path: Path) -> Counter:
    out = Counter()
    for line in path.read_text().splitlines():
        m = JOIN.match(line)
        if not m:
            continue
        words = m.group(2).split()
        build = next((w for w in words if w.startswith("Build")), "-")
        kind = " ".join(w for w in words if not w.startswith("Build")) or "-"
        out[(m.group(1), kind, build)] += 1
    return out


def show(c: Counter) -> str:
    if not c:
        return "(no joins)"
    return ", ".join(f"{n}x {op} {kind} {build}" for (op, kind, build), n in sorted(c.items()))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = Path(sys.argv[1]), Path(sys.argv[2])
    names = sorted({p.stem for p in a.glob("*.txt")} | {p.stem for p in b.glob("*.txt")})
    differ = 0
    for name in names:
        pa, pb = a / f"{name}.txt", b / f"{name}.txt"
        ja = joins(pa) if pa.is_file() else None
        jb = joins(pb) if pb.is_file() else None
        if ja == jb:
            continue
        differ += 1
        print(name)
        print(f"  A: {show(ja) if ja is not None else '(no plan)'}")
        print(f"  B: {show(jb) if jb is not None else '(no plan)'}")
    print(f"{differ} of {len(names)} queries differ")


if __name__ == "__main__":
    main()
