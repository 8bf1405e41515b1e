#!/usr/bin/env python3
"""Per-op summary of an rqbench span file, or a comparison of two.

    python3 tools/span_summary.py .bench_build/rqbench/traces/<run>.spans.jsonl
    python3 tools/span_summary.py <parent>.spans.jsonl <change>.spans.jsonl

A traced rqbench run (`--trace 1`) writes one JSON span per line: an op
span (`op <kind>`, parent 0), its phase spans (`build`, `plan`, `execute`,
...), and under each phase the Spark jobs it started (`job N`), each with
its stages (`stage N`, carrying `tasks` and `rows_read`). This prints, per
op kind, the number of traced ops and the median over them of: wall ms,
ms in each phase (summed when a phase repeats within an op), Spark jobs,
tasks, and rows read.

Given two span files, the first from a run of the parent and the second
from a run of the change, it prints one line per op kind and column:
the parent's median, the change's, and their ratio (change / parent).
"""
import json
import statistics
import sys
from collections import defaultdict

PHASES = ("build", "plan", "execute")


def summarize(lines):
    spans = [json.loads(l) for l in lines if l.strip()]
    by_id = {s["id"]: s for s in spans}
    ops = {s["id"]: s for s in spans if s["parent"] == 0 and s["name"].startswith("op ")}

    def op_of(span):
        while span["parent"] != 0:
            span = by_id.get(span["parent"])
            if span is None:
                return None
        return span["id"] if span["id"] in ops else None

    per_op = {i: defaultdict(float) for i in ops}
    for s in spans:
        if s["id"] in ops:
            continue
        op = op_of(s)
        if op is None:
            continue
        acc = per_op[op]
        name = s["name"]
        if name.startswith("job "):
            acc["jobs"] += 1
        elif name.startswith("stage "):
            acc["tasks"] += s.get("tasks", 0)
            acc["rows"] += s.get("rows_read", 0)
        elif by_id[s["parent"]]["id"] == op:
            acc[name] += s["wall_ms"]

    kinds = defaultdict(list)
    for i, op in ops.items():
        kinds[op["name"][3:]].append((op["wall_ms"], per_op[i]))
    return kinds


COLUMNS = ("ops", "wall_ms") + tuple(p + "_ms" for p in PHASES) + ("jobs", "tasks", "rows_read")


def medians(kinds):
    """Per op kind, the values of COLUMNS: the op count, then medians."""
    med = lambda xs: statistics.median(xs) if xs else 0.0
    out = {}
    for kind, ops in kinds.items():
        vals = [len(ops), med([w for w, _ in ops])]
        vals += [med([a[p] for _, a in ops]) for p in PHASES]
        vals += [med([a[k] for _, a in ops]) for k in ("jobs", "tasks", "rows")]
        out[kind] = vals
    return out


def load(path):
    with open(path) as f:
        return medians(summarize(f))


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    if len(argv) == 2:
        table = load(argv[1])
        print("%-12s" % "kind" + "".join("%11s" % c for c in COLUMNS))
        for kind in sorted(table):
            vals = table[kind]
            print("%-12s" % kind + "%11d" % vals[0] + "".join("%11.1f" % v for v in vals[1:]))
        return 0
    parent, change = load(argv[1]), load(argv[2])
    print("%-12s%-11s%11s%11s%9s" % ("kind", "column", "parent", "change", "ratio"))
    for kind in sorted(set(parent) | set(change)):
        p = parent.get(kind, [0.0] * len(COLUMNS))
        c = change.get(kind, [0.0] * len(COLUMNS))
        for name, a, b in zip(COLUMNS, p, c):
            ratio = "%9.2f" % (b / a) if a else "%9s" % "-"
            print("%-12s%-11s%11.1f%11.1f%s" % (kind, name, a, b, ratio))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
