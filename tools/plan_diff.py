#!/usr/bin/env python3
"""Compare the physical plans of two `runMain graft.ExplainQueries <sfDir>`
outputs, query by query.

For each query it compares the operator outline of `explain("formatted")`:
the plan tree (join strategies, Exchange and InMemoryRelation nodes
included) and the numbered `(n) Operator` header lines. Expression ids
(`#123`), plan ids and lambda variable names are masked, so two runs of
the same code compare equal. Prints a diff for every query whose outline
differs and exits 1 if any does.

    python3 tools/plan_diff.py BEFORE.txt AFTER.txt
"""
import difflib
import re
import sys

QUERY = re.compile(r"^========== (\S+) ==========$")
NODE = re.compile(r"^\(\d+\) ")
MASKS = [(re.compile(r"#\d+L?"), "#"), (re.compile(r"plan_id=\d+"), "plan_id"),
         (re.compile(r"\bx_\d+\b"), "x_"), (re.compile(r"@[0-9a-f]{4,}\b"), "@")]


def outlines(path):
    plans, name, in_tree = {}, None, False
    for raw in open(path, errors="replace"):
        line = re.sub(r"^\[(info|warn|error)\] ", "", raw.rstrip("\n"))
        m = QUERY.match(line)
        if m:
            name, in_tree = m.group(1), False
            plans[name] = []
            continue
        if name is None:
            continue
        if line == "== Physical Plan ==":
            in_tree = True
        elif NODE.match(line):
            in_tree = False
        elif not ((in_tree and line.strip()) or line.startswith("(failed")):
            continue
        for rx, rep in MASKS:
            line = rx.sub(rep, line)
        plans[name].append(line)
    return plans


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    before, after = outlines(sys.argv[1]), outlines(sys.argv[2])
    if not before:
        sys.exit(f"no queries found in {sys.argv[1]}")
    diffs = 0
    for name in sorted(set(before) | set(after)):
        if name not in before or name not in after:
            print(f"DIFF {name}: only in {'AFTER' if name in after else 'BEFORE'}")
            diffs += 1
        elif before[name] != after[name]:
            print(f"DIFF {name}:")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                before[name], after[name], "before", "after", lineterm="", n=1))
            diffs += 1
        else:
            print(f"same {name} ({len(before[name])} outline lines)")
    print(f"{diffs} of {len(set(before) | set(after))} queries differ")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
