#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps with the run-to-run noise masked.

    tools/plan_diff.py PARENT.txt CHANGE.txt [KEY ...]
    tools/plan_diff.py --self DUMP.txt [KEY ...]

A dump is what `tools/run.sh graft.Explain [KEY ...]` prints: one
`========== <key> ==========` header per plan. Before comparing, each
plan is normalized: expression ids (`#1234`), `plan_id`s, whole-stage
codegen ids (`*(3)`, `[codegen id : 3]`), JVM lambda class names,
higher-order-function variable names (`lambda x_632`),
object hashes, RDD ids, Scala source line numbers and `graft_<pid>`
scratch paths are masked, so two runs of the same plan compare equal.

The two-dump form prints a unified diff per key whose plan differs and
names the keys found in only one dump. `--self` checks one dump whose
keys repeat (e.g. one key explained six times in one JVM) and prints
the diff of every repeat that differs from the key's first plan. KEY
arguments restrict the check to those keys. Exits 1 on any difference.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
MASKS = [
    (re.compile(r"\S*\$Lambda[^\s,)\]]*"), "<lambda>"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"WholeStageCodegen \(\d+\)"), "WholeStageCodegen (N)"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"graft_\d+"), "graft_<pid>"),
]


def normalize(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line.rstrip()


def sections(path):
    """[(key, normalized plan lines)] in dump order; a dump with no
    headers is one plan under the key ''."""
    out, key, lines = [], "", []
    with open(path) as f:
        for raw in f:
            m = HEADER.match(raw.rstrip("\n"))
            if m:
                if key or trim(lines):
                    out.append((key, lines))
                key, lines = m.group(1), []
            else:
                lines.append(normalize(raw))
    if key or trim(lines):
        out.append((key, lines))
    return [(k, trim(ls)) for k, ls in out]


def trim(lines):
    while lines and not lines[0]:
        lines = lines[1:]
    while lines and not lines[-1]:
        lines = lines[:-1]
    return lines


def show(a, b, name_a, name_b):
    sys.stdout.writelines(
        l + "\n" for l in difflib.unified_diff(a, b, name_a, name_b, lineterm=""))


def main(argv):
    if len(argv) >= 2 and argv[0] == "--self":
        path, keys = argv[1], set(argv[2:])
        first, differ = {}, 0
        for i, (k, ls) in enumerate(sections(path)):
            if keys and k not in keys:
                continue
            if k not in first:
                first[k] = ls
            elif ls != first[k]:
                differ += 1
                print(f"DIFF {k} (repeat at section {i})")
                show(first[k], ls, f"{k} first", f"{k} section {i}")
        print(f"{len(first)} key(s), {differ} differing repeat(s)")
        return 1 if differ else 0
    if len(argv) < 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    keys = set(argv[2:])
    a = {k: ls for k, ls in sections(argv[0]) if not keys or k in keys}
    b = {k: ls for k, ls in sections(argv[1]) if not keys or k in keys}
    differ = 0
    for k in sorted(a.keys() | b.keys()):
        if k not in b or k not in a:
            differ += 1
            print(f"ONLY IN {argv[0] if k in a else argv[1]}: {k}")
        elif a[k] != b[k]:
            differ += 1
            print(f"DIFF {k}")
            show(a[k], b[k], f"{argv[0]}:{k}", f"{argv[1]}:{k}")
    same = len(a.keys() & b.keys()) - sum(
        1 for k in a.keys() & b.keys() if a[k] != b[k])
    print(f"{same} identical, {differ} differing or missing")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
