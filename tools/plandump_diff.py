#!/usr/bin/env python3
"""Compare two PlanDump outputs query by query, ignoring per-run tokens.

Usage: tools/plandump_diff.py <a> <b>

<a> and <b> are stdout captures of
`graft.tools.PlanDump <sfDir> [query...]`: one executed physical plan per
`######## <query>` header. Before comparing, both sides drop the tokens
that differ between two runs of the same code:

- expression ids (`q_id#123L` -> `q_id#L`)
- the counters of generated lambda-variable names (`lambda x_12#` ->
  `lambda x_<n>#`) and of common subexpressions (`_common_expr_2#`),
  which depend on how many were made before
- `plan_id=<n>`
- the `-p<pid>` suffix of scratch directories
- commit and part file names under a scratch directory, also a part file
  named after its commit (and the tail of a scratch path that Spark
  truncated with `...`)
- `$Lambda$<n>/0x<addr>@<hash>` of lambda-backed nodes
- `Broadcast(<id>)`

Prints a unified diff per differing query (and any query present on one
side only) and exits 1 on any difference, 0 when every plan matches.
"""
import difflib
import re
import sys

REWRITES = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_<n>#"),
    (re.compile(r"_common_expr_\d+#"), "_common_expr_<n>#"),
    (re.compile(r"plan_id=\d+"), "plan_id=<n>"),
    (re.compile(r"(/graft-[\w.]+-[0-9a-f]+)-p\d+"), r"\1-p<pid>"),
    # a location Spark cut short ends wherever the pid's width puts the cut
    (re.compile(r"(/graft-[^\s,\]]*/)[^/\s,\]]*\.\.\."), r"\1..."),
    (re.compile(r"(/graft-[^\s,\]]*?/)(v\d+)-[0-9a-f]{8}"), r"\1\2-<commit>"),
    (re.compile(r"(/graft-[^\s,\]]*?/)part-[^/\s,\]]*"), r"\1part-<file>"),
    # a part file named after its commit (`v1-<commit>-0-part-00000-<uuid>`)
    (re.compile(r"(/graft-[^\s,\]]*?/v\d+-<commit>-\d+-)part-[^/\s,\]]*"),
     r"\1part-<file>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda$<n>"),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast(<id>)"),
]


def normalize(line):
    for pat, repl in REWRITES:
        line = pat.sub(repl, line)
    return line


def sections(path):
    """{query: [normalized plan lines]} in file order."""
    out, name = {}, None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("######## "):
                name = line[len("######## "):].strip()
                out[name] = []
            elif name is not None:
                out[name].append(normalize(line))
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = sections(argv[1]), sections(argv[2])
    differing = 0
    for q in list(a) + [q for q in b if q not in a]:
        if q not in a or q not in b:
            differing += 1
            print(f"######## {q}: only in {argv[1] if q in a else argv[2]}")
            continue
        if a[q] != b[q]:
            differing += 1
            print(f"######## {q}")
            sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                a[q], b[q], argv[1], argv[2], lineterm="", n=1))
    print(f"{len(set(a) | set(b))} queries, {differing} differ")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
