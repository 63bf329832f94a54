#!/usr/bin/env python3
"""Compare two `graft.DumpPlans` outputs query by query.

Usage:
    python3 dev/plan_diff.py BEFORE.md AFTER.md

Each `## <query>` section's physical plan is normalized before the
comparison, so only a change of plan shape or expressions shows:

- expression ids (`qid#123L`, `[id=#45]`) lose their number;
- `plan_id=` tags and RDD ids (`MapPartitionsRDD[77]`) lose theirs;
- call sites keep the file name but lose the line (`SimilarityOps.scala:N`);
- UUIDs, the digits in temp paths (`/tmp/graft_probepairs123…`,
  `graft_sig_dump_<pid>`) and the identity hashes of array literals
  (`[D@6eaa5458`, a kernel's reference object) are masked;
- so are the identity hashes of objects named by class (a UDAF's
  `SumOfSquaresLong$@30c562b6`) and a lambda's number and address
  (`MultimodalOps$$$Lambda$6030/0x00007fc4e5622f40@5ca69552`).

Prints one line per query (`same`, `DIFFERS`, `only in BEFORE`/`only in
AFTER`) and a unified diff of each differing plan. Exits 1 if
any query differs or is missing on one side, else 0.
"""
import argparse
import difflib
import re
import sys

SECTION = re.compile(r"^## (\S+)\s*$")
JARRAY = re.compile(r"(\[+(?:[ZBCSIJFD]|L[\w.$]+;))@[0-9a-f]+")
LAMBDA = re.compile(r"\$\$Lambda\$\d+")
OBJREF = re.compile(r"\b((?:[A-Za-z_][\w$]*\.)+[A-Za-z_][\w$]*)(?:/0x[0-9a-f]+)?@[0-9a-f]+\b")
UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
PATH = re.compile(r"(?:file:)?/(?:tmp|var|private)/[^\s,\]\)]+")


def _mask_path(m):
    return re.sub(r"\d+", "<n>", m.group(0))


def normalize(line):
    line = UUID.sub("<uuid>", line)
    line = JARRAY.sub(r"\1@<ref>", line)
    line = LAMBDA.sub("$$Lambda", line)
    line = OBJREF.sub(r"\1@<ref>", line)
    line = PATH.sub(_mask_path, line)
    line = re.sub(r"#\d+", "#", line)
    line = re.sub(r"plan_id=\d+", "plan_id=", line)
    line = re.sub(r"RDD\[\d+\]", "RDD[]", line)
    line = re.sub(r"\.scala:\d+", ".scala:N", line)
    return line.rstrip()


def sections(path):
    """{query: [normalized plan lines]} in file order."""
    out = {}
    name = None
    in_code = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            m = SECTION.match(raw)
            if m:
                name, in_code = m.group(1), False
                out[name] = []
                continue
            if name is None:
                continue
            if raw.startswith("```"):
                in_code = not in_code
                continue
            if in_code:
                out[name].append(normalize(raw))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    args = ap.parse_args()

    a, b = sections(args.before), sections(args.after)
    names = list(a) + [n for n in b if n not in a]
    bad = 0
    for n in names:
        if n not in b:
            print(f"{n}: only in BEFORE")
            bad += 1
        elif n not in a:
            print(f"{n}: only in AFTER")
            bad += 1
        elif a[n] == b[n]:
            print(f"{n}: same")
        else:
            bad += 1
            print(f"{n}: DIFFERS")
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    a[n], b[n], f"before/{n}", f"after/{n}", n=3, lineterm=""))
    print(f"{len(names) - bad}/{len(names)} same")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
