#!/usr/bin/env python3
"""Compare two PlanDump sweeps after normalising what varies between runs.

Each side is one or more directories written by `graft.PlanDump`, one file
per query named `<query>_<suffix>.txt` (the suffix is the text after the
last underscore and is ignored). Before comparing, every dump is normalised:
expression ids (`#123`), plan ids (`plan_id=45`), RDD ids (`RDD[678]`),
lambda and object hash codes, source line numbers, the checkout path, the
snapshot metadata-format dir suffix (`-m2`) and the file lists of file
indexes. A query is reported as changed only if some new dump matches none
of the parent's dumps, so a plan that varies between JVMs (a distinct
aggregate's group numbering, say) reads as unchanged once each side has
dumped enough JVMs to show its variants.

Usage:
  python3 scripts/plan_diff.py --parent DIR [DIR ...] --new DIR [DIR ...]
      [--checkout PATH ...] [--diff]

`--checkout` names extra checkout roots to fold into one token (the repo
this script lives in is always folded). `--diff` prints a unified diff of
each changed plan against the parent's first dump. Exit status is 0 when
no plan changed and no query is missing on either side, else 1.
"""
import argparse
import difflib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"_gen_alias_\d+"), "_gen_alias_N"),
    (re.compile(r"Lambda\$\d+"), "Lambda$N"),
    (re.compile(r"0x[0-9a-fA-F]+"), "0xH"),
    (re.compile(r"@[0-9a-fA-F]{4,}\b"), "@H"),
    (re.compile(r"\.(scala|java):\d+"), r".\1:N"),
    (re.compile(r"-m\d+(?=[-/\s\],)]|$)", re.M), "-mN"),
]

# `InMemoryFileIndex [a, b]`, `InMemoryFileIndex(3 paths)[a, b, c]` and the
# like: listing order is the file system's, so keep the entries sorted; a
# listing Spark truncated ("a, b, ...") keeps only its `(N paths)` count.
_INDEX = re.compile(r"(\w*FileIndex(?:\(\d+ paths?\))?\s?)\[([^\[\]]*)\]")


def _index_listing(m):
    if "..." in m.group(2):
        return m.group(1) + "[...]"
    entries = [e.strip() for e in m.group(2).split(",")]
    return "%s[%s]" % (m.group(1), ", ".join(sorted(entries)))


def normalise(text, checkouts):
    for root in sorted(checkouts, key=len, reverse=True):
        text = text.replace(root.rstrip("/"), "<CHECKOUT>")
    for rx, rep in _RULES:
        text = rx.sub(rep, text)
    return _INDEX.sub(_index_listing, text)


def load(dirs, checkouts):
    """query -> its normalised dumps, one per file, over all `dirs`."""
    out = {}
    for d in dirs:
        for name in sorted(os.listdir(d)):
            if not name.endswith(".txt") or "_" not in name:
                continue
            query = name[:-len(".txt")].rsplit("_", 1)[0]
            with open(os.path.join(d, name), encoding="utf-8") as f:
                out.setdefault(query, []).append(normalise(f.read(), checkouts))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    ap.add_argument("--checkout", nargs="*", default=[])
    ap.add_argument("--diff", action="store_true")
    args = ap.parse_args(argv)
    checkouts = [REPO] + args.checkout
    parent = load(args.parent, checkouts)
    new = load(args.new, checkouts)

    changed = [q for q in sorted(parent.keys() & new.keys())
               if any(n not in parent[q] for n in new[q])]
    only_parent = sorted(parent.keys() - new.keys())
    only_new = sorted(new.keys() - parent.keys())
    same = len(parent.keys() & new.keys()) - len(changed)

    print("plans compared: %d, unchanged: %d, changed: %d"
          % (len(parent.keys() & new.keys()), same, len(changed)))
    for q in changed:
        print("CHANGED", q)
        if args.diff:
            n = next(n for n in new[q] if n not in parent[q])
            sys.stdout.writelines(difflib.unified_diff(
                parent[q][0].splitlines(True), n.splitlines(True),
                "parent/" + q, "new/" + q))
    for q in only_parent:
        print("MISSING in new:", q)
    for q in only_new:
        print("MISSING in parent:", q)
    return 1 if changed or only_parent or only_new else 0


if __name__ == "__main__":
    sys.exit(main())
