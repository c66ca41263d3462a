#!/usr/bin/env python3
"""Compare two `graft.ExplainPlans` logs query by query.

    python3 tools/plan_diff.py BEFORE.log AFTER.log [--root BEFORE_DIR --root AFTER_DIR]

Each log is the captured output of
`sbt -batch "runMain graft.ExplainPlans <sfDir> [query ...]"`, one per
checkout. Lines outside the `[info] ` stdout stream (Spark's stderr log,
sbt's `[error]`/`[warn]`/`[success]` lines) are dropped, and the rest is
split into one block per `========== <query> ==========` header.

Before comparing, every line is normalized so that only plan changes
remain:

- expression ids `name#123L` and `plan_id=45`;
- lambda variable names `lambda x_12`;
- RDD ids `MapPartitionsRDD[202]`;
- JVM lambda and object addresses `$Lambda$5860/0x00007f...@42c82f73`;
- versioned table names `graft_nd_pairs__v2` (the version counts
  earlier writes to the warehouse);
- the checkout path (read from sbt's "set current project ... (in build
  file:<path>)" line, or given with `--root`);
- call sites `at Rank.scala:89` in RDD names (they move with any edit
  above the call site, and name the operator that created the RDD).

A query whose blocks still differ is then compared once more with the
detail lines of its Expand, HashAggregate and Exchange nodes loosened:
the items of every `[...]` list and `hashpartitioning(...)` argument
list sorted, and the Expand grouping ids masked. Every other line must
still match exactly. If that makes the blocks equal, the difference is
only an order of grouping columns: an Expand/Aggregate that rewrites
several distinct aggregates orders its grouping columns by
expression-id hashes, which depend on how many expressions earlier
queries in the same run built (seen on q89_profile and
q219_threshold_sweep). Such queries are listed as "order-only"; rerun
each alone on both checkouts (`... ExplainPlans <sfDir> <query>`),
where it must match.

Prints a summary, then a unified diff (at most 80 lines) of each changed
query. Exits 1 if any query changed or is missing on one side, else 0.
"""
import argparse
import difflib
import re
import sys

GID = re.compile(r"gid#N = \d+")
INT = re.compile(r"-?\d+")
HEADER = re.compile(r"^========== (\S+) ==========$")
NODE = re.compile(r"^\(\d+\) (\w+)")
LOOSE_NODES = {"Expand", "HashAggregate", "Exchange"}
MAX_DIFF_LINES = 80
ROOT = re.compile(r"set current project to .* \(in build file:(.*?)/?\)$")

SUBS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\blambda (\w+?)_\d+"), r"lambda \1_N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{6,8}\b"), "@ADDR"),
    (re.compile(r"__v\d+\b"), "__vN"),
    (re.compile(r"\bat [\w$]+\.(scala|java):\d+"), "at <site>"),
]


def read_blocks(path, root=None):
    """Query name -> list of normalized plan lines."""
    with open(path, "rb") as f:
        raw = f.read().decode("utf-8", errors="replace").splitlines()
    sbt = any(l.startswith("[info] ") for l in raw)
    lines = [l[len("[info] "):] for l in raw if l.startswith("[info] ")] if sbt else raw
    if root is None:
        for l in lines:
            m = ROOT.search(l)
            if m:
                root = m.group(1)
                break
    blocks, cur = {}, None
    for l in lines:
        m = HEADER.match(l.strip())
        if m:
            cur = blocks.setdefault(m.group(1), [])
            continue
        if cur is None or not l.strip():
            continue
        if root:
            l = l.replace(root, "<ROOT>")
        for pat, rep in SUBS:
            l = pat.sub(rep, l)
        cur.append(l.rstrip())
    return blocks


def _split_top(s):
    """Split `s` on commas that sit outside any bracket or parenthesis."""
    parts, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "[(":
            depth += 1
        elif c in "])":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def _match(s, i):
    """Index of the bracket closing the one that opens at `s[i]`."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in "[(":
            depth += 1
        elif s[j] in "])":
            depth -= 1
            if depth == 0:
                return j
    return len(s) - 1


def unordered(line):
    """`line` with the items of every [...] list and hashpartitioning(...)
    argument list sorted, recursively. The grouping ids an Expand assigns
    follow the same order, so bare integer list items and `gid = <n>`
    filters are masked too."""
    line = GID.sub("gid#N = G", line)
    out, i = [], 0
    while i < len(line):
        c = line[i]
        sortable = c == "[" or (c == "(" and line[:i].endswith("hashpartitioning"))
        if c in "[(":
            j = _match(line, i)
            inner = [unordered(p) for p in _split_top(line[i + 1:j])]
            if sortable:
                inner = sorted("I" if INT.fullmatch(p) else p for p in inner)
            out.append(c + ", ".join(inner) + line[j:j + 1])
            i = j + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def loosened(block):
    """`block` with `unordered` applied to the detail lines of its
    Expand, HashAggregate and Exchange nodes only."""
    out, node = [], None
    for l in block:
        m = NODE.match(l)
        if m:
            node = m.group(1)
        out.append(unordered(l) if node in LOOSE_NODES and not m else l)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--root", action="append", default=[],
                    help="checkout path of BEFORE, then of AFTER (default: from the sbt log)")
    a = ap.parse_args()
    roots = a.root + [None] * (2 - len(a.root))
    before = read_blocks(a.before, roots[0])
    after = read_blocks(a.after, roots[1])

    same, order_only, changed = [], [], []
    for q in sorted(set(before) & set(after)):
        b, c = before[q], after[q]
        if b == c:
            same.append(q)
        elif loosened(b) == loosened(c):
            order_only.append(q)
        else:
            changed.append(q)
    only_b = sorted(set(before) - set(after))
    only_a = sorted(set(after) - set(before))

    print(f"identical: {len(same)}  order-only: {len(order_only)}  "
          f"changed: {len(changed)}  only in before: {len(only_b)}  "
          f"only in after: {len(only_a)}")
    for label, qs in (("order-only (rerun alone)", order_only), ("changed", changed),
                      ("only in before", only_b), ("only in after", only_a)):
        if qs:
            print(f"{label}: {' '.join(qs)}")
    for q in changed:
        diff = list(difflib.unified_diff(before[q], after[q], f"before/{q}", f"after/{q}",
                                         n=2, lineterm=""))
        shown = diff[:MAX_DIFF_LINES]
        print(f"\n##### {q}")
        print("\n".join(shown))
        if len(shown) < len(diff):
            print(f"... {len(diff) - len(shown)} more diff lines")
    return 1 if changed or only_b or only_a else 0


if __name__ == "__main__":
    sys.exit(main())
