#!/usr/bin/env python3
"""Compare two graft.PlanDump output directories plan by plan.

Usage: python3 tools/plan_diff.py <dirA> <dirB>

PlanDump writes one `<query>_<suffix>.txt` per query; files pair up by the
query name (the suffix after the last underscore is dropped, so a
`_before` dump compares against an `_after` one). Each plan is normalized
before the compare, masking what differs between two dumps of the SAME
code (measured on two dumps of one commit):

  * expression ids (`doc_id#123L`) and exchange `plan_id=N`;
  * lambda variable names (`x_12`);
  * object hash codes (`BloomAgg@1a2b3c`) and JVM lambda class names
    (`Pack$$$Lambda$5489/0x00007f76354e8fa8`);
  * `RDD[N]` ids and `at X.scala:N` call sites of checkpointed frames;
  * in plans with an `Expand` (the distinct-aggregate rewrite of
    q_sample_cluster_split), the order of its projections and their `gid`
    numbers, which follow hash-set order: the groups are renumbered by
    their projection text and every attribute list of the plan is sorted.

Prints a unified diff per differing query and the queries present on one
side only. Exits 0 when every paired plan matches, 1 otherwise.
"""
import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bx_\d+\b"), "x_N"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(\w)@[0-9a-f]{4,}\b"), r"\1@H"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"[\w$]+\.scala:\d+"), "SRC:N"),
]

# Expand's argument line: [[...], [...], ...], [outputs] — one bracketed
# projection per output row.
EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], \[(.*)\]$")
LIST_LINE = re.compile(
    r"^(Input|Output|Keys|Results|Functions|Aggregate Attributes)"
    r" \[(\d+)\]: \[(.*)\]$")
HASHPART = re.compile(r"hashpartitioning\((.*), (\d+)\)")
GID_FILTER = re.compile(r"(gid#N = )(\d+)")


def normalize_line(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def split_top(s):
    """Split a comma-separated list at bracket depth 0."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def canonical_expand(lines):
    """The distinct-aggregate rewrite numbers its distinct groups (gid) and
    orders its Expand columns in hash-set order. Renumber the groups by
    their projection text, and sort every attribute list of the plan."""
    gid_map = {}
    for i, line in enumerate(lines):
        m = EXPAND_ARGS.match(line)
        if not m:
            continue
        outs = split_top(m.group(2))
        if "gid#N" not in outs:
            continue
        perm = sorted(range(len(outs)), key=lambda j: outs[j])
        g = perm.index(outs.index("gid#N"))
        projs = [[p[j] for j in perm]
                 for p in (split_top(x[1:-1]) for x in split_top(m.group(1)))]
        projs.sort(key=lambda p: p[:g] + p[g + 1:])
        for rank, p in enumerate(projs):
            gid_map[p[g]] = str(rank)
            p[g] = str(rank)
        lines[i] = "Arguments: [%s], [%s]" % (
            ", ".join("[%s]" % ", ".join(p) for p in projs),
            ", ".join(outs[j] for j in perm))
    out = []
    for line in lines:
        line = GID_FILTER.sub(
            lambda m: m.group(1) + gid_map.get(m.group(2), m.group(2)), line)
        m = LIST_LINE.match(line)
        if m:
            line = "%s [%s]: [%s]" % (m.group(1), m.group(2),
                                      ", ".join(sorted(split_top(m.group(3)))))
        line = HASHPART.sub(lambda m: "hashpartitioning(%s, %s)" % (
            ", ".join(sorted(split_top(m.group(1)))), m.group(2)), line)
        out.append(line)
    return out


def normalize(text):
    lines = [normalize_line(l.rstrip()) for l in text.splitlines()]
    if any(re.match(r"^\(\d+\) Expand\b", l) for l in lines):
        lines = canonical_expand(lines)
    return lines


def plans(d):
    got = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".txt"):
            stem = f[:-4]
            key = stem.rsplit("_", 1)[0] if "_" in stem else stem
            got[key] = os.path.join(d, f)
    return got


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    differ = 0
    for q in sorted(set(a) | set(b)):
        if q not in a or q not in b:
            print("ONLY IN %s: %s" % (argv[1] if q in a else argv[2], q))
            differ += 1
            continue
        with open(a[q]) as fa, open(b[q]) as fb:
            la, lb = normalize(fa.read()), normalize(fb.read())
        if la == lb:
            print("SAME   %s" % q)
        else:
            differ += 1
            print("DIFF   %s" % q)
            sys.stdout.writelines(
                l + "\n" for l in difflib.unified_diff(
                    la, lb, a[q], b[q], n=0, lineterm=""))
    print("%d of %d queries differ" % (differ, len(set(a) | set(b))))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
