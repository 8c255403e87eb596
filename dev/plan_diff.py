#!/usr/bin/env python3
"""Compare two `Probe plan` dump directories gate by gate.

usage: python3 dev/plan_diff.py <dirA> <dirB>

Prints each gate whose plans differ after normalisation, with the first
differing lines, then a summary line; exits 0 when every gate in either
directory has an identical normalised plan in the other, 1 otherwise.

Normalisation removes what differs between two runs of the same code
and data:
- expression ids (`#123`), `plan_id=`, RDD ids, `.scala:<line>` call
  sites, lambda class names (`$$Lambda$123/0x...@abc`), temp-directory
  names (a /tmp path component ending in digits) and the absolute
  location of the Spark warehouse;
- the multi-distinct aggregate rewrite (q206, q294): its Expand numbers
  the distinct groups (gid 1..k) and orders their columns in hash-set
  order, which can change from run to run or with what ran before in
  the JVM. Groups are renumbered in the order of their sorted column
  names, leaving out the grouping keys; a run of the distinct columns
  (each once, though a multi-column distinct shares them with other
  groups, as in q294) in a list or a hash partitioning is put in name
  order, and the Expand's projections are compared as sorted sets
  (q88's multi-distinct profile varies the same way).
"""
import difflib
import os
import re
import sys


def basic(text):
    text = re.sub(r"#\d+", "#", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"(RDD|rdd)\[\d+\]", r"\1[]", text)
    text = re.sub(r"\.scala:\d+", ".scala:", text)
    text = re.sub(r"Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda", text)
    text = re.sub(r"/tmp/([A-Za-z_\-]*?)\d+(?=[/\]\s,)]|$)", r"/tmp/\1N", text)
    text = re.sub(r"file:\S*?/spark-warehouse/", "spark-warehouse/", text)
    return text


def split_top(s):
    """Items of a comma-separated list, splitting only outside brackets."""
    items, depth, cur = [], 0, ""
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            items.append(cur.strip())
            cur = ""
        else:
            cur += ch
    if cur.strip():
        items.append(cur.strip())
    return items


def in_order(items, columns):
    """`items` (a list's text) with a run of exactly the group `columns`
    (bare, or as the alias of an expression) put in `columns` order."""
    parts = split_top(items)
    key = [re.sub(r"^.* AS ", "", x) for x in parts]
    k = len(columns)
    for i in range(len(parts) - k + 1):
        if sorted(key[i:i + k]) == sorted(columns):
            block = sorted(parts[i:i + k], key=lambda x: columns.index(key[parts.index(x)]))
            return ", ".join(parts[:i] + block + parts[i + k:])
    return items


EXPAND_ARGS = re.compile(r"^Arguments: \[(\[.*\])\], (\[.*\])$")


def canonical_expand(text):
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if not re.match(r"^\(\d+\) Expand\b", line):
            continue
        j = next((k for k in range(i + 1, len(lines)) if lines[k].startswith("Arguments: ")), None)
        m = j is not None and EXPAND_ARGS.match(lines[j])
        if not m:
            continue
        projections = [split_top(p[1:-1]) for p in split_top(m.group(1))]
        gids = [next((x for x in items if re.fullmatch(r"\d+", x)), None) for items in projections]
        # the grouping keys: the same item at the same place in every projection
        keys = {pos[0] for pos in zip(*projections) if len(set(pos)) == 1}
        groups = {gid: tuple(sorted(x for x in items if x not in ("null", gid) and x not in keys))
                  for gid, items in zip(gids, projections) if gid not in (None, "0")}
        if len(groups) < 2:
            continue
        order = sorted(groups, key=lambda g: groups[g])
        renumber = {old: str(new) for new, old in enumerate(order, 1)}
        # a multi-column distinct shares its columns with other groups
        columns = sorted({c for cols in groups.values() for c in cols})
        text = re.sub(r"(gid#\w* = )(\d+)",
                      lambda mm: mm.group(1) + renumber.get(mm.group(2), mm.group(2)), text)
        text = re.sub(r"(\[|hashpartitioning\()([^\[\]]*?)(\]|, \d+\))",
                      lambda mm: mm.group(1) + in_order(mm.group(2), columns) + mm.group(3), text)
        lines = text.split("\n")
        bags = sorted(str(sorted(renumber.get(x, x) if x == gid else x for x in items))
                      for gid, items in zip(gids, projections))
        lines[j] = "Arguments: {%s}, %s" % (", ".join(bags), EXPAND_ARGS.match(lines[j]).group(2))
        text = "\n".join(lines)
    return text


def normalise(text):
    return canonical_expand(basic(text))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().split("\n\n")[1], file=sys.stderr)
        return 2
    a, b = argv[1], argv[2]
    names = sorted(set(os.listdir(a)) | set(os.listdir(b)))
    differ = []
    for name in names:
        pa, pb = os.path.join(a, name), os.path.join(b, name)
        if not (os.path.isfile(pa) and os.path.isfile(pb)):
            differ.append(name)
            print("%s: only in %s" % (name, a if os.path.isfile(pa) else b))
            continue
        with open(pa) as fa, open(pb) as fb:
            x, y = normalise(fa.read()).splitlines(), normalise(fb.read()).splitlines()
        if x != y:
            differ.append(name)
            print("%s:" % name)
            for line in list(difflib.unified_diff(x, y, a, b, lineterm="", n=0))[2:8]:
                print("  " + line[:240])
    print("%d gates, %d identical, %d differ%s" % (
        len(names), len(names) - len(differ), len(differ),
        (": " + " ".join(n.rsplit(".", 1)[0] for n in differ)) if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
