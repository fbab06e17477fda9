#!/usr/bin/env python3
"""Compare two `graft.ExplainQ` plan dumps query by query.

    python3 tools/plan_diff.py A B

Each dump is split at its `========== <query> ==========` headers. Before
comparing, the parts of a plan that change from run to run are masked:
expression ids (`#123`), lambda-variable suffixes (`lambda x_3`), object
hashes (`@7a50b5f7`), the JVM's names for lambda classes
(`MRRunner$$$Lambda$2800/0x00007fec94da8e00`, which a typed Dataset
operator prints as its argument), the per-JVM scratch token (`graft_io_<token>`)
and warehouse dir (`graft_warehouse_<pid>_<host>`), exchange plan ids
(`plan_id=7641`), RDD ids (`MapPartitionsRDD[415]`) and the source line of a
checkpoint's call site (`Dedup.scala:1060`). Spark's rewrite of an aggregate
with several distinct aggregates numbers its distinct groups (`gid`) in an
order that changes between JVMs; it moves the `Expand` projections, the
attribute lists, hash keys and sort keys before `gid`, and the `gid = <n>`
filters.
Those are put in one order: each projection keeps its non-null columns
before the `gid` literal (sorted) and the rest, the projections are sorted,
the attributes and keys before `gid` are sorted, and `gid = <n>` reads
`gid = G`.
Output captured through `sbt runMain` works as is: the `[info] ` prefix is
stripped and sbt's `[error]`/`[warn]`/`[success]` lines (the forked JVM's
log on stderr, sbt's own status) are dropped.

Prints each query whose masked plan differs, with a unified diff, and each
query present in only one dump. Exits 1 if any query differs, else 0.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
SBT_NOISE = re.compile(r"^\[(error|warn|success)\]")
MASKS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\blambda (\w+?)_\d+\b"), r"lambda \1_N"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"graft_io_[A-Za-z0-9_]+"), "graft_io_T"),
    (re.compile(r"graft_warehouse_[A-Za-z0-9_]+"), "graft_warehouse_T"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
]


GID = "gid#N"
EXPAND = re.compile(r"^(Arguments: )\[(\[.*\])\](, \[.*\])$")
KEYS_BEFORE_GID = re.compile(r"(?<=[\[(])((?:\w+#N\w*(?: ASC NULLS FIRST)?, )+)(?=gid#N\b)")
GID_TEST = re.compile(r"gid#N = \d+")


def split_top(s):
    """s split at the commas outside any (), [] nesting."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    parts.append(s[start:].strip())
    return parts


def expand_row(row):
    """`[null, k#N, null, 2, x]` -> `[k#N, G, x]`: the columns before the
    gid literal lose their positions, the literal its value."""
    cols = split_top(row[1:-1])
    g = next((i for i, c in enumerate(cols) if c.isdigit()), None)
    if g is None:
        return row
    keys = sorted(c for c in cols[:g] if c != "null")
    return "[" + ", ".join(keys + ["G"] + cols[g + 1:]) + "]"


def canon_gid(line):
    """Puts the distinct groups of a multi-distinct aggregate in one order."""
    m = EXPAND.match(line)
    if m:
        rows = sorted(expand_row(r) for r in split_top(m.group(2)))
        line = m.group(1) + "[" + ", ".join(rows) + "]" + m.group(3)
    line = KEYS_BEFORE_GID.sub(
        lambda k: "".join(a + ", " for a in sorted(k.group(1)[:-2].split(", "))), line)
    return GID_TEST.sub("gid#N = G", line)


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return canon_gid(line) if GID in line else line


def sections(text):
    """Map query name -> its masked plan lines, in dump order."""
    out = {}
    cur = None
    for raw in text.splitlines():
        if SBT_NOISE.match(raw):
            continue
        line = raw[len("[info] "):] if raw.startswith("[info] ") else raw
        line = line.rstrip()
        m = HEADER.match(line)
        if m:
            cur = m.group(1)
            out[cur] = []
        elif cur is not None:
            out[cur].append(mask(line))
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return out


def diff(a_text, b_text):
    """Return (query, diff lines) for each query whose plans differ."""
    a, b = sections(a_text), sections(b_text)
    found = []
    for name in list(a) + [n for n in b if n not in a]:
        if name not in b:
            found.append((name, ["only in A"]))
        elif name not in a:
            found.append((name, ["only in B"]))
        elif a[name] != b[name]:
            found.append((name, list(difflib.unified_diff(
                a[name], b[name], "A", "B", lineterm=""))))
    return found


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    with open(argv[1]) as fa, open(argv[2]) as fb:
        found = diff(fa.read(), fb.read())
    for name, lines in found:
        print(f"== {name}")
        for line in lines:
            print(line)
    n = len(sections(open(argv[1]).read()))
    print(f"{len(found)} of {n} queries differ", file=sys.stderr)
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
