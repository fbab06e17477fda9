"""Output checks of the benchmark. A failed check counts the operation failed.

- `check_wordcount`: the reference's output contract for the word-count job.
- `check_query`: a query result against its DuckDB oracle result, with the
  comparison rules of tools/check.py (type kinds, column names compared
  sorted, row order as produced, exact values).
"""
import glob
import hashlib
import json
import math
import os


def check_wordcount(out_dir, tally, n_files):
    """Returns (problems, n_keys). The job must write exactly `n_files` part
    files of `key count` lines; keys ascend within each file, no key is in two
    files, and every count equals the generator's tally."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    problems = []
    if len(parts) != n_files:
        problems.append(f"{len(parts)} part files, want {n_files}")
    seen = {}
    for path in parts:
        prev = None
        with open(path) as fh:
            for line in fh:
                key, _, value = line.rstrip("\n").rpartition(" ")
                if prev is not None and key.encode() <= prev.encode():
                    problems.append(f"{os.path.basename(path)}: {key!r} after {prev!r}")
                    break
                prev = key
                if key in seen:
                    problems.append(f"{key!r} in {seen[key]} and {os.path.basename(path)}")
                seen[key] = os.path.basename(path)
                if str(tally.get(key)) != value:
                    problems.append(f"{key!r}: count {value}, tally {tally.get(key)}")
        if len(problems) > 20:
            break
    missing = len(tally) - sum(1 for k in tally if k in seen)
    if missing:
        problems.append(f"{missing} tallied words missing from the output")
    return problems, len(seen)


def oracle_path(cache_dir, name, sf_tag, sql):
    """Base path of the cached oracle result, keyed as tools/check.py keys it."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    return os.path.join(cache_dir, f"{name}.{sf_tag}.{key}")


def _kind(t):
    # integer widths stay distinct kinds; float and double are one kind
    return "float" if t in ("FLOAT", "DOUBLE") else t


def _same(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def compare(ours, oracle):
    """Compares two (columns, type strings, rows) results; returns problems."""
    o_cols, o_types, o_rows = ours
    r_cols, r_types, r_rows = oracle
    ot, rt = dict(zip(o_cols, o_types)), dict(zip(r_cols, r_types))
    bad = [f"col {c}: oracle {rt[c]} vs ours {ot[c]}"
           for c in r_cols if c in ot and _kind(rt[c]) != _kind(ot[c])]
    if bad:
        return [f"type-kind mismatch: {bad}"]
    if sorted(o_cols) != sorted(r_cols):
        return [f"columns ours={o_cols} oracle={r_cols}"]
    names = sorted(o_cols)
    a = [tuple(r[o_cols.index(c)] for c in names) for r in o_rows]
    b = [tuple(r[r_cols.index(c)] for c in names) for r in r_rows]
    if len(a) != len(b):
        return [f"rowcount ours={len(a)} oracle={len(b)}"]
    for i, (x, y) in enumerate(zip(a, b)):
        if not all(_same(p, q) for p, q in zip(x, y)):
            return [f"first diff at row {i}: ours={x} oracle={y}"]
    return []


def check_query(con, result_dir, base):
    """Checks the parquet result in `result_dir` against the cached oracle
    result at `base` (.json meta + .parquet rows); returns problems."""
    if not (os.path.exists(base + ".json") and os.path.exists(base + ".parquet")):
        return [f"no oracle result at {os.path.basename(base)}"]
    meta = json.load(open(base + ".json"))
    rel = con.sql(f"SELECT * FROM read_parquet('{base}.parquet')")
    oracle = (list(rel.columns), [str(t) for t in rel.types], rel.fetchall())
    if oracle[0] != meta["cols"] or oracle[1] != meta["types"]:
        return ["oracle result does not round-trip its recorded types"]
    try:
        rel = con.sql(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')")
        ours = (list(rel.columns), [str(t) for t in rel.types], rel.fetchall())
    except Exception as e:  # a missing or unreadable result is a failed check
        return [f"cannot read result: {e}"]
    return compare(ours, oracle)
