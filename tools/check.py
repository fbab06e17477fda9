#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify, then run
each oracle SQL in DuckDB over the same parquet tables and compare exactly
(column names sorted, row order as produced, exact values).

Usage: python3 tools/check.py [sfdir] [outdir] [--only=q1,q2] [--no-verify]
                              [--json=FILE] [--cache=DIR] [--no-cache]

Oracle cache (r19 verdict #5): DuckDB oracle results are persisted under
--cache (default tools/oracle_cache relative to this file), keyed by
(query name, sf-dir basename, sha256 of the oracle SQL). An unchanged
oracle — q186's 45-minute recursive CTE, the quadratic pair tail — is
computed once EVER, not once per round; any edit to the SQL changes the
key and forces a live run. Values are stored as DuckDB-written parquet
(typed, order-preserving under preserve_insertion_order) plus a meta JSON
recording the ORIGINAL column order and DuckDB type strings; on load the
roundtripped types must equal the recorded ones or the entry is ignored
and the oracle runs live (guards HUGEINT-style lossy parquet roundtrips —
those must keep failing the type-kind gate exactly as a live run would).

Sweep accumulation (r19 verdict #8): when --json FILE already exists for
the same sf dir, per-query results are MERGED into it (newest run wins per
query) instead of overwritten, so a paused/resumed sf0.1 sweep builds ONE
artifact directly.
"""
import hashlib
import json
import math
import os
import subprocess
import sys
import time

_pos = [a for a in sys.argv[1:] if not a.startswith("--")]
SF = _pos[0] if len(_pos) > 0 else "/root/testdata/sf0.01"
OUT = _pos[1] if len(_pos) > 1 else "/tmp/verify_out"
ONLY = None
JSON_OUT = None
CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "oracle_cache")
for a in sys.argv[1:]:
    if a.startswith("--only="):
        ONLY = set(a[len("--only="):].split(","))
    if a.startswith("--json="):
        JSON_OUT = a[len("--json="):]
    if a.startswith("--cache="):
        CACHE = a[len("--cache="):]
    if a == "--no-cache":
        CACHE = None
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_verify():
    extra = " " + ",".join(sorted(ONLY)) if ONLY else ""
    cmd = ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{extra}']
    env = dict(os.environ, SPARK_GRAFT_CPUS="8")
    p = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd="/root/repo")
    sys.stdout.write(p.stdout[-3000:])
    sys.stderr.write(p.stderr[-8000:])
    if p.returncode != 0:
        print("VERIFY FAILED rc=", p.returncode)
        sys.exit(1)


def env_fingerprint(duckdb):
    """Environment fingerprint recorded in every JSON artifact so a
    box-specific divergence (the r15 q214/q231 mystery) is attributable:
    duckdb + python + JVM versions, TZ, locale, cpu count."""
    import locale
    import platform
    try:
        jvm = subprocess.run(["java", "-version"], capture_output=True,
                             text=True).stderr.splitlines()[0]
    except Exception as e:
        jvm = f"unavailable: {e}"
    return {
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "jvm": jvm,
        "tz": os.environ.get("TZ", "(unset)"),
        "locale": locale.setlocale(locale.LC_ALL, None),
        "lang": os.environ.get("LANG", "(unset)"),
        "cpus": os.cpu_count(),
        "platform": platform.platform(),
    }


def cmp_cell(a, b):
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def sf_data_fingerprint():
    """Stat-level fingerprint of the sf dir's parquet inputs (sorted
    name:size lines). Oracle results depend on (SQL, data); the SQL is in
    the cache key, and this tripwires regenerated testdata under the same
    sf dir name (a size-preserving regeneration would still slip through —
    acceptable for driver-pinned fixtures)."""
    parts = []
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        try:
            parts.append(f"{t}:{os.path.getsize(p)}")
        except OSError:
            parts.append(f"{t}:absent")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:16]


_SF_FP = None


def oracle_eval(con, name, sql):
    """Evaluate one oracle, through the persistent cache when enabled.

    Returns (cols, type_strings, rows, cached: bool). The cache stores the
    materialized result; correctness of reuse rests on the oracle SQL being
    deterministic over fixed parquet (already required by the driver's
    exact compare) and on the key covering both the SQL text and the sf.
    """
    if CACHE is None:
        rel = con.sql(sql)
        return list(rel.columns), [str(t) for t in rel.types], rel.fetchall(), False
    global _SF_FP
    if _SF_FP is None:
        _SF_FP = sf_data_fingerprint()
    sf_tag = os.path.basename(os.path.normpath(SF))
    key = hashlib.sha256(sql.encode()).hexdigest()[:24]
    base = os.path.join(CACHE, f"{name}.{sf_tag}.{key}")
    meta_p, parq_p = base + ".json", base + ".parquet"
    if os.path.exists(meta_p) and os.path.exists(parq_p):
        try:
            meta = json.load(open(meta_p))
            # data tripwire: an entry recorded against different input
            # parquet (regenerated testdata) is a miss, not a hit.
            # Entries written before the field existed are accepted.
            if meta.get("data_fp", _SF_FP) != _SF_FP:
                raise ValueError(
                    f"data fingerprint {meta['data_fp']} != {_SF_FP}")
            rel = con.sql(f"SELECT * FROM read_parquet('{parq_p}')")
            cols = list(rel.columns)
            types = [str(t) for t in rel.types]
            # the roundtrip must be type-exact, else the type-kind gate
            # below would grade the PARQUET types, not the oracle's
            if cols == meta["cols"] and types == meta["types"]:
                return cols, types, rel.fetchall(), True
            print(f"  [cache] {name}: type roundtrip mismatch, running live")
        except Exception as e:
            print(f"  [cache] {name}: stale/unreadable entry ({e}), running live")
    # live run, materialized once so the (possibly 45-min) SQL is not
    # executed a second time just to persist it
    con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle_cache_t AS {sql}")
    rel = con.sql("SELECT * FROM _oracle_cache_t")
    cols = list(rel.columns)
    types = [str(t) for t in rel.types]
    rows = con.sql("SELECT * FROM _oracle_cache_t").fetchall()
    try:
        os.makedirs(CACHE, exist_ok=True)
        tmp = parq_p + f".tmp{os.getpid()}"
        con.execute(f"COPY _oracle_cache_t TO '{tmp}' (FORMAT PARQUET)")
        os.replace(tmp, parq_p)
        with open(meta_p + f".tmp{os.getpid()}", "w") as f:
            json.dump({"cols": cols, "types": types, "sql_sha256_24": key,
                       "sf": sf_tag, "rows": len(rows),
                       "data_fp": _SF_FP,
                       "written": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                                time.gmtime())}, f)
        os.replace(meta_p + f".tmp{os.getpid()}", meta_p)
    except Exception as e:
        # non-parquet-able type (e.g. HUGEINT on old writers) → uncached,
        # which is exactly the live-every-time behavior we had before
        print(f"  [cache] {name}: not cached ({e})")
        for p in (parq_p + f".tmp{os.getpid()}", meta_p + f".tmp{os.getpid()}"):
            if os.path.exists(p):
                os.remove(p)
    con.execute("DROP TABLE IF EXISTS _oracle_cache_t")
    return cols, types, rows, False


def main():
    if "--no-verify" not in sys.argv:
        run_verify()
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracles = json.load(open(f"{OUT}/oracle_sql.json"))
    names = sorted(n for n in oracles if ONLY is None or n in ONLY)
    npass = nfail = 0
    failures = []
    results = {}  # name -> "pass" | "fail" (merged into JSON_OUT)
    # r20 verdict #7: surface per-invocation oracle-cache usage in the
    # artifact so a judge can verify a sweep's oracle side was not silently
    # all-stale (counts are THIS invocation's — a resumed sweep's artifact
    # shows the resuming run's split).
    cache_stats = {"hits": 0, "live": 0}
    fingerprint = env_fingerprint(duckdb)  # once — it shells out to java

    def record(name, ok, err=None, cells=None):
        nonlocal npass, nfail
        if ok:
            npass += 1
            results[name] = "pass"
        else:
            nfail += 1
            results[name] = "fail"
            rec = {"name": name, "err": err}
            if cells:
                rec["cells"] = cells
            failures.append(rec)
        flush_json()

    def flush_json():
        """Incrementally persist the (merged) artifact after every query so
        a killed sweep loses nothing (r19 verdict #8 — the artifact is
        written by the tool, not reconstructed from logs)."""
        if not JSON_OUT:
            return
        merged_results, merged_failures = dict(results), list(failures)
        if os.path.exists(JSON_OUT):
            try:
                prev = json.load(open(JSON_OUT))
                # normalize both spellings: a resumed sweep invoked with a
                # trailing slash or relative path must still merge
                if os.path.normpath(prev.get("sf_dir", "")) == \
                        os.path.normpath(SF):
                    for n, r in prev.get("results", {}).items():
                        merged_results.setdefault(n, r)
                    mine = {f["name"] for f in merged_failures}
                    for f in prev.get("failures", []):
                        # keep an old failure record only if this run did
                        # not re-grade that query
                        if f["name"] not in results and f["name"] not in mine:
                            merged_failures.append(f)
            except Exception:
                pass
        merged_failures = [f for f in merged_failures
                           if merged_results.get(f["name"]) != "pass"]
        body = {"sf_dir": SF,
                "n_queries": len(merged_results),
                "pass": sum(1 for r in merged_results.values() if r == "pass"),
                "fail": sum(1 for r in merged_results.values() if r != "pass"),
                "oracle_cache_hits": cache_stats["hits"],
                "oracle_live": cache_stats["live"],
                "failures": merged_failures,
                "results": dict(sorted(merged_results.items())),
                "env": fingerprint}
        tmp = JSON_OUT + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(body, f, indent=1, default=str)
        os.replace(tmp, JSON_OUT)

    for name in names:
        try:
            ours = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'")
            our_cols = list(ours.columns)
            our_rows = ours.fetchall()
        except Exception as e:
            print(f"FAIL {name}: cannot read our output: {e}")
            record(name, False, f"cannot read our output: {e}")
            continue
        try:
            o_cols, o_type_strs, o_rows, cached = oracle_eval(
                con, name, oracles[name])
            cache_stats["hits" if cached else "live"] += 1
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            record(name, False, f"oracle SQL error: {e}")
            continue
        # type-kind gate (r17): the driver hashes TYPED values, so an oracle
        # column whose DuckDB type kind differs from our parquet type kind
        # (e.g. an uncast sum() → HUGEINT/int128 vs Spark's int64) hash-fails
        # on the driver even when every python value compares equal — the
        # q214/q231 two-round mystery. Fail it here so it never ships.
        def _kind(t):
            # each integer width is its own kind: the driver hashes TYPED
            # values (the q214/q231 int128 incident), so an oracle INTEGER
            # vs our parquet BIGINT is assumed hash-splitting too — cast
            # the oracle rather than collapsing widths here.
            t = str(t)
            if t in ("FLOAT", "DOUBLE"):
                return "float"
            return t
        our_types = dict(zip(our_cols, [str(t) for t in ours.types]))
        o_types = dict(zip(o_cols, o_type_strs))
        kind_bad = [
            f"col {c}: oracle {o_types[c]} vs ours {our_types[c]}"
            for c in o_cols
            if c in our_types and _kind(o_types[c]) != _kind(our_types[c])]
        if kind_bad:
            print(f"FAIL {name}: type-kind mismatch: {kind_bad}")
            record(name, False, f"type-kind mismatch: {kind_bad}")
            continue
        if sorted(our_cols) != sorted(o_cols):
            print(f"FAIL {name}: columns ours={our_cols} oracle={o_cols}")
            record(name, False, f"columns ours={our_cols} oracle={o_cols}")
            continue
        # driver sorts columns by name before hashing
        perm_o = [our_cols.index(c) for c in sorted(our_cols)]
        perm_d = [o_cols.index(c) for c in sorted(o_cols)]
        a = [tuple(r[i] for i in perm_o) for r in our_rows]
        b = [tuple(r[i] for i in perm_d) for r in o_rows]
        if len(a) != len(b):
            print(f"FAIL {name}: rowcount ours={len(a)} oracle={len(b)}")
            record(name, False, f"rowcount ours={len(a)} oracle={len(b)}")
            continue
        bad = None
        cols_sorted = sorted(our_cols)
        for i, (ra, rb) in enumerate(zip(a, b)):
            if not all(cmp_cell(x, y) for x, y in zip(ra, rb)):
                cells = [{"row": i, "column": cols_sorted[j],
                          "spark": ra[j], "oracle": rb[j]}
                         for j in range(len(ra))
                         if not cmp_cell(ra[j], rb[j])]
                bad = (i, ra, rb, cells)
                break
        if bad:
            print(f"FAIL {name}: first diff at row {bad[0]}:\n  ours  ={bad[1]}\n  oracle={bad[2]}")
            for c in bad[3]:
                print(f"  cell row={c['row']} col={c['column']}: "
                      f"spark={c['spark']!r} ({type(c['spark']).__name__}) "
                      f"oracle={c['oracle']!r} ({type(c['oracle']).__name__})")
            record(name, False,
                   f"first diff at row {bad[0]}: ours={bad[1]} oracle={bad[2]}",
                   bad[3])
        else:
            print(f"PASS {name} ({len(a)} rows)"
                  + (" [oracle cached]" if cached else ""))
            record(name, True)
    # rows-only entries (no oracle): report row counts
    for d in sorted(os.listdir(OUT)):
        if d not in oracles and os.path.isdir(f"{OUT}/{d}"):
            try:
                n = con.sql(f"SELECT count(*) FROM '{OUT}/{d}/*.parquet'").fetchone()[0]
                print(f"ROWS {d}: {n}")
            except Exception as e:
                print(f"ROWS {d}: unreadable: {e}")
    print(f"== {npass} pass / {nfail} fail")
    if JSON_OUT:
        # flush even for a zero-match run so the artifact (and the
        # message below) always reflects reality
        flush_json()
        print(f"wrote {JSON_OUT}")
    sys.exit(1 if nfail else 0)


if __name__ == "__main__":
    main()
