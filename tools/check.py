#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads the Verify dump
(outDir/<name>/ parquet + oracle_sql.json), runs each oracle in DuckDB over
the same testdata tables, sorts columns by name + rows by all columns, and
compares values. Usage: check.py <sfDir> <outDir>

Oracle caching: the expensive oracles (sf0.1 brute-force all-pairs LSH
ground truth, recursive-CTE closures) cost ~1.5 h of DuckDB per full run,
so each oracle result is cached as parquet keyed by md5(sql + stat
fingerprints of every input file it reads: the sf tables + any literal
'/abs/path' in the SQL). A cache entry is only trusted after a read-back
self-check (the parquet round trip must reproduce the exact frame,
dtypes included) — queries whose results don't round-trip stably are
marked .unstable and always recomputed, so caching can never change a
verdict. GRAFT_ORACLE_NOCACHE=1 disables; GRAFT_ORACLE_CACHE overrides
the cache dir (default ~/.cache/graft_oracle)."""
import hashlib, json, math, os, re, sys, time
from pathlib import Path

import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
# Large-SF list-heavy oracles (prefix-filtered dedup joins at sf1) hit
# DuckDB's tracked-memory ceiling long before the host runs out:
# insertion-order preservation pins every intermediate. Order is
# irrelevant here — the compare sorts columns+rows before hashing —
# so trade it for bounded memory, and bound threads (join memory
# scales with them).
for pragma in ("SET preserve_insertion_order = false",
               "SET threads TO 16",
               "SET memory_limit = '48GB'"):
    try:
        con.execute(pragma)
    except Exception:
        pass
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

marker = Path(outdir) / "SUBSET_RUN"
fresh = None  # names re-dumped by the last (subset) Verify run; None = all
if marker.exists():
    text = marker.read_text().strip()
    fresh = (set(n.strip() for n in text.split("=", 1)[1].split(",") if n.strip())
             if "=" in text else set())
    print(f"WARNING: {marker} present — Verify ran with {text}; unlisted"
          " queries hold STALE dumps and are reported as such, not compared."
          " Not a full gate run.")


def diff(got, exp):
    """Sort-free frame compare (columns already aligned/sorted by caller):
    returns None on exact match, else a message. Shared by the gate
    compare and the cache round-trip self-check."""
    if list(got.columns) != list(exp.columns):
        return f"SCHEMA: got {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWS: got {len(got)} vs {len(exp)}"
    for c in got.columns:
        a, b = got[c], exp[c]
        if str(a.dtype) != str(b.dtype):
            return f"DTYPE[{c}]: {a.dtype} vs {b.dtype}"
        if a.dtype.kind == "f":
            bad = ~((a == b) | (a.isna() & b.isna()))
        else:
            bad = ~((a.astype(str) == b.astype(str)))
        if bad.any():
            i = bad.idxmax()
            return f"VALUE[{c}] row{i}: {a[i]!r} vs {b[i]!r} ({int(bad.sum())} bad)"
    return None


# ---- oracle cache ----
NOCACHE = os.environ.get("GRAFT_ORACLE_NOCACHE") == "1"
CACHE = Path(os.environ.get("GRAFT_ORACLE_CACHE",
                            os.path.expanduser("~/.cache/graft_oracle")))


def fp(path):
    """Stat fingerprint of a file or (recursively) a directory."""
    p = Path(path)
    if p.is_dir():
        return [(str(f), f.stat().st_size, f.stat().st_mtime_ns)
                for f in sorted(p.rglob("*")) if f.is_file()]
    st = p.stat()
    return [(str(p), st.st_size, st.st_mtime_ns)]


SF_FP = json.dumps([fp(f"{sfdir}/{t}.parquet") for t in TABLES])


def load_oracle(name, sql):
    """Oracle result df + how it was obtained (run|hit|miss|unstable)."""
    if NOCACHE:
        return con.execute(sql).fetchdf(), "run"
    extra = []
    for lit in re.findall(r"'(/[^']+)'", sql):
        try:
            extra.append(fp(lit))
        except OSError:
            extra.append([("MISSING", lit)])
    key = hashlib.md5(
        (sql + SF_FP + json.dumps(extra)).encode()).hexdigest()[:16]
    f = CACHE / f"{name}-{key}.parquet"
    unstable = CACHE / f"{name}-{key}.unstable"
    if f.exists():
        f.touch()  # keep live entries out of the age-based prune
        return pd.read_parquet(f), "hit"
    exp = con.execute(sql).fetchdf()
    if unstable.exists():
        return exp, "unstable"
    try:
        CACHE.mkdir(parents=True, exist_ok=True)
        exp.to_parquet(f)
        if diff(exp, pd.read_parquet(f)) is not None:
            raise ValueError("parquet round trip changed the frame")
    except Exception:
        f.unlink(missing_ok=True)
        unstable.touch()
        return exp, "unstable"
    return exp, "miss"


def prune_cache(max_age_days=14):
    if NOCACHE or not CACHE.exists():
        return
    cutoff = time.time() - max_age_days * 86400
    for f in CACHE.iterdir():
        if f.is_file() and f.stat().st_mtime < cutoff:
            f.unlink(missing_ok=True)


prune_cache()
oracle = json.loads(Path(f"{outdir}/oracle_sql.json").read_text())
results = {}
# Coverage guard (round-9 lesson): every REGISTERED query must appear in
# the result table — a registered name missing from oracle_sql.json is an
# explicit FAIL, never a silent omission.
names_f = Path(f"{outdir}/query_names.json")
if names_f.exists():
    for n in json.loads(names_f.read_text()):
        if n not in oracle:
            results[n] = "NO_ORACLE: registered query absent from oracle_sql.json"
cache_stats = {}
for name, sql in sorted(oracle.items()):
    rdir = Path(outdir) / name
    if fresh is not None and name not in fresh:
        results[name] = "STALE_SUBSET_RUN: dump not re-generated, not compared"
        continue
    if not rdir.exists():
        results[name] = "MISSING_RESULT"
        continue
    try:
        got = con.execute(f"SELECT * FROM '{rdir}/*.parquet'").fetchdf()
        exp, how = load_oracle(name, sql)
        cache_stats[how] = cache_stats.get(how, 0) + 1
    except Exception as e:
        results[name] = f"ERROR: {e}"
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) == list(exp.columns):
        got = got.sort_values(by=list(got.columns), ignore_index=True)
        exp = exp.sort_values(by=list(exp.columns), ignore_index=True)
    results[name] = diff(got, exp) or "OK"

# Plan-hash drift advisory (r16 verdict item 7): Verify writes
# plan_hashes.json for every query it ran; compare against the committed
# per-SF baseline at tools/plan_baseline/<sf>.json. Drift WARNS, never
# fails — a legitimate plan change is rebaselined by copying the new
# sidecar over the baseline (documented in CLAUDE.md). Every hash the
# run wrote is compared, subset and incremental runs included: Verify
# releases each query's caches before the next query is built, so a
# query's hash does not depend on which queries ran before it.
hashes_f = Path(f"{outdir}/plan_hashes.json")
baseline_f = Path(__file__).parent / "plan_baseline" / (Path(sfdir).name + ".json")
if hashes_f.exists():
    got_h = json.loads(hashes_f.read_text())
    conf = got_h.pop("_conf", "")
    if conf:
        print(f"plan hashes: SPARK_GRAFT_CONF={conf!r} run — drift compare"
              " skipped (never reseed tools/plan_baseline from it)")
    elif baseline_f.exists():
        base_h = json.loads(baseline_f.read_text())
        drift = {n: (base_h[n], got_h[n]) for n in got_h
                 if n in base_h and base_h[n] != got_h[n]}
        new = sorted(n for n in got_h if n not in base_h)
        for n, (b, g) in sorted(drift.items()):
            print(f"WARN plan-hash drift {n}: baseline {b} -> {g}"
                  " (rebaseline tools/plan_baseline if intentional)")
        if new:
            print(f"WARN plan-hash baseline missing {len(new)} new queries"
                  f" (e.g. {new[:3]}) — refresh tools/plan_baseline/"
                  f"{baseline_f.name}")
        if not drift and not new:
            print(f"plan hashes: all {len(got_h)} match {baseline_f.name}")
    else:
        print(f"WARN no plan-hash baseline at {baseline_f} — seed it with"
              f" {hashes_f}")

npass = sum(1 for v in results.values() if v == "OK")
for name, v in sorted(results.items()):
    print(("PASS " if v == "OK" else "FAIL ") + name + ("" if v == "OK" else f"  {v}"))
if cache_stats:
    print("oracle cache: " + ", ".join(
        f"{k}={v}" for k, v in sorted(cache_stats.items())) + f" ({CACHE})")
print(f"\n{npass}/{len(results)} oracle-checked queries pass")
sys.exit(0 if npass == len(results) else 1)
