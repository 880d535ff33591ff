#!/usr/bin/env python3
"""Local pre-check mimicking the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py /tmp/verify_out /root/testdata/sf0.01
Compares each <out>/<query> parquet against the oracle SQL run in DuckDB
(views named after the tables), with rows+columns sorted. Exact value
compare; floats compared exactly after the query's own rounding.

GATE-SHAPED runs (sf dir canonicalizes to the sf0.01 gate dir AND the
Verify manifest covers every oracle key — i.e. not a `only=` subset or
a run that died before the manifest) additionally write the per-key
verdicts to the COMMITTED CORRECTNESS_gate_latest.json at the repo
root. Round-18 post-mortem: the driver's CORRECTNESS_r18.json arrived
as an empty `{}` and only a judge-side re-run closed the round's
record — the builder's own gate run must be self-evidencing, exactly
like Bench's BENCH_gate_latest.json (r17 verdict #5).
"""
import atexit, json, sys, glob, os, shutil, tempfile
import duckdb

out_dir, sf_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
# Half of RAM and a spill directory: without a temp_directory an
# in-memory DuckDB cannot spill, so a query larger than its limit fails
# with "Out of Memory" instead of running out of core.
spill_dir = tempfile.mkdtemp(prefix="check-oracle-spill-")
atexit.register(shutil.rmtree, spill_dir, ignore_errors=True)
ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
con.execute(f"SET memory_limit = '{ram_mb // 2}MB'")
con.execute(f"SET temp_directory = '{spill_dir}'")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    p = f"{sf_dir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
all_oracle_keys = set(oracle)  # BEFORE any subset filter: the gate
# artifact must only reflect runs that covered the full key set
try:
    manifest = json.load(open(f"{out_dir}/manifest.json"))
except Exception:
    manifest = None
if "--present" in sys.argv:  # iteration aid: only keys Verify dumped
    oracle = {k: v for k, v in oracle.items()
              if os.path.isdir(f"{out_dir}/{k}")}
fails = 0
results = {}  # key -> driver-shaped verdict row
for name in sorted(oracle):
    row = {"rows_match": False, "schema_match": False, "hash_match": False,
           "spark_rows": None, "oracle_rows": None, "err": None}
    results[name] = row
    # A Verify-side failure is a FAIL even when a stale parquet from an
    # earlier run survives in out_dir (reused out_dirs are the normal
    # workflow): without this, a key whose CURRENT build cannot run
    # would hash-compare its round-N-1 output and commit a false OK to
    # the gate artifact — the exact self-evidencing failure this file
    # exists to prevent.
    m = (manifest or {}).get(name)
    if m is not None and not m.get("ok", True):
        row["err"] = f"verify: {m.get('err')}"
        print(f"FAIL {name}: verify-side error ({m.get('err')}); "
              f"any on-disk output is stale"); fails += 1; continue
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        row["err"] = "no spark output"
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
    except Exception as e:
        row["err"] = f"spark output read error: {e}"
        print(f"FAIL {name}: output read error {e}"); fails += 1; continue
    row["spark_rows"] = len(got)
    try:
        want = con.sql(oracle[name]).df()
    except Exception as e:
        row["err"] = f"oracle error: {e}"
        print(f"FAIL {name}: oracle error {e}"); fails += 1; continue
    row["oracle_rows"] = len(want)
    g = got.reindex(sorted(got.columns), axis=1)
    w = want.reindex(sorted(want.columns), axis=1)
    row["schema_match"] = list(g.columns) == list(w.columns)
    row["rows_match"] = len(g) == len(w)
    if not row["schema_match"]:
        print(f"FAIL {name}: cols {list(g.columns)} vs {list(w.columns)}"); fails += 1; continue
    if not row["rows_match"]:
        print(f"FAIL {name}: rows {len(g)} vs {len(w)}"); fails += 1; continue
    gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    ws = w.sort_values(by=list(w.columns)).reset_index(drop=True)
    same_types = [str(a) for a in gs.dtypes] == [str(b) for b in ws.dtypes]
    eq = gs.equals(ws)
    row["hash_match"] = bool(eq)
    if not eq:
        diff = (gs != ws) & ~(gs.isna() & ws.isna())
        n = int(diff.any(axis=1).sum())
        row["err"] = f"{n}/{len(gs)} rows differ"
        print(f"FAIL {name}: {n}/{len(gs)} rows differ; types match={same_types}")
        bad = diff.any(axis=1)
        print("  got :", gs[bad].head(3).to_dict("records"))
        print("  want:", ws[bad].head(3).to_dict("records"))
        fails += 1
    else:
        flag = "" if same_types else f"  (dtype diff: {list(zip(gs.dtypes, ws.dtypes))})"
        print(f"OK   {name} rows={len(gs)}{flag}")
print(f"\n{len(oracle)-fails}/{len(oracle)} OK")

# --- committed gate artifact (guarded, mirrors Bench.scala's pattern) ---
repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Single source of truth: parse the gate constants out of
# GateArtifacts.scala rather than re-hardcoding them here — a rename
# on the Scala side must not silently stop this side's refresh.
_ga_src = open(os.path.join(
    repo_root, "src/main/scala/graft/GateArtifacts.scala")).read()
import re as _re
def _ga(name):
    m = _re.search(rf'val {name} = "([^"]+)"', _ga_src)
    if m is None:
        sys.exit(f"GateArtifacts.scala: constant {name} not found — "
                 "gate-artifact paths have drifted")
    return m.group(1)
GATE_SF = _ga("VerifyGateSfDir")
gate_path = os.path.join(repo_root, _ga("CorrectnessGateFile"))
sf_is_gate = os.path.realpath(sf_dir) == os.path.realpath(GATE_SF)
full_run = (manifest is not None and set(manifest) >= all_oracle_keys
            and set(oracle) == all_oracle_keys)
if sf_is_gate and full_run:
    # Verify-side errors are already FAILs in the main loop above
    # (stale-output-proof); nothing to carry over here.
    n_ok = sum(1 for r in results.values()
               if r["rows_match"] and r["schema_match"] and r["hash_match"])
    artifact = {"summary": {"n_keys": len(results), "n_ok": n_ok,
                            "n_fail": len(results) - n_ok, "sf": GATE_SF},
                "queries": results}
    with open(gate_path, "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(f"[gate] wrote {gate_path}: {n_ok}/{len(results)} OK")
else:
    print(f"[gate] NOT gate-shaped (sf_is_gate={sf_is_gate}, "
          f"full_run={full_run}): skipping {gate_path} refresh")
sys.exit(1 if fails else 0)
