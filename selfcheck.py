#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
scale factor, then run each oracle SQL in DuckDB over the same tables and
compare (columns sorted by name, rows sorted, values compared with exact
match for non-floats and tiny-epsilon for floats so we can see how close
rounding gets us).

TOLERANCE RULE (codified round 9; previously ad-hoc per-query notes in
SURVEY §6): the driver's gate at sf0.01 hashes raw values, so PASS here
means bit-exact including the sign of zero. At LARGER scale factors
(ScaleUp sf1 runs) float aggregation order differs between engines and
float addition is non-associative; a pre-rounding last-ULP difference
that lands on a round(x, N) HALF-WAY BOUNDARY flips the output by one
full decimal quantum (10^-N), so the observable noise is quantum-sized,
not ULP-sized. A float column's mismatch is classified BOUNDED when
  (a) every differing value pair is at most ~one quantum apart, where
      the quantum is the column's inferred rounding precision (the
      smallest 10^-N, N<=9, that reproduces every value of both sides;
      integer-valued columns infer quantum 1 — a counter fed by a
      sample-equality comparison flips by exactly 1 the same way), or
      at most SELF_ULP (default 4) raw ULPs apart (unrounded columns);
  (b) AND at most SELF_FRAC (default 5%) of rows differ — real bugs
      move many rows or move them further.
Such rows print as PASS_RND with the diff count and quantum and count
as passing (exit 0). Any NaN/non-NaN disagreement, any non-float diff,
and anything beyond the bound FAILs. SELF_STRICT=1 disables the class
entirely (bit-exact or fail: the driver's view)."""
import json, math, subprocess, sys, os
import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
RUN_SBT = os.environ.get("SKIP_SBT", "") != "1"

if RUN_SBT:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF_DIR} {OUT}'],
        cwd=os.path.dirname(os.path.abspath(__file__)), capture_output=True, text=True, timeout=5400)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print("VERIFY FAILED rc=", r.returncode, "\n", tail)
        sys.exit(1)

print(f"duckdb {duckdb.__version__}")  # oracle-engine version, for skew diagnosis
con = duckdb.connect()
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
for t in TABLES:
    p = f"{SF_DIR}/{t}.parquet"
    if os.path.isdir(p):  # Spark-written dataset (e.g. ScaleUp output)
        p = f"{p}/*.parquet"
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
ONLY = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
ok, bad = [], []
for name, sql in sorted(oracle.items()):
    if ONLY is not None and name not in ONLY:
        continue
    try:
        spark_df = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'").df()
    except Exception as e:
        bad.append((name, f"spark output missing: {e}"))
        print(f"FAIL {name}: spark output missing", flush=True); continue
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:
        bad.append((name, f"oracle sql error: {e}"))
        print(f"FAIL {name}: oracle sql error: {e}", flush=True); continue

    sc = sorted(spark_df.columns); dc = sorted(duck_df.columns)
    if sc != dc:
        bad.append((name, f"schema mismatch: spark={sc} duck={dc}"))
        print(f"FAIL {name}: schema mismatch", flush=True); continue
    a = spark_df[sc].sort_values(sc).reset_index(drop=True)
    b = duck_df[dc].sort_values(dc).reset_index(drop=True)
    if len(a) != len(b):
        bad.append((name, f"row count: spark={len(a)} duck={len(b)}"))
        print(f"FAIL {name}: row count spark={len(a)} duck={len(b)}", flush=True); continue
    STRICT = os.environ.get("SELF_STRICT") == "1"
    ULP_MAX = 0 if STRICT else int(os.environ.get("SELF_ULP", "4"))
    FRAC_MAX = 0.0 if STRICT else float(os.environ.get("SELF_FRAC", "0.05"))

    def ulp_dist(x, y):
        """Units-in-the-last-place distance between double arrays (finite,
        NaN-free inputs). Bit patterns are mapped to a monotone integer
        line (negatives reflected) so adjacent doubles are distance 1 and
        -0.0/+0.0 are distance 0."""
        import numpy as np
        xi = x.view(np.int64); yi = y.view(np.int64)
        MIN = np.int64(-2 ** 63)
        xm = np.where(xi < 0, MIN - xi, xi).astype(np.float64)
        ym = np.where(yi < 0, MIN - yi, yi).astype(np.float64)
        return np.abs(xm - ym)

    def inferred_quantum(x, y):
        """The column's rounding precision: smallest 10^-N (N<=9) that
        reproduces every finite value of both arrays. None if the values
        don't look rounded at all."""
        import numpy as np
        vals = np.concatenate([x, y])
        vals = vals[np.isfinite(vals)]
        if len(vals) == 0:
            return None
        for n in range(0, 10):
            q = 10.0 ** -n
            err = np.abs(vals - np.round(vals * 10.0 ** n) * q)
            if (err <= 1e-12 * np.maximum(1.0, np.abs(vals))).all():
                return q
        return None

    mismatch = None
    ulp_note = None
    for c in sc:
        av, bv = a[c].values, b[c].values
        try:
            import numpy as np
            if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
                av = av.astype(float); bv = bv.astype(float)
                # signbit check: the driver hashes values, so -0.0 != 0.0 there
                diff = ~(((av == bv) & (np.signbit(av) == np.signbit(bv)))
                         | (np.isnan(av) & np.isnan(bv)))
                if diff.any():
                    nan_skew = np.isnan(av) != np.isnan(bv)
                    finite = diff & ~nan_skew & np.isfinite(av) & np.isfinite(bv)
                    clean = (not nan_skew.any()) and (finite == diff).all() \
                        and finite.any()
                    frac_ok = float(diff.sum()) / len(av) <= FRAC_MAX
                    ulps = ulp_dist(av[finite], bv[finite]) if clean else None
                    q = inferred_quantum(av, bv) if clean else None
                    maxd = float(np.abs(av[finite] - bv[finite]).max()) if clean else None
                    by_ulp = clean and float(ulps.max()) <= ULP_MAX
                    by_quantum = clean and q is not None and maxd <= q * 1.0000001
                    if frac_ok and (by_ulp or by_quantum):
                        how = (f"<= {int(ulps.max())} ULP" if by_ulp
                               else f"<= 1 quantum ({q:g})")
                        note = f"col {c}: {int(diff.sum())}/{len(av)} differ {how}"
                        ulp_note = note if ulp_note is None else f"{ulp_note}; {note}"
                        continue  # bounded — keep checking remaining columns
                    i = int(np.argmax(diff))
                    mx = float(np.nanmax(np.abs(av - bv)))
                    mismatch = f"col {c}: {int(diff.sum())}/{len(av)} differ, first@{i}: {av[i]} vs {bv[i]}, maxabs={mx}"
                    break
            else:
                if not (av == bv).all():
                    neq = (av != bv)
                    i = int(neq.argmax())
                    mismatch = f"col {c}: {int(neq.sum())}/{len(av)} differ, first@{i}: {av[i]!r} vs {bv[i]!r}"
                    break
        except Exception as e:
            mismatch = f"col {c}: compare error {e}"; break
    # stream each verdict as it lands (flush: a long sf1 run redirected to a
    # file is otherwise silent for its whole runtime - block buffering plus
    # the old end-of-run print loop made progress invisible)
    if mismatch:
        bad.append((name, mismatch))
        print(f"FAIL {name}: {mismatch}", flush=True)
    elif ulp_note:
        ok.append((name, len(a), ulp_note))
        print(f"PASS_RND {name} ({len(a)} rows; {ulp_note})", flush=True)
    else:
        ok.append((name, len(a), None))
        print(f"PASS {name} ({len(a)} rows)", flush=True)

exact = sum(1 for e in ok if e[2] is None)
print(f"\n{len(ok)} pass ({exact} exact, {len(ok) - exact} boundary-bounded) / {len(bad)} fail")
sys.exit(1 if bad else 0)
