#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check.py [sfDir] [outDir] [--timeout SEC]
                              [--resume LOGFILE] [--json OUTFILE]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already ran.
For each query result parquet under outDir, runs the matching oracle SQL
(outDir/oracle_sql.json) in DuckDB over the sfDir tables and compares
the two (`compare`). The Spark side is read with pandas/pyarrow like the
driver (parquet DECIMAL becomes decimal.Decimal, not float64).
  - row count, column name set;
  - the verdict: each column cell by cell in dump order (Verify writes
    coalesce(1), and each oracle's ORDER BY matches its query's, so a
    wrong row order fails), compared as the cells' `repr` renderings:
      * value types per column (pandas `infer_dtype`: `290`, `290.0`
        and `Decimal('290')` differ, as in the driver's value hash) —
        tagged DTYPE;
      * cell values, exactly: numeric columns by value and float sign
        bit (`repr` is one-to-one on them), other columns by `str`.
    Passing in dump order implies passing the driver's order-insensitive
    form (columns and rows sorted), so that form is only computed to
    tag a failure ORDER when the rows match as a set;
  - the 1e-9 reading: each differing column is counted again as exact
    diffs and beyond-1e-9-relative diffs (EXACT-ONLY or VALUE), which
    tells a dtype-only or last-bit difference from a wrong value. The
    summary prints how many queries pass at 1e-9 besides the verdict.
The last line is the exact reading over every query dir in outDir, the
ones with no oracle (NO-ORACLE) counted as passing: `N/N pass`.

Round-9 additions for the sf1 (100x gate) scale-up:
  --timeout N   interrupt an oracle after N seconds (con.interrupt() from
                a timer thread) and record `oracle_timeout` — the single-
                node DuckDB oracle is the scale-limited side for the
                pair-join oracles (simhash/minhash CC, brute-force ANN),
                not the engine under test; a timeout is reported
                distinctly from a FAIL.
  --resume LOG  skip queries already `ok` in a previous run's log.
  --json FILE   machine-readable per-query verdicts (CORRECTNESS-style).

The compare is vectorized per column (numpy/pandas): a per-cell Python
`repr` took ~35 s per 1.5M-row result at sf1, this ~1 s.

`python3 -m unittest tools/test_check.py` runs `compare`'s own cases.
"""
import glob, json, os, sys, threading, time
import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_oracle(con, sql, timeout):
    """Run oracle SQL, interruptible after `timeout` seconds."""
    if timeout is None:
        return con.sql(sql).df(), False
    fired = [False]
    done = [False]
    lock = threading.Lock()

    def interrupt():
        # done-flag under a lock: if the query already finished, a late
        # timer firing must NOT interrupt the (now idle) connection --
        # the interrupt would land on the NEXT query and misreport it
        # as a spurious oracle error instead of a timeout here.
        with lock:
            if done[0]:
                return
            fired[0] = True
            con.interrupt()

    timer = threading.Timer(timeout, interrupt)
    timer.start()
    try:
        df = con.sql(sql).df()
        with lock:
            done[0] = True
        return df, False
    except Exception:
        with lock:
            done[0] = True
        if fired[0]:
            return None, True
        raise
    finally:
        timer.cancel()


def value_type(s):
    """A column's value type as `repr` shows it: float64 and object
    floats are both 'floating', Decimal cells 'decimal', and so on."""
    return pd.api.types.infer_dtype(s, skipna=True)


def rendered_ne(a, b):
    """Cells of two aligned columns of one value type whose `repr`
    differs, without rendering numeric cells: equal numbers of one type
    have one `repr` (NaN included), except 0.0 and -0.0."""
    if all(isinstance(s.dtype, np.dtype) and s.dtype.kind in "biuf"
           for s in (a, b)):
        x, y = a.to_numpy(), b.to_numpy()
        ne = x != y
        if "f" in (a.dtype.kind, b.dtype.kind):
            x, y = x.astype("float64"), y.astype("float64")
            ne = (ne | (np.signbit(x) != np.signbit(y))) & ~(
                np.isnan(x) & np.isnan(y))
        return ne
    return a.astype(str).to_numpy() != b.astype(str).to_numpy()


def col_diffs(a, b, tie_ok=False):
    """(exact_diffs, beyond_tolerance_diffs, r6_ties) for two aligned
    columns. With tie_ok, float diffs of exactly one 1e-6 bucket are
    counted as ties, not failures."""
    ne = rendered_ne(a, b)
    an = pd.isna(a).to_numpy()
    bn = pd.isna(b).to_numpy()
    far = an != bn
    if (a.dtype.kind == "f") or (b.dtype.kind == "f"):
        valid = ~an & ~bn
        x = a.to_numpy(dtype="float64", na_value=np.nan)
        y = b.to_numpy(dtype="float64", na_value=np.nan)
        far |= valid & ~np.isclose(x, y, rtol=1e-9, atol=1e-12)
        if tie_ok:
            # only the ADJACENT-bucket case qualifies (|diff| == 1e-6
            # exactly, up to float representation): a genuine sub-1e-6
            # value disagreement must still fail, hence the lower bound
            d = np.abs(x - y)
            tie = valid & (d >= 0.99e-6) & (d <= 1.01e-6)
            ne &= ~tie
            far &= ~tie
            return int(ne.sum()), int(far.sum()), int(tie.sum())
    else:
        far |= ne
    return int(ne.sum()), int(far.sum()), 0


def canon(df):
    """The driver's order-insensitive form of a result: columns sorted
    by name, cells as strings, rows sorted by all columns."""
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(mine, ora, tie_ok=False):
    """(errors, within_1e-9, r6_ties) for a Spark dump against its
    oracle. No errors is the verdict `ok`. With tie_ok (a --round-ties
    query) a float cell one 1e-6 bucket off is a tie and forgiven;
    nothing else is, a value-type change included."""
    if sorted(mine.columns) != sorted(ora.columns):
        return [f"cols mine={sorted(mine.columns)} ora={sorted(ora.columns)}"
                ], False, 0
    if len(mine) != len(ora):
        return [f"rows mine={len(mine)} ora={len(ora)}"], False, 0
    cols = sorted(mine.columns)
    m, o = mine[cols], ora[cols]
    errs, tol_ok, ties = [], True, 0
    types = [f"{c} {value_type(m[c])}/{value_type(o[c])}" for c in cols
             if value_type(m[c]) != value_type(o[c])]
    if types:
        errs.append("value types differ [DTYPE]: " + ", ".join(types))
    values = []
    for c in cols:
        exact, approx, t = col_diffs(m[c], o[c], tie_ok)
        ties += t
        tol_ok = tol_ok and approx == 0
        if exact:
            tag = "EXACT-ONLY" if approx == 0 else "VALUE"
            values.append(f"col {c}: {exact} exact diffs, "
                          f"{approx} beyond-1e-9 diffs [{tag}]")
    if values and not types and canon(m).equals(canon(o)):
        errs.append("same rows in another order [ORDER]")
    return errs + values, tol_ok, ties


def main(argv):
    opts = {}
    i = 0
    pos = []
    while i < len(argv):
        a = argv[i]
        if a in ("--timeout", "--resume", "--json", "--skip",
                 "--allow-empty", "--round-ties", "--mem", "--only"):
            opts[a[2:]] = argv[i + 1]; i += 2
        else:
            pos.append(a); i += 1

    SF = pos[0] if len(pos) > 0 else "/root/testdata/sf0.01"
    OUT = pos[1] if len(pos) > 1 else "/tmp/verify_out"
    TIMEOUT = float(opts["timeout"]) if "timeout" in opts else None

    skip_ok = set()
    if "resume" in opts:
        for line in open(opts["resume"]):
            if line.startswith("ok   "):
                skip_ok.add(line[5:].split(" ")[0])
    # --skip a,b,c: queries whose SQL oracle is infeasible at this scale
    # and is checked by a dedicated tool instead (e.g. tools/cc_check.py's
    # union-find replacement for the recursive-CTE connected components)
    skip_tool = set(opts["skip"].split(",")) if "skip" in opts else set()
    # --allow-empty a,b: queries whose TRUE answer is empty at this scale
    # (adjudicated data-regime outcomes, e.g. triangle extinction when the
    # bounded-support co-purchase graph thins against a 10x part catalog);
    # both sides returning 0 rows reports ok_empty instead of the
    # suspicious-empty failure
    allow_empty = set(opts["allow-empty"].split(",")) \
        if "allow-empty" in opts else set()
    # --round-ties a,b: queries whose float outputs are ROUND(transcendental,
    # 6) on both sides. When the two engines' ln/exp differ in the last ulp
    # AND the true value sits within that ulp of a 1e-6 rounding boundary,
    # the rounded outputs land in ADJACENT buckets (|diff| == 1e-6 exactly)
    # -- a quantization artifact, not a value disagreement (~1e-5 of rows at
    # sf1's 4.3M-transcendental volume; zero at gate scale). For declared
    # queries such adjacent-bucket diffs are tallied separately as r6_ties
    # and do not fail the compare; any larger diff still does.
    round_ties = set(opts["round-ties"].split(",")) \
        if "round-ties" in opts else set()

    con = duckdb.connect()
    # --mem 48GB: bound DuckDB so a heavy oracle SPILLS (and the --timeout
    # interrupt gets a chance to fire) instead of OOM-killing the whole
    # check — the sf10 IVF-replay oracle reached 109 GB RSS before the
    # kernel killed the run mid-artifact.
    if "mem" in opts:
        con.sql(f"SET memory_limit='{opts['mem']}'")
        con.sql("SET temp_directory='/tmp/duckdb_spill'")
    # documents-only scale dirs (the Heaps-regime corpora) ship no
    # relational tables; queries checked against them read only
    # `documents`. That is the ONLY dir shape where a missing table is
    # fine to skip — in a full relational corpus a missing parquet means
    # generation failed, and skipping it would surface later as a
    # confusing view-not-found error at query time. Fail loudly instead.
    _present = {t for t in TABLES if os.path.exists(f"{SF}/{t}.parquet")}
    _missing = [t for t in TABLES if t not in _present]
    if _missing and _present != {"documents"}:
        sys.exit(f"check.py: {SF} is missing tables {_missing} but is not a "
                 "documents-only (Heaps) corpus — truncated generation?")
    for t in _present:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    # --only a,b: restrict this process to the named queries. One fresh
    # process per heavy query is the recovery path when a prior sweep's
    # OOM poisoned the shared connection (the sf10 drive: after one real
    # out-of-memory every later query — even a 749-byte allocation — died
    # "bad allocation" in the SAME process; per-query processes isolate
    # the verdicts).
    if "only" in opts:
        only = set(opts["only"].split(","))
        oracle = {k: v for k, v in oracle.items() if k in only}
    results = {}
    ok = bad = timed_out = skipped = compared = tol_pass = 0
    for name, sql in sorted(oracle.items()):
        if name in skip_ok:
            print(f"ok   {name} (resumed from previous run)")
            results[name] = {"status": "ok", "resumed": True}
            ok += 1; skipped += 1
            continue
        if name in skip_tool:
            print(f"SKIP {name} (checked by a dedicated tool)")
            results[name] = {"status": "tool_checked"}
            continue
        t0 = time.time()
        try:
            parts = sorted(glob.glob(f"{OUT}/{name}/*.parquet"))
            mine = pd.concat([pd.read_parquet(p) for p in parts],
                             ignore_index=True)
        except Exception as e:
            print(f"FAIL {name}: no spark output: {str(e)[:100]}")
            results[name] = {"status": "fail", "err": "no spark output"}
            bad += 1; continue
        try:
            ora, was_timeout = run_oracle(con, sql, TIMEOUT)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            results[name] = {"status": "fail", "err": f"oracle error: {str(e)[:200]}"}
            bad += 1; continue
        if was_timeout:
            print(f"TIMEOUT {name}: oracle exceeded {TIMEOUT:.0f}s (DuckDB side)")
            results[name] = {"status": "oracle_timeout", "timeout_sec": TIMEOUT}
            timed_out += 1
            continue
        errs, tol_ok, tie_total = compare(mine, ora,
                                          tie_ok=(name in round_ties))
        compared += 1
        tol_pass += tol_ok
        if len(mine) == 0 and not errs:
            if name in allow_empty:
                print(f"ok   {name} (0 rows - adjudicated empty regime)")
                results[name] = {"status": "ok_empty_regime", "rows": 0}
                ok += 1
                continue
            errs.append("empty result (suspicious)")
        el = time.time() - t0
        if errs:
            print(f"FAIL {name} ({len(mine)} rows): " + "; ".join(errs))
            results[name] = {"status": "fail", "rows": len(mine),
                             "err": "; ".join(errs), "sec": round(el, 1)}
            bad += 1
        else:
            tie_note = f", {tie_total} r6-ties" if tie_total else ""
            print(f"ok   {name} ({len(mine)} rows, {el:.1f}s{tie_note})")
            results[name] = {"status": "ok", "rows": len(mine),
                             "sec": round(el, 1)}
            if tie_total:
                results[name]["r6_ties"] = tie_total
            ok += 1

    summary = f"\n{ok} ok, {bad} fail" + (
        f", {timed_out} oracle-timeout" if timed_out else "")
    print(summary)
    print(f"1e-9 reading: {tol_pass} of {compared} compared queries within "
          "tolerance")
    # the exact reading over every dumped query: no-oracle dirs pass
    dumped = sorted(n for n in os.listdir(OUT) if os.path.isdir(f"{OUT}/{n}")
                    and ("only" not in opts or n in opts["only"].split(",")))
    no_oracle = [n for n in dumped if n not in oracle]
    n_pass = ok + len(no_oracle)
    print(f"exact rendered reading: {n_pass}/{len(results) + len(no_oracle)} "
          f"pass ({len(no_oracle)} NO-ORACLE)")
    if "json" in opts:
        with open(opts["json"], "w") as f:
            json.dump({"sf": SF, "ok": ok, "fail": bad,
                       "oracle_timeout": timed_out,
                       "timeout_sec": TIMEOUT, "queries": results}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
