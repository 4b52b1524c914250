#!/usr/bin/env python3
"""Local replica of the driver's correctness gate — STRICT edition.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
       python3 tools/check.py <sfDir> <verifyOutDir> --against <dumpDir> [query ...]

With --against, the reference side is a second Verify dump (read the same
way as the spark side) instead of DuckDB, compared row for row with the
same canonicalization: an A/B of two builds. <sfDir> is then unused, and
without query names every query either dump holds is compared.

Replicates the driver's observed compare path:
  - spark side: pandas.read_parquet over the Verify dump (so parquet decimal
    columns surface as Python Decimal objects, exactly as the driver sees)
  - oracle side: duckdb .df() (so DECIMAL/HUGEINT collapse to float64,
    exactly as the driver sees)
  - columns sorted by name, rows sorted, every cell stringified with str()
    at FULL precision — no %.9g canonicalizer. Decimal('1.30') vs 1.3
    therefore FAILS here, as it fails on the driver.
Also reports per-column pandas dtypes on mismatch so type-pinning bugs are
attributable at a glance. Exit 1 on any mismatch.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    # pandas NaN/NaT — both sides produce the same marker
    try:
        if v != v:
            return "NaN"
    except Exception:
        pass
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(canon(x) for x in v) + "]"
    s = str(v)
    # DATE columns: spark parquet surfaces datetime.date ('2024-01-01') while
    # duckdb .df() surfaces midnight datetime64 ('2024-01-01 00:00:00').
    # The driver treats these as equal (x4/x7/f4/s9 are driver-green), so
    # normalize the midnight suffix away on both sides.
    if s.endswith(" 00:00:00"):
        s = s[:-9]
    return s


def frame_rows(df):
    cols = sorted(df.columns)
    rows = [tuple(canon(v) for v in rec) for rec in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows)


def read_dump(outdir, name):
    paths = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
    if not paths:
        raise FileNotFoundError(f"no parquet under {outdir}/{name}")
    return pd.concat([pd.read_parquet(p) for p in paths], ignore_index=True)


def main():
    args = sys.argv[1:]
    against = None
    if "--against" in args:
        i = args.index("--against")
        against = args[i + 1]
        del args[i:i + 2]
    sfdir, outdir = args[0], args[1]
    only = set(args[2:])
    if against:
        side = "against"
        names = only or {os.path.basename(os.path.dirname(p))
                         for d in (outdir, against) for p in glob.glob(f"{d}/*/*.parquet")}
        refs = {n: (lambda n=n: read_dump(against, n)) for n in names}
    else:
        side = "oracle"
        con = duckdb.connect()
        for t in TABLES:
            p = f"{sfdir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        oracle = json.load(open(f"{outdir}/oracle_sql.json"))
        if only:
            # subset mode: the summary line must count what was CHECKED, not
            # every oracle entry (a 2-query spot-check used to print 186/186)
            unknown = only - set(oracle)
            if unknown:
                print(f"unknown query names: {sorted(unknown)}")
                sys.exit(1)
            oracle = {k: v for k, v in oracle.items() if k in only}
        refs = {k: (lambda sql=sql: con.execute(sql).df()) for k, sql in oracle.items()}
    failed = []
    for name, ref in sorted(refs.items()):
        if not glob.glob(f"{outdir}/{name}/*.parquet"):
            print(f"[{name}] MISSING spark output")
            failed.append(name)
            continue
        try:
            sdf = read_dump(outdir, name)
        except Exception as e:
            print(f"[{name}] SPARK READ ERROR: {e}")
            failed.append(name)
            continue
        try:
            odf = ref()
        except Exception as e:
            print(f"[{name}] {side.upper()} ERROR: {e}")
            failed.append(name)
            continue
        ok = True
        if sorted(sdf.columns) != sorted(odf.columns):
            print(f"[{name}] COLS mismatch: spark={sorted(sdf.columns)} {side}={sorted(odf.columns)}")
            ok = False
        elif len(sdf) != len(odf):
            print(f"[{name}] ROWS mismatch: spark={len(sdf)} {side}={len(odf)}")
            ok = False
        else:
            scols, srows = frame_rows(sdf)
            _, orows = frame_rows(odf)
            if srows != orows:
                diffs = [(x, y) for x, y in zip(srows, orows) if x != y]
                print(f"[{name}] VALUES mismatch ({len(diffs)} differing rows); cols={scols}")
                print(f"   spark dtypes : {dict(sdf.dtypes.astype(str))}")
                print(f"   {side} dtypes: {dict(odf.dtypes.astype(str))}")
                for x, y in diffs[:3]:
                    print(f"   spark : {x}\n   {side}: {y}")
                ok = False
        if ok:
            print(f"[{name}] OK ({len(sdf)} rows)")
        else:
            failed.append(name)
    print(f"\n{len(refs) - len(failed)}/{len(refs)} queries match")
    # skip interpreter teardown: native threads (duckdb, pyarrow) torn down
    # at exit have aborted the process after the verdict, turning exit 1
    # into 134
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(1 if failed else 0)


if __name__ == "__main__":
    main()
