"""Local stand-in for the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin on
the same sf dir, compare row count + column names + values
(order-insensitive). Usage:

    python tools/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).dt.tz_localize(None).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: None
                if v is None or (isinstance(v, float) and v != v)
                else str(v)
            )
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64").round(9)
        elif pd.api.types.is_bool_dtype(s) or str(s.dtype) == "boolean":
            df[c] = s.astype("object").map(
                lambda v: None if pd.isna(v) else bool(v)
            )
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(
        drop=True
    )


def _num_kind(s: pd.Series, other: pd.Series) -> str | None:
    if pd.api.types.is_bool_dtype(s) or str(s.dtype) == "boolean":
        return None
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        # Nullable ints round-trip through pandas as float64 with NaNs.
        # Normalize that upcast back to int-kind ONLY when the OTHER
        # side is integer-typed (then float64-with-NaN-integral is the
        # pandas artifact); if both sides are float64, a genuine DOUBLE
        # with integral values (e.g. a round() result with nulls) must
        # keep flagging as 'float' — the driver serializes '3.0' there,
        # and symmetric normalization would false-negative exactly the
        # q11/q32 failure class this guard predicts.
        if pd.api.types.is_integer_dtype(other):
            nn = s.dropna()
            if len(s) != len(nn) and len(nn) and (nn == nn.astype("int64")).all():
                return "int"
        return "float"
    return None


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str | None:
    if len(spark_df) != len(duck_df):
        return f"row count {len(spark_df)} vs {len(duck_df)}"
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return f"columns {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}"
    # The driver hashes exact serialized values (no pandas smoothing), so an
    # int column on one side vs a float on the other (e.g. DuckDB
    # sum(int)->HUGEINT->float64 '3.0' vs Spark bigint '3') hash-mismatches
    # even when numerically equal.  Flag it here so local green predicts
    # driver green — this is exactly what bit q11/q32 in round 1.
    for c in spark_df.columns:
        ka = _num_kind(spark_df[c], duck_df[c])
        kb = _num_kind(duck_df[c], spark_df[c])
        if ka and kb and ka != kb:
            return (
                f"column '{c}' dtype kind mismatch: spark={spark_df[c].dtype} "
                f"duck={duck_df[c].dtype} — driver hash would fail; cast the "
                f"oracle (::bigint for integer sums) or the Spark side"
            )
    a, b = _canon(spark_df), _canon(duck_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av = pd.to_numeric(av, errors="coerce").astype(float)
            bv = pd.to_numeric(bv, errors="coerce").astype(float)
            bad = ~((av - bv).abs() < 1e-9) & ~(av.isna() & bv.isna())
        else:
            bad = ~(av.eq(bv) | (av.isna() & bv.isna()))
        if bad.any():
            i = bad.idxmax()
            return f"column '{c}' row {i}: spark={a[c][i]!r} duck={b[c][i]!r}"
    return None


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("ERROR: --json requires an output path")
            return 2
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    # golden-parquet oracles (q23) key their source table off this
    os.environ["SPARK_GRAFT_CONTRACT_SF"] = sf_dir

    import __spark_entry__ as entrymod
    from ai_pdf_extraction_spark.plans.persist import release_all
    from ai_pdf_extraction_spark.session import build_session

    spark = build_session(app_name="contract-check", master="local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # a typo'd name silently checking nothing would print a false
        # '0 failures' — the gate must not green-light a no-op
        print(f"ERROR: unknown query name(s): {sorted(unknown)}")
        print(f"known: {sorted(qs)}")
        spark.stop()
        return 2
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # no query may be answered from another query's persisted slot
        release_all()
        t0 = time.monotonic()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append(name)
            results[name] = {"ok": False, "err": f"spark {type(exc).__name__}: {exc}"}
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            continue
        try:  # a query without an oracle fails here with a KeyError
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:
            failures.append(name)
            results[name] = {"ok": False, "err": f"oracle {type(exc).__name__}: {exc}"}
            print(f"FAIL  {name}: oracle error {type(exc).__name__}: {exc}")
            continue
        diff = compare(sdf, ddf)
        status = "ok  " if diff is None else "FAIL"
        if diff is not None:
            failures.append(name)
        results[name] = {
            "ok": diff is None, "rows": len(sdf), "oracle_rows": len(ddf),
            "seconds": round(time.monotonic() - t0, 1),
            **({"diff": diff} if diff else {}),
        }
        print(f"{status}  {name}: {len(sdf)} rows [{time.monotonic()-t0:.1f}s]"
              + (f" — {diff}" if diff else ""))
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(
                {"sf_dir": sf_dir, "n_queries": len(results),
                 "n_failures": len(failures), "queries": results},
                fh, indent=1,
            )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
