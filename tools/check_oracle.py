"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry in Spark and its ``oracle_sql()`` twin in
DuckDB at the given scale factor, then compares row count, column names and
an order-insensitive value comparison (columns sorted by name, rows sorted).

Usage:  python tools/check_oracle.py [--strict] [sf_dir] [query ...]

``--strict`` additionally requires BYTE-exact equality (string compare
after canonicalization) instead of the 1e-9 float tolerance — the
regression guard for the README's byte-exactness claim.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # capped so the heaviest oracles spill instead of taking most of a
    # shared host's memory (DuckDB defaults to ~80% of RAM, every core,
    # and a spill dir in the working directory); the cap changes memory
    # use, never results
    con = duckdb.connect(config={
        "memory_limit": "2GB", "threads": 2,
        "temp_directory": os.path.join(tempfile.gettempdir(),
                                       "check_oracle_duckdb")})
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def jvm_exited(proc, name: str, exit=os._exit) -> bool:
    """If the JVM behind the Spark gateway has exited, print ``FAIL
    <name>: JVM exited (<code>)`` and ``exit(1)``: no later query can
    run. False while it runs."""
    if (code := proc.poll()) is None:
        return False
    print(f"FAIL {name}: JVM exited ({code})", flush=True)
    exit(1)
    return True


def watch_jvm(proc, inflight, interval_s: float = 1.0, exit=os._exit):
    """Check ``jvm_exited(proc, inflight())`` every ``interval_s`` from a
    daemon thread: a py4j call into a dead JVM can block for good, so
    the main thread may never get to check. Returns an Event; set it
    before a normal exit, whose shutdown stops the JVM on purpose."""
    done = threading.Event()

    def watch():
        while not done.wait(interval_s):
            if jvm_exited(proc, inflight(), exit):
                return

    threading.Thread(target=watch, name="jvm-watch", daemon=True).start()
    return done


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame,
            strict: bool = False) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"columns: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if strict:
                bad = av.astype(str) != bv.astype(str)
            elif str(av.dtype).startswith("float") or str(bv.dtype).startswith("float"):
                bad = ~((av.astype(float) - bv.astype(float)).abs() < 1e-9)
                bad |= av.isna() != bv.isna()
                bad &= ~(av.isna() & bv.isna())
            else:
                bad = av.astype(str) != bv.astype(str)
            if bad.any():
                i = bad.idxmax()
                problems.append(
                    f"values[{c}]: {int(bad.sum())} diffs, first at row {i}: "
                    f"spark={a[c][i]!r} duck={b[c][i]!r} (full rows: spark={a.iloc[i].to_dict()} duck={b.iloc[i].to_dict()})"
                )
    return problems


def main():
    args = sys.argv[1:]
    strict = "--strict" in args
    args = [a for a in args if a != "--strict"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as E
    from hadoop_ir_spark.session import get_spark

    spark = get_spark("check_oracle")
    con = duck_con(sf_dir)

    qs, oracles = E.queries(), E.oracle_sql()
    failed = []
    jvm = spark.sparkContext._gateway.proc
    name = "(before the first query)"
    finished = watch_jvm(jvm, lambda: name)
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            jvm_exited(jvm, name)
            print(f"FAIL {name}: spark error: {ex}")
            failed.append(name)
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(spark_pdf)} (no oracle — rows-only check) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            failed.append(name)
            continue
        problems = compare(name, spark_pdf, duck_pdf, strict=strict)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name}: rows={len(spark_pdf)} [{time.time()-t0:.1f}s]")

    finished.set()
    n_ran = len([n for n in qs if not only or n in only])
    print(f"\n{n_ran - len(failed)}/{n_ran} passed")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
