#!/usr/bin/env python3
"""Cross-process driver-contract simulation (.claude/skills/verify
surface 2): importlib-load __spark_entry__, run entry(), then every
queries() entry against its oracle_sql() on DuckDB at sf0.01, comparing
shape + column-sorted value hash — the same comparison the round driver
records in CORRECTNESS_r{N}.json.

Run:  python tools/verify_entry.py 2>/dev/null | tail -3
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns),
                           kind="mergesort").reset_index(drop=True)


def _vhash(pdf):
    h = hashlib.sha256()
    for c in pdf.columns:
        for v in pdf[c].tolist():
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else repr(round(v, 9))
            h.update(str(v).encode())
            h.update(b"|")
    return h.hexdigest()[:12]


def main() -> int:
    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(REPO, "__spark_entry__.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    from air_health_gis_tools_spark.session import get_spark
    spark = get_spark("verify", shuffle_partitions=8)
    df = m.entry(spark)
    rows = df.count()
    print("entry rows:", rows, "schema:",
          [f.name for f in df.schema.fields])
    assert rows > 0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF}/{t}.parquet')")
    qs, osql = m.queries(), m.oracle_sql()
    bad = []
    for k in sorted(qs):
        try:
            t0 = time.time()
            s = _norm(qs[k](spark, SF).toPandas())
            o = _norm(con.execute(osql[k]).df())
            ok = (list(s.columns) == list(o.columns)
                  and len(s) == len(o) and _vhash(s) == _vhash(o))
            print(f"{k}: rows={len(s)} match={ok} "
                  f"({time.time() - t0:.1f}s)")
            if not ok:
                bad.append(k)
                print("   spark", list(s.columns), len(s),
                      "oracle", list(o.columns), len(o))
        except Exception as e:                       # noqa: BLE001
            bad.append(k)
            print(f"{k}: ERROR {type(e).__name__}: {e}")
    print("FAILED:", bad if bad else "none",
          f"({len(qs) - len(bad)}/{len(qs)})")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
