"""Golden fingerprints of catalog query results.

A fingerprint is the row count plus an order-insensitive SHA-256 of the
rows, taken the way ``scripts/check_oracle.normalize`` compares results:
columns sorted by name, rows sorted, nulls and NaNs equal.  Floats are
rounded to 9 significant digits, because the run seed permutes input row
order and Spark's floating-point sums then differ in the last bits.

Record (or re-record) the goldens from the DuckDB oracle with::

    python3 perfbench/golden.py

It generates the benchmark's tables at every scale the catalog workloads
use, runs each query's ``oracle_sql()`` on DuckDB, and refuses to write a
golden that the Spark query does not reproduce.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDEN_PATH = os.path.join(HERE, "golden.json")


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "null"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return format(f, ".9g")
    return str(v)


def fingerprint(pdf) -> dict:
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in zip(*(pdf[c].tolist() for c in cols))
    ) if cols else []
    h = hashlib.sha256()
    h.update(",".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load() -> dict:
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def scale_key(scale: float) -> str:
    return repr(float(scale))


def main() -> int:
    import shutil
    import tempfile

    import duckdb

    import run  # the benchmark launcher: workloads and environment pinning

    os.makedirs(run.WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="golden-", dir=run.WORK_ROOT)
    try:
        run.pin_environment(work)
        import __spark_entry__ as entry
        from dataflow_flex_pyarrow_to_gds_spark.session import get_spark

        import datagen

        spark = get_spark(app_name="perfbench-golden")
        queries, oracles = entry.queries(), entry.oracle_sql()
        goldens: dict[str, dict] = {}
        for scale, names in run.catalog_scales().items():
            data = os.path.join(work, f"data-{scale}")
            datagen.write_tables(data, scale, seed=0)
            con = duckdb.connect()
            for t in datagen.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'"
                )
            for name in sorted(names):
                want = fingerprint(con.execute(oracles[name]).fetchdf())
                got = fingerprint(queries[name](spark, data).toArrow().to_pandas())
                if got != want:
                    print(f"spark {got} != oracle {want} for {name} at {scale}")
                    return 1
                goldens.setdefault(scale_key(scale), {})[name] = want
                print(f"{name} @ {scale}: {want['rows']} rows")
        spark.stop()
        run.stop_jvm()
        with open(GOLDEN_PATH, "w") as f:
            json.dump(goldens, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
