"""Regenerate ``digests.json``: the pinned output digest of every analytics
query on the benchmark's inputs.

Each query's Spark output is first cross-checked once against its DuckDB
twin (``rel_db_to_graph_spark.oracle.ORACLES``): same columns, same row
count, same values row for row under the oracle harness's canonical form.
A query whose output disagrees with its twin is not pinned, and the tool
exits 1.

Usage (from the repository root): python3 perfbench/pin.py
Run it only when the inputs or the set of queries change; a change that
claims a speed-up must leave the digests as they are.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, HERE)
    import run

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="pin-", dir=tmp_root)
    try:
        run.pin_environment(tmp, trace=False)
        sys.path.insert(0, ROOT)
        import duckdb
        import workloads

        from rel_db_to_graph_spark import get_spark, queries
        from rel_db_to_graph_spark.oracle import ORACLES
        from rel_db_to_graph_spark.sources.catalog import TABLES

        sf_dir = shutil.copytree(run.DATA, os.path.join(tmp, "data"))
        spark = get_spark(app_name="perfbench-pin")
        spark.sparkContext.setLogLevel("ERROR")
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        pinned, bad = {}, []
        for name in workloads.ANALYTICS:
            sp = getattr(queries, f"q_{name}")(spark, sf_dir).toPandas()
            if name in ORACLES:
                du = con.execute(ORACLES[name]).df()
                same = (sorted(sp.columns) == sorted(du.columns)
                        and workloads.canonical_rows(sp)
                        == workloads.canonical_rows(du))
                print(f"{name:20s} oracle {'ok' if same else 'MISMATCH'}",
                      flush=True)
                if not same:
                    bad.append(name)
                    continue
            else:
                print(f"{name:20s} no DuckDB twin", flush=True)
            pinned[name] = workloads.digest(sp)
        con.close()
        spark.stop()
        run.stop_children()
        with open(os.path.join(HERE, "digests.json"), "w") as fh:
            json.dump(pinned, fh, indent=1, sort_keys=True)
            fh.write("\n")
        if bad:
            print("not pinned (oracle disagrees):", ", ".join(bad))
            return 1
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run is using it


if __name__ == "__main__":
    sys.exit(main())
