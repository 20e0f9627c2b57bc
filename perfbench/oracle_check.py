"""Confirm the pipeline query set against the DuckDB oracle and record
its result digests in ``expected.json``.

    python3 perfbench/oracle_check.py

Run once whenever ``fixtures.py`` or the query set changes. Every query
with a registered oracle is collected from Spark and compared with the
oracle's rows over the same parquet files (doubles to 1e-9 relative);
then the digests that ``pipeline_sf02`` checks on every run are taken
from the same Spark results and written under the fixture's name.
``match_recognize_funnel`` has no registered oracle; its digest is
recorded from Spark alone.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import duckdb  # noqa: E402

import fixtures  # noqa: E402
from common import host_cpus, pinned_env  # noqa: E402
from notebook import same_rows  # noqa: E402


def main() -> int:
    import run_pipeline

    sf = run_pipeline.SF
    root = HERE.parent
    work = root / ".bench_work" / f"oracle-{os.getpid()}"
    os.environ.update(pinned_env(root, work, host_cpus()))
    sys.path.insert(0, str(root))
    fixture_dir = fixtures.ensure(root / ".bench_cache", sf)
    import pipeline_child as pc
    from flink_sql_toolkit_spark.operators import ORACLES
    from flink_sql_toolkit_spark.session import build_spark

    spark = build_spark("oracle-check")
    fns = pc.query_fns()
    con = duckdb.connect()
    for t in json.loads((fixture_dir / "manifest.json").read_text())["rows"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
    digests = {}
    for name in pc.QUERIES:
        df = fns[name](spark, str(fixture_dir))
        if name in ORACLES:
            rows = [list(r) for r in df.collect()]
            res = con.execute(ORACLES[name])
            cols = [d[0] for d in res.description]
            if sorted(cols) != sorted(df.columns):
                raise SystemExit(f"{name}: columns {df.columns} != oracle {cols}")
            want = [[r[cols.index(c)] for c in df.columns] for r in res.fetchall()]
            same_rows(rows, want)
            print(f"ok     {name}: {len(rows)} rows match the oracle")
        else:
            print(f"digest {name}: no registered oracle")
        sink, obs = pc.observed(df, name)
        sink.write.format("noop").mode("overwrite").save()
        digests[name] = pc.digest(obs)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    (HERE / "expected.json").write_text(json.dumps({fixture_dir.name: digests}, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
