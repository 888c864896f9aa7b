#!/usr/bin/env python3
"""Regenerate ``pins.json``, the expected result digest of every op.

    python3 perfbench/make_pins.py            # from the repository root

Query ops are pinned from their DuckDB oracle (``QuerySpec.oracle``)
over the benchmark's fixtures, so the pin is independent of the Spark
code it checks. ETL jobs have no oracle: their pins (envelope
``status`` and ``rows_processed`` plus the output table's digest) are
taken from one Spark run of every job. Rerun only when the fixtures or
an op's defined result change, and review the diff.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import duckdb  # noqa: E402

import fixtures  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from canon import frame_digest  # noqa: E402


def oracle_digest(con, sql: str) -> str:
    rel = con.sql(sql)
    pdf = rel.df()
    for col, typ in zip(rel.columns, rel.types):
        if str(typ) == "DATE":
            pdf[col] = pdf[col].dt.date
    return frame_digest(pdf)


def query_pins(fixture_dir: str) -> dict:
    from spark_etl_agent_spark.queries import registry

    specs = registry()
    con = duckdb.connect()
    for t in fixtures.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture_dir}/{t}.parquet')")
    pins = {}
    for name in workloads.SQL_ANALYTICS:
        pins[name] = oracle_digest(con, specs[name].oracle)
        print(name, pins[name], file=sys.stderr)
    con.close()
    return pins


def job_pins() -> dict:
    args = argparse.Namespace(workload="etl_jobs", seed=0, seconds=0, trace=0)
    work = os.path.abspath(os.path.join(".perfbench_work", "make_pins", "work"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # pin every job, also those cut from the active list
    workloads.ACTIVE["etl_jobs"] = len(workloads.ETL_JOBS)
    r = run.Run(args, work)
    try:
        r.setup(0.0)
        r.pins = {}
        r.verify_pass()
    finally:
        run.stop_session(r.manager)
    pins = {name: v["digest"] for name, v in r.record["verify"].items()}
    for name, digest in pins.items():
        print(name, digest, file=sys.stderr)
    shutil.rmtree(os.path.dirname(work), ignore_errors=True)
    return pins


def main() -> None:
    fixture_dir = os.path.abspath(os.path.join(".perfbench_work", "pin_fixtures"))
    fixtures.write_fixtures(fixture_dir, run.FIXTURE_SF, run.FIXTURE_DOCS)
    pins = query_pins(fixture_dir)
    shutil.rmtree(fixture_dir, ignore_errors=True)
    pins.update(job_pins())
    with open(os.path.join(HERE, "pins.json"), "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
