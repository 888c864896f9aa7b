"""The benchmark's workloads: which ops run, how each runs, and how its
result is reduced to a digest that the pins check.

Every op list is in priority order; ``ACTIVE`` says how many ops from
the head of each list a pass runs (lists are cut from their tail so a
run fits the benchmark's time budget).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from canon import frame_digest

SQL_ANALYTICS = (
    "pricing_summary above_nation_average agg_topk_quantities cohort_retention "
    "jcap_pa_extract market_share min_cost_supplier nation_year_profit "
    "top_supplier_quarter local_supplier_volume revenue_share_parts "
    "large_volume_orders rollup_returns window_topk_per_group salted_join_hotkey "
    "asof_join_clicks lone_returner_suppliers idle_rich_customers "
    "dominant_part_suppliers parts_supplier_counts exists_returned_orders "
    "semi_anti_join set_operations grouping_sets_revenue sessionization "
    "customer_order_distribution nation_trade_volume window_value_functions "
    "trailing_interval_revenue band_join_parts"
).split()

# Jobs in priority order: the cheapest job on each write path first
# (catalog append, versioned publish, checkpointed streaming ingest,
# CDC apply), then the rest of the registry.
ETL_JOBS = (
    "control_m_poc_etl corpus_release_etl corpus_ingest_etl incremental_sync_etl "
    "jcap_pa_etl quality_monitor_etl corpus_prep_etl corpus_dedup_etl"
).split()

OP_LISTS = {
    "sql_analytics": SQL_ANALYTICS,
    "etl_jobs": ETL_JOBS,
}
ACTIVE = {"sql_analytics": 5, "etl_jobs": 3}
# Nominal seconds per timed pass of the active ops (local[4], 4 cores);
# sets how many passes a run of --seconds makes.
PASS_SECONDS = {"sql_analytics": 4.5, "etl_jobs": 7.5}

# Fixed job parameters, so envelopes and output tables repeat exactly.
LOAD_DATE = "2026-08-13"


def active_ops(workload: str) -> list:
    return list(OP_LISTS[workload][: ACTIVE[workload]])


@dataclass
class Op:
    """One unit of timed work. ``run`` returns None on success or a
    short reason when the result is wrong; ``verify`` returns the
    digest the pins hold for this op."""

    name: str
    run: Callable[[], "str | None"]
    verify: Callable[[], str]


# -- read-only query ops ------------------------------------------------------


def query_ops(spark, names, fixture_dir, tracer) -> list:
    """``QuerySpec.spark`` builds the DataFrame; a noop write runs it to
    completion without collecting any rows into Python."""
    from spark_etl_agent_spark.queries import registry

    specs = registry()
    ops = []
    for name in names:
        spec = specs[name]

        def run(spec=spec):
            with tracer.span("queries.build"):
                df = spec.spark(spark, fixture_dir)
            with tracer.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()
            return None

        def verify(spec=spec):
            return frame_digest(spec.spark(spark, fixture_dir).toPandas())

        ops.append(Op(name, run, verify))
    return ops


# -- ETL jobs -----------------------------------------------------------------

# The table each job's result is pinned by (read back after the job).
JOB_OUTPUT = {
    "control_m_poc_etl": "dna_actln_dwh.controlm_new_test",
    "corpus_dedup_etl": "corpus.documents_deduped",
    "corpus_ingest_etl": "corpus.accepted",
    "corpus_prep_etl": "corpus.packed_manifest",
    "incremental_sync_etl": "warehouse.orders",
    "corpus_release_etl": None,  # the versioned table's current version
    "quality_monitor_etl": "monitor.drift",
    "jcap_pa_etl": "jcap_presentation.pah_jcap_pa",
}


def _source_key(jobs, fixture_params) -> str:
    """Hash of everything a seeded warehouse depends on: the engine's
    source, the benchmark's fixture and seeding code, the jobs and the
    fixture scale."""
    import hashlib

    import spark_etl_agent_spark

    h = hashlib.sha256(repr((list(jobs), fixture_params)).encode())
    files = [os.path.join(os.path.dirname(os.path.abspath(__file__)), f)
             for f in ("fixtures.py", "workloads.py")]
    for base, _dirs, names in os.walk(os.path.dirname(spark_etl_agent_spark.__file__)):
        files += [os.path.join(base, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        with open(path, "rb") as f:
            h.update(path.encode() + b"\0" + f.read())
    return h.hexdigest()[:16]


def pristine_warehouse(spark, fixture_dir, base, jobs, fixture_params) -> tuple:
    """(live, pristine, built): the warehouse path the jobs use and its
    pristine copy. Seeding runs the engine itself (the ingest job drains
    a first delivery), so the pristine copy is built once per checkout
    and source version under ``base`` and reused by later runs."""
    live = os.path.join(base, "etl_warehouse")
    pristine = os.path.join(base, f"etl_pristine-{_source_key(jobs, fixture_params)}")
    if os.path.isdir(pristine):
        return live, pristine, False
    for name in os.listdir(base):
        if name.startswith("etl_pristine-") or name == "etl_warehouse":
            shutil.rmtree(os.path.join(base, name))
    seed_warehouse(spark, fixture_dir, live, pristine + ".tmp", jobs)
    os.rename(pristine + ".tmp", pristine)
    return live, pristine, True


def seed_warehouse(spark, fixture_dir: str, live: str, pristine: str, jobs) -> None:
    """Write the input tables of ``jobs`` under ``live`` and keep a copy
    at ``pristine``. Each job reads only tables seeded here, never
    another job's output, so jobs may run in any order. Seeding happens
    at the live path because stream checkpoints record absolute file
    paths."""
    from spark_etl_agent_spark.sources.catalog import Catalog

    cat = Catalog(spark, live)
    read = lambda t: spark.read.parquet(f"{fixture_dir}/{t}.parquet")  # noqa: E731
    for job in jobs:
        _SEEDERS[job](cat, read)
    shutil.copytree(live, pristine)


def _seed_poc(cat, read) -> None:
    poc = read("orders").select(
        F.col("o_orderpriority").alias("product"),
        F.col("o_orderkey").cast("string").alias("ac_number"),
        F.col("o_orderdate").cast("date").alias("referral_date"),
    )
    cat.write_table(poc, "dna_actln_dwh.vw_patients_opsumit_cap", mode="overwrite")
    dest = poc.withColumn("load_date", F.lit("x")).select(
        "load_date", "product", "ac_number", "referral_date"
    )
    cat.write_table(dest.limit(0), "dna_actln_dwh.controlm_new_test", mode="overwrite")


def _seed_sync(cat, read) -> None:
    """The snapshot deletes, updates and inserts a key-arithmetic slice
    of the target."""
    orders = read("orders")
    k = F.col("o_orderkey")
    cat.write_table(orders, "warehouse.orders", mode="overwrite")
    snapshot = (
        orders.filter(k % 50 != 1)
        .withColumn(
            "o_totalprice",
            F.when(k % 50 == 2, F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
        )
        .unionByName(orders.filter(k % 50 == 3).withColumn("o_orderkey", k + 10_000_000))
    )
    cat.write_table(snapshot, "staging.orders_snapshot", mode="overwrite")


def _seed_ingest(cat, read) -> None:
    """Two deliveries of half the corpus each, one parquet file (one
    micro-batch) apiece. The first is drained here, so the accepted
    table (the dedup index) and the stream checkpoint exist; the timed
    job drains the second delivery against that index."""
    from spark_etl_agent_spark.jobs.ingest import CorpusIngestService

    incoming = cat.path("corpus.incoming")
    os.makedirs(incoming)
    docs = read("documents").select("doc_id", "text")
    for i in range(2):
        stage = os.path.join(cat.root, f"_ingest_stage{i}")
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(stage)
        part_file = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(incoming, f"d{i}.parquet")
        shutil.copy(os.path.join(stage, part_file), dst)
        os.utime(dst, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
        shutil.rmtree(stage)
        if i == 0:
            CorpusIngestService(cat).run_corpus_ingest(load_date="2026-08-12")


def _seed_jcap(cat, read) -> None:
    from spark_etl_agent_spark.plans.jcap_extract import (
        derive_alignment,
        derive_payer_details,
        derive_ref_cap,
        derive_segment,
        jcap_extract,
        jcap_transform,
    )

    orders = read("orders")
    payer, ref_cap = derive_payer_details(orders), derive_ref_cap(orders)
    align, seg = derive_alignment(read("part")), derive_segment(read("supplier"))
    cat.write_table(payer, "cdp.fct_pah_pa_payer_details", mode="overwrite")
    cat.write_table(ref_cap, "cdp.fct_pah_ref_cap_dly", mode="overwrite")
    cat.write_table(align, "cdp.dmn_pah_curr_alignment_all", mode="overwrite")
    cat.write_table(seg, "cdp.dmn_pah_segment", mode="overwrite")
    prev = jcap_transform(jcap_extract(payer, ref_cap, align, seg, load_date="2026-08-12"))
    cat.write_table(prev, "jcap_presentation.pah_jcap_pa", mode="overwrite")
    cat.write_table(prev.limit(0), "jcap_presentation.pah_jcap_pa_bkp", mode="overwrite")


def _seed_prep(cat, read) -> None:
    docs = read("documents")
    cat.write_table(docs, "corpus.documents_clean", mode="overwrite")
    cat.write_table(docs.filter(F.col("doc_id") % 97 == 0), "corpus.benchmarks",
                    mode="overwrite")


_SEEDERS = {
    "control_m_poc_etl": _seed_poc,
    "incremental_sync_etl": _seed_sync,
    "corpus_release_etl": lambda cat, read: cat.write_table(
        read("documents"), "staging.corpus", mode="overwrite"
    ),
    "corpus_ingest_etl": _seed_ingest,
    "jcap_pa_etl": _seed_jcap,
    "quality_monitor_etl": lambda cat, read: cat.write_table(
        read("events"), "staging.events", mode="overwrite"
    ),
    "corpus_prep_etl": _seed_prep,
    "corpus_dedup_etl": lambda cat, read: cat.write_table(
        read("documents"), "corpus.documents", mode="overwrite"
    ),
}


def restore_warehouse(pristine: str, live: str) -> None:
    """Replace the live warehouse with a copy of the pristine one, so
    every pass starts from the same tables (appends, ingest and
    releases grow them)."""
    if os.path.exists(live):
        shutil.rmtree(live)
    shutil.copytree(pristine, live)


def job_service(catalog, alerter):
    from spark_etl_agent_spark.jobs.registry import JobService

    svc = JobService(catalog, stage_path=catalog.path("_stage.jcap"), alerter=alerter)
    # the dedup job would otherwise overwrite the prep job's input
    svc.corpus_dedup_service.dest_table = JOB_OUTPUT["corpus_dedup_etl"]
    return svc


def job_ops(spark, names, service, catalog, tracer, pins) -> list:
    """Each op is one ``JobService.execute_job`` call. A timed run
    checks the envelope's status and row count against the pin; the
    verification run also digests the job's output table."""
    from spark_etl_agent_spark.sources.versioned import VersionedTable

    ops = []
    for name in names:
        config = {"id": name, "name": name, "type": name, "load_date": LOAD_DATE}

        def execute(config=config):
            with tracer.span("jobs.execute_job"):
                return service.execute_job(dict(config))

        def run(name=name, execute=execute):
            env = execute()
            want = pins.get(name, "").split("|")[:2]
            got = [str(env.get("status")), str(env.get("rows_processed"))]
            if got != want:
                return f"envelope {got} != pinned {want}: {env.get('error')}"
            return None

        def verify(name=name, execute=execute):
            env = execute()
            table = JOB_OUTPUT[name]
            if table is None:
                df = VersionedTable(spark, catalog.root, "corpus").read()
            else:
                df = catalog.read_table(table)
            return "|".join(
                [str(env.get("status")), str(env.get("rows_processed")),
                 frame_digest(df.toPandas())]
            )

        ops.append(Op(name, run, verify))
    return ops
