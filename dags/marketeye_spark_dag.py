"""Thin Airflow DAG wrapping the Spark jobs (SURVEY.md §2.12, O1-O3).

Topology mirrors the reference DAG (dags/marketeye_etl_dag.py:1016-1090):
start → extract+merge (ONE task — the 3-source fan-in is lazy plan
evaluation, not task orchestration) → stats → report → [jdbc ∥ mongo ∥
backup] → end, @daily, catchup=False, retries=1/5min, 1 h timeout.

Import-gated: this module is inert without Airflow installed.  Each task
calls a library function via a fresh SparkSession — on a real deployment
swap PythonOperator for SparkSubmitOperator with the same entry points;
the business logic lives entirely in the library, the DAG is glue (the
reference buried 1089 lines of logic in its DAG file — we keep zero).
"""

from __future__ import annotations

import os

try:
    from airflow import DAG
    from airflow.operators.python import PythonOperator
    from datetime import datetime, timedelta

    HAVE_AIRFLOW = True
except ImportError:  # library-only environments (tests, spark-submit)
    HAVE_AIRFLOW = False

# Resolved at CALL time, not import time, so tests (and Airflow variable
# overrides) can repoint a task without re-importing the module.
def _raw_dir() -> str:
    return os.environ.get("MARKETEYE_RAW_DIR", "/opt/airflow/data/raw")


def _out_dir() -> str:
    return os.environ.get("MARKETEYE_OUT_DIR", "/opt/airflow/data/processed")


def _session():
    from etl_marketeye_airflow_spark.session import get_spark

    return get_spark("marketeye-airflow")


def task_etl(**_):
    """extract+merge+stats as ONE task: the three reads, adapters and the
    merge are one lazy plan, checkpointed once by ``run_etl``; the JSON
    sink, the CSV sink and the statistics collect then run as separate
    Spark jobs over those rows.  Materializes the final nested JSON +
    flat offers CSV the downstream sink tasks read — the reference's
    file-handoff contract (dags/marketeye_etl_dag.py:726-728) with the
    per-stage re-reads collapsed into one checkpoint."""
    from etl_marketeye_airflow_spark.jobs import run_etl
    from etl_marketeye_airflow_spark.sinks import write_csv_offers, write_json_products

    res = run_etl(_session(), _raw_dir())
    write_json_products(res.merged, f"{_out_dir()}/marketeye_final")
    write_csv_offers(res.offers_flat, f"{_out_dir()}/offers_csv")
    return res.statistics.collect()[0].asDict()


def _read_final(spark):
    return spark.read.json(f"{_out_dir()}/marketeye_final")


def task_report(ti=None, **_):
    from etl_marketeye_airflow_spark.jobs import run_etl
    from etl_marketeye_airflow_spark.operators.stats import render_report
    from datetime import datetime as dt

    spark = _session()
    res = run_etl(spark, _raw_dir())
    report = render_report(
        res.statistics.collect()[0],
        res.brand_distribution.collect(),
        dt.now().strftime("%Y-%m-%d %H:%M"),
    )
    path = f"{_out_dir()}/report_{dt.now().strftime('%Y%m%d_%H%M%S')}.txt"
    with open(path, "w", encoding="utf-8") as f:
        f.write(report)
    return path


def task_jdbc(connection_factory=None, **_):
    """S6 task (reference save_to_postgresql, :838-927).  Env-gated: a
    JDBC server isn't part of this environment; unset URL → explicit
    skip marker (the reference raises — but it assumes docker-compose
    services; a skip keeps the DAG runnable everywhere, loudly)."""
    url = os.environ.get("MARKETEYE_JDBC_URL")
    if not url:
        return "skipped: MARKETEYE_JDBC_URL not set"
    from etl_marketeye_airflow_spark.jobs import run_etl
    from etl_marketeye_airflow_spark.sinks.sinks import write_jdbc_relational

    res = run_etl(_session(), _raw_dir())
    write_jdbc_relational(
        res.merged,
        res.offers_flat,
        url,
        {"user": os.environ.get("MARKETEYE_JDBC_USER", ""),
         "password": os.environ.get("MARKETEYE_JDBC_PASSWORD", "")},
        connection_factory=connection_factory,
    )
    return res.merged.count()


def task_mongo(client_factory=None, **_):
    """S7 task (reference save_to_mongodb, :928-978): reads the FINAL
    materialized JSON — exactly the reference's json.load of
    marketeye_final.json — and wipe-then-insert_many's the nested docs
    plus the 3 index DDLs.  ``client_factory`` injectable for tests;
    default needs MARKETEYE_MONGO_URI + pymongo."""
    spark = _session()
    if client_factory is None:
        uri = os.environ.get("MARKETEYE_MONGO_URI")
        if not uri:
            return "skipped: MARKETEYE_MONGO_URI not set"
        from etl_marketeye_airflow_spark.sinks.sinks import default_mongo_client_factory

        client_factory = default_mongo_client_factory(uri)
    from etl_marketeye_airflow_spark.sinks.sinks import write_mongo_pymongo

    return write_mongo_pymongo(_read_final(spark), client_factory)


def task_backup(**_):
    """S8 task (reference save_to_json_backup, :980-1010): backs up the
    FINAL materialized file — a copy of what was shipped, not a
    recompute."""
    from etl_marketeye_airflow_spark.sinks import write_timestamped_backup

    return write_timestamped_backup(_read_final(_session()), f"{_out_dir()}/backups")


if HAVE_AIRFLOW:
    default_args = {
        "owner": "marketeye",
        "retries": 1,
        "retry_delay": timedelta(minutes=5),
        "execution_timeout": timedelta(hours=1),
    }
    with DAG(
        dag_id="marketeye_spark_etl",
        schedule_interval="@daily",
        start_date=datetime(2026, 1, 1),
        catchup=False,
        max_active_runs=1,
        default_args=default_args,
    ) as dag:
        etl = PythonOperator(task_id="spark_etl", python_callable=task_etl)
        report = PythonOperator(task_id="generate_report", python_callable=task_report)
        jdbc = PythonOperator(
            task_id="save_to_postgresql",
            python_callable=task_jdbc,
            execution_timeout=timedelta(minutes=10),
        )
        mongo = PythonOperator(
            task_id="save_to_mongodb",
            python_callable=task_mongo,
            execution_timeout=timedelta(minutes=5),
        )
        backup = PythonOperator(task_id="json_backup", python_callable=task_backup)
        # reference orchestration (dags/marketeye_etl_dag.py:1087-1089):
        # report fans out to the three sinks in parallel
        etl >> report >> [jdbc, mongo, backup]
