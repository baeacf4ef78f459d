"""The benchmark's workloads: inputs, operations and output checks.

Each workload makes its inputs from the seed (outside any timing), names
the warm-up operations of its set-up and the operations of one timed
pass, and checks every operation's output after the timed region:

- ``etl_daily``: the daily batch on ~25k generated raw records, the
  program's code cold in a fresh session (the set-up runs one tiny
  generic Spark job first), checked against the generator's manifest;
- ``engine``: one query per registry layer the ETL bypasses, warm — the
  near-duplicate pair engine (q99: a few CPU-heavy stages), a fixed-point
  graph loop (q114) and a micro-batch stream (q154), the last two running
  dozens of small jobs or batches each.  Their times stay apart in the
  per-operation times and spans.

Registry outputs are compared against the query's ``oracle_sql()`` run
in DuckDB over the same parquet, with the correctness gate's canonical
row form (``tools/check_correctness.py``).
"""

from __future__ import annotations

import csv
import glob
import json
from pathlib import Path

import etl_gen
import tables_gen

ETL_RECORDS = 25_000
# Engine tables: 1,500 documents (see tables_gen), 60k lines, 10k events.
# The graph loop and the stream are per-job and per-batch overhead at any
# scale.
ENGINE_SCALE = 0.01

# q114 (PageRank) is the loop rather than q142 (k-core): its 3 rounds are
# fixed, where k-core's peeling depth, and so its job count, moved by
# +-20% between seeds at this scale.
ENGINE_QUERIES = {
    "q99": "q99_prefix_filter_similarity_join",
    "q114": "q114_pagerank",
    "q154": "q154_streaming_session_windows",
}
# tables each query reads (records_per_s counts their rows once per read)
QUERY_TABLES = {
    "q99": ("documents",),
    "q114": ("orders", "lineitem"),
    "q154": ("events",),
}


class EtlDaily:
    """Extract (3 sources) -> merge -> stats -> anomaly -> 3 sinks.

    Every daily run is a cold one, in a fresh session, so a run makes one
    pass.  The set-up first runs a tiny job that calls none of the
    program's code: Spark's own first-job costs (task threads, the code
    generator, the JSON reader and the file committers) then count in
    ``setup_s``, and ``wall_s`` holds the pipeline's own cold cost.  On
    a 4-vCPU VM the warm-up took 4-5 s and the pass got 4-7 s shorter."""

    passes = 1

    def __init__(self, run_dir: Path, seed: int, records: int = ETL_RECORDS):
        self.raw_dir = run_dir / "raw"
        self.out_dir = run_dir / "out"
        self.manifest = etl_gen.generate(self.raw_dir, seed, records)
        self.records_per_pass = self.manifest["raw_total"]

    def warmup_ops(self) -> list:
        return [("warmup.spark", self._spark_warmup)]

    def _spark_warmup(self, spark, tracer) -> dict:
        """Write, read and write JSON, with a regex, two aggregations and
        a join, through the DataFrame API alone."""
        from pyspark.sql import functions as F

        d = self.out_dir / "spark-warmup"
        spark.range(60).selectExpr(
            "to_json(named_struct('price', concat(cast(id AS string), ' 800 DH'), 'n', id)) AS value"
        ).write.text(str(d / "in"))
        df = spark.read.json(str(d / "in")).select(
            (F.col("n") % 3).alias("k"),
            F.regexp_replace("price", "[^0-9]", "").cast("double").alias("price"),
        )
        g = df.groupBy("k").agg(F.collect_list("price").alias("prices"))
        g = g.join(df.groupBy("k").agg(F.max("price").alias("top")), "k")
        g.write.json(str(d / "out"))
        return {"groups": g.count()}

    def pass_ops(self, pass_no: int) -> list:
        return [("etl_daily", lambda spark, tracer: self._pipeline(spark, tracer, pass_no))]

    def _pipeline(self, spark, tracer, pass_no: int) -> dict:
        from etl_marketeye_airflow_spark.jobs import run_anomaly_analysis, run_etl
        from etl_marketeye_airflow_spark.sinks import (
            write_csv_offers,
            write_json_products,
            write_timestamped_backup,
        )

        raw, out = str(self.raw_dir), self.out_dir / f"pass{pass_no}"
        with tracer.span("jobs.run_etl.build"):
            res = run_etl(spark, raw)
        cached = self._materialize_layers(spark, tracer, res) if tracer.enabled else []
        try:
            with tracer.span("operators.stats"):
                stats = res.statistics.collect()[0].asDict()
                brands = {r.brand: r.n_products for r in res.brand_distribution.collect()}
                sources = {r.source: r.n_offers for r in res.source_counts.collect()}
                conditions = {r.condition: r.n_offers for r in res.condition_distribution.collect()}
            with tracer.span("operators.anomaly"):
                anomaly = {k: v.collect() for k, v in run_anomaly_analysis(res.offers_flat).items()}
            _sink(tracer, "sinks.write_json_products", out / "products",
                  lambda p: write_json_products(res.merged, p))
            _sink(tracer, "sinks.write_csv_offers", out / "offers_csv",
                  lambda p: write_csv_offers(res.offers_flat, p))
            backup = _sink(tracer, "sinks.write_timestamped_backup", out / "backup",
                           lambda p: write_timestamped_backup(res.merged, p))
        finally:
            res.merged.unpersist()
            for df in cached:
                df.unpersist()
        return {
            "stats": stats,
            "brands": brands,
            "sources": sources,
            "conditions": conditions,
            "anomaly": {k: len(v) for k, v in anomaly.items()},
            "anomaly_types": {r.anomaly_type: r.n for r in anomaly["type_distribution"]},
            "out": out,
            "backup": backup,
        }

    def _materialize_layers(self, spark, tracer, res) -> list:
        """Traced runs only: run the lazy read, transform and merge layers
        one at a time, each cached and counted in its own span, so their
        cost is not folded into the first stats collect.  The reads and
        transforms are the plans ``run_etl`` built; re-caching its merged
        frame after they are cached makes the merge read them."""
        from etl_marketeye_airflow_spark import adapters, schemas
        from etl_marketeye_airflow_spark.sources.json_source import read_source

        raw_schema = {
            "avito": schemas.AVITO_RAW_SCHEMA,
            "jumia": schemas.JUMIA_RAW_SCHEMA,
            "electroplanet": schemas.ELECTROPLANET_RAW_SCHEMA,
        }
        cached = []
        for source, schema in raw_schema.items():
            with tracer.span(f"sources.read_source.{source}") as sp:
                df = read_source(spark, str(self.raw_dir), source, schema).persist()
                sp.attrs["rows"] = df.count()
            cached.append(df)
            with tracer.span(f"adapters.transform_{source}") as sp:
                t = adapters.ADAPTERS[source](df).persist()
                sp.attrs["rows"] = t.count()
            cached.append(t)
        res.merged.unpersist()
        res.merged.persist()
        with tracer.span("operators.merge.merge_products") as sp:
            sp.attrs["rows"] = res.merged.count()
        return cached

    def check(self, op: str, out: dict) -> list[str]:
        if op == "warmup.spark":
            return [] if out == {"groups": 3} else [f"warm-up gave {out}, want 3 groups"]
        m = self.manifest
        problems = []

        def expect(what, got, want):
            if got != want:
                problems.append(f"{what}: got {got!r}, want {want!r}")

        s = out["stats"]
        expect("total_products", s["total_products"], m["products"])
        expect("total_offers", s["total_offers"], m["offers"])
        expect("sources", s["sources"], sorted(m["offers_per_source"]))
        expect("offers per source", out["sources"], m["offers_per_source"])
        expect("offers per condition", out["conditions"], m["offers_per_condition"])
        expect("products per brand", out["brands"], m["products_per_brand"])
        a = out["anomaly"]
        expect("anomaly groups", a["group_stats"], m["anomaly_groups"])
        lo, hi = m["anomalies"]
        if not lo <= a["anomalies"] <= hi:
            problems.append(f"anomalies: got {a['anomalies']}, want {lo}..{hi}")
        expect("top anomalies", a["top_anomalies"], min(10, a["anomalies"]))
        expect("anomaly types total", sum(out["anomaly_types"].values()), a["anomalies"])
        problems += self._check_sinks(out)
        return problems

    def _check_sinks(self, out: dict) -> list[str]:
        m = self.manifest
        problems = []
        products = _read_json_lines(out["out"] / "products")
        backup = _read_json_lines(Path(out["backup"]))
        offers = _read_csv_rows(out["out"] / "offers_csv")
        if len(products) != m["products"]:
            problems.append(f"products sink: {len(products)} rows, want {m['products']}")
        if len(backup) != m["products"]:
            problems.append(f"backup sink: {len(backup)} rows, want {m['products']}")
        hot = m["hot_product"]
        hot_offers = [len(p["offers"]) for p in products if p["product_id"] == hot["product_id"]]
        if hot_offers != [hot["offers"]]:
            problems.append(f"hot product {hot['product_id']}: offers {hot_offers}, want {hot['offers']}")
        multi = sum(1 for p in products if len({o["source"] for o in p["offers"]}) >= 2)
        if multi != m["multi_source_products"]:
            problems.append(f"multi-source products: {multi}, want {m['multi_source_products']}")
        if len(offers) != m["offers"]:
            problems.append(f"offers sink: {len(offers)} rows, want {m['offers']}")
        price_sum: dict[str, float] = {}
        for r in offers:
            price_sum[r["source"]] = price_sum.get(r["source"], 0.0) + float(r["price"] or 0)
        want = {k: float(v) for k, v in m["price_sum_per_source"].items()}
        if price_sum != want:
            problems.append(f"offer price sums {price_sum}, want {want}")
        return problems


def _sink(tracer, name: str, path: Path, write):
    """Run one sink in its span; traced runs record the bytes it wrote."""
    with tracer.span(name) as sp:
        result = write(str(path))
    if tracer.enabled:
        sp.attrs["bytes_written"] = sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
    return result


def _part_files(path: Path, suffix: str) -> list[str]:
    return sorted(glob.glob(str(path / f"part-*{suffix}")))


def _read_json_lines(path: Path) -> list[dict]:
    rows = []
    for f in _part_files(path, ".json"):
        with open(f, encoding="utf-8") as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def _read_csv_rows(path: Path) -> list[dict]:
    rows = []
    for f in _part_files(path, ".csv"):
        with open(f, encoding="utf-8", newline="") as fh:
            rows += list(csv.DictReader(fh))
    return rows


class RegistryWorkload:
    """Registry queries on generated tables, warm: the set-up runs the
    same queries once on the same tables.  (A warm-up on sf0.001 tables
    cost as much, since the first query of a fresh JVM pays the SQL
    engine's cold start at any scale, and left the first timed pass
    20-35% slower than the next.)"""

    # wall_s is the median of exactly three passes (a slow host may cut
    # the third; see run.py's another_pass).  Passes still get faster
    # after the warm-up (7.4, 6.9, 6.3 s), so a run that fitted a fourth
    # pass reported a lower median than one that did not.
    passes = 3

    def __init__(self, queries: dict[str, str], run_dir: Path, seed: int, scale: float):
        self.queries = queries
        self.data = run_dir / "tables"
        rows = tables_gen.generate(self.data, seed, scale)
        self.records_per_pass = sum(rows[t] for q in queries for t in QUERY_TABLES[q])
        self._oracle: dict[tuple[str, str], tuple] = {}

    def warmup_ops(self) -> list:
        return [(f"warmup.{q}", self._op(q, self.data)) for q in self.queries]

    def pass_ops(self, pass_no: int) -> list:
        return [(q, self._op(q, self.data)) for q in self.queries]

    def _op(self, short: str, data: Path):
        from etl_marketeye_airflow_spark import queries as registry

        fn = registry.QUERIES[self.queries[short]]

        def run(spark, tracer):
            df = fn(spark, str(data))
            return {"data": data, "columns": df.columns, "rows": [tuple(r) for r in df.collect()]}

        return run

    def check(self, op: str, out: dict) -> list[str]:
        from check_correctness import canon_rows

        short = op.split(".")[-1]
        cols, rows = self._oracle_rows(short, out["data"])
        problems = []
        if sorted(out["columns"]) != sorted(cols):
            problems.append(f"columns {sorted(out['columns'])}, oracle {sorted(cols)}")
        elif len(out["rows"]) != len(rows):
            problems.append(f"{len(out['rows'])} rows, oracle {len(rows)}")
        elif canon_rows(out["columns"], out["rows"]) != rows:
            problems.append("values differ from the oracle")
        return problems

    def _oracle_rows(self, short: str, data: Path) -> tuple:
        """Oracle columns and canonical rows, computed once per table set."""
        key = (short, str(data))
        if key not in self._oracle:
            import duckdb
            from check_correctness import canon_rows

            from etl_marketeye_airflow_spark import queries as registry

            con = duckdb.connect()
            try:
                for t in set(QUERY_TABLES[short]):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
                res = con.execute(registry.oracle_sql()[self.queries[short]])
                cols = [d[0] for d in res.description]
                self._oracle[key] = (cols, canon_rows(cols, res.fetchall()))
            finally:
                con.close()
        return self._oracle[key]


def make(name: str, run_dir: Path, seed: int):
    if name == "etl_daily":
        return EtlDaily(run_dir, seed)
    if name == "engine":
        return RegistryWorkload(ENGINE_QUERIES, run_dir, seed, ENGINE_SCALE)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("etl_daily", "engine")
