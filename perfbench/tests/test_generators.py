"""Seeded input generators: determinism and the manifest's own sums."""

import hashlib
from pathlib import Path

import pyarrow.parquet as pq

import etl_gen
import tables_gen


def _digest(d: Path) -> dict[str, str]:
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_etl_same_seed_same_files(tmp_path):
    a = etl_gen.generate(tmp_path / "a", seed=7, records=2000)
    b = etl_gen.generate(tmp_path / "b", seed=7, records=2000)
    c = etl_gen.generate(tmp_path / "c", seed=8, records=2000)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert a != c


def test_etl_manifest_sums(tmp_path):
    m = etl_gen.generate(tmp_path, seed=3, records=25_000)
    raw = m["raw_records"]
    assert m["raw_total"] == sum(raw.values()) == 25_000
    # offers after dedup = every raw record but the reposts
    assert m["offers"] == m["raw_total"] - m["reposts"] == sum(m["offers_per_source"].values())
    assert m["offers_per_source"]["Jumia"] == raw["jumia"]
    assert m["offers_per_source"]["Electroplanet"] == raw["electroplanet"]
    assert sum(m["offers_per_condition"].values()) == m["offers"]
    assert sum(m["products_per_brand"].values()) == m["products"]
    # the reference run's skew: one product near 4% of all offers
    assert 0.03 <= m["hot_product"]["offers"] / m["offers"] <= 0.06
    lo, hi = m["anomalies"]
    assert 0 < lo <= hi


def test_etl_layouts(tmp_path):
    etl_gen.generate(tmp_path, seed=1, records=300)
    avito = (tmp_path / "avito_ads.json").read_text(encoding="utf-8").splitlines()
    assert sum(1 for line in avito if "truncated" in line) == 1  # one corrupt NDJSON line
    for name in ("jumia_products.json", "electroplanet_data.json"):
        assert (tmp_path / name).read_text(encoding="utf-8").lstrip().startswith("[")
    text = "\n".join(avito)
    assert '"price": "NULL"' in text or "NULL" in text
    assert ",00" in text  # European prices


def test_tables_same_seed_same_rows(tmp_path):
    a = tables_gen.generate(tmp_path / "a", seed=5, scale=0.001)
    tables_gen.generate(tmp_path / "b", seed=5, scale=0.001)
    tables_gen.generate(tmp_path / "c", seed=6, scale=0.001)
    assert a == {"documents": 150, "orders": 1500, "lineitem": 6000, "events": 1000}
    for t in a:
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))


def test_tables_schema_and_layout(tmp_path):
    tables_gen.generate(tmp_path, seed=1, scale=0.001)
    events = pq.ParquetFile(tmp_path / "events.parquet")
    assert str(events.schema_arrow.field("ts").type) == "timestamp[us]"
    assert events.metadata.num_row_groups == 1
    li = pq.read_table(tmp_path / "lineitem.parquet")
    assert li.schema.names[:5] == ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"]
    q = li.column("l_quantity").to_pylist()
    assert min(q) >= 1 and max(q) <= 50
    ts = pq.read_table(tmp_path / "events.parquet").column("ts").to_pylist()
    assert ts == sorted(ts)
