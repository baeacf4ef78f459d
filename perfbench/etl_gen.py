"""Seeded raw-batch generator for the ``etl_daily`` workload.

Writes the three scraped sources in the layouts the reference scrapers
produce (see FIXTURES.md for the hand-written 9-record version):

- ``avito_ads.json``: NDJSON, one corrupt line, reposted duplicate ads
  (same url and price, new ad id) that the merge must drop;
- ``jumia_products.json``: one JSON array, nested ``specs`` maps;
- ``electroplanet_data.json``: one JSON array, nested ``specifications``
  maps (French keys) and a ``reviews_summary`` struct.

Prices come in the dirty formats the adapters parse (``7800 DH``,
``13,875 DH``, ``4.500,00``, ``"NULL"``).  Product popularity is Zipf
(s=0.7) with the top product holding about 4% of the offers, the shape
of the reference run (995 of 25,558 offers in one product); Avito lists
every catalogue product, Jumia and Electroplanet a subset, so products
overlap across sources.

Titles and model fields are built so every adapter derives the same
``{brand}_{model}`` product id; the generator therefore knows the merge
result and writes it as ``manifest.json``: products, offers after dedup,
per-source and per-condition counts, per-brand product counts, price
sums and the anomaly count bounds.
"""

from __future__ import annotations

import json
import random
import statistics
from collections import Counter, defaultdict
from pathlib import Path

# Brand spellings per canonical brand, as the adapters' BRAND_MAPPING
# resolves them (typo keys included).  No spelling contains another
# brand's key, so each resolves to exactly its canonical brand.
BRANDS = {
    "Samsung": ("SAMSUNG", "Samsung", "samsng"),
    "Apple": ("APPLE", "Apple"),
    "Xiaomi": ("XIAOMI", "Xiaomi"),
    "Huawei": ("HUAWEI", "hauwei"),
    "Oppo": ("OPPO", "Oppo"),
    "Realme": ("REALME", "Realme"),
    "Nokia": ("NOKIA", "Nokia"),
    "Tecno": ("TECNO", "Tecno"),
    "Infinix": ("INFINIX", "Infinix"),
    "Honor": ("HONOR", "Honor"),
}
# Model-token letters: none of them can complete a brand key or a
# storage unit ("go"/"gb") next to the digits that follow.
MODEL_LETTERS = "bcdfhjkmqrtvwxz"
COLORS = ("Noir", "Bleu", "Blanc", "Vert", "Gris", "Rose")
# raw Avito condition text -> canonical condition after the adapter
AVITO_CONDITIONS = (
    ("NEUF", "new"),
    ("comme neuf", "like new"),
    ("bon état", "good"),
    ("Reconditionné", "refurbished"),
    (None, "used"),
)
CITIES = ("Casablanca", "Rabat", "Marrakech", "Fès", "Tanger", "Agadir")

SOURCE_SHARE = {"avito": 0.51, "jumia": 0.27, "electroplanet": 0.22}
JUMIA_COVERAGE = 0.55  # share of the catalogue each retailer lists
ELECTRO_COVERAGE = 0.35
AVITO_REPOST_RATE = 0.03
NULL_PRICE_RATE = 0.02
OUTLIER_RATE = 0.01
ZIPF_S = 0.7
Z_THRESHOLD = 2.0  # run_anomaly_analysis's default zscore threshold


def _catalogue(rng: random.Random, n_products: int) -> list[dict]:
    brands = list(BRANDS)
    out = []
    for i in range(n_products):
        letter = MODEL_LETTERS[i % len(MODEL_LETTERS)]
        model = f"{letter}{100 + i}"  # unique per product
        brand = brands[rng.randrange(len(brands))]
        out.append(
            {
                "brand": brand,
                "model": model,
                "pid": f"{brand.lower()}_{model}",
                "base_price": rng.randrange(600, 16000),
            }
        )
    return out


def _zipf_weights(n: int) -> list[float]:
    return [1.0 / (rank + 1) ** ZIPF_S for rank in range(n)]


def _offer_price(rng: random.Random, base: int) -> int | None:
    """Integer MAD price (None = the scraped "NULL" sentinel)."""
    u = rng.random()
    if u < NULL_PRICE_RATE:
        return None
    if u < NULL_PRICE_RATE + OUTLIER_RATE:
        return max(1, int(base * rng.choice((0.15, 4.0, 6.0))))
    return max(1, int(base * rng.uniform(0.85, 1.15)))


def _avito_price_text(rng: random.Random, price: int | None) -> str:
    if price is None:
        return "NULL"
    style = rng.randrange(3)
    if style == 0:
        return f"{price} DH"
    if style == 1 and price >= 1000:
        return f"{price // 1000}.{price % 1000:03d},00"  # European
    return str(price)


def _avito_records(rng, cat, picks, offers) -> list[dict]:
    out = []
    for n, idx in enumerate(picks):
        p = cat[idx]
        ad_id = str(70_000_000 + n)
        price = _offer_price(rng, p["base_price"])
        raw_cond, _ = AVITO_CONDITIONS[rng.randrange(len(AVITO_CONDITIONS))]
        brand_word = rng.choice(BRANDS[p["brand"]])
        model_up = p["model"].upper()
        cond_text = raw_cond or "occasion"
        rec = {
            "ad_id": ad_id,
            "title": f"{brand_word} {model_up} - {cond_text}",
            "description": "Téléphone en très bon état",
            "price": _avito_price_text(rng, price),
            "city": rng.choice(CITIES),
            "area": None,
            "seller_type": rng.choice(("STORE", "PRIVATE", None)),
            "seller_name": None,
            "category": "Smartphone",
            "url": None if rng.random() < 0.1 else f"https://www.avito.ma/vi/{ad_id}.htm",
            "list_time": f"2025-12-{1 + n % 28:02d}T{n % 24:02d}:{n % 60:02d}:00Z",
            # brand field missing ("NULL") -> title scan; model field
            # missing -> title regex cascade: both paths still give the
            # catalogue id
            "brand": "NULL" if rng.random() < 0.1 else brand_word,
            "model": None if rng.random() < 0.15 else model_up,
            "storage": rng.choice(("128GB", "256GB", None)),
            "ram": rng.choice(("8GB", "12GB", None)),
            "battery_health": None,
            "color": rng.choice(COLORS),
            "condition": raw_cond,
        }
        out.append(rec)
        offers.append((p, "Avito", price, raw_cond))
    # reposts: same url, price, brand and model as an earlier ad with a
    # url — the merge's (product, source, url, price) dedup drops them
    originals = [r for r in out if r["url"] is not None]
    n_rep = int(len(out) * AVITO_REPOST_RATE)
    for k in range(n_rep):
        r = originals[rng.randrange(len(originals))]
        dup = dict(r)
        dup["ad_id"] = str(90_000_000 + k)
        dup["description"] = "annonce repostée"
        out.append(dup)
    return out


def _jumia_records(rng, cat, picks, offers) -> list[dict]:
    out = []
    for n, idx in enumerate(picks):
        p = cat[idx]
        price = _offer_price(rng, p["base_price"])
        old = None if price is None or rng.random() < 0.5 else int(price * 1.1)
        url = f"https://www.jumia.ma/{p['pid']}-{n}.html"
        # Samsung titles go through the adapter's "galaxy <model>" rule,
        # every other brand through the generic "<letters><digits>" rule
        if p["brand"] == "Samsung":
            title = f"Samsung Galaxy {p['model']}"
        else:
            title = f"{p['brand']} {p['model']} {rng.choice(COLORS)}"
        out.append(
            {
                "title": title,
                "brand": p["brand"],
                "price": "NULL" if price is None else f"{price:,} DH",
                "old_price": None if old is None else f"{old:,} DH",
                "rating": rng.choice(("4.5 out of 5", "4/5", "3.8 out of 5", None)),
                "reviews_count_text": f"({rng.randrange(1, 300)} avis vérifiés)",
                "product_url": url,
                "scraped_at": f"2025-12-15T{n % 24:02d}:{n % 60:02d}:{n % 59:02d}Z",
                "description": rng.choice(('écran 6.7" AMOLED', None)),
                "specs": {"RAM": rng.choice(("8 Go", "12 Go")), "Stockage interne": "256 Go"},
            }
        )
        offers.append((p, "Jumia", price, None))
    return out


def _electro_records(rng, cat, picks, offers) -> list[dict]:
    out = []
    for n, idx in enumerate(picks):
        p = cat[idx]
        price = _offer_price(rng, p["base_price"])
        url = f"https://www.electroplanet.ma/{p['pid']}-{n}"
        if price is None:
            price_text = "NULL"
        elif price >= 1000 and rng.random() < 0.5:
            price_text = f"{price // 1000} {price % 1000:03d} DH"
        else:
            price_text = f"{price} DH"
        out.append(
            {
                "name": f"{p['brand'].upper()} {p['model'].upper()} 256GB {rng.choice(COLORS).upper()}",
                "brand": rng.choice(BRANDS[p["brand"]]),
                "price": price_text,
                "old_price": None,
                "product_url": url,
                "scraped_at": f"2025-12-16T{n % 24:02d}:{n % 60:02d}:00Z",
                "detailed_scraped_at": None if rng.random() < 0.3 else "2025-12-16T12:00:00Z",
                "specifications": {
                    "Modèle": p["model"].upper(),
                    "Capacité de stockage interne": "256 GB",
                    "Marque": p["brand"],
                },
                "reviews_summary": {
                    "average_rating": rng.choice((4.2, 3.9, None)),
                    "total_reviews": rng.randrange(0, 50),
                },
                "is_promotion": rng.random() < 0.3,
            }
        )
        offers.append((p, "Electroplanet", price, None))
    return out


def _anomaly_bounds(prices_by_pid: dict[str, list[int]]) -> tuple[int, int]:
    """zscore anomalies (|p - mean| / sample std > 2, groups of >= 3
    positive prices) as [sure, possible]: a z within 1e-9 of the
    threshold may round either way in the engine."""
    sure = possible = 0
    for ps in prices_by_pid.values():
        if len(ps) < 3:
            continue
        mean = sum(ps) / len(ps)
        std = statistics.stdev(ps)
        if std == 0:
            continue
        for p in ps:
            z = abs(p - mean) / std
            if z > Z_THRESHOLD + 1e-9:
                sure += 1
                possible += 1
            elif z > Z_THRESHOLD - 1e-9:
                possible += 1
    return sure, possible


def generate(out_dir: str | Path, seed: int, records: int = 25_000) -> dict:
    """Write the three raw files and manifest.json; return the manifest."""
    rng = random.Random(seed)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    n_products = max(10, records // 8)
    cat = _catalogue(rng, n_products)
    # popularity rank is a seeded permutation of the catalogue
    order = list(range(n_products))
    rng.shuffle(order)
    weights = _zipf_weights(n_products)

    def picks_for(coverage: float, n: int) -> list[int]:
        # the hot product (rank 0) is listed everywhere
        ranks = [0] + [r for r in range(1, n_products) if rng.random() < coverage]
        return [order[r] for r in rng.choices(ranks, [weights[r] for r in ranks], k=n)]

    n_avito = int(records * SOURCE_SHARE["avito"] / (1 + AVITO_REPOST_RATE))
    n_jumia = int(records * SOURCE_SHARE["jumia"])
    n_electro = records - n_jumia - int(n_avito * (1 + AVITO_REPOST_RATE))
    offers: list[tuple] = []  # (product, source, price, raw_condition) per distinct offer
    avito = _avito_records(rng, cat, picks_for(1.0, n_avito), offers)
    jumia = _jumia_records(rng, cat, picks_for(JUMIA_COVERAGE, n_jumia), offers)
    electro = _electro_records(rng, cat, picks_for(ELECTRO_COVERAGE, n_electro), offers)

    with open(out / "avito_ads.json", "w", encoding="utf-8") as f:
        for i, rec in enumerate(avito):
            if i == len(avito) // 2:
                f.write('{"ad_id": "corrupt", "title": truncated\n')
            f.write(json.dumps(rec, ensure_ascii=False) + "\n")
    with open(out / "jumia_products.json", "w", encoding="utf-8") as f:
        json.dump(jumia, f, ensure_ascii=False, indent=1)
    with open(out / "electroplanet_data.json", "w", encoding="utf-8") as f:
        json.dump(electro, f, ensure_ascii=False, indent=1)

    # expected merge result: `offers` holds one entry per distinct
    # (product, source, url, price) — reposts were never added to it
    cond_of = dict(AVITO_CONDITIONS)
    per_source, per_cond, price_sum = Counter(), Counter(), Counter()
    pid_sources: dict[str, set] = defaultdict(set)
    pid_offers: Counter = Counter()
    positive: dict[str, list[int]] = defaultdict(list)
    for p, source, price, raw_cond in offers:
        per_source[source] += 1
        per_cond[cond_of[raw_cond] if source == "Avito" else "new"] += 1
        price_sum[source] += price or 0
        pid_sources[p["pid"]].add(source)
        pid_offers[p["pid"]] += 1
        if price:
            positive[p["pid"]].append(price)
    brand_of = {p["pid"]: p["brand"] for p in cat}
    hot_pid, hot_n = pid_offers.most_common(1)[0]
    sure, possible = _anomaly_bounds(positive)
    manifest = {
        "seed": seed,
        "raw_records": {"avito": len(avito), "jumia": len(jumia), "electroplanet": len(electro)},
        "raw_total": len(avito) + len(jumia) + len(electro),
        "corrupt_lines": 1,
        "reposts": len(avito) - n_avito,
        "products": len(pid_offers),
        "offers": len(offers),
        "offers_per_source": dict(sorted(per_source.items())),
        "offers_per_condition": dict(sorted(per_cond.items())),
        "products_per_brand": dict(sorted(Counter(brand_of[pid] for pid in pid_offers).items())),
        "price_sum_per_source": dict(sorted(price_sum.items())),
        "multi_source_products": sum(1 for s in pid_sources.values() if len(s) >= 2),
        "hot_product": {"product_id": hot_pid, "offers": hot_n},
        "anomaly_groups": sum(1 for ps in positive.values() if len(ps) >= 3),
        "anomalies": [sure, possible],
    }
    with open(out / "manifest.json", "w", encoding="utf-8") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
