"""Seeded Olist-shaped CSV generator for the olist-refresh workload.

Writes the nine files `graft.olist.Bronze.loadAll` reads, with the same
shapes and dirty-data shares `graft.tools.OlistScaleGen` documents:
mixed-case order status, comma decimals, unparseable approval dates,
~1% duplicate review ids, ~2% out-of-domain review scores, empty
product lengths and a category with no translation. The same seed and
order count always give the same bytes.
"""
import os
import random
from datetime import datetime, timedelta

CITIES = ["sao paulo", "São Paulo", "rio de janeiro", "belo horizonte",
          "curitiba", "brasília", "porto alegre", "salvador"]
STATES = ["SP", "RJ", "MG", "PR", "DF", "RS", "BA", "sp"]
TRANSLATED = [("beleza_saude", "health_beauty"),
              ("informatica_acessorios", "computers_accessories"),
              ("cama_mesa_banho", "bed_bath_table"),
              ("moveis_decoracao", "furniture_decor"),
              ("esporte_lazer", "sports_leisure")]
CATEGORIES = [c for c, _ in TRANSLATED] + ["categoria_sem_traducao"]
PAYMENT_TYPES = ["credit_card", "BOLETO", "voucher", "debit_card"]
EPOCH = datetime(2016, 9, 1)

# file stem → (header, separator); the reviews file is pipe-separated
FILES = {
    "olist_customers": ("customer_id,customer_unique_id,customer_zip_code_prefix,"
                        "customer_city,customer_state", ","),
    "olist_geolocation": ("geolocation_zip_code_prefix,geolocation_lat,geolocation_lng,"
                          "geolocation_city,geolocation_state", ","),
    "olist_orders": ("order_id,customer_id,order_status,order_purchase_timestamp,"
                     "order_approved_at,order_delivered_carrier_date,"
                     "order_delivered_customer_date,order_estimated_delivery_date", ","),
    "olist_order_items": ("order_id,order_item_id,product_id,seller_id,"
                          "shipping_limit_date,price,freight_value", ","),
    "olist_order_payments": ("order_id,payment_sequential,payment_type,"
                             "payment_installments,payment_value", ","),
    "olist_order_reviews": ("review_id|order_id|review_score|review_comment_title|"
                            "review_comment_message|review_creation_date|"
                            "review_answer_timestamp", "|"),
    "olist_products": ("product_id,product_category_name,product_name_lenght,"
                       "product_description_lenght,product_photos_qty,product_weight_g,"
                       "product_length_cm,product_height_cm,product_width_cm", ","),
    "olist_sellers": ("seller_id,seller_zip_code_prefix,seller_city,seller_state", ","),
    "product_category_name_translation": ("product_category_name,"
                                          "product_category_name_english", ","),
}


def _ts(day: int, hour: int, minute: int) -> str:
    return (EPOCH + timedelta(days=day, hours=hour, minutes=minute)).strftime("%Y-%m-%d %H:%M:%S")


def _cents(r: random.Random, whole: int, comma_share: float) -> str:
    v = f"{r.randrange(whole)}.{r.randrange(100):02d}"
    # a comma decimal must be quoted in a comma-separated file
    return '"' + v.replace(".", ",") + '"' if r.random() < comma_share else v


def rows(seed: int, n_orders: int) -> dict:
    """Every file's data rows (header excluded), keyed by file stem."""
    r = random.Random(seed)
    n_products = max(100, n_orders // 3)
    n_sellers = max(50, n_orders // 30)
    n_items = int(n_orders * 1.13)
    n_payments = int(n_orders * 1.04)
    n_reviews = int(n_orders * 0.99)
    zip5 = lambda: f"{r.randrange(99999):05d}"
    out = {}
    out["olist_customers"] = [
        f"c{i},u{r.randrange(max(1, int(n_orders * 0.8)))},{zip5()},"
        f"{r.choice(CITIES)},{r.choice(STATES)}" for i in range(n_orders)]
    out["olist_geolocation"] = [
        f"{zip5()},{-23.5 - r.randrange(1000) / 1000.0},{-46.6 - r.randrange(1000) / 1000.0},"
        f"{r.choice(CITIES)},{r.choice(STATES)}" for _ in range(n_orders)]
    orders = []
    for i in range(n_orders):
        day, hh, mm, u = r.randrange(730), r.randrange(24), r.randrange(60), r.randrange(100)
        status = ("delivered" if u < 90 else "shipped" if u < 95
                  else "DELIVERED" if u < 98 else "canceled")
        approved = "not-a-date" if r.randrange(50) == 0 else _ts(day, hh + 2, mm)
        delivered = _ts(day + 7 + r.randrange(20), hh, mm) if u < 98 else ""
        orders.append(f"o{i},c{i},{status},{_ts(day, hh, mm)},{approved},"
                      f"{_ts(day + 2, hh, mm)},{delivered},{_ts(day + 14, hh, mm)}")
    out["olist_orders"] = orders
    out["olist_order_items"] = [
        f"o{i % n_orders},{i // n_orders + 1},p{r.randrange(n_products)},"
        f"s{r.randrange(n_sellers)},{_ts(r.randrange(730) + 4, 0, 0)},"
        f"{_cents(r, 300, 0.1)},{_cents(r, 40, 0.0)}" for i in range(n_items)]
    out["olist_order_payments"] = [
        f"o{i % n_orders},{i // n_orders + 1},{r.choice(PAYMENT_TYPES)},"
        f"{r.randrange(10) + 1},{_cents(r, 500, 0.0)}" for i in range(n_payments)]
    reviews = []
    for i in range(n_reviews):
        day = r.randrange(730)
        rid = i - 1 if i > 0 and r.randrange(100) == 0 else i  # ~1% duplicate ids
        score = "6" if r.randrange(50) == 0 else str(r.randrange(5) + 1)  # ~2% out of domain
        title = "" if r.randrange(3) == 0 else "titulo"
        msg = "" if r.randrange(4) == 0 else "entrega rapida muito bom"
        reviews.append(f"r{rid}|o{r.randrange(n_orders)}|{score}|{title}|{msg}|"
                       f"{_ts(day + 19, 0, 0)}|{_ts(day + 20 + r.randrange(5), 0, 0)}")
    out["olist_order_reviews"] = reviews
    out["olist_products"] = [
        f"p{i},{r.choice(CATEGORIES)},{r.randrange(60)},{r.randrange(500)},"
        f"{r.randrange(5) + 1},\"{r.randrange(5000)},00\","
        f"{'' if r.randrange(20) == 0 else r.randrange(50) + 5},"
        f"{r.randrange(40) + 5},{r.randrange(30) + 5}" for i in range(n_products)]
    out["olist_sellers"] = [
        f"s{i},{zip5()},{r.choice(CITIES)},{r.choice(STATES)}" for i in range(n_sellers)]
    out["product_category_name_translation"] = [f"{a},{b}" for a, b in TRANSLATED]
    return out


def write(csv_dir: str, seed: int, n_orders: int) -> dict:
    """Write the nine CSVs under `csv_dir`; returns rows written per file."""
    os.makedirs(csv_dir, exist_ok=True)
    counts = {}
    for stem, lines in rows(seed, n_orders).items():
        header, _ = FILES[stem]
        with open(os.path.join(csv_dir, stem + ".csv"), "w", encoding="utf-8") as f:
            f.write(header + "\n")
            f.write("\n".join(lines) + "\n")
        counts[stem] = len(lines)
    return counts
