"""Seeded Northwind-shaped CSV generator for the etl_warehouse workload.

Writes the six raw sources ReferenceParity.run reads (sales, customers,
products, suppliers, taxrate, exchange_data) with the dirt FIXTURES.md
sections 1-5 catalogue planted at the reference's rates, and returns the
expectations that follow from what was planted: audit counts, anomaly
counts, fact rows and warehouse row counts.

The expectations are derived from the planted cells with the pipeline's
documented rules (the audit predicates of Audit.RefRules, the cleaning
rules of Cleaning, the anomaly rules and the star joins of
ReferenceParity), never by running the pipeline. The same seed gives
byte-identical files.
"""

import csv
import datetime as dt
import io
import os
import random
import re

REF_SALES_ROWS = 2155
RUN_DATE = "2024-11-24"

# FIXTURES.md section 1: corrupt cells, cycled through when planting
FREIGHT_CORRUPT = ["22vv.98", "7ffg.15", "8.5,l3"]
UNITPRICE_CORRUPT = ["2df6.2", "4ffg.8", "1^&T*&#4/1/20212.5",
                     "7.7wehfnkshgnhv5", "62%^R^%RFYU#BYGBF&.5"]
QUANTITY_CORRUPT = ["&7", "s8", "ywe7&&6"]
DISCOUNT_CORRUPT = ["t"]
# multi-dot garbage: fails the numeric parse, cleans to UnitPrice 0.0 and
# so trips the "Low or Negative Amount" anomaly rule
UNITPRICE_UNPARSEABLE = ["3..5", "1.2.5"]

# counts of each planted kind in the 2,155 sales rows (the reference's own)
SALES_DIRT = {
    "freight_corrupt": 3, "freight_negative": 1,
    "unitprice_corrupt": 5, "unitprice_negative": 2,
    "unitprice_unparseable": 1,
    "quantity_corrupt": 3, "quantity_negative": 3, "quantity_huge": 1,
    "discount_corrupt": 1, "discount_negative": 2, "discount_null": 1,
    "shipped_null": 73, "region_null": 1298, "postal_null": 55,
    "country_null": 3, "address_null": 3, "city_null": 1,
    "future_date": 1,
}

EUROZONE = {"France", "Italy", "Germany", "Austria", "Spain", "Portugal",
            "Netherlands", "Finland", "Belgium", "Greece", "Ireland",
            "Slovakia", "Slovenia", "Estonia", "Lithuania", "Latvia",
            "Luxembourg", "Malta"}

# exchange_data pairs (FIXTURES.md section 5); EU is the EUR baseline
EXCHANGE_PAIRS = [("EU", "EUR", 1.0), ("Australia", "AUD", 1.6),
                  ("Brazil", "BRL", 5.9), ("Canada", "CAD", 1.45),
                  ("Denmark", "DKK", 7.46), ("Japan", "JPY", 155.0),
                  ("Norway", "NOK", 11.3), ("Singapore", "SGD", 1.45),
                  ("Sweden", "SEK", 11.2), ("UK", "GBP", 0.86),
                  ("USA", "USD", 1.08)]

# ISO alpha-3 of every clean country name used below (graft CountryCodes)
ISO = {"Argentina": "ARG", "Australia": "AUS", "Austria": "AUT",
       "Belgium": "BEL", "Brazil": "BRA", "Canada": "CAN",
       "Denmark": "DNK", "Finland": "FIN", "France": "FRA",
       "Germany": "DEU", "Ireland": "IRL", "Italy": "ITA", "Japan": "JPN",
       "Mexico": "MEX", "Netherlands": "NLD", "Norway": "NOR",
       "Poland": "POL", "Portugal": "PRT", "Singapore": "SGP",
       "Spain": "ESP", "Sweden": "SWE", "Switzerland": "CHE",
       "UK": "GBR", "USA": "USA", "Venezuela": "VEN"}

# customers and ship countries: 21 names, all with a tax rate
CUSTOMER_COUNTRIES = ["Argentina", "Austria", "Belgium", "Brazil", "Canada",
                      "Denmark", "Finland", "France", "Germany", "Ireland",
                      "Italy", "Mexico", "Norway", "Poland", "Portugal",
                      "Spain", "Sweden", "Switzerland", "UK", "USA",
                      "Venezuela"]
TAX_COUNTRIES = CUSTOMER_COUNTRIES + ["Australia", "Japan", "Netherlands"]
# suppliers: eurozone or a currency with an exchange series
SUPPLIER_COUNTRIES = ["UK", "USA", "Japan", "Spain", "Australia", "Sweden",
                      "Brazil", "Germany", "Italy", "Norway", "France",
                      "Singapore", "Denmark", "Netherlands", "Finland",
                      "Canada"]

CALENDAR_LO = dt.date(2022, 1, 1)
EXCHANGE_LO = dt.date(2021, 1, 1)
EXCHANGE_HI = dt.date(2024, 11, 19)

_STRIP = re.compile(r"[^0-9.]")


def clean_float(raw):
    """Cleaning.cleanPositiveFloat: strip junk, parse, null -> 0.0."""
    if raw is None:
        return 0.0
    try:
        v = float(_STRIP.sub("", raw))
    except ValueError:
        return 0.0
    return 0.0 if v < 0 else v


def clean_int(raw):
    """Cleaning.cleanPositiveInt: strip junk, floor, non-positive -> 1."""
    if raw is None:
        return 1
    try:
        v = int(float(_STRIP.sub("", raw)) // 1)
    except ValueError:
        return 1
    return 1 if v <= 0 else v


def _is_num(raw, kind):
    if raw is None:
        return False
    try:
        int(raw) if kind == "int" else float(raw)
    except ValueError:
        return False
    return True


def violates_pos(raw, kind, strict):
    """Audit.RefRules.posFloat/posInt (and the strict <= 0 variants): a
    null or unparseable cell, or one whose value truncates below (or to)
    zero."""
    if not _is_num(raw, kind):
        return True
    t = int(float(raw))
    return t <= 0 if strict else t < 0


def _mdyy(d):
    return f"{d.month}/{d.day}/{d.year % 100:02d}"


def _business_days(lo, hi):
    d = lo
    while d <= hi:
        if d.weekday() < 5:
            yield d
        d += dt.timedelta(days=1)


def _code(rng, n, taken):
    while True:
        c = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(n))
        if c not in taken:
            taken.add(c)
            return c


def _postal(i):
    """Mostly numeric postal codes with some UK-style ones, so the column
    reads as text like the reference's (its fills write "Unknown")."""
    return f"WX{i % 9} {i % 7}AB" if i % 5 == 0 else f"{20000 + i}"


def _phone(rng):
    return f"({rng.randint(1, 99)}) 555-{rng.randint(1000, 9999)}"


def _csv(header, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    return buf.getvalue()


def _plant(rng, n, k, taken=None):
    """k distinct row indices out of n, avoiding `taken`."""
    pool = [i for i in range(n) if taken is None or i not in taken]
    picked = rng.sample(pool, k)
    if taken is not None:
        taken.update(picked)
    return picked


def generate(seed):
    """Return ({file name: CSV text}, expectations) for `seed`."""
    rng = random.Random(seed)
    n_sales = REF_SALES_ROWS

    # ---- suppliers (29 rows, FIXTURES.md section 4) ----
    n_sup = 29
    sup_country = [SUPPLIER_COUNTRIES[i % len(SUPPLIER_COUNTRIES)]
                   for i in range(n_sup)]
    rng.shuffle(sup_country)
    sup_rows = []
    sup_null_company = set(_plant(rng, n_sup, 1))
    sup_null_region = set(_plant(rng, n_sup, 20))
    sup_null_fax = set(_plant(rng, n_sup, 16))
    sup_null_home = set(_plant(rng, n_sup, 24))
    sup_bad_phone = set(_plant(rng, n_sup, 2))
    sup_bad_fax = set(_plant(rng, n_sup, 1, set(sup_null_fax)))
    for i in range(n_sup):
        phone = "(03) 4S4-22S5" if i in sup_bad_phone else _phone(rng)
        fax = (None if i in sup_null_fax else
               "(1) 03.83.0x.12" if i in sup_bad_fax else _phone(rng))
        sup_rows.append([
            i + 1,
            None if i in sup_null_company else f"Supplier {i + 1} Ltd.",
            f"Contact {i + 1}", "Sales Manager", f"{i + 1} Market St.",
            f"City{i % 17}",
            None if i in sup_null_region else f"Region{i % 5}",
            f"{10000 + i * 37}", sup_country[i], phone, fax,
            None if i in sup_null_home else f"http://sup{i + 1}.example"])

    # ---- products (77 rows, FIXTURES.md section 3) ----
    n_prod = 77
    prod_sup = [1 + (i % n_sup) for i in range(n_prod)]
    rng.shuffle(prod_sup)
    discontinued = set(_plant(rng, n_prod, 8))
    taken = set()
    stock_corrupt = _plant(rng, n_prod, 2, taken)
    stock_zero = _plant(rng, n_prod, 5, taken)
    onorder_corrupt = _plant(rng, n_prod, 1)
    reorder_zero = set(_plant(rng, n_prod, 24))
    price_corrupt = _plant(rng, n_prod, 2)
    price_zero = _plant(rng, n_prod, 1, set(price_corrupt))
    null_name = set(_plant(rng, n_prod, 2))
    # active products no sale will reference: the "Active No Sales"
    # product anomaly (reference: 1)
    unsold = [i for i in rng.sample(range(n_prod), 12)
              if i not in discontinued and i not in stock_corrupt
              and i not in stock_zero][:1]
    stock = {}
    onorder = {}
    prod_rows = []
    for i in range(n_prod):
        st = str(rng.randint(10, 120)) if i not in unsold else "50"
        if i in stock_corrupt:
            st = ["1a13", "1ccv%5"][stock_corrupt.index(i) % 2]
        elif i in stock_zero:
            st = "0"
        oo = "0" if rng.random() < 0.8 else str(rng.choice([10, 20, 40]))
        if i in onorder_corrupt:
            oo = "7*0"
        price = f"{rng.randint(25, 2500) / 10:.1f}"
        if i in price_corrupt:
            price = ["1k", "1A"][price_corrupt.index(i) % 2]
        elif i in price_zero:
            price = "0"
        stock[i] = st
        onorder[i] = oo
        prod_rows.append([
            i + 1, None if i in null_name else f"Product {i + 1}",
            prod_sup[i], 1 + i % 8, f"{1 + i % 24} boxes x {10 + i % 20} bags",
            price, st, oo, "0" if i in reorder_zero else str(5 * (1 + i % 6)),
            1 if i in discontinued else 0])

    # ---- customers (91 rows, FIXTURES.md section 2) ----
    n_cust = 91
    ids = set()
    cust_ids = [_code(rng, 5, ids) for _ in range(n_cust)]
    cust_country = [CUSTOMER_COUNTRIES[i % len(CUSTOMER_COUNTRIES)]
                    for i in range(n_cust)]
    rng.shuffle(cust_country)
    bad_phone = _plant(rng, n_cust, 3)
    null_fax = set(_plant(rng, n_cust, 22))
    bad_fax = _plant(rng, n_cust, 1, set(null_fax))
    bad_country = _plant(rng, n_cust, 2)
    null_region = set(_plant(rng, n_cust, 60))
    null_company = set(_plant(rng, n_cust, 1))
    null_city = set(_plant(rng, n_cust, 2))
    null_postal = set(_plant(rng, n_cust, 1))
    cust_rows = []
    for i in range(n_cust):
        country = cust_country[i]
        if i in bad_country:
            country = ["Germani#", "Poretugal#$"][bad_country.index(i)]
        phone = _phone(rng)
        if i in bad_phone:
            phone = ["02C1-039123", "40.67.$8.88",
                     "(14) 555-8^^22"][bad_phone.index(i)]
        fax = None if i in null_fax else _phone(rng)
        if i in bad_fax:
            fax = "(5) 5VC>5-3745"
        cust_rows.append([
            cust_ids[i],
            None if i in null_company else f"Company {cust_ids[i]}",
            f"Contact {i}", "Owner", f"Street {i}",
            None if i in null_city else f"Town{i % 40}",
            None if i in null_region else f"R{i % 7}",
            None if i in null_postal else _postal(i),
            country, phone, fax])

    # ---- taxrate (72 rows) ----
    tax_rows = [[c, y, round(0.05 + rng.randint(0, 20) / 100, 2)]
                for c in TAX_COUNTRIES for y in (2022, 2023, 2024)]

    # ---- exchange_data: business days, with gaps and duplicate rows ----
    days = list(_business_days(EXCHANGE_LO, EXCHANGE_HI))
    ex_rows = []
    have_rate = set()  # (ISO country, date) present after dedup
    n_gaps = 0
    for country, cur, base in EXCHANGE_PAIRS:
        for d in days:
            if country != "EU" and rng.random() < 0.01:
                n_gaps += 1
                continue
            rate = 1.0 if country == "EU" else round(
                base * (1 + (rng.random() - 0.5) / 20), 4)
            ex_rows.append([d.isoformat(), rate, country, cur])
            if country != "EU":
                have_rate.add((ISO[country], d))
    n_ex_distinct = len(ex_rows)
    for r in rng.sample(ex_rows, max(1, len(ex_rows) // 500)):
        ex_rows.append(list(r))
    rng.shuffle(ex_rows)

    # ---- sales (order-line grain, FIXTURES.md section 1) ----
    order_days = list(_business_days(CALENDAR_LO, EXCHANGE_HI))
    sold = [p for p in range(n_prod) if p not in unsold]
    lines = []
    order_id = 10248
    while len(lines) < n_sales:
        k = min(rng.randint(1, 5), n_sales - len(lines))
        cust = rng.randrange(n_cust)
        od = rng.choice(order_days)
        for p in rng.sample(sold, k):
            lines.append((order_id, cust, od, p))
        order_id += 1
    rows = []
    for oid, cust, od, p in lines:
        shipped = od + dt.timedelta(days=rng.randint(1, 30))
        rows.append({
            "OrderID": oid, "CustomerID": cust_ids[cust],
            "EmployeeID": rng.randint(1, 9), "OrderDate": od,
            "RequiredDate": od + dt.timedelta(days=28),
            "ShippedDate": shipped, "ShipVia": rng.randint(1, 3),
            "Freight": f"{rng.randint(2, 99999) / 100:.2f}",
            "ShipName": f"Company {cust_ids[cust]}",
            "ShipAddress": f"Street {cust}", "ShipCity": f"Town{cust % 40}",
            "ShipRegion": f"R{cust % 7}",
            "ShipPostalCode": _postal(cust),
            "ShipCountry": cust_country[cust], "ProductID": p + 1,
            "UnitPrice": f"{rng.randint(20, 2630) / 10:.1f}",
            "Quantity": str(rng.randint(1, 120)),
            "Discount": rng.choice(["0", "0", "0", "0.05", "0.1", "0.15",
                                    "0.2", "0.25"])})

    def plant(column, kind, values):
        for j, i in enumerate(_plant(rng, n_sales, SALES_DIRT[kind],
                                     planted[column])):
            rows[i][column] = values[j % len(values)]

    planted = {c: set() for c in ("Freight", "UnitPrice", "Quantity",
                                  "Discount", "ShippedDate", "ShipRegion",
                                  "ShipPostalCode", "ShipCountry",
                                  "ShipAddress", "ShipCity", "OrderDate")}
    plant("Freight", "freight_corrupt", FREIGHT_CORRUPT)
    plant("Freight", "freight_negative", ["-65.83", "-12.5"])
    plant("UnitPrice", "unitprice_corrupt", UNITPRICE_CORRUPT)
    plant("UnitPrice", "unitprice_negative", ["-2", "-18.4"])
    plant("UnitPrice", "unitprice_unparseable", UNITPRICE_UNPARSEABLE)
    plant("Quantity", "quantity_corrupt", QUANTITY_CORRUPT)
    plant("Quantity", "quantity_negative", ["-25", "-15", "-6"])
    plant("Quantity", "quantity_huge", ["25000", "14000"])
    plant("Discount", "discount_corrupt", DISCOUNT_CORRUPT)
    plant("Discount", "discount_negative", ["-0.15", "-0.02"])
    plant("Discount", "discount_null", [None])
    plant("ShippedDate", "shipped_null", [None])
    plant("ShipRegion", "region_null", [None])
    plant("ShipPostalCode", "postal_null", [None])
    plant("ShipCountry", "country_null", [None])
    plant("ShipAddress", "address_null", [None])
    plant("ShipCity", "city_null", [None])
    future = [dt.date(2024, 12, 2), dt.date(2024, 12, 16)]
    plant("OrderDate", "future_date", future)

    header = ["OrderID", "CustomerID", "EmployeeID", "OrderDate",
              "RequiredDate", "ShippedDate", "ShipVia", "Freight",
              "ShipName", "ShipAddress", "ShipCity", "ShipRegion",
              "ShipPostalCode", "ShipCountry", "OrderID", "ProductID",
              "UnitPrice", "Quantity", "Discount"]

    def date_cell(v):
        return None if v is None else _mdyy(v)

    sales_csv_rows = [[
        r["OrderID"], r["CustomerID"], r["EmployeeID"],
        date_cell(r["OrderDate"]), date_cell(r["RequiredDate"]),
        date_cell(r["ShippedDate"]), r["ShipVia"], r["Freight"],
        r["ShipName"], r["ShipAddress"], r["ShipCity"], r["ShipRegion"],
        r["ShipPostalCode"], r["ShipCountry"], r["OrderID"], r["ProductID"],
        r["UnitPrice"], r["Quantity"], r["Discount"]] for r in rows]

    files = {
        "sales.csv": _csv(header, sales_csv_rows),
        "customers.csv": _csv(
            ["CustomerID", "CompanyName", "ContactName", "ContactTitle",
             "Address", "City", "Region", "PostalCode", "Country", "Phone",
             "Fax"], cust_rows),
        "products.csv": _csv(
            ["ProductID", "ProductName", "SupplierID", "CategoryID",
             "QuantityPerUnit", "UnitPrice", "UnitsInStock", "UnitsOnOrder",
             "ReorderLevel", "Discontinued"], prod_rows),
        "suppliers.csv": _csv(
            ["SupplierID", "CompanyName", "ContactName", "ContactTitle",
             "Address", "City", "Region", "PostalCode", "Country", "Phone",
             "Fax", "HomePage"], sup_rows),
        "taxrate.csv": _csv(["Country", "Year", "TaxRate"], tax_rows),
        "exchange_data.csv": _csv(
            ["date", "exchange_rate_to_euro", "country", "currency"],
            ex_rows),
    }

    # ---- expectations, from the planted cells ----
    run_date = dt.date.fromisoformat(RUN_DATE)
    recent_lo = run_date - dt.timedelta(days=365)
    cal_hi = dt.date(2025, 1, 1)

    def nulls(col):
        return sum(1 for r in rows if r[col] is None)

    sales_vio = {
        "OrderDate": n_sales, "RequiredDate": n_sales,
        "ShippedDate": n_sales - nulls("ShippedDate"),
        "Freight": sum(violates_pos(r["Freight"], "float", False)
                       for r in rows),
        "UnitPrice": sum(violates_pos(r["UnitPrice"], "float", False)
                         for r in rows),
        "Discount": sum(violates_pos(r["Discount"], "float", False)
                        for r in rows),
        "Quantity": sum(violates_pos(r["Quantity"], "int", False)
                        for r in rows),
    }
    sales_anoms = 0
    recent = set()
    tax_keys = {(ISO[c], y) for c, y, _ in tax_rows}
    fact_rows = 0
    for r in rows:
        od = r["OrderDate"]
        amount = (clean_float(r["UnitPrice"]) * clean_int(r["Quantity"]) *
                  (1.0 - clean_float(r["Discount"])))
        if od > run_date or clean_int(r["Quantity"]) > 10000 or amount <= 0:
            sales_anoms += 1
        if od >= recent_lo:
            recent.add(r["ProductID"] - 1)
        # the star's inner joins: calendar, tax rate, exchange id, store
        ship_iso = ISO.get(r["ShipCountry"] or "", "UNK")
        prod_country = sup_country[prod_sup[r["ProductID"] - 1] - 1]
        has_ex = (prod_country in EUROZONE or
                  (ISO[prod_country], od) in have_rate)
        if (CALENDAR_LO <= od <= cal_hi and (ship_iso, od.year) in tax_keys
                and has_ex):
            fact_rows += 1
    prod_anoms = sum(
        1 for i in range(n_prod)
        if i not in discontinued and clean_int(stock[i]) >= 10
        and i not in recent)

    prod_vio = {
        "UnitsInStock": sum(violates_pos(stock[i], "int", True)
                            for i in range(n_prod)),
        "UnitsOnOrder": sum(violates_pos(onorder[i], "int", True)
                            for i in range(n_prod)),
        "ReorderLevel": len(reorder_zero),
        "UnitPrice": sum(violates_pos(prod_rows[i][5], "float", True)
                         for i in range(n_prod)),
    }
    stores = len({prod_sup[i] for i in range(n_prod)})
    expectations = {
        "rows": {"sales": n_sales, "customers": n_cust, "products": n_prod,
                 "suppliers": n_sup, "taxrate": len(tax_rows),
                 "exchange_data": len(ex_rows)},
        "audit": {
            "sales": {
                "missing": {"ShippedDate": nulls("ShippedDate"),
                            "ShipRegion": nulls("ShipRegion"),
                            "ShipPostalCode": nulls("ShipPostalCode"),
                            "ShipCountry": nulls("ShipCountry"),
                            "ShipAddress": nulls("ShipAddress"),
                            "ShipCity": nulls("ShipCity"),
                            "Discount": nulls("Discount")},
                "violations": sales_vio,
                "duplicate_columns": {"OrderID": ["OrderID0", "OrderID14"]}},
            "customers": {
                "missing": {"Region": 60, "Fax": 22, "CompanyName": 1,
                            "City": 2, "PostalCode": 1},
                "violations": {"Phone": 3, "Fax": 1, "Country": 2,
                               "Address": 0}},
            "products": {"missing": {"ProductName": 2},
                         "violations": prod_vio},
            "suppliers": {
                "missing": {"CompanyName": 1, "Region": 20, "Fax": 16,
                            "HomePage": 24},
                "violations": {"Phone": 2, "Fax": 1}},
        },
        "anomalies": {"sales": sales_anoms, "products": prod_anoms},
        "fact_rows": fact_rows,
        "exchange_gaps": n_gaps,
        "warehouse_rows": {
            "dim_customers": n_cust, "dim_products": n_prod,
            "dim_store": stores,
            "dim_calendar": (cal_hi - CALENDAR_LO).days + 1,
            "dim_taxrate": len(tax_rows), "dim_exchange": n_ex_distinct,
            "fact_sales": fact_rows},
    }
    return files, expectations


def write(out_dir, seed):
    """Write the CSVs under `out_dir`; return (expectations, input bytes)."""
    files, expectations = generate(seed)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, text in sorted(files.items()):
        data = text.encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
        total += len(data)
    return expectations, total
