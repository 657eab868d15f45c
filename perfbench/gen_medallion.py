"""Seeded generator for the six medallion source CSVs (FIXTURES.md §1).

Writes a base load plus daily deltas under <out>:

    <out>/base/source_crm/{cust_info,prd_info,sales_details}.csv
    <out>/base/source_erp/{CUST_AZ12,LOC_A101,PX_CAT_G1V2}.csv
    <out>/day_01/...            (one directory per daily delta)
    <out>/manifest.json         (declared quirk counts and expected results)

The base is `scale` times the reference's size (18,493 customers, 397
products, 60,398 sales lines, ...). Each delta is about `delta_share` of the
base: new customers, re-sent versions of existing customers, their sales,
ERP rows and a few new products and categories.

Every quirk class of FIXTURES.md §1 is planted at a count this module
declares: blank and duplicated `cst_id`, untrimmed names, `0` yyyymmdd order
dates, sales that are null or differ from quantity × price, null prices,
`NAS`-prefixed ERP ids, future birthdates, and gender and country spelling
variants. The manifest holds, after every load, the row counts bronze,
silver and gold must reach and the repaired-row counts silver must show, so
a run can check the program's outputs against it.

Used by run.py through generate(out, seed, scale, days, delta_share).
"""
import csv
import datetime as dt
import json
import os
import random

REFERENCE_ROWS = {"customers": 18493, "products": 397, "sales": 60398}
# FIXTURES.md §1.5 country spellings and their reference counts
COUNTRIES = [("Australia", 2400), ("Canada", 2000), ("France", 1800),
             ("United Kingdom", 2300), ("DE", 566), ("Germany", 1214),
             ("US", 1500), ("USA", 2591), ("United States", 3391),
             ("", 200), ("  ", 137)]
CATEGORIES = [("AC", "Accessories"), ("BI", "Bikes"), ("CL", "Clothing"),
              ("CO", "Components")]
SUBCATS = ["Bike Racks", "Helmets", "Locks", "Pumps", "Road Bikes",
           "Mountain Bikes", "Caps", "Gloves", "Jerseys", "Brakes", "Chains",
           "Cranksets", "Forks", "Handlebars", "Pedals", "Saddles"]
FIRST = ["Jon", "Eugene", "Ruben", "Christy", "Elizabeth", "Julio", "Janet",
         "Marco", "Rob", "Shannon", "Jacquelyn", "Curtis", "Lauren", "Ian"]
LAST = ["Yang", "Huang", "Torres", "Zhu", "Johnson", "Ruiz", "Alvarez",
        "Mehta", "Verhoff", "Carlson", "Suarez", "Lu", "Walker", "Jenkins"]
FUTURE_BIRTH = dt.date(2090, 1, 1)


def scaled(n, scale):
    return max(1, int(round(n * scale)))


def yyyymmdd(d):
    return int(d.strftime("%Y%m%d"))


class Generator:
    """Keeps the cumulative state the expected results are derived from."""

    def __init__(self, seed, scale):
        self.rng = random.Random(seed)
        self.scale = scale
        self.next_cst = 11000
        self.next_prd = 200
        self.next_ord = 43697
        self.next_cat = 0
        self.customers = {}      # cst_id -> (create_date, gender) of the latest version
        self.cust_keys = []      # valid ids, for sales and ERP rows
        self.products = []       # sales-joinable product keys
        self.totals = {t: 0 for t in ("crm_customers_raw", "crm_products_raw",
                                      "crm_sales_raw", "erp_customers_raw",
                                      "erp_locations_raw",
                                      "erp_product_categories_raw")}
        self.expect = {"silver.crm_products.rows": 0, "silver.crm_sales.rows": 0,
                       "silver.crm_sales.null_order_dt": 0,
                       "silver.crm_sales.sum_sales": 0,
                       "bronze.crm_sales_raw.repaired": 0,
                       "silver.erp_customers.rows": 0,
                       "silver.erp_customers.null_bdate": 0,
                       "silver.erp_locations.rows": 0,
                       "silver.erp_locations.germany": 0,
                       "silver.erp_locations.united_states": 0,
                       "silver.erp_locations.na": 0,
                       "gold.customer_analytics.sum_ltv": 0}
        self.quirks = {k: 0 for k in ("blank_cst_id", "duplicated_cst_id",
                                      "untrimmed_names", "zero_order_dt",
                                      "sales_null", "sales_mismatch",
                                      "price_null", "nas_prefix",
                                      "future_birthdate", "country_variant",
                                      "gender_variant")}

    # -- CRM -------------------------------------------------------------

    def customer_row(self, cst_id, create):
        r = self.rng
        first, last = r.choice(FIRST), r.choice(LAST)
        if r.random() < 0.1:
            first, last = " " + first, last + " "
            self.quirks["untrimmed_names"] += 1
        gender = r.choice(["M", "F", "M", "F", ""])
        marital = r.choice(["M", "S", "M", "S", ""])
        self.customers[cst_id] = (create, gender)
        return [cst_id, "AW%08d" % cst_id, first, last, marital, gender,
                create.isoformat()]

    def crm_customers(self, n_new, n_resent, n_blank, day0):
        r = self.rng
        rows = []
        new_ids = list(range(self.next_cst, self.next_cst + n_new))
        self.next_cst += n_new
        for cid in new_ids:
            rows.append(self.customer_row(cid, day0 - dt.timedelta(days=r.randint(30, 3000))))
        # re-sent versions carry a strictly later create date, so the
        # dedup-latest rule has exactly one winner per id
        resent = r.sample(self.cust_keys or new_ids, n_resent)
        for cid in resent:
            prev = self.customers.get(cid, (day0 - dt.timedelta(days=3000), ""))[0]
            rows.append(self.customer_row(cid, prev + dt.timedelta(days=r.randint(1, 20))))
        self.quirks["duplicated_cst_id"] += n_resent
        for _ in range(n_blank):
            rows.append(["", "SF%03d" % r.randint(0, 999), "", "", "", "", ""])
        self.quirks["blank_cst_id"] += n_blank
        self.cust_keys.extend(new_ids)
        r.shuffle(rows)
        return new_ids, rows

    def crm_products(self, n):
        r = self.rng
        rows = []
        for _ in range(n):
            cat = r.choice(CATEGORIES)[0] + "-" + r.choice(["BR", "HL", "LO", "PU", "RB"])
            key = "%s-%s%03d-%d" % (r.choice(["FR", "BK", "HB", "SA"]), r.choice("RMT"),
                                    r.randint(0, 999), r.randint(38, 62))
            cost = "" if r.random() < 0.01 else r.randint(1, 2000)
            line = r.choice(["R ", "M ", "S", "T", "", "M", "R"])
            start = dt.date(2003, 7, 1) + dt.timedelta(days=r.randint(0, 3000))
            end = "" if r.random() < 0.5 else (start + dt.timedelta(days=r.randint(30, 900))).isoformat()
            rows.append([self.next_prd, "%s-%s" % (cat, key), "Product %d" % self.next_prd,
                         cost, line, start.isoformat(), end])
            self.products.append(key)
            self.next_prd += 1
        # every file needs a non-blank integer cost and a non-blank end date,
        # so each column's inferred type is the same in every batch bronze
        # appends
        if all(row[3] == "" for row in rows):
            rows[0][3] = 100
        if all(row[6] == "" for row in rows):
            rows[0][6] = (dt.date.fromisoformat(rows[0][5]) + dt.timedelta(days=365)).isoformat()
        self.expect["silver.crm_products.rows"] += n
        return rows

    def crm_sales(self, n, cust_ids, n_zero, n_null_sales, n_mismatch, n_null_price, day0):
        r = self.rng
        rows = []
        kinds = (["zero"] * n_zero + ["null_sales"] * n_null_sales +
                 ["mismatch"] * n_mismatch + ["null_price"] * n_null_price)
        kinds += ["clean"] * (n - len(kinds))
        r.shuffle(kinds)
        for kind in kinds:
            order = day0 - dt.timedelta(days=r.randint(0, 1500))
            qty = r.randint(1, 4)
            price = r.randint(2, 3600)
            true_sales = qty * price
            sales, price_out, order_out = true_sales, price, yyyymmdd(order)
            if kind == "zero":
                order_out = 0
                self.expect["silver.crm_sales.null_order_dt"] += 1
            elif kind == "null_sales":
                sales = ""
            elif kind == "mismatch":
                sales = true_sales + r.choice([-1, 1]) * r.randint(1, price)
            elif kind == "null_price":
                price_out = ""
            if kind in ("null_sales", "mismatch"):
                self.expect["bronze.crm_sales_raw.repaired"] += 1
            if kind != "zero":
                self.expect["gold.customer_analytics.sum_ltv"] += true_sales
            self.expect["silver.crm_sales.sum_sales"] += true_sales
            rows.append(["SO%d" % self.next_ord, r.choice(self.products), r.choice(cust_ids),
                         order_out, yyyymmdd(order + dt.timedelta(days=7)),
                         yyyymmdd(order + dt.timedelta(days=12)), sales, qty, price_out])
            if r.random() < 0.6:
                self.next_ord += 1
        self.quirks["zero_order_dt"] += n_zero
        self.quirks["sales_null"] += n_null_sales
        self.quirks["sales_mismatch"] += n_mismatch
        self.quirks["price_null"] += n_null_price
        self.expect["silver.crm_sales.rows"] += n
        return rows

    # -- ERP -------------------------------------------------------------

    def erp_customers(self, cust_ids, n_future):
        r = self.rng
        rows = []
        future = set(r.sample(cust_ids, min(n_future, len(cust_ids))))
        for cid in cust_ids:
            key = "AW%08d" % cid
            if r.random() < 0.6:
                key = "NAS" + key
                self.quirks["nas_prefix"] += 1
            if cid in future:
                bdate = FUTURE_BIRTH + dt.timedelta(days=r.randint(0, 3000))
            else:
                bdate = dt.date(1916, 1, 1) + dt.timedelta(days=r.randint(0, 30000))
            gen = r.choice(["Male", "Female", "M", "F", "", " "])
            if gen not in ("Male", "Female"):
                self.quirks["gender_variant"] += 1
            rows.append([key, bdate.isoformat(), gen])
        self.quirks["future_birthdate"] += len(future)
        self.expect["silver.erp_customers.rows"] += len(rows)
        self.expect["silver.erp_customers.null_bdate"] += len(future)
        return rows

    def erp_locations(self, cust_ids):
        r = self.rng
        names = [c for c, _ in COUNTRIES]
        weights = [w for _, w in COUNTRIES]
        rows = []
        for cid in cust_ids:
            c = r.choices(names, weights)[0]
            t = c.strip().upper()
            if t in ("DE", "GERMANY"):
                self.expect["silver.erp_locations.germany"] += 1
            elif t in ("US", "USA", "UNITED STATES"):
                self.expect["silver.erp_locations.united_states"] += 1
            elif t == "":
                self.expect["silver.erp_locations.na"] += 1
            if c in ("DE", "US", "USA", "", "  "):
                self.quirks["country_variant"] += 1
            rows.append(["AW-%08d" % cid, c])
        self.expect["silver.erp_locations.rows"] += len(rows)
        return rows

    def erp_categories(self, n):
        r = self.rng
        rows = []
        for _ in range(n):
            main, cat = CATEGORIES[self.next_cat % len(CATEGORIES)]
            rows.append(["%s_%02d" % (main, self.next_cat), cat, r.choice(SUBCATS),
                         r.choice(["Yes", "No"])])
            self.next_cat += 1
        return rows

    # -- one load ----------------------------------------------------------

    def load(self, out, share, day0, first):
        """One batch of all six files; `share` of the reference's size."""
        s = self.scale * share
        n_cust = scaled(REFERENCE_ROWS["customers"], s)
        new_ids, cust_rows = self.crm_customers(
            n_cust, scaled(6, s), scaled(7, s), day0)
        prd_rows = self.crm_products(scaled(REFERENCE_ROWS["products"], s))
        sales_rows = self.crm_sales(
            scaled(REFERENCE_ROWS["sales"], s), self.cust_keys,
            scaled(17, s), scaled(8, s), scaled(20, s), scaled(7, s), day0)
        erp_rows = self.erp_customers(new_ids, scaled(16, s))
        loc_rows = self.erp_locations(new_ids)
        cat_rows = self.erp_categories(36 if first else 1)
        files = {
            ("source_crm", "cust_info.csv", "crm_customers_raw"):
                (["cst_id", "cst_key", "cst_firstname", "cst_lastname",
                  "cst_marital_status", "cst_gndr", "cst_create_date"], cust_rows),
            ("source_crm", "prd_info.csv", "crm_products_raw"):
                (["prd_id", "prd_key", "prd_nm", "prd_cost", "prd_line",
                  "prd_start_dt", "prd_end_dt"], prd_rows),
            ("source_crm", "sales_details.csv", "crm_sales_raw"):
                (["sls_ord_num", "sls_prd_key", "sls_cust_id", "sls_order_dt",
                  "sls_ship_dt", "sls_due_dt", "sls_sales", "sls_quantity",
                  "sls_price"], sales_rows),
            ("source_erp", "CUST_AZ12.csv", "erp_customers_raw"): (["CID", "BDATE", "GEN"], erp_rows),
            ("source_erp", "LOC_A101.csv", "erp_locations_raw"): (["CID", "CNTRY"], loc_rows),
            ("source_erp", "PX_CAT_G1V2.csv", "erp_product_categories_raw"):
                (["ID", "CAT", "SUBCAT", "MAINTENANCE"], cat_rows),
        }
        rows_in = 0
        for (sub, name, table), (header, rows) in files.items():
            os.makedirs(os.path.join(out, sub), exist_ok=True)
            with open(os.path.join(out, sub, name), "w", newline="") as f:
                w = csv.writer(f, lineterminator="\n")
                w.writerow(header)
                w.writerows(rows)
            self.totals[table] += len(rows)
            rows_in += len(rows)
        expect = {"bronze.%s.rows" % t: n for t, n in self.totals.items()}
        expect.update(self.expect)
        expect["silver.crm_customers.rows"] = len(self.customers)
        expect["silver.crm_customers.male"] = sum(
            1 for _, g in self.customers.values() if g == "M")
        expect["gold.customer_analytics.rows"] = len(self.customers)
        expect["silver.erp_customers.nas_prefixed"] = 0
        return {"dir": os.path.basename(out), "rows": rows_in, "expect": expect}


def generate(out, seed, scale, days, delta_share):
    """Write the base and `days` deltas under `out`; return the manifest."""
    g = Generator(seed, scale)
    day0 = dt.date(2024, 1, 1)
    loads = [g.load(os.path.join(out, "base"), 1.0, day0, first=True)]
    for d in range(1, days + 1):
        loads.append(g.load(os.path.join(out, "day_%02d" % d), delta_share,
                            day0 + dt.timedelta(days=d), first=False))
    manifest = {"seed": seed, "scale": scale, "days": days,
                "delta_share": delta_share, "quirks": g.quirks, "loads": loads}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

