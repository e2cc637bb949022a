"""Seeded bronze CSV generator for the medallion workloads.

Writes one CSV per (domain, file) with the reference generators' columns and
defect mix, and a manifest that records, per file, every injected defect:

  - exact-duplicate rows (the copy sits next to the original, in the same
    file, so a duplicate never spans two drains);
  - null required fields (sales quantity/customer_id, events
    customer_id/session_id, inventory quantity/warehouse_id);
  - `UNKNOWN` event types and `TRANSFER` movement types;
  - zero quantities (inventory);
  - corrupted sales totals (off by at least two cents, so the silver fix
    rule `|total - round(qty * price, 2)| > 0.01` is never a float tie).

Money stays on the integer-cent grid: prices and totals are written as
`cents / 100` with two decimals, so every engine parses the same double.
Rule counts in the manifest are taken after duplicates are dropped, keyed by
the code silver writes into `validation_errors`.

The generator is one single-threaded process; the same seed gives the same
files byte for byte.
"""
import datetime as dt
import json
import os
import random

DOMAINS = ("sales", "customer_events", "inventory")

HEADERS = {
    "sales": ["sale_id", "timestamp", "customer_id", "product_id", "product_name",
              "category", "quantity", "unit_price", "total_amount",
              "payment_method", "status"],
    "customer_events": ["event_id", "timestamp", "customer_id", "session_id",
                        "event_type", "product_id", "page_url", "device_type"],
    "inventory": ["movement_id", "timestamp", "product_id", "product_name",
                  "warehouse_id", "movement_type", "quantity", "unit_cost",
                  "supplier_id"],
}

CATEGORIES = {
    "Electronics": ["Laptop", "Smartphone", "Tablet", "Headphones", "Smartwatch"],
    "Clothing": ["T-Shirt", "Jeans", "Jacket", "Shoes", "Dress"],
    "Food & Beverage": ["Coffee", "Tea", "Juice", "Snack Pack", "Energy Drink"],
    "Home & Kitchen": ["Blender", "Coffee Maker", "Toaster", "Knife Set", "Cookware"],
    "Sports": ["Running Shoes", "Yoga Mat", "Dumbbell", "Resistance Band", "Water Bottle"],
    "Books": ["Python Programming", "Data Engineering", "Machine Learning", "SQL Guide",
              "Cloud Architecture"],
}
PRODUCTS = [(f"PROD-{(ci + 1) * 100 + pi + 1}", name, cat)
            for ci, (cat, names) in enumerate(CATEGORIES.items())
            for pi, name in enumerate(names)]
PAYMENT_METHODS = ["credit_card", "debit_card", "paypal", "bank_transfer", "crypto"]
STATUSES = ["completed", "completed", "completed", "pending", "refunded"]
EVENT_TYPES = ["login", "browse", "add_to_cart", "checkout", "logout"]
DEVICE_TYPES = ["desktop", "mobile", "tablet"]
PAGES = ["/home", "/products", "/products/electronics", "/products/clothing", "/cart",
         "/checkout", "/profile", "/search", "/promotions"]
WAREHOUSES = ["WH-NORTH-01", "WH-SOUTH-02", "WH-EAST-03", "WH-WEST-04"]
SUPPLIERS = [f"SUP-{i:03d}" for i in range(1, 11)]
INVENTORY_ITEMS = [("PROD-101", "Laptop"), ("PROD-102", "Smartphone"), ("PROD-103", "Tablet"),
                   ("PROD-201", "T-Shirt"), ("PROD-202", "Jeans"), ("PROD-301", "Coffee"),
                   ("PROD-401", "Blender"), ("PROD-501", "Yoga Mat"), ("PROD-502", "Dumbbell"),
                   ("PROD-601", "Python Programming")]
MOVEMENT_TYPES = ["inbound", "outbound", "adjustment"]

# Defect rates, in percent of generated rows.
DUPLICATE_PCT = 1.0
RATES = {
    "sales": {"NULL:quantity": 3.0, "NULL:customer_id": 1.0, "corrupt_total": 5.0},
    "customer_events": {"NULL:customer_id": 3.0, "NULL:session_id": 1.0,
                        "INVALID_EVENT_TYPE": 4.0},
    "inventory": {"INVALID_MOVEMENT_TYPE": 4.0, "NULL:quantity": 1.5,
                  "NON_POSITIVE_QUANTITY": 1.5, "NULL:warehouse_id": 1.0},
}
# Every rule code silver can write, per domain (the manifest lists each, 0 or not).
RULES = {
    "sales": ["NULL:sale_id", "NULL:timestamp", "NULL:customer_id", "NULL:product_id",
              "NULL:quantity", "NULL:unit_price", "NULL:total_amount"],
    "customer_events": ["NULL:event_id", "NULL:timestamp", "NULL:customer_id",
                        "NULL:session_id", "NULL:event_type", "INVALID_EVENT_TYPE"],
    "inventory": ["NULL:movement_id", "NULL:timestamp", "NULL:product_id",
                  "NULL:warehouse_id", "NULL:movement_type", "NULL:quantity",
                  "INVALID_MOVEMENT_TYPE", "NON_POSITIVE_QUANTITY"],
}

EPOCH = dt.date(2026, 1, 1)


def money(cents):
    return f"{cents // 100}.{cents % 100:02d}"


class Gen:
    def __init__(self, seed):
        self.rng = random.Random(seed)
        self.seq = 0
        self.tag = f"{seed & 0xffffffff:08x}"

    def hit(self, pct):
        return self.rng.random() * 100.0 < pct

    def new_id(self, prefix):
        self.seq += 1
        return f"{prefix}-{self.tag}-{self.seq:09d}"

    def timestamp(self, day):
        s = self.rng.randrange(86400)
        us = self.rng.randrange(1_000_000)
        d = EPOCH + dt.timedelta(days=day)
        return f"{d.isoformat()}T{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}.{us:06d}+00:00"

    def sales_row(self, day, rules):
        r = self.rng
        pid, name, cat = r.choice(PRODUCTS)
        qty = r.randint(1, 10)
        cents = r.randrange(500, 50000)
        clean = qty * cents
        total = clean
        if self.hit(RATES["sales"]["corrupt_total"]):
            while abs(total - clean) < 2:
                total = clean * r.randrange(7000, 13000) // 10000
        null_qty = self.hit(RATES["sales"]["NULL:quantity"])
        null_cust = self.hit(RATES["sales"]["NULL:customer_id"])
        if null_qty:
            rules.append("NULL:quantity")
        if null_cust:
            rules.append("NULL:customer_id")
        if total != clean and not null_qty:
            rules.append("total_fixed")
        cust = "" if null_cust else f"CUST-{r.randrange(1000, 10000)}"
        return [self.new_id("SALE"), self.timestamp(day), cust, pid, name, cat,
                "" if null_qty else f"{qty}.0", money(cents), money(total),
                r.choice(PAYMENT_METHODS), r.choice(STATUSES)]

    def events_row(self, day, rules):
        r = self.rng
        rates = RATES["customer_events"]
        null_cust = self.hit(rates["NULL:customer_id"])
        null_sess = self.hit(rates["NULL:session_id"])
        et = "UNKNOWN" if self.hit(rates["INVALID_EVENT_TYPE"]) else r.choice(EVENT_TYPES)
        if null_cust:
            rules.append("NULL:customer_id")
        if null_sess:
            rules.append("NULL:session_id")
        if et == "UNKNOWN":
            rules.append("INVALID_EVENT_TYPE")
        prod = f"PROD-{r.randrange(100, 200)}" if et in ("browse", "add_to_cart", "checkout") else ""
        return [self.new_id("EVT"), self.timestamp(day),
                "" if null_cust else f"CUST-{r.randrange(1000, 10000)}",
                "" if null_sess else f"SESS-{day:03d}-{r.randrange(200):03d}",
                et, prod, r.choice(PAGES), r.choice(DEVICE_TYPES)]

    def inventory_row(self, day, rules):
        r = self.rng
        rates = RATES["inventory"]
        pid, name = r.choice(INVENTORY_ITEMS)
        mt = "TRANSFER" if self.hit(rates["INVALID_MOVEMENT_TYPE"]) else r.choice(MOVEMENT_TYPES)
        q = r.random() * 100.0
        if q < rates["NULL:quantity"]:
            qty = ""
            rules.append("NULL:quantity")
        elif q < rates["NULL:quantity"] + rates["NON_POSITIVE_QUANTITY"]:
            qty = "0.0"
            rules.append("NON_POSITIVE_QUANTITY")
        else:
            qty = f"{r.randint(1, 200)}.0"
        null_wh = self.hit(rates["NULL:warehouse_id"])
        if null_wh:
            rules.append("NULL:warehouse_id")
        if mt == "TRANSFER":
            rules.append("INVALID_MOVEMENT_TYPE")
        return [self.new_id("MOVE"), self.timestamp(day), pid, name,
                "" if null_wh else r.choice(WAREHOUSES), mt, qty,
                money(r.randrange(100, 30000)),
                r.choice(SUPPLIERS) if mt == "inbound" else ""]

    def write_file(self, path, domain, days):
        """One CSV of `len(days)` distinct rows (row i dated `days[i]`) plus
        the duplicates; returns the file's manifest entry."""
        make = {"sales": self.sales_row, "customer_events": self.events_row,
                "inventory": self.inventory_row}[domain]
        counts = {k: 0 for k in RULES[domain]}
        counts["total_fixed"] = 0
        valid = dups = 0
        lines = [",".join(HEADERS[domain])]
        for day in days:
            rules = []
            row = make(day, rules)
            line = ",".join(row)
            lines.append(line)
            if self.hit(DUPLICATE_PCT):
                lines.append(line)
                dups += 1
            for k in rules:
                counts[k] += 1
            if not [k for k in rules if k != "total_fixed"]:
                valid += 1
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", newline="") as f:
            f.write("\n".join(lines) + "\n")
        return {"domain": domain, "rows": len(days) + dups, "distinct": len(days),
                "duplicates": dups, "valid": valid, "rules": counts}


def day_files(gen, out, rel_dir, domain, days, rows_per_day, manifest):
    for day in days:
        rel = f"{rel_dir}/{domain}/day-{day:03d}.csv"
        manifest[rel] = gen.write_file(os.path.join(out, rel), domain, [day] * rows_per_day)


def tick_files(gen, out, rel_dir, tick, today, rows, late_pct, manifest):
    """One file per domain: `rows` rows for `today`, `late_pct` percent of
    them dated on a random earlier day instead."""
    for domain in DOMAINS:
        days = [gen.rng.randrange(today) if gen.hit(late_pct) else today for _ in range(rows)]
        rel = f"{rel_dir}/{domain}/tick-{tick:04d}.csv"
        manifest[rel] = gen.write_file(os.path.join(out, rel), domain, days)


def generate(seed, out, sizes):
    """Write the ticks inputs under `out` and return the manifest:
    `history/<domain>/day-NNN.csv`, one file per domain and day, then
    `ticks/NNNN/<domain>/tick-NNNN.csv`. Landing 0 is the history, landing k
    the k-th tick."""
    gen = Gen(seed)
    files = {}
    manifest = {"seed": seed, "sizes": sizes, "files": files}
    for d in DOMAINS:
        day_files(gen, out, "history", d, range(sizes["days"]), sizes["rows_per_day"][d], files)
    landings = [sorted(files)]
    for t in range(sizes["ticks"]):
        before = set(files)
        tick_files(gen, out, f"ticks/{t:04d}", t, sizes["days"], sizes["tick_rows"],
                   sizes["late_pct"], files)
        landings.append(sorted(set(files) - before))
    manifest["landings"] = landings
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
