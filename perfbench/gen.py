"""Seeded input generator for the pipeline workloads.

Writes the landing CSVs the engine ingests: a multi-file initial load
(customer / item / order, the reference's three entities) and, for the
``trickle`` workload, a sequence of small per-cycle batches. Everything
is a pure function of the seed, computed single-threaded in this
process with ``random.Random``: the engine only ever sees the files.

The column formatting follows the reference's CSV file format
(header line, ``,`` separator, empty unquoted field = NULL) and the
quirks the fixture family carries: unpadded seconds in ``order_time``
(``10:37:1 AM``), negative money, empty ``end_date`` (= current row),
customers with empty name/birth fields, orders whose customer is not
in the customer feed (dropped by the fact star join), and a seeded
share of rows that repeat a business key with other values in another
file of the same load (resolved by the raw task's latest-wins dedup
and its all-non-key-columns tiebreak).

Run standalone to write a data set:

    python3 perfbench/gen.py --seed 7 --workload trickle --batches 3 --out landing
"""

from __future__ import annotations

import argparse
import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

COLUMNS = {
    "customer": (
        "customer_id", "salutation", "first_name", "last_name", "birth_day",
        "birth_month", "birth_year", "birth_country", "email_address", "is_active",
    ),
    "item": (
        "item_id", "item_desc", "start_date", "end_date", "price",
        "item_class", "item_category", "is_active",
    ),
    "order": (
        "order_date", "order_time", "item_id", "item_desc", "customer_id",
        "salutation", "first_name", "last_name", "store_id", "store_name",
        "order_quantity", "sale_price", "disount_amt", "coupon_amt",
        "net_paid", "net_paid_tax", "net_profit",
    ),
}

KEYS = {
    "customer": ("customer_id",),
    "item": ("item_id",),
    "order": ("order_date", "order_time", "item_id", "item_desc"),
}

FIRST = ("James", "Mary", "John", "Linda", "Wei", "Aisha", "Carlos", "Olga",
         "Kenji", "Fatima", "Pierre", "Amara", "Ivan", "Sofia", "Ravi", "Lena")
LAST = ("Smith", "Garcia", "Chen", "Okafor", "Novak", "Tanaka", "Silva",
        "Muller", "Haddad", "Kowalski", "Rossi", "Nguyen", "Patel", "Berg")
SALUTATION = ("Mr.", "Ms.", "Mrs.", "Dr.", "Sir", "Miss")
COUNTRY = ("NIGERIA", "BRAZIL", "JAPAN", "GERMANY", "CANADA", "INDIA",
           "FRANCE", "KENYA", "PERU", "VIETNAM", "EGYPT", "CHILE")
ADJ = ("red", "quiet", "heavy", "small", "bright", "old", "smooth", "cold",
       "sharp", "plain", "round", "dark", "soft", "tall")
NOUN = ("lamp", "chair", "kettle", "stone", "blanket", "clock", "mirror",
        "basket", "vase", "knife", "bowl", "scarf", "shelf", "rug")
ITEM_CLASS = ("stones", "pendants", "shirts", "pants", "cookware", "lighting",
              "bedding", "decor", "tools", "rugs")
ITEM_CATEGORY = ("Jewelry", "Men", "Women", "Home", "Kitchen", "Garden")

DATE0 = date(1995, 1, 1)
SPAN_DAYS = (date(2001, 12, 31) - DATE0).days + 1


def money(cents: int) -> str:
    sign = "-" if cents < 0 else ""
    cents = abs(cents)
    return f"{sign}{cents // 100}.{cents % 100:02d}"


@dataclass(frozen=True)
class Shape:
    """Size of one generated data set."""

    customers: int
    items: int
    orders: int
    # trickle batch shape (rows per cycle batch)
    batch_new_orders: int = 40
    batch_order_updates: int = 6
    batch_customer_updates: int = 3
    batch_item_updates: int = 2


SHAPES = {
    # ~49k rows: 4k customers, 5.3k items, 40k orders (+ seeded repeats)
    "backfill": Shape(customers=4000, items=5300, orders=40000),
    # ~2.6k-row initial load; each cycle lands 46 orders, 4 customers, 3 items
    "trickle": Shape(customers=250, items=330, orders=2000),
}


@dataclass
class DataSet:
    """One seeded data set: the initial load plus the batch source state
    the trickle workload draws each cycle's batch from."""

    seed: int
    shape: Shape
    files_per_entity: int
    dup_share: float
    customers: list[tuple] = field(default_factory=list)
    items: list[tuple] = field(default_factory=list)
    orders: list[tuple] = field(default_factory=list)

    @property
    def last_date(self) -> date:
        return DATE0 + timedelta(days=SPAN_DAYS - 1)


def _customer(rng: random.Random, k: int) -> tuple:
    cid = f"C{k}"
    if rng.random() < 0.005:  # fixture quirk: empty name / birth-year fields
        return (cid, "", "", "", str(rng.randint(1, 28)), str(rng.randint(1, 12)),
                "", rng.choice(COUNTRY), "", "Y")
    first, last = rng.choice(FIRST), rng.choice(LAST)
    return (
        cid, rng.choice(SALUTATION), first, last,
        str(rng.randint(1, 28)), str(rng.randint(1, 12)), str(rng.randint(1930, 2003)),
        rng.choice(COUNTRY), f"{first.lower()}.{last.lower()}{k}@example.com",
        "Y" if rng.random() < 0.9 else "N",
    )


def _iso(d: date) -> str:
    return d.isoformat()


def _item(rng: random.Random, k: int, current: bool | None = None) -> tuple:
    start = date(1990, 1, 1) + timedelta(days=rng.randrange(3650))
    if current is None:
        current = rng.random() < 0.92
    end = "" if current else _iso(start + timedelta(days=rng.randint(30, 900)))
    desc = f"{rng.choice(ADJ)} {rng.choice(NOUN)} {k % 97}"
    return (
        f"I{k}", desc, _iso(start), end, money(rng.randint(99, 99999)),
        rng.choice(ITEM_CLASS), rng.choice(ITEM_CATEGORY),
        "Y" if rng.random() < 0.95 else "N",
    )


def _time(rng: random.Random) -> str:
    h, m, s = rng.randint(1, 12), rng.randint(0, 59), rng.randint(0, 59)
    # fixture quirk: seconds sometimes unpadded ("10:37:1 AM")
    sec = str(s) if rng.random() < 0.1 else f"{s:02d}"
    return f"{h}:{m:02d}:{sec} {rng.choice(('AM', 'PM'))}"


def _measures(rng: random.Random) -> tuple:
    qty = rng.randint(1, 10)
    sale = rng.randint(100, 50000)
    disc = sale * rng.randint(0, 20) // 100
    coupon = sale * rng.randint(0, 5) // 100
    paid = sale - disc - coupon
    paid_tax = paid * 108 // 100
    profit = paid - rng.randint(0, 2 * sale)  # negative money on purpose
    return (str(qty), money(sale), money(disc), money(coupon), money(paid),
            money(paid_tax), money(profit))


def _order(rng: random.Random, ds: DataSet, d: date, customer: tuple | None = None,
           item: tuple | None = None) -> tuple:
    item = item or rng.choice(ds.items)
    if customer is None:
        if rng.random() < 0.005:  # customer absent from the feed
            customer = (f"CX{rng.randrange(1000)}", "Mr.", "Ghost", "Buyer")
        else:
            customer = rng.choice(ds.customers)
    store = rng.randint(1, 40)
    return (
        _iso(d), _time(rng), item[0], item[1], customer[0], customer[1],
        customer[2], customer[3], str(store), f"Store {store}",
    ) + _measures(rng)


def _variant(rng: random.Random, entity: str, row: tuple) -> tuple:
    """Same business key, other non-key values (a duplicate key)."""
    if entity == "customer":
        return row[:8] + (f"alt{rng.randrange(10**6)}@example.com", rng.choice("YN"))
    if entity == "item":
        start = date(1990, 1, 1) + timedelta(days=rng.randrange(3650))
        # end_date kept: currentness of an item never changes with a repeat
        return (row[0], row[1], _iso(start), row[3], money(rng.randint(99, 99999)),
                rng.choice(ITEM_CLASS), row[6], row[7])
    return row[:10] + _measures(rng)


def build(seed: int, shape: Shape) -> DataSet:
    """The seeded initial load, in memory."""
    rng = random.Random(seed)
    ds = DataSet(seed, shape, files_per_entity=rng.randint(6, 8),
                 dup_share=rng.uniform(0.015, 0.025))
    ds.customers = [_customer(rng, k) for k in range(shape.customers)]
    ds.items = [_item(rng, k) for k in range(shape.items)]
    ds.orders = [
        _order(rng, ds, DATE0 + timedelta(days=rng.randrange(SPAN_DAYS)))
        for _ in range(shape.orders)
    ]
    return ds


def _write(path: str, entity: str, rows: list[tuple]) -> int:
    text = ",".join(COLUMNS[entity]) + "\n" + "".join(",".join(r) + "\n" for r in rows)
    data = text.encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_initial(ds: DataSet, landing_root: str) -> int:
    """Write the initial load under ``<landing_root>/<entity>/`` split
    over the seeded number of files; a seeded share of rows is repeated
    (same key, other values) in a different file. Returns bytes written."""
    rng = random.Random(ds.seed * 7919 + 1)
    n = ds.files_per_entity
    total = 0
    for entity, rows in (("customer", ds.customers), ("item", ds.items),
                         ("order", ds.orders)):
        files: list[list[tuple]] = [[] for _ in range(n)]
        for row in rows:
            slot = rng.randrange(n)
            files[slot].append(row)
            if rng.random() < ds.dup_share:
                other = (slot + 1 + rng.randrange(n - 1)) % n
                files[other].append(_variant(rng, entity, row))
        out = os.path.join(landing_root, entity)
        os.makedirs(out, exist_ok=True)
        for i, frows in enumerate(files):
            total += _write(os.path.join(out, f"b00000_{i:02d}.csv"), entity, frows)
    return total


def batch(ds: DataSet, cycle: int) -> dict[str, list[tuple]]:
    """Cycle ``cycle``'s (1-based) trickle batch: the next day's new
    orders, updates to a few earlier orders in random months, and a few
    customer and item updates plus one new customer and item. The batch
    shape is the same every cycle."""
    sh = ds.shape
    rng = random.Random(ds.seed * 1_000_003 + cycle)
    day = ds.last_date + timedelta(days=cycle)
    new_cust = _customer(rng, sh.customers + cycle)
    new_item = _item(rng, sh.items + cycle, current=True)
    customers = [new_cust] + [
        _variant(rng, "customer", ds.customers[k])
        for k in rng.sample(range(sh.customers), sh.batch_customer_updates)
    ]
    current = [k for k in rng.sample(range(sh.items), 4 * sh.batch_item_updates)
               if ds.items[k][3] == ""][: sh.batch_item_updates]
    items = [new_item] + [_variant(rng, "item", ds.items[k]) for k in current]
    orders = [_order(rng, ds, day, customer=new_cust, item=new_item)]
    orders += [_order(rng, ds, day) for _ in range(sh.batch_new_orders - 1)]
    orders += [
        _variant(rng, "order", ds.orders[k])
        for k in rng.sample(range(sh.orders), sh.batch_order_updates)
    ]
    return {"customer": customers, "item": items, "order": orders}


def write_batch(ds: DataSet, cycle: int, landing_root: str) -> int:
    """Land cycle ``cycle``'s batch (one file per entity). Returns bytes."""
    total = 0
    for entity, rows in batch(ds, cycle).items():
        out = os.path.join(landing_root, entity)
        os.makedirs(out, exist_ok=True)
        total += _write(os.path.join(out, f"b{cycle:05d}_00.csv"), entity, rows)
    return total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", choices=sorted(SHAPES), default="backfill")
    ap.add_argument("--batches", type=int, default=0, help="trickle batches to land")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    ds = build(args.seed, SHAPES[args.workload])
    n = write_initial(ds, args.out)
    for c in range(1, args.batches + 1):
        n += write_batch(ds, c, args.out)
    print(f"wrote {n} bytes under {args.out}")


if __name__ == "__main__":
    main()
