"""Seeded input generators for the three benchmark workloads.

Everything here is plain Python: a generator turns a seed into rows and
the facts the correctness checks need (which rows a delta changed, which
documents were planted as contaminated, how many lines are malformed).
The seed varies only the generated values; sizes and shares are fixed
per workload, so a run on an unseen seed measures the same work.
"""

from __future__ import annotations

import datetime
import json
import random
from dataclasses import dataclass, field

# The word list of the sf0.1 ``documents`` table. The generated corpus and
# zone documents draw from it so their shingle and n-gram statistics match
# the documents the library's own tests use.
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

MKT_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("small", "large", "red", "cold", "shiny", "old")
PART_NOUN = ("ring", "widget", "bolt", "gear", "valve", "panel")
PART_TYPES = ("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL")
ORDER_STATUS = ("F", "O", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EPOCH = datetime.datetime(1992, 1, 1)


# -- dv_vault: TPC-H-shaped sources plus one seeded delta ---------------------

# Row counts of the repository's TPC-H-shaped sf0.01 test tables (TESTDATA.md);
# lineitem averages 4 lines per order.
DV_SIZES = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000}
DV_DELTA_SHARE = 0.01

# (column, arrow type) per table, in the column order of those test tables.
TPCH_SCHEMAS = {
    "customer": [("c_custkey", "int64"), ("c_name", "string"), ("c_nationkey", "int32"),
                 ("c_acctbal", "double"), ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "int64"), ("s_name", "string"), ("s_nationkey", "int32"),
                 ("s_acctbal", "double")],
    "part": [("p_partkey", "int64"), ("p_name", "string"), ("p_brand", "string"),
             ("p_type", "string"), ("p_size", "int32"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "int64"), ("o_custkey", "int64"), ("o_orderstatus", "string"),
               ("o_totalprice", "double"), ("o_orderdate", "timestamp"),
               ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "int64"), ("l_partkey", "int64"), ("l_suppkey", "int64"),
                 ("l_linenumber", "int32"), ("l_quantity", "double"),
                 ("l_extendedprice", "double"), ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp")],
}


@dataclass
class DVDelta:
    """One source delta: replaced tables plus what the vault should gain."""

    tables: dict[str, list[tuple]]
    # table -> {changed column -> number of rows whose value changed}
    changed: dict[str, dict[str, int]]
    # table -> number of new business keys
    new_keys: dict[str, int]


@dataclass
class DVInputs:
    tables: dict[str, list[tuple]]
    delta: DVDelta


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _order_row(rng: random.Random, key: int, n_customers: int) -> tuple:
    return (
        key,
        rng.randrange(n_customers),
        rng.choice(ORDER_STATUS),
        _money(rng, 1000, 500000),
        EPOCH + datetime.timedelta(days=rng.randrange(2500)),
        rng.choice(ORDER_PRIORITY),
    )


def dv_inputs(seed: int) -> DVInputs:
    """The five DV source tables at sf0.01 sizes and one delta that
    changes 1% of customer and part descriptors and adds 1% new orders."""
    rng = random.Random(seed)
    n = DV_SIZES
    customer = [
        (k, f"Customer#{k:09d}", rng.randrange(25), _money(rng, -999.99, 9999.99),
         rng.choice(MKT_SEGMENTS))
        for k in range(n["customer"])
    ]
    supplier = [
        (k, f"Supplier#{k:09d}", rng.randrange(25), _money(rng, -999.99, 9999.99))
        for k in range(n["supplier"])
    ]
    part = [
        (k, f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}", f"Brand#{rng.randrange(1, 26)}",
         rng.choice(PART_TYPES), rng.randrange(1, 51), round(900 + k / 10, 2))
        for k in range(n["part"])
    ]
    orders = [_order_row(rng, k, n["customer"]) for k in range(n["orders"])]
    lineitem = []
    for o in orders:
        for line in range(1, rng.randrange(1, 8) + 1):
            qty = float(rng.randrange(1, 51))
            lineitem.append(
                (o[0], rng.randrange(n["part"]), rng.randrange(n["supplier"]), line, qty,
                 round(qty * rng.uniform(900, 2000), 2), rng.randrange(11) / 100,
                 rng.randrange(9) / 100, rng.choice("ANR"), rng.choice("FO"),
                 o[4] + datetime.timedelta(days=rng.randrange(1, 122)))
            )
    tables = {"customer": customer, "supplier": supplier, "part": part,
              "orders": orders, "lineitem": lineitem}

    cust = list(customer)
    cust_keys = rng.sample(range(len(cust)), int(len(cust) * DV_DELTA_SHARE))
    for i in cust_keys:
        r = cust[i]
        cust[i] = r[:3] + (round(r[3] + rng.choice((-1, 1)) * _money(rng, 1, 500), 2),) + r[4:]
    prt = list(part)
    part_keys = rng.sample(range(len(prt)), int(len(prt) * DV_DELTA_SHARE))
    for i in part_keys:
        r = prt[i]
        prt[i] = r[:5] + (round(r[5] + _money(rng, 1, 100), 2),)
    ords = list(orders)
    n_new = int(n["orders"] * DV_DELTA_SHARE)
    ords.extend(_order_row(rng, n["orders"] + i, len(cust)) for i in range(n_new))
    delta = DVDelta(
        tables={"customer": cust, "part": prt, "orders": ords},
        changed={"customer": {"c_acctbal": len(cust_keys)},
                 "part": {"p_retailprice": len(part_keys)}},
        new_keys={"orders": n_new},
    )
    return DVInputs(tables=tables, delta=delta)


# -- zone_corpus: JSONL batches for the near-dup landing zone ---------------

# Shares of the lines in a batch; the rest are new clean documents.
ZONE_SHARES = {"near_copy": 0.20, "exact_resubmit": 0.10, "malformed": 0.10,
               "junk": 0.05, "contaminated": 0.02}
ZONE_FOOTER = "the data table the stream key the value row"
BENCH_DOCS = 50
LEAK_WORDS = 16  # verbatim benchmark span planted in a contaminated doc


def _words(rng: random.Random, lo: int, hi: int) -> list[str]:
    """A document body that passes the Gopher rules: vocabulary words
    only, with at least one stop word."""
    ws = [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]
    ws[rng.randrange(len(ws))] = "the"
    return ws


@dataclass
class ZoneBatch:
    lines: list[str]
    n_malformed: int = 0
    # ids of lines whose text repeats an earlier line's text exactly
    exact_ids: set[int] = field(default_factory=set)
    # ids of documents under the Gopher word floor
    junk_ids: set[int] = field(default_factory=set)
    # ids of documents carrying a verbatim benchmark span (planted ones and
    # every copy of them)
    leak_ids: set[int] = field(default_factory=set)


class ZoneFeed:
    """Successive JSONL batches and the held-out benchmark set.

    New documents are random vocabulary text; junk documents are too short
    for the Gopher rules; contaminated documents carry a verbatim span of a
    benchmark document. Near-copies take an earlier clean or contaminated
    document and replace one word or append a boilerplate footer; exact
    resubmissions repeat one under a fresh id; malformed lines are not JSON
    or are truncated JSON. Ids are unique across the whole feed."""

    def __init__(self, seed: int, batch_lines: int):
        self.rng = random.Random(seed)
        self.batch_lines = batch_lines
        self.next_id = 0
        self.benchmark = [(i, " ".join(_words(self.rng, 50, 70))) for i in range(BENCH_DOCS)]
        # (text, is contaminated) of documents a copy may repeat
        self.originals: list[tuple[str, bool]] = []
        self.texts: set[str] = set()

    def next_batch(self) -> ZoneBatch:
        rng, n = self.rng, self.batch_lines
        kinds = [k for k, share in ZONE_SHARES.items() for _ in range(int(n * share))]
        kinds += ["new"] * (n - len(kinds))
        rng.shuffle(kinds)
        if not self.originals:
            # a copy needs an earlier original: lead the first batch with one
            kinds.remove("new")
            kinds.insert(0, "new")
        b = ZoneBatch(lines=[])
        for kind in kinds:
            doc_id = self.next_id
            self.next_id += 1
            if kind == "malformed":
                b.n_malformed += 1
                if rng.random() < 0.5:
                    b.lines.append(json.dumps({"doc_id": doc_id, "text": "cut"})[:-7])
                else:
                    b.lines.append(f"<html>crawl error {doc_id}</html>")
                continue
            if kind == "new":
                text, leak = " ".join(_words(rng, 40, 120)), False
                self.originals.append((text, leak))
            elif kind == "junk":
                text, leak = " ".join(_words(rng, 3, 8)), False
                b.junk_ids.add(doc_id)
            elif kind == "contaminated":
                src = rng.choice(self.benchmark)[1].split()
                at = rng.randrange(len(src) - LEAK_WORDS + 1)
                body = _words(rng, 30, 80)
                cut = rng.randrange(len(body))
                text = " ".join(body[:cut] + src[at:at + LEAK_WORDS] + body[cut:])
                leak = True
                self.originals.append((text, leak))
            elif kind == "near_copy":
                src, leak = rng.choice(self.originals)
                ws = src.split()
                if rng.random() < 0.5:
                    # one replaced word leaves a run of at least 8 words of a
                    # 16-word leak intact, so a copy of a leak stays a leak
                    ws[rng.randrange(len(ws))] = rng.choice(VOCAB)
                    text = " ".join(ws)
                else:
                    text = " ".join(ws) + " " + ZONE_FOOTER
            else:  # exact_resubmit
                text, leak = rng.choice(self.originals)
            if text in self.texts:
                b.exact_ids.add(doc_id)
            self.texts.add(text)
            if leak:
                b.leak_ids.add(doc_id)
            b.lines.append(json.dumps({"doc_id": doc_id, "text": text}))
        return b
