"""Seeded generator for pharma-shaped XML input and its expected answers.

Writes the reference's seven input files -- one reps file and six
transaction files whose records split 4:4:3 plus three 20-record tails --
and computes, in plain Python, everything the pipeline should produce from
them: the three dimensions with first-seen surrogate keys, the ``salestxn``
row count, both summary fact tables and the four stage-3 answers.

The generator keeps the reference data's quirks (FIXTURES.md A4):
``txn_id`` values repeat across files, ``repID`` carries no ``r`` prefix and
some of them name no rep in the reps file, and dates are non-padded
``M/D/YYYY``. A few later sightings of a customer carry another country, so
the dimension must keep the first sighting's.

The same (seed, records) writes byte-identical files.
"""

from __future__ import annotations

import os
import random
from collections import defaultdict
from dataclasses import dataclass, field
from xml.sax.saxutils import escape

FIRST_NAMES = ["Walison", "Lynette", "Aneeta", "Jose", "Veronica", "Helmut", "Prakash", "Lara"]
LAST_NAMES = ["da Silva", "McKay", "Kappoorthy", "Chen", "Sparks", "Schmitt", "Patel", "Bosch"]
TERRITORIES = ["EMEA", "South America", "East", "West"]
PRODUCTS = [
    "Alaraphosol", "Xinoprozen", "Diaprogenix", "Gerantrazeophem", "Bhiktarvizem",
    "Colophrazen", "Proxinostat", "Zalofexin", "Mivarotane", "Quendaprol",
]
COUNTRIES = ["USA", "Brazil", "Germany"]
COMPANY_A = ["Acme", "Apex", "Blue", "Nova", "Helix", "Vertex", "Orion", "Summit"]
COMPANY_B = ["Pharma", "Health", "Clinics", "Labs", "Medical"]
N_REPS = 8
TAIL = 20
YEARS = (2020, 2021)


@dataclass
class PharmaCorpus:
    reps_path: str
    txn_paths: list[str]
    records: int
    input_bytes: int
    expected: dict = field(repr=False)


def file_sizes(records: int) -> list[int]:
    """Records per txn file: the 4:4:3 head split plus three fixed tails."""
    head = records - 3 * TAIL
    if head < 11:
        raise ValueError(f"need at least {11 + 3 * TAIL} records, got {records}")
    a = head * 4 // 11
    return [a, a, head - 2 * a, TAIL, TAIL, TAIL]


def _quarter(month: int) -> int:
    return (month - 1) // 3 + 1


def generate(out_dir: str, seed: int, records: int) -> PharmaCorpus:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    rep_nums = rng.sample(range(100, 1000), N_REPS + 4)
    reps = [
        (f"r{num}", FIRST_NAMES[i], LAST_NAMES[i], rng.choice(TERRITORIES))
        for i, num in enumerate(rep_nums[:N_REPS])
    ]
    ghost_reps = [str(num) for num in rep_nums[N_REPS:]]  # in txns, not in reps
    companies = [f"{a} {b}" for a in COMPANY_A for b in COMPANY_B]
    rng.shuffle(companies)
    home = {c: rng.choice(COUNTRIES) for c in companies}
    products = PRODUCTS[:]
    rng.shuffle(products)

    reps_path = os.path.join(out_dir, "pharmaReps.xml")
    with open(reps_path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<reps>\n')
        for rid, first, last, terr in reps:
            f.write(
                f'  <rep rID="{rid}"><first_name>{escape(first)}</first_name>'
                f"<last_name>{escape(last)}</last_name>"
                f"<territory>{escape(terr)}</territory></rep>\n"
            )
        f.write("</reps>\n")

    txns = []  # (txn_id, product, rep_raw, customer, country, year, month, day, amount)
    txn_paths = []
    for i, n in enumerate(file_sizes(records), start=1):
        path = os.path.join(out_dir, f"pharmaSalesTxn-{i}.xml")
        txn_paths.append(path)
        with open(path, "w") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<txns>\n')
            for k in range(n):
                cust = rng.choice(companies)
                country = rng.choice(COUNTRIES) if rng.random() < 0.02 else home[cust]
                rep = (
                    rng.choice(ghost_reps) if rng.random() < 0.1
                    else rng.choice(reps)[0][1:]
                )
                rec = (
                    1001 + k, rng.choice(products), rep, cust, country,
                    YEARS[rng.random() < 0.15], rng.randint(1, 12), rng.randint(1, 28),
                    rng.randint(4, 7740),
                )
                txns.append(rec)
                tid, prod, rep, cust, country, y, m, d, amt = rec
                f.write(
                    f"  <txn><txnID>{tid}</txnID><prod>{escape(prod)}</prod>"
                    f"<repID>{rep}</repID>"
                    f"<customer><cust>{escape(cust)}</cust>"
                    f"<country>{country}</country></customer>"
                    f"<date>{m}/{d}/{y}</date><amount>{amt}</amount></txn>\n"
                )
            f.write("</txns>\n")

    input_bytes = sum(os.path.getsize(p) for p in [reps_path, *txn_paths])
    return PharmaCorpus(reps_path, txn_paths, records, input_bytes, expected_answers(reps, txns))


def expected_answers(reps: list[tuple], txns: list[tuple]) -> dict:
    """What run_pipeline + persist_warehouse + the stage-3 queries must return."""
    customers: dict[str, tuple[int, str]] = {}
    products: dict[str, int] = {}
    for _, prod, _, cust, country, *_ in txns:
        if cust not in customers:
            customers[cust] = (len(customers) + 1, country)
        if prod not in products:
            products[prod] = len(products) + 1
    rep_names = {rid: (first, last) for rid, first, last, _ in reps}

    product_facts: dict[tuple, int] = defaultdict(int)
    rep_facts: dict[tuple, int] = defaultdict(int)
    for _, prod, rep, cust, _, y, m, _, amt in txns:
        q = _quarter(m)
        product_facts[(prod, y, q, customers[cust][1])] += amt
        name = rep_names.get("r" + rep)
        if name is not None:
            rep_facts[(*name, y, q, prod)] += amt

    quarterly: dict[int, int] = defaultdict(int)
    by_product: dict[str, int] = defaultdict(int)
    for (prod, y, q, _), total in product_facts.items():
        if y == 2020:
            quarterly[q] += total
            by_product[prod] += total
    rep_2020: dict[tuple, int] = defaultdict(int)
    rep_quarterly: dict[tuple, int] = defaultdict(int)
    for (first, last, y, q, _), total in rep_facts.items():
        rep_quarterly[(y, q)] += total
        if y == 2020:
            rep_2020[(first, last)] += total
    best = min(by_product.items(), key=lambda kv: (-kv[1], kv[0]))

    return {
        "reps": sorted(reps),
        "customers": sorted((cid, name, country) for name, (cid, country) in customers.items()),
        "products": sorted((pid, name) for name, pid in products.items()),
        "salestxn_rows": len(txns),
        "product_facts": sorted((*k, float(v)) for k, v in product_facts.items()),
        "rep_facts": sorted((*k, float(v)) for k, v in rep_facts.items()),
        "quarterly_totals_2020": [(q, float(quarterly[q])) for q in sorted(quarterly)],
        "best_product_2020": [(best[0], float(best[1]))],
        "rep_totals_2020": sorted(
            ((f, l, float(v)) for (f, l), v in rep_2020.items()), key=lambda r: -r[2]
        ),
        "rep_quarterly_sales": [(y, q, float(rep_quarterly[(y, q)])) for y, q in sorted(rep_quarterly)],
    }
