"""Synthesize the reference's 7 XML input files from the shipped pharma.db.

The original XML files aren't in the reference repo — only their loaded
output (pharma.db) is. We reverse the load: salestxn rows in rowid order
are exactly the concatenation of the six files' records in load order
(1 overwrite + 5 appends of 4000/4000/3000/20/20/20 rows,
LoadXML2DB.ChatterjeeP.R:198,248,299,350,401,452), and the dims give the
name for each id. Record shapes follow FIXTURES.md §A6: reps carry an rID
attribute + positional children; transactions nest cust+country under a
customer element (exercising the `.//` descendant axis).

`write_quirks_corpus` writes a small inline corpus with the same quirks
(FIXTURES.md §A4) for tests that must run without the reference database.
"""

from __future__ import annotations

import sqlite3
from pathlib import Path
from xml.sax.saxutils import escape

PHARMA_DB = "/root/reference/pharma.db"
FILE_SIZES = [4000, 4000, 3000, 20, 20, 20]


def _connect() -> sqlite3.Connection:
    if not Path(PHARMA_DB).is_file():
        raise FileNotFoundError(f"reference pharma.db not found at {PHARMA_DB}")
    return sqlite3.connect(PHARMA_DB)


def write_reps_xml(path: str | Path, reps: list[tuple]) -> None:
    """reps: (rep_id, first_name, last_name, territory) rows."""
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<reps>\n')
        for rid, first, last, terr in reps:
            f.write(
                f'  <rep rID="{escape(rid)}"><first_name>{escape(first)}</first_name>'
                f"<last_name>{escape(last)}</last_name>"
                f"<territory>{escape(terr)}</territory></rep>\n"
            )
        f.write("</reps>\n")


def write_txns_xml(path: str | Path, txns: list[tuple], nested: bool = True) -> None:
    """txns: (txn_id, product, rep_id, customer, country, date, amount) rows.
    `nested` puts cust+country under a customer element, else at the
    record root."""
    with open(path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<txns>\n')
        for txn_id, prod, rep_id, cname, country, date, amount in txns:
            amt = int(amount) if float(amount).is_integer() else amount
            cust = f"<cust>{escape(cname)}</cust><country>{escape(country)}</country>"
            f.write(
                "  <txn>"
                f"<txnID>{txn_id}</txnID>"
                f"<prod>{escape(prod)}</prod>"
                f"<repID>{escape(str(rep_id))}</repID>"
                + (f"<customer>{cust}</customer>" if nested else cust)
                + f"<date>{escape(date)}</date>"
                f"<amount>{amt}</amount>"
                "</txn>\n"
            )
        f.write("</txns>\n")


def synth_xml_fixtures(out_dir: str | Path) -> tuple[str, list[str]]:
    """Returns (reps_xml_path, [txn_xml_paths...])."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    con = _connect()

    reps_path = out / "pharmaReps.xml"
    write_reps_xml(
        reps_path,
        con.execute("SELECT rep_id, first_name, last_name, territory FROM reps").fetchall(),
    )

    products = dict(con.execute("SELECT product_id, product_name FROM products").fetchall())
    customers = {
        cid: (name, country)
        for cid, name, country in con.execute(
            "SELECT customer_id, customer_name, country FROM customers"
        )
    }
    rows = con.execute(
        "SELECT txn_id, product_id, rep_id, customer_id, sale_date, sale_amount "
        "FROM salestxn ORDER BY rowid"
    ).fetchall()
    assert len(rows) == sum(FILE_SIZES), f"unexpected salestxn count {len(rows)}"

    txn_paths = []
    offset = 0
    for i, n in enumerate(FILE_SIZES, start=1):
        chunk = rows[offset : offset + n]
        offset += n
        p = out / f"pharmaSalesTxn-{i}.xml"
        txn_paths.append(str(p))
        write_txns_xml(
            p,
            [
                (txn_id, products[pid], rep_id, *customers[cid], date, amount)
                for txn_id, pid, rep_id, cid, date, amount in chunk
            ],
        )
    con.close()
    return str(reps_path), txn_paths


QUIRKS_REPS = [
    ("r101", "Ana", "Silva", "EMEA"),
    ("r202", "Ben", "Okafor", "West"),
    ("r303", "Cleo", "da Costa", "East"),
]
# three load files: txn_ids repeat across files, repID is unprefixed and 999
# names no rep, Nova Health's second sighting carries another country, and
# dates are non-padded M/D/YYYY
QUIRKS_TXNS = [
    [
        (1001, "Zalofexin", "101", "Acme Labs", "USA", "1/5/2020", 120),
        (1002, "Xinoprozen", "202", "Nova Health", "Brazil", "2/14/2020", 75),
        (1003, "Zalofexin", "999", "Orion Clinics", "Germany", "4/1/2020", 300),
        (1004, "Quendaprol", "303", "Acme Labs", "USA", "11/23/2020", 42.5),
    ],
    [
        (1001, "Zalofexin", "101", "Acme Labs", "USA", "1/5/2020", 120),
        (1005, "Xinoprozen", "101", "Nova Health", "Germany", "7/9/2021", 60),
        (1006, "Mivarotane", "202", "Summit Pharma", "USA", "12/31/2021", 18),
    ],
    [
        (1002, "Xinoprozen", "202", "Nova Health", "Brazil", "2/14/2020", 75),
        (1007, "Quendaprol", "999", "Helix Medical", "Brazil", "10/2/2021", 9),
    ],
]


def write_quirks_corpus(out_dir: str | Path) -> tuple[str, list[str]]:
    """QUIRKS_REPS / QUIRKS_TXNS as XML; returns (reps_xml_path, [txn_xml_paths...])."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    reps_path = out / "pharmaReps.xml"
    write_reps_xml(reps_path, QUIRKS_REPS)
    txn_paths = []
    for i, txns in enumerate(QUIRKS_TXNS, start=1):
        p = out / f"pharmaSalesTxn-{i}.xml"
        write_txns_xml(p, txns)
        txn_paths.append(str(p))
    return str(reps_path), txn_paths


def golden_tables() -> dict[str, list[tuple]]:
    con = _connect()
    out = {
        "reps": con.execute(
            "SELECT rep_id, first_name, last_name, territory FROM reps"
        ).fetchall(),
        "customers": con.execute(
            "SELECT customer_id, customer_name, country FROM customers"
        ).fetchall(),
        "products": con.execute("SELECT product_id, product_name FROM products").fetchall(),
    }
    con.close()
    return out
