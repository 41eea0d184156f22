"""Seeded benchmark inputs, generated from the tables under ``data/``.

``data/sf0.01`` is the repository's sf0.01 test star schema (TPC-H-like
tables plus ``events``, ``documents`` and ``embeddings``). Every
workload gets its own copy with each table's row order and parquet
row-group size drawn from the seed, so a new seed gives new bytes while
every query result stays the same multiset. ``warehouse_refresh`` also
gets twelve monthly CSV-in-ZIP drops cut from one seeded lineitem year,
and twelve events files for the streaming SCD2 merge, one per drop.

Only pyarrow and the standard library are used: inputs are made before
the program (or Spark) is imported.
"""

from __future__ import annotations

import csv
import hashlib
import io
import os
import random
import zipfile
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data" / "sf0.01"
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
# the null spellings the ingest path must normalize (functions/cleaning.py)
NULL_TOKENS = ("", "nan", "NaN", "None", "null")
DROP_COLUMNS = {
    "l_orderkey": "Order Key",
    "l_partkey": "Part Key",
    "l_suppkey": "Supp Key",
    "l_linenumber": "Line Number",
    "l_quantity": "Quantity",
    "l_extendedprice": "Extended Price",
    "l_discount": "Discount",
    "l_tax": "Tax",
    "l_returnflag": "Return Flag",
    "l_linestatus": "Line Status",
    "l_shipdate": "Ship Date",
}
DROP_NUMERIC = {
    "order_key": "bigint",
    "line_number": "int",
    "quantity": "double",
    "extended_price": "double",
    "discount": "double",
    "tax": "double",
}
NULLABLE = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@dataclass
class Drop:
    year: int
    month: int
    url: str
    rows: int
    null_quantity: int
    csv_bytes: int


@dataclass
class Inputs:
    sf_dir: str
    files: list[str] = field(default_factory=list)
    rows: int = 0
    drops: list[Drop] = field(default_factory=list)
    event_files: list[str] = field(default_factory=list)

    def facts(self) -> dict:
        h = hashlib.sha256()
        size = 0
        for f in sorted(self.files):
            h.update(os.path.relpath(f, os.path.dirname(self.sf_dir)).encode())
            with open(f, "rb") as fh:
                data = fh.read()
            size += len(data)
            h.update(hashlib.sha256(data).digest())
        return {"rows": self.rows, "bytes": size, "sha256": h.hexdigest()}


def _shuffled(table: pa.Table, rng: random.Random) -> pa.Table:
    order = list(range(table.num_rows))
    rng.shuffle(order)
    return table.take(pa.array(order, pa.int64()))


def make_sf_copy(seed: int, out: Path, inputs: Inputs) -> None:
    """Every table, rows permuted and row groups resized by the seed."""
    rng = random.Random(f"sf-copy/{seed}")
    out.mkdir(parents=True)
    for name in TABLES:
        table = _shuffled(pq.read_table(DATA / f"{name}.parquet"), rng)
        groups = rng.choice((1, 2, 4, 8))
        path = out / f"{name}.parquet"
        pq.write_table(table, path, row_group_size=max(1, -(-table.num_rows // groups)))
        inputs.files.append(str(path))
        inputs.rows += table.num_rows


def make_drops(seed: int, out: Path, inputs: Inputs) -> None:
    """The twelve monthly lineitem drops of one seeded year, starting at a
    seeded month, as open-data portals publish them: a ZIP holding
    ``Data/<name>.csv`` with human-readable headers and null tokens in
    the numeric columns."""
    rng = random.Random(f"drops/{seed}")
    year = rng.choice(range(1995, 2001))
    first = rng.randrange(12)
    li = pq.read_table(DATA / "lineitem.parquet")
    li = li.filter(pc.equal(pc.year(li["l_shipdate"]), year))
    out.mkdir(parents=True)
    by_month: dict[int, list[dict]] = {m: [] for m in range(1, 13)}
    for m, r in zip(pc.month(li["l_shipdate"]).to_pylist(), li.to_pylist()):
        by_month[m].append(r)
    for month in [1 + (first + i) % 12 for i in range(12)]:
        batch = by_month[month]
        rng.shuffle(batch)
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(DROP_COLUMNS.values())
        nulls = 0
        for r in batch:
            cells = []
            for col in DROP_COLUMNS:
                v = r[col]
                if col == "l_shipdate":
                    cells.append(v.strftime("%Y-%m-%d"))
                elif col in NULLABLE and rng.random() < 0.02:
                    nulls += col == "l_quantity"
                    cells.append(rng.choice(NULL_TOKENS))
                else:
                    cells.append("" if v is None else str(v))
            w.writerow(cells)
        body = buf.getvalue().encode()
        path = out / f"lineitem_{year}_{month:02d}.zip"
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            # fixed member timestamp: same seed, same bytes
            info = zipfile.ZipInfo(f"Data/lineitem_{month:02d}_{year}.csv", (year, month, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, body)
        inputs.files.append(str(path))
        inputs.rows += len(batch)
        inputs.drops.append(Drop(year, month, path.resolve().as_uri(), len(batch), nulls, len(body)))


def make_event_drops(seed: int, out: Path, inputs: Inputs) -> None:
    """A seeded permutation of ``events`` cut into one parquet file per
    monthly drop; each pass moves its file into the streamed directory."""
    rng = random.Random(f"stream/{seed}")
    ev = _shuffled(pq.read_table(DATA / "events.parquet"), rng)
    # UTC-adjusted timestamps read back as Spark TimestampType
    ev = ev.set_column(
        ev.schema.get_field_index("ts"), "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    out.mkdir(parents=True)
    n = len(inputs.drops)
    per = -(-ev.num_rows // n)
    for i in range(n):
        part = ev.slice(i * per, per)
        path = out / f"events-{i:02d}.parquet"
        pq.write_table(part, path)
        inputs.files.append(str(path))
        inputs.rows += part.num_rows
        inputs.event_files.append(str(path))


def make_inputs(workload: str, seed: int, root: Path) -> Inputs:
    inputs = Inputs(sf_dir=str(root / "sf"))
    make_sf_copy(seed, root / "sf", inputs)
    if workload == "warehouse_refresh":
        make_drops(seed, root / "drops", inputs)
        make_event_drops(seed, root / "events", inputs)
    return inputs
