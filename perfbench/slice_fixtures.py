#!/usr/bin/env python3
"""Rebuild perfbench/data from the repository's test fixtures.

    python3 perfbench/slice_fixtures.py FIXTURE_ROOT

FIXTURE_ROOT holds the fixture scale directories (``sf0.01``,
``sf0.1``; see FIXTURES.md and TESTDATA.md). The benchmark serves
fixture rows unchanged, so its traffic is the fixtures' own:

- ``documents.parquet`` and ``embeddings.parquet``: byte copies of the
  sf0.01 corpus (500 documents, 500 64-dim vectors);
- ``orders.parquet``: the sf0.1 orders of the table's last LAKE_DAYS
  days (7,468 rows), the rows lake_ingest streams.

The committed files are the output of this script; a run only reads
them.
"""

from __future__ import annotations

import datetime
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
CORPUS_SF = "sf0.01"
ORDERS_SF = "sf0.1"
# lake_ingest keeps one view partition per day, and every view read
# lists them all; 120 days keep an ingest step near four seconds on
# 4 CPUs.
LAKE_DAYS = 120


def main(root: str) -> None:
    os.makedirs(DATA, exist_ok=True)
    for t in ("documents", "embeddings"):
        shutil.copyfile(os.path.join(root, CORPUS_SF, f"{t}.parquet"),
                        os.path.join(DATA, f"{t}.parquet"))
    orders = pq.read_table(os.path.join(root, ORDERS_SF, "orders.parquet"))
    last = pc.max(orders["o_orderdate"]).as_py()
    cut = pc.cast(last - datetime.timedelta(days=LAKE_DAYS - 1),
                  orders["o_orderdate"].type)
    pq.write_table(orders.filter(pc.greater_equal(orders["o_orderdate"], cut)),
                   os.path.join(DATA, "orders.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
