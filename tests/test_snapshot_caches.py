"""Everything cached or stored from a fixture table follows the table's
snapshot (``load.corpus_fingerprint``): an input regenerated at the
same path is rebuilt from, never served stale, and footers are read
once per snapshot."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkify_datalake_spark.operators import dedup_incremental as inc
from sparkify_datalake_spark.operators.corpus_grain import whitespace_tf_grain
from sparkify_datalake_spark.sources.load import (
    column_minmax,
    corpus_fingerprint,
    load,
    scan_width,
    table_rows,
)


def _demo_store_fingerprints(spark, d):
    inc.dedup_incremental(spark, d).collect()
    # store keys are {dir}-{md5}-{fingerprint}-{version}
    return sorted(n.rsplit("-", 2)[1] for n in os.listdir(inc._STORE_ROOT))


# case -> (table, what the cache serves, the same from the table itself)
CASES = {
    "relation": (
        "orders",
        lambda spark, d: load(spark, d, "orders").count(),
        lambda t, d: t.num_rows,
    ),
    "tf_grain": (
        "documents",
        lambda spark, d: whitespace_tf_grain(spark, d)
        .agg(F.countDistinct("doc_id"))
        .first()[0],
        lambda t, d: len(pc.unique(t["doc_id"])),
    ),
    "table_rows": (
        "orders",
        lambda spark, d: table_rows(d, "orders"),
        lambda t, d: t.num_rows,
    ),
    "scan_width": (
        "orders",
        lambda spark, d: scan_width(d, "orders"),
        lambda t, d: pq.ParquetFile(f"{d}/orders.parquet").num_row_groups,
    ),
    "column_minmax": (
        "orders",
        lambda spark, d: column_minmax(d, "orders", "o_orderkey"),
        lambda t, d: tuple(
            v.as_py() for v in pc.min_max(t["o_orderkey"]).values()
        ),
    ),
    "dedup_demo_store": (
        "documents",
        _demo_store_fingerprints,
        lambda t, d: [corpus_fingerprint(d, "documents")],
    ),
}


def _write(table, path, full_rows):
    # a full table in four row groups, so a half-size rewrite also
    # changes scan_width
    pq.write_table(table, path, row_group_size=-(-full_rows // 4))


@pytest.mark.parametrize("case", sorted(CASES))
def test_regenerated_input_is_rebuilt(
    spark, sf_dir, tmp_path, monkeypatch, case
):
    """A table rewritten at the same path (half its rows) must be
    served from its new snapshot by every cache and store derived from
    it, and a store must delete the old snapshot's dir."""
    monkeypatch.setattr(inc, "_STORE_ROOT", tmp_path / "dedup_store")
    name, served, truth = CASES[case]
    d = str(tmp_path / "corpus")
    os.makedirs(d)
    path = f"{d}/{name}.parquet"
    full = pq.read_table(f"{sf_dir}/{name}.parquet")

    _write(full, path, full.num_rows)
    before = truth(full, d)
    assert served(spark, d) == before
    _write(full.slice(0, full.num_rows // 2), path, full.num_rows)
    after = truth(pq.read_table(path), d)
    assert after != before
    assert served(spark, d) == after


def test_footers_are_read_once_per_snapshot(sf_dir, tmp_path, monkeypatch):
    """table_rows, scan_width and column_minmax share one footer read
    per table snapshot; a regenerated table is read once more."""
    d = str(tmp_path)
    table = pq.read_table(f"{sf_dir}/orders.parquet")
    _write(table, f"{d}/orders.parquet", table.num_rows)
    opens, parquet_file = [], pq.ParquetFile

    def counting(source, *a, **kw):
        opens.append(source)
        return parquet_file(source, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)

    def one_round():
        assert table_rows(d, "orders") > 0
        assert scan_width(d, "orders") > 0
        assert column_minmax(d, "orders", "o_orderkey") is not None

    one_round()
    one_round()
    assert len(opens) == 1
    _write(table.slice(0, 10), f"{d}/orders.parquet", table.num_rows)
    one_round()
    assert len(opens) == 2
