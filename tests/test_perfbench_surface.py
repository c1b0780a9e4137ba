"""The engine surface that perfbench reads (``perfbench/run.py``'s
loader tracing, ``perfbench/workloads.py``'s write counters). perfbench
is versioned apart from the engine, so an engine refactor that moved
any of this would break traced runs without failing an engine test."""

from __future__ import annotations

import importlib
import json
import os
import shutil
from weakref import WeakKeyDictionary

from sparkify_datalake_spark.sources import versioned as V

# by module path: ``sources.load`` is shadowed by the re-exported function
load_mod = importlib.import_module("sparkify_datalake_spark.sources.load")


def test_loader_names_perfbench_rebinds():
    for attr in ("load", "table_rows", "scan_width", "column_minmax"):
        assert callable(getattr(load_mod, attr)), attr
    assert isinstance(load_mod._RELATION_CACHE, WeakKeyDictionary)


def test_relation_cache_grows_once_per_first_load(spark, sf_dir, tmp_path):
    """perfbench counts a loader hit as a load that leaves
    ``len(_RELATION_CACHE[spark])`` unchanged."""
    shutil.copyfile(f"{sf_dir}/region.parquet", f"{tmp_path}/region.parquet")

    def size():
        return len(load_mod._RELATION_CACHE.get(spark) or {})

    before = size()
    load_mod.load(spark, str(tmp_path), "region")
    assert size() == before + 1
    load_mod.load(spark, str(tmp_path), "region")
    assert size() == before + 1


def test_committed_version_layout(spark, tmp_path):
    """A version's bytes live under ``data/vNNNNN`` and its manifest is
    ``_manifests/vNNNNN.json``."""
    t = str(tmp_path / "tbl")
    for v in range(2):
        assert V.commit(spark.range(v, v + 3), t) == v
        with open(os.path.join(t, "_manifests", f"v{v:05d}.json")) as fh:
            files = json.load(fh)["files"]
        new = [f for f in files if f.startswith(f"data/v{v:05d}/")]
        assert new
        assert all(os.path.isfile(os.path.join(t, f)) for f in new)
