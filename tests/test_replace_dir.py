"""One publish protocol for every derived artifact (sources/sinks.py
``replace_dir``): a crash at any step leaves a state the next call
repairs, and the ANN indexes follow the corpus snapshot, not the path
string the caller passed."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sparkify_datalake_spark.operators import dedup_incremental as inc
from sparkify_datalake_spark.operators import similarity as sim
from sparkify_datalake_spark.sources.load import load
from sparkify_datalake_spark.sources.sinks import compact_parquet


class Crash(Exception):
    """Stands in for the process dying at an injected step."""


def _inject(monkeypatch, point: str) -> None:
    """Fail replace_dir at one step:
    ``after_staging_write`` — the first rename of the swap (staging is
    full, nothing renamed yet); ``between_renames`` — staging renaming
    into place, after the old copy moved to ``.old``;
    ``before_old_delete`` — the delete of ``.old``, after both renames."""
    real_rename, real_rmtree = os.rename, shutil.rmtree

    def rename(src, dst):
        src, dst = str(src), str(dst)
        if point == "after_staging_write" and dst.endswith(".old"):
            raise Crash(point)
        if point == "between_renames" and src.endswith(".staging"):
            raise Crash(point)
        return real_rename(src, dst)

    def rmtree(path, *a, **kw):
        if point == "before_old_delete" and str(path).endswith(".old"):
            raise Crash(point)
        return real_rmtree(path, *a, **kw)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def _docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")


def _store_rows(spark, store):
    return {
        sub: _rows(spark, f"{store}/{sub}")
        for sub in ("bucket_reps", "reps")
    }


def _caller(name, spark, sf_dir, tmp_path, monkeypatch):
    """(artifact path, make, op, again, read) for one replace_dir caller:
    ``make`` leaves an existing artifact at a given path, ``op`` is the
    publishing call that crashes, ``again`` the next call after the
    crash, and ``read`` the artifact's content."""
    if name == "ivf_build":
        monkeypatch.setattr(sim, "_INDEX_ROOT", tmp_path / "ann_index")

        def read(_path):
            # the centroids come from the index dir's model file
            cent, assign = sim.ivf_build(spark, sf_dir)
            return cent.tolist(), _rows(spark, assign)

        def again(_path):
            # every crash point leaves a complete index to recover: the
            # next call serves it without training again
            real, trained = sim._kmeans_centroids, []
            monkeypatch.setattr(
                sim,
                "_kmeans_centroids",
                lambda *a: trained.append(1) or real(*a),
            )
            sim.ivf_build(spark, sf_dir)
            monkeypatch.setattr(sim, "_kmeans_centroids", real)
            assert not trained

        return (
            sim._index_dir(sf_dir, "ivf"),
            lambda _path: sim.ivf_build(spark, sf_dir),
            lambda _path: sim.ivf_build(spark, sf_dir, force=True),
            again,
            read,
        )
    if name == "dedup_store_build":
        docs = _docs(spark, sf_dir)

        def make(path):
            # an older store: built from fewer docs, then appended to
            old = F.col("doc_id") < 250
            inc.dedup_store_build(spark, docs.filter(old), path)
            inc.dedup_store_ingest(spark, docs.filter(~old), path)

        def rebuild(path):
            inc.dedup_store_build(spark, docs, path)

        return (
            str(tmp_path / "store"),
            make,
            rebuild,
            rebuild,
            lambda path: _store_rows(spark, path),
        )
    if name == "dedup_store_vacuum":
        docs = _docs(spark, sf_dir)

        def make(path):
            base = F.col("doc_id") < 300
            inc.dedup_store_build(spark, docs.filter(base), path)
            inc.dedup_store_ingest(spark, docs.filter(~base), path)

        def vacuum(path):
            inc.dedup_store_vacuum(spark, path)

        return (
            str(tmp_path / "store"),
            make,
            vacuum,
            vacuum,
            lambda path: _store_rows(spark, path),
        )
    assert name == "compact_parquet"

    def make(path):
        rows = [(k, "A" if k <= 5 else "B", k * 10.0) for k in range(1, 11)]
        spark.createDataFrame(
            rows, "id long, part string, val double"
        ).repartition(6).write.parquet(path)

    def compact(path):
        compact_parquet(spark, path, n_files=1)

    def read(path):
        n_files = sum(f.endswith(".parquet") for f in os.listdir(path))
        return _rows(spark, path), n_files

    return str(tmp_path / "t"), make, compact, compact, read


CRASH_POINTS = ("after_staging_write", "between_renames", "before_old_delete")
CALLERS = (
    "ivf_build",
    "dedup_store_build",
    "compact_parquet",
    "dedup_store_vacuum",
)


@pytest.fixture(scope="module")
def made(tmp_path_factory):
    """Per caller: a copy of the artifact ``make`` leaves, and the
    content a clean ``op`` on it publishes — built once per module."""
    return {"root": tmp_path_factory.mktemp("made")}


@pytest.mark.parametrize("point", CRASH_POINTS)
@pytest.mark.parametrize("caller", CALLERS)
def test_publish_recovers_from_crash(
    spark, sf_dir, tmp_path, monkeypatch, made, caller, point
):
    """A crash at each step of the swap leaves exactly the on-disk state
    recover_dir repairs; the next call then leaves an artifact equal to
    a clean one, with no .staging or .old beside it. Covers what the
    compaction and vacuum crash tests pinned before: a table missing
    with only the old copy on disk is restored, not deleted, and a
    stale old copy beside a complete table is cleared."""
    path, make, op, again, read = _caller(
        caller, spark, sf_dir, tmp_path, monkeypatch
    )
    if caller not in made:
        template = str(made["root"] / caller)
        make(path)
        shutil.copytree(path, template)
        op(path)
        made[caller] = template, read(path)
        shutil.rmtree(path)
    template, clean = made[caller]
    shutil.copytree(template, path)

    staging, old = path + ".staging", path + ".old"
    with monkeypatch.context() as m:
        _inject(m, point)
        with pytest.raises(Crash):
            op(path)
    on_disk = {p: os.path.exists(p) for p in (path, staging, old)}
    assert on_disk == {
        "after_staging_write": {path: True, staging: True, old: False},
        "between_renames": {path: False, staging: True, old: True},
        "before_old_delete": {path: True, staging: False, old: True},
    }[point]

    again(path)
    assert read(path) == clean
    assert not os.path.exists(staging) and not os.path.exists(old)


def _negated_corpus(src_dir: str, dst_dir: str) -> None:
    """A second corpus: the first one mirrored through the origin, so
    its centroids and codebooks differ from the original's."""
    os.makedirs(dst_dir)
    t = pq.read_table(f"{src_dir}/embeddings.parquet")
    emb = t.column("embedding").combine_chunks()
    neg = pa.ListArray.from_arrays(
        emb.offsets, pc.negate(emb.flatten()), type=emb.type
    )
    pq.write_table(
        t.set_column(t.schema.get_field_index("embedding"), "embedding", neg),
        f"{dst_dir}/embeddings.parquet",
    )


@pytest.mark.parametrize("build", ["ivf_build", "pq_build"])
def test_ann_cache_follows_repointed_symlink(
    spark, sf_dir, tmp_path, monkeypatch, build
):
    """A corpus path that is a symlink, repointed from corpus A to
    corpus B whose index is already on disk, must serve B's centroids
    (codebooks) with B's table — never A's."""
    monkeypatch.setattr(sim, "_INDEX_ROOT", tmp_path / "ann_index")
    fn = getattr(sim, build)
    a, b, cur = (str(tmp_path / n) for n in ("a", "b", "cur"))
    os.makedirs(a)
    shutil.copyfile(f"{sf_dir}/embeddings.parquet", f"{a}/embeddings.parquet")
    _negated_corpus(a, b)

    want_b, table_b = fn(spark, b)
    os.symlink(a, cur)
    got_a, _ = fn(spark, cur)
    assert not np.array_equal(got_a, want_b)
    os.remove(cur)
    os.symlink(b, cur)
    got_b, table = fn(spark, cur)
    assert table == table_b
    assert np.array_equal(got_b, want_b)


def test_rebuild_after_rewrite_deletes_superseded_index(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A corpus regenerated at the same path gets a new index key; the
    build under it deletes the old key's dir and leaves the indexes of
    other corpus paths alone."""
    root = tmp_path / "ann_index"
    monkeypatch.setattr(sim, "_INDEX_ROOT", root)
    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copyfile(f"{sf_dir}/embeddings.parquet", f"{corpus}/embeddings.parquet")
    # an index of the previous layout (a Parquet model, no .npy file) is
    # superseded, not served
    stale = os.path.dirname(sim._index_dir(corpus, "ivf")).replace(
        f"-L{sim._INDEX_LAYOUT}", "-L2"
    )
    os.makedirs(os.path.join(stale, "ivf", "centroids"))
    sim.ivf_build(spark, corpus)
    assert not os.path.exists(stale)
    old_key = os.path.dirname(sim._index_dir(corpus, "ivf"))
    other = root / "other-0123456789-0123456789-L2"
    other.mkdir()

    _negated_corpus(corpus, str(tmp_path / "neg"))
    os.replace(f"{tmp_path}/neg/embeddings.parquet", f"{corpus}/embeddings.parquet")
    sim.ivf_build(spark, corpus)
    new_key = os.path.dirname(sim._index_dir(corpus, "ivf"))
    assert new_key != old_key
    assert sorted(os.listdir(root)) == sorted(
        [os.path.basename(new_key), other.name]
    )
