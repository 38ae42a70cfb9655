"""session.py: the per-process zip-directory fix that every Python
worker installs by importing the package, the execution scopes, the
checkpoint file manager every stream of the session writes through, and
the size of the JVM's generated-code cache."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport
from contextlib import contextmanager

import pytest

from data_engineering_demo_real_time_city_mood_tracker_spark import session
from data_engineering_demo_real_time_city_mood_tracker_spark.session import ensure_shipped


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"zmod_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(zpath)
    try:
        assert importlib.import_module("zmod_first").VALUE == 1
        importlib.invalidate_caches()  # records the archive's stat

        reads: list[str] = []
        real = zipimport._read_directory

        def counting(path):
            if path == zpath:
                reads.append(path)
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        if sys.version_info < (3, 13):
            assert reads == [], "an unchanged zip must not be re-read"

        _write_zip(zpath, {"zmod_first": "VALUE = 1\n", "zmod_second": "VALUE = 2\n"})
        importlib.invalidate_caches()
        if sys.version_info < (3, 13):
            assert reads == [zpath], "a rewritten zip must be re-read once"
        assert importlib.import_module("zmod_second").VALUE == 2
    finally:
        for name in ("zmod_first", "zmod_second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zpath, None)
        zipimport._zip_directory_cache.pop(zpath, None)


def test_python_313_keeps_the_stdlib_method(monkeypatch):
    def stdlib_method(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib_method)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    session.skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stdlib_method


def test_python_worker_tasks_skip_unchanged_zip_rereads(spark):
    """Guard: every Python task imports the package when it unpickles
    its closure, so in a worker's second task the per-task
    ``importlib.invalidate_caches()`` re-reads no archive. Counts calls;
    times nothing."""
    ensure_shipped(spark)

    def probe(rows):
        import importlib
        import os
        import zipimport

        import data_engineering_demo_real_time_city_mood_tracker_spark  # noqa: F401

        for _ in rows:  # a worker that leaves input unread is not reused
            pass
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        marked = getattr(zipimport.zipimporter.invalidate_caches, "skips_unchanged_zips", False)
        return [(os.getpid(), len(reads), marked)]

    # Idle workers are reused first-in first-out, so a worker runs the
    # probe a second time once the job count passes the idle-pool size.
    sc = spark.sparkContext
    seen: set[int] = set()
    for _ in range(4 * sc.defaultParallelism + 1):
        (pid, reads, marked), = sc.parallelize([0], 1).mapPartitions(probe).collect()
        if sys.version_info >= (3, 13):
            assert not marked
            return
        assert marked, "the worker did not install skip_unchanged_zip_rereads"
        if pid in seen:
            assert reads == 0, f"a worker's second task re-read {reads} zip directories"
            return
        seen.add(pid)
    raise AssertionError(f"no Python worker was reused across {len(seen)} tasks")


def test_small_shuffle_scope_for_trainer_bpe_and_graph_callers(spark, monkeypatch):
    """The Lloyd trainer, the BPE trainer's rounds and the fixed-point
    PageRank each run inside ``small_shuffle``: 8 shuffle partitions and
    AQE off, whatever the session's count, with the session's values
    back once the scope exits. A graph of 10^6+ vertices gets
    vertex-sized partitions and keeps AQE on."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.operators import bpe, clustering, graph

    seen = {}

    def recording(name):
        @contextmanager
        def scope(sp, *args):
            with session.small_shuffle(sp, *args):
                seen.setdefault(name, set()).add(
                    (sp.conf.get("spark.sql.shuffle.partitions"),
                     sp.conf.get("spark.sql.adaptive.enabled"))
                )
                yield
        return scope

    for mod in (clustering, bpe, graph):
        monkeypatch.setattr(mod, "small_shuffle", recording(mod.__name__.rsplit(".", 1)[1]))
    outer = {"spark.sql.shuffle.partitions": "64", "spark.sql.adaptive.enabled": "true"}
    with session.scoped_conf(spark, outer):
        vecs = spark.createDataFrame(
            [(i, [float(i % 5), float(i % 3)]) for i in range(20)], "id long, v array<double>"
        )
        clustering.lloyd_train(vecs, "v", "id", m=1, k=2, max_iter=1)
        docs = spark.createDataFrame([(1, "low lower newest widest")], "doc_id long, text string")
        bpe.train_bpe_merge_list(docs, "text", n_merges=2)
        edges = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
        graph.pagerank_fixed_point(edges, rounds=1).collect()
        assert seen == {name: {("8", "false")} for name in ("clustering", "bpe", "graph")}
        with session.small_shuffle(spark, 2_000_000):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "31"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert {k: spark.conf.get(k) for k in outer} == outer


def _checkpoint_file_manager(spark, path):
    """The manager Spark's own factory builds for a checkpoint at ``path``
    from the session's Hadoop conf, as every stream's logs and state do."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path), spark._jsparkSession.sessionState().newHadoopConf()
    )


def test_stream_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    """Guard: checkpoint files are renamed through the FileSystem API.
    Spark's default FileContext manager forks `readlink` four times per
    checkpoint file on a host without the native Hadoop library."""
    fm = _checkpoint_file_manager(spark, str(tmp_path))
    assert fm.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
    )


def test_checkpoint_manager_refuses_to_overwrite_a_written_file(spark, tmp_path):
    """HDFSMetadataLog writes each batch id once: an atomic create
    without overwrite must fail at close, with the Hadoop
    FileAlreadyExistsException the log catches, when the file already
    exists, and leave the first file's content in place."""
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    fm = _checkpoint_file_manager(spark, str(tmp_path))
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = fm.createAtomic(target, False)
    first.write(ord("a"))
    first.close()
    second = fm.createAtomic(target, False)
    second.write(ord("b"))
    with pytest.raises(Py4JJavaError, match="FAILED_RENAME_PATH") as err:
        second.close()
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_text() == "a"


def _codegen_compilations(spark) -> int:
    """Classes Janino has compiled in this JVM: one per miss of Spark's
    JVM-global generated-code cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_more_than_the_default_100_classes(spark):
    """Guard: a working set of 120 generated classes is compiled once.
    Each query inlines its literal, so each compiles its own class; a
    100-entry LRU cycled over 120 entries misses on every access and
    the second round would compile all of them again."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_MAX_ENTRIES
    )
    queries = [spark.range(1).select(F.col("id") + F.lit(i)) for i in range(120)]
    for q in queries:
        q.collect()
    before = _codegen_compilations(spark)
    for q in queries:
        q.collect()
    assert _codegen_compilations(spark) - before == 0
