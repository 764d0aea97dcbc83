"""Crash-point sweep over the manifest ledger (sources/ledger.py).

Every file mutation a ledger makes passes through ``ledger._mutate``.
For each commit sequence below, the sweep replays the sequence once per
mutation point k, crashing just before the k-th mutation, then reopens
the ledger, re-runs the sequence and checks exactly-once plus the ledger
invariants.  It ends on the first run that completes without reaching
the crash point, so every point of the sequence is covered.

Select with ``pytest -k crash_sweep -s`` (``-s`` shows the per-sequence
mutation-point counts).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

import swingstream.sources.ledger as ledger_mod
from swingstream.sources.catalog import IcebergLiteTable
from swingstream.sources.ledger import batch_dir_name
from swingstream.streaming.compaction import compact_small_files
from swingstream.streaming.index import DigestIndex, MinHashIndex


@pytest.fixture(autouse=True)
def _few_shuffle_partitions(spark):
    """Tiny frames: two shuffle partitions keep each of the sweep's
    hundred-odd commits to a handful of tasks."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


class _Crash(BaseException):
    """Raised by the seam; BaseException so no ``except Exception`` on
    the way can swallow the simulated crash."""


def _sweep(monkeypatch, tmp_path, base, run, check, label) -> int:
    """``base(root)`` builds the state before the sequence (once, then
    copied per k), ``run(root)`` performs the sequence on freshly opened
    objects, ``check(root)`` asserts the end state.  Returns the number
    of mutation points covered."""
    seed = str(tmp_path / "seed")
    base(seed)
    real = ledger_mod._mutate
    k = 0
    while True:
        root = str(tmp_path / f"k{k}")
        shutil.copytree(seed, root)
        done = [0]

        def seam(op, *args, **kwargs):
            if done[0] == k:
                raise _Crash(f"crash before mutation {k}")
            done[0] += 1
            return real(op, *args, **kwargs)

        monkeypatch.setattr(ledger_mod, "_mutate", seam)
        try:
            run(root)
            crashed = False
        except _Crash:
            crashed = True
        finally:
            monkeypatch.setattr(ledger_mod, "_mutate", real)
        if crashed:
            run(root)  # resume: reopen and re-run the whole sequence
        check(root)
        shutil.rmtree(root)
        if not crashed:
            break
        k += 1
    print(f"crash_sweep {label}: {k} mutation points covered")
    return k


def _invariants(ledger) -> None:
    """Ledger invariants after a completed (resumed) sequence."""
    history = ledger.manifests()
    active = ledger.active_manifests()
    replaced = {str(r) for m in history for r in m.get("replaces") or []}
    assert not replaced & {str(m["batch_id"]) for m in active}, "replaced id visible"

    def named(m):
        return {e if isinstance(e, str) else e["file"] for e in m["files"]}

    for m in active:
        for f in named(m):
            assert os.path.exists(os.path.join(ledger.data_dir, f)), f"missing {f}"
    # every published dir belongs to a manifest and holds exactly the
    # files that manifest names — no orphan dirs, no stray part files
    dirs = {batch_dir_name(m["batch_id"]): m for m in history}
    assert sorted(os.listdir(ledger.data_dir)) == sorted(dirs)
    for name, m in dirs.items():
        on_disk = {
            os.path.relpath(os.path.join(d, f), ledger.data_dir)
            for d, _, fs in os.walk(os.path.join(ledger.data_dir, name))
            for f in fs
        }
        assert on_disk == named(m), name
    assert not [f for f in os.listdir(ledger.manifest_dir) if f.endswith(".intent")]


def _docs(spark, lo, n, parts=2):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(lo, lo + n),
                      "ts": pd.to_datetime(range(lo, lo + n), unit="s")})
    ).repartition(parts)


def _ids(spark, table):
    return sorted(r["doc_id"] for r in table.read(spark).collect())


def test_crash_sweep_table_append(spark, tmp_path, monkeypatch):
    def base(root):
        IcebergLiteTable(root).commit(0, _docs(spark, 0, 6), "ts")

    def run(root):
        IcebergLiteTable(root).commit(1, _docs(spark, 6, 6), "ts")

    def check(root):
        t = IcebergLiteTable(root)
        assert t.committed(0) and t.committed(1)
        assert t.total_rows() == 12 and _ids(spark, t) == list(range(12))
        _invariants(t)

    assert _sweep(monkeypatch, tmp_path, base, run, check, "table append") >= 5


def test_crash_sweep_compact_small_files(spark, tmp_path, monkeypatch):
    def base(root):
        t = IcebergLiteTable(root)
        for b in range(3):
            t.commit(b, _docs(spark, 4 * b, 4, parts=1), "ts")

    def run(root):
        compact_small_files(spark, IcebergLiteTable(root), min_rows=100,
                            compaction_id="binpack-2")

    def check(root):
        t = IcebergLiteTable(root)
        assert t.committed("binpack-2")
        assert [m["batch_id"] for m in t.active_manifests()] == ["binpack-2"]
        assert t.total_rows() == 12 and _ids(spark, t) == list(range(12))
        _invariants(t)

    assert _sweep(monkeypatch, tmp_path, base, run, check, "REPLACE bin-pack") >= 8


def test_crash_sweep_digest_index_commit_and_compact(spark, tmp_path, monkeypatch):
    def digests(lo, n):
        return spark.createDataFrame(
            pd.DataFrame({"digest": [f"d{i}" for i in range(lo, lo + n)]}))

    def base(root):
        DigestIndex(root, n_buckets=2).commit(0, digests(0, 6))

    def run(root):
        idx = DigestIndex(root, n_buckets=2)
        idx.commit(1, digests(4, 6))  # overlaps batch 0 by two digests
        idx.compact(spark, "binpack-1")

    def check(root):
        idx = DigestIndex(root, n_buckets=2)
        assert idx.committed(1) and idx.committed("binpack-1")
        assert [m["batch_id"] for m in idx.active_manifests()] == ["binpack-1"]
        got = sorted(r["digest"] for r in idx.probe(spark, [0, 1]).collect())
        assert got == sorted(f"d{i}" for i in range(10))
        # the bin-pack rewrite deduplicates within each bucket
        assert idx.total_rows() == 10
        _invariants(idx)

    assert _sweep(monkeypatch, tmp_path, base, run, check,
                  "DigestIndex commit + compact") >= 10


def test_crash_sweep_minhash_two_store_commit(spark, tmp_path, monkeypatch):
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(4),
        "text": [" ".join(words[i:] + words[:i]) for i in range(4)],
    }))
    # band rows computed once: the sweep exercises the ledger, not the
    # minhash kernel
    banded = MinHashIndex(str(tmp_path / "kernel"), n_buckets=2).band_rows(docs)
    band_rows = banded.collect()

    def base(root):
        MinHashIndex(root, n_buckets=2)

    def run(root):
        mh = MinHashIndex(root, n_buckets=2)
        mh.commit(0, spark.createDataFrame(band_rows, banded.schema))

    def check(root):
        mh = MinHashIndex(root, n_buckets=2)
        assert mh.committed(0) and mh.sigs.committed(0)
        assert mh.sigs.total_rows() == 4 and mh.total_rows() == 4 * mh.bands
        bands = mh._read(spark, mh.files_for_buckets([0, 1]))
        n_distinct = bands.dropDuplicates(["id", "band_idx"]).count()
        assert bands.count() == n_distinct == 4 * mh.bands
        _invariants(mh)
        _invariants(mh.sigs)

    assert _sweep(monkeypatch, tmp_path, base, run, check,
                  "MinHashIndex two-store commit") >= 8

