"""The manifest ledger: the one commit protocol behind every IcebergLite
table (sources/catalog.py) and admission index (streaming/index.py).

Layout: ``data/batch-<label>/[bucket=<b>/]*.parquet``, manifests in
``manifests/<prefix><batch_id>.json``, replaced ones in
``manifests/archive/``, staging in ``_tmp/``.  The protocol:

  * every commit is keyed by ``batch_id``; replaying a committed id
    (foreachBatch retry, checkpoint replay) is a no-op: exactly-once;
  * Spark writes a commit into a fresh ``_tmp`` stage dir, which ONE
    atomic rename publishes into ``data/`` (``_tmp`` is underscore-
    prefixed, so a concurrent Spark file listing never sees it);
  * the manifest is written to a temp name and renamed into place;
    visibility flips on that rename.  Readers trust manifests, never
    listings, so a crash before it leaves invisible garbage or a
    published dir that the owner adopts or deletes on retry;
  * a REPLACE manifest hides the ids it ``replaces``; their manifests
    then move to ``archive/`` so ``active_manifests`` stays O(active) —
    a crash mid-move leaves victims hidden by the replaced-set filter.

Published manifests are immutable, so parses are cached by file name;
each read re-lists the directory and parses only new names.  Every
file mutation goes through ``_mutate``, the seam a crash-point test
intercepts (tests/test_ledger.py).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable
from pathlib import Path


def _mutate(op: Callable, *args, **kwargs):
    """Perform one file mutation (the crash-point seam)."""
    return op(*args, **kwargs)


def batch_dir_name(batch_id) -> str:
    """Data-dir name of a commit.  Numeric ids are zero-padded so path
    order == commit order (a downstream file-stream consumer relies on
    it)."""
    b = str(batch_id)
    return f"batch-{int(b):010d}" if b.isdigit() else f"batch-{b}"


class ManifestLedger:
    """Manifest files are ``<prefix><id>.json`` written with ``indent``;
    ``order`` (manifest → sort key) orders ledger reads, which otherwise
    come in file-name order, live dir first."""

    def __init__(
        self,
        root: str,
        prefix: str,
        indent: int | None,
        order: Callable[[dict], object] | None = None,
    ):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "manifests")
        self.archive_dir = os.path.join(self.manifest_dir, "archive")
        self.tmp_dir = os.path.join(root, "_tmp")
        self._prefix = prefix
        self._indent = indent
        self._order = order
        for d in (self.data_dir, self.archive_dir, self.tmp_dir):
            if not os.path.isdir(d):
                _mutate(os.makedirs, d, exist_ok=True)
        self._manifest_cache: dict[str, dict] = {}

    # -- reads -------------------------------------------------------------

    def _name(self, batch_id) -> str:
        return f"{self._prefix}{batch_id}.json"

    def _manifest_path(self, batch_id) -> str:
        return os.path.join(self.manifest_dir, self._name(batch_id))

    def committed(self, batch_id) -> bool:
        # archived manifests count: a replayed id stays a no-op after a
        # REPLACE moved its manifest to archive/
        return os.path.exists(self._manifest_path(batch_id)) or os.path.exists(
            os.path.join(self.archive_dir, self._name(batch_id))
        )

    def _parse_dir(self, d: str) -> list[dict]:
        """Manifests of one ledger directory via the parse cache.  Keys
        carry the subdir so a name can't collide across live/archive."""
        key_prefix = "" if d == self.manifest_dir else "archive/"
        out = []
        for f in sorted(os.listdir(d)):
            if f.startswith(self._prefix) and f.endswith(".json"):
                key = key_prefix + f
                m = self._manifest_cache.get(key)
                if m is None:
                    with open(os.path.join(d, f)) as fh:
                        m = json.load(fh)
                    self._manifest_cache[key] = m
                out.append(m)
        return out

    def _read_dirs(self, *dirs: str) -> list[dict]:
        ms = [m for d in dirs for m in self._parse_dir(d)]
        return sorted(ms, key=self._order) if self._order else ms

    def manifests(self) -> list[dict]:
        """FULL commit history, replaced manifests included — whether
        still live or already archived."""
        return self._read_dirs(self.manifest_dir, self.archive_dir)

    def active_manifests(self) -> list[dict]:
        """Manifests still visible to readers: the live dir minus every
        id a live REPLACE manifest replaces.  Never touches archive/."""
        ms = self._read_dirs(self.manifest_dir)
        replaced = {str(r) for m in ms for r in m.get("replaces") or []}
        return [m for m in ms if str(m["batch_id"]) not in replaced]

    # -- mutations ---------------------------------------------------------

    def write_json(self, path: str, obj, indent: int | None = None):
        """Atomic JSON write (temp file + rename); returns the parsed
        form, so a cached copy equals a re-read one."""
        text = json.dumps(obj, indent=indent, default=str)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        _mutate(Path(tmp).write_text, text)
        _mutate(os.replace, tmp, path)
        return json.loads(text)

    def remove(self, path: str) -> None:
        """Delete a file or directory tree, if present."""
        if os.path.lexists(path):
            _mutate(shutil.rmtree if os.path.isdir(path) else os.remove, path)

    def lineage(self, d: str, name: str) -> list[dict]:
        """Per-file lineage of a written commit dir ``d`` (flat, or
        ``bucket=<b>/`` subdirs): ``{"file", ["bucket",] "rows"}`` with
        paths relative to ``data/``, as published under ``name``."""
        import pyarrow.parquet as pq

        out = []
        subs = sorted(x for x in os.listdir(d) if x.startswith("bucket="))
        for sub in ["", *subs]:
            for f in sorted(os.listdir(os.path.join(d, sub))):
                if f.endswith(".parquet"):
                    e: dict = {"file": os.path.join(name, sub, f)}
                    if sub:
                        e["bucket"] = int(sub.split("=", 1)[1])
                    e["rows"] = pq.read_metadata(os.path.join(d, sub, f)).num_rows
                    out.append(e)
        return out

    def publish(self, batch_id, write: Callable[[str], None]) -> list[dict]:
        """Stage → publish one commit's data dir: ``write(stage)`` makes
        Spark write the commit's parquet into a fresh ``_tmp`` dir; its
        non-parquet side files (``_SUCCESS``, ``.crc``) are dropped and
        one atomic rename moves it to ``data/batch-<label>``.  Returns
        the dir's lineage."""
        name = batch_dir_name(batch_id)
        stage = os.path.join(self.tmp_dir, f"stage-{name}-{uuid.uuid4().hex}")
        write(stage)
        for d, _, files in os.walk(stage):
            for f in files:
                if not f.endswith(".parquet"):
                    _mutate(os.remove, os.path.join(d, f))
        lineage = self.lineage(stage, name)
        _mutate(os.replace, stage, os.path.join(self.data_dir, name))
        return lineage

    def publish_manifest(self, batch_id, manifest: dict) -> None:
        """The commit point: atomically write the manifest, then archive
        whatever it replaces (read-path maintenance only)."""
        self._manifest_cache[self._name(batch_id)] = self.write_json(
            self._manifest_path(batch_id), manifest, self._indent
        )
        for b in manifest.get("replaces") or []:
            victim = self._name(b)
            src = os.path.join(self.manifest_dir, victim)
            if os.path.exists(src):
                _mutate(os.replace, src, os.path.join(self.archive_dir, victim))
                m = self._manifest_cache.pop(victim, None)
                if m is not None:
                    self._manifest_cache["archive/" + victim] = m
