"""Iceberg-style table layout: partitioned parquet + JSON manifest commits
(SURVEY.md §2.1 S5, §2.8 T9).

No Iceberg runtime jar ships in this sandbox (SURVEY.md §0), so this
implements the Iceberg *commit contract* the engine needs — atomic,
idempotent, manifest-tracked appends — over plain parquet, behind an
interface a real ``iceberg-spark-runtime`` catalog drops into.  The
contract itself (batch_id-keyed replay no-ops, stage → atomic publish →
manifest, REPLACE snapshots and archival) is stated and implemented
once, in sources/ledger.py; this module adds what is particular to a
table:

  * each manifest carries per-partition lineage + metrics: file list,
    row counts, min/max event time from the parquet footers
    (BASELINE.json: "per-partition lineage and metrics");
  * a crash-orphaned published batch dir is ADOPTED, after a schema
    check, instead of being rewritten (see ``commit``).

Readers list manifests (small JSON files) and read exactly the files
they name — the Iceberg snapshot-isolation model in miniature.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

from swingstream.sources.ledger import ManifestLedger, batch_dir_name

_log = logging.getLogger(__name__)


class IcebergLiteTable(ManifestLedger):
    def __init__(self, root: str):
        # manifests/manifest-<id>.json, indent 1, file-name order
        super().__init__(root, prefix="manifest-", indent=1)

    def append_manifests(self) -> list[dict]:
        """Every original APPEND commit, including those replaced by later
        REPLACE snapshots — replaced manifests (and their data files) stay
        on disk as lineage, so the full appended history remains readable
        (Iceberg history/time-travel in miniature)."""
        return [m for m in self.manifests() if m.get("operation") is None]

    # -- write -----------------------------------------------------------
    def commit(
        self,
        batch_id: int | str,
        df: DataFrame,
        event_time_col: str | None = None,
        extra_metrics: dict | None = None,
        n_files: int | None = None,
        operation: str | None = None,
        replaces: list | None = None,
    ) -> dict | None:
        """Idempotent append of one micro-batch.  Returns the manifest,
        or None when the batch was already committed (replay no-op).

        ``n_files`` bounds the files per commit (a downstream file-stream
        consumer needs whole commits per trigger: set n_files=1 and
        maxFilesPerTrigger=k to consume k commits atomically, in commit
        order — data dirs are zero-padded so path order == commit order).

        ``operation``/``replaces`` turn the commit into a REPLACE snapshot
        (Iceberg rewrite semantics): the listed batch_ids become invisible
        to readers once this manifest lands — atomically, since visibility
        flips on the single manifest write (see active_manifests).
        """
        if self.committed(batch_id):
            return None
        final_dir = os.path.join(self.data_dir, batch_dir_name(batch_id))
        if os.path.isdir(final_dir):
            # Crash leftover: the dir-publish rename succeeded but the
            # manifest write never happened.  The dir is therefore a
            # COMPLETE copy of this batch's data (publish is atomic), and
            # a concurrent file-stream reader listing data_dir may already
            # hold these paths in its file-source log — deleting and
            # republishing different part files could surface missing-file
            # errors or re-keyed rows on its resume.  ADOPT the existing
            # files (the pipeline is deterministic per §4.3 pin #1, so the
            # recomputed batch has identical rows) and just write the
            # manifest they were missing.  The determinism pin only holds
            # within one pipeline version, so cross-check the adopted
            # files' parquet-footer schema against the recomputed df
            # before committing them — a dir published by an older code
            # version / different params must fail loudly, not be
            # silently committed under a fresh manifest.
            lineage = self.lineage(final_dir, batch_dir_name(batch_id))
            self._check_adoptable(final_dir, lineage, df)
            _log.warning(
                "adopting crash-orphaned batch dir %s: %d files, %d rows "
                "(column names+types verified against the recomputed batch; "
                "row content is assumed identical per the pipeline "
                "determinism pin, not re-read)",
                final_dir, len(lineage), sum(e["rows"] for e in lineage),
            )
        else:
            if n_files is not None:
                # repartition, NOT coalesce: coalesce(1) would collapse
                # the whole upstream computation into a single task;
                # repartition keeps it parallel and only funnels the
                # (small) result rows
                df = df.repartition(n_files)
            lineage = self.publish(
                batch_id, lambda stage: df.write.mode("overwrite").parquet(stage)
            )
        return self._write_manifest(
            batch_id, lineage, event_time_col, extra_metrics, operation,
            replaces,
        )

    def _check_adoptable(
        self, final_dir: str, lineage: list[dict], df: DataFrame
    ) -> None:
        """Full schema check of an orphaned dir — NAMES AND TYPES (r4
        advice: a stale dir with identical names but changed types was
        silently adopted).  Each footer's arrow schema is mapped back to
        Spark types; tz-aware vs NTZ timestamps are ambiguous in the
        arrow form, so either reading is accepted.  Compared on
        simpleString(): it carries names and types but ERASES
        nullability — from_arrow_schema reconstructs containers as
        nullable (e.g. collect_list output round-trips
        ArrayType(containsNull=False) -> True), which would permanently
        refuse a legitimate retry of identical data."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        expected = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        for e in lineage:
            md = pq.read_metadata(os.path.join(self.data_dir, e["file"]))
            arrow = md.schema.to_arrow_schema()
            readings = [
                [(f.name, f.dataType.simpleString()) for f in
                 from_arrow_schema(arrow, prefer_timestamp_ntz=ntz).fields]
                for ntz in (False, True)
            ]
            if expected not in readings:
                raise ValueError(
                    f"refusing to adopt orphaned batch dir {final_dir}: "
                    f"parquet schema {readings[-1]} != recomputed batch "
                    f"schema {expected} (stale data from a different "
                    f"pipeline version?) — remove the dir to recompute"
                )

    def _write_manifest(
        self,
        batch_id: int | str,
        lineage: list[dict],
        event_time_col: str | None,
        extra_metrics: dict | None,
        operation: str | None = None,
        replaces: list | None = None,
    ) -> dict:
        import pyarrow.parquet as pq

        metrics: dict = {"rows": sum(e["rows"] for e in lineage)}
        if event_time_col is not None and metrics["rows"] > 0:
            # min/max event time from parquet FOOTER statistics — free,
            # no data scan (the committed files were just written with
            # stats enabled)
            try:
                stats = []
                for e in lineage:
                    md = pq.read_metadata(os.path.join(self.data_dir, e["file"]))
                    ci = md.schema.to_arrow_schema().names.index(event_time_col)
                    stats += [md.row_group(rg).column(ci).statistics
                              for rg in range(md.num_row_groups)]
                stats = [st for st in stats if st is not None and st.has_min_max]
                if stats:
                    metrics["min_event_time"] = str(min(st.min for st in stats))
                    metrics["max_event_time"] = str(max(st.max for st in stats))
            except Exception:
                pass  # no footer stats: the metrics simply omit the range
        if extra_metrics:
            metrics.update(extra_metrics)

        manifest = {
            "batch_id": batch_id,
            "files": [e["file"] for e in lineage],
            "partitions": lineage,
            "metrics": metrics,
        }
        if operation is not None:
            manifest["operation"] = operation
        if replaces:
            manifest["replaces"] = list(replaces)
        self.publish_manifest(batch_id, manifest)
        return manifest

    # -- read ------------------------------------------------------------
    def read(self, spark: SparkSession, schema=None) -> DataFrame:
        return self._read_manifests(spark, self.active_manifests(), schema)

    def read_commit(
        self, spark: SparkSession, batch_id: int | str, schema=None
    ) -> DataFrame:
        """Rows of ONE commit, by batch_id — readable even after a later
        REPLACE superseded it (replaced files stay on disk as lineage).
        The crash-replay path uses this as the authoritative record of
        what a batch admitted, so index commits derived from it can
        never drift from the corpus (streaming/index.py protocol)."""
        ms = [m for m in self.manifests() if str(m["batch_id"]) == str(batch_id)]
        if not ms:
            raise KeyError(f"no commit with batch_id {batch_id!r} in {self.root}")
        return self._read_manifests(spark, ms[:1], schema)

    def read_history(self, spark: SparkSession, schema=None) -> DataFrame:
        """Every row ever APPENDED — the union of the original append
        commits, ignoring REPLACE rewrites (whose files are copies of
        surviving rows, so including them would double-count).  Appends
        are disjoint micro-batches, so each row appears exactly once."""
        return self._read_manifests(spark, self.append_manifests(), schema)

    def _read_manifests(
        self, spark: SparkSession, ms: list[dict], schema=None
    ) -> DataFrame:
        files = [os.path.join(self.data_dir, f) for m in ms for f in m["files"]]
        return self._read_files(spark, files, schema)

    def _read_files(self, spark: SparkSession, files: list[str], schema=None) -> DataFrame:
        if not files:
            if schema is None:
                raise ValueError("empty table and no schema given")
            return spark.createDataFrame([], schema)
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*files)

    def total_rows(self) -> int:
        return sum(m["metrics"]["rows"] for m in self.active_manifests())
