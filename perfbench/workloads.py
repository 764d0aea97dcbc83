"""The benchmark's workloads.  Each one repeats a unit of work (one
replay of a seeded stream through the program) until the run's seconds
are used, checks every repetition's output untimed, and in a traced run
also derives the per-layer figures."""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench import inputs
from perfbench.trace import (
    batch_spans,
    job_totals,
    progress_summary,
)

# the bench.py streaming configuration
PARAMS_KW = dict(
    window_width=8, step_size=1, min_lag=1, max_lag=3, method="lasso",
    alpha=0.05, watermark="5 minutes", n_salts=8, emit_zero_edges=False,
    solver_max_iter=150,
)

STREAM_LAYERS = [
    "extract.s",
    *[f"streaming.pipeline.{k}" for k in (
        "batches", "input_rows", "add_batch_s", "planning_s", "log_commit_s",
        "task_cpu_frac", "shuffle_write_bytes")],
    *[f"streaming.pipeline.dedup.{k}" for k in (
        "rows_updated", "rows_dropped_late", "update_s", "commit_s")],
    *[f"streaming.pipeline.window_agg.{k}" for k in (
        "rows_updated", "update_s", "commit_s")],
    "streaming.pipeline.store_commits", "streaming.state.store_commits",
    *[f"streaming.state.{k}" for k in (
        "batches", "add_batch_s", "idle_s", "edge_rows", "windows",
        "task_cpu_frac")],
    *[f"streaming.state.scoring.{k}" for k in ("update_s", "commit_s", "state_bytes")],
    "streaming.state.emit_windows_self_s",
    "operators.scoring.score_design_calls", "operators.scoring.score_design_self_s",
    "models.lasso.fista_multi_calls", "models.lasso.fista_multi_s",
    *[f"sources.catalog.{t}.{k}" for t in ("features", "edges")
      for k in ("commit_calls", "commit_self_s")],
]
INGEST_LAYERS = [
    *[f"streaming.compaction.{k}" for k in (
        "batches", "sink_s", "jobs_per_batch", "admit_frac",
        "rows_rejected_exact", "rows_rejected_neardup")],
    *[f"streaming.index.{i}.{k}" for i in ("digest", "minhash")
      for k in ("filter_new_s", "commit_s", "files")],
    "sources.catalog.corpus.commit_self_s", "sources.catalog.corpus.manifests",
]
# every per-layer metric, in BENCHMARK.json order; a workload reports 0
# for a layer it does not run
ALL_LAYERS = ["trace.wall_s", *STREAM_LAYERS, *INGEST_LAYERS]


def params():
    from swingstream.config import SwingParams

    return SwingParams(**PARAMS_KW)


def frame_digest(df) -> tuple:
    """Order-independent digest of a DataFrame's rows: row count, and the
    xor and the sum of the rows' 64-bit hashes."""
    from pyspark.sql import functions as F

    r = df.select(F.xxhash64(*df.columns).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor("h").alias("x"),
        F.sum(F.col("h").bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    ).collect()[0]
    return (int(r["n"]), int(r["x"] or 0), int(r["s"] or 0))


def _canon_edges(df):
    """Edge rows in one canonical order and dtype, for comparison."""
    import pandas as pd

    key = ["group_key", "win_start", "parent", "child", "lag"]
    out = pd.DataFrame({
        "group_key": df["group_key"].astype(str),
        "win_start": df["win_start"].astype("int64"),
        "parent": df["parent"].astype(str),
        "child": df["child"].astype(str),
        "lag": df["lag"].astype("int64"),
        "importance": df["importance"].astype("float64"),
        "win_start_ts": pd.to_datetime(df["win_start_ts"]).astype("datetime64[ns]"),
    })
    return out.sort_values(key).reset_index(drop=True)


def first_manifest_time(table, default: float) -> float:
    """Publication time of the table's earliest manifest (``default`` when
    it has none)."""
    times = [os.stat(os.path.join(table.manifest_dir, f)).st_mtime
             for f in os.listdir(table.manifest_dir)
             if f.startswith("manifest-") and f.endswith(".json")]
    return min(times, default=default)


def count_files(root: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _, _, fs in os.walk(root) for f in fs)


@dataclass
class Rep:
    wall_s: float
    first_result_s: float
    ok: bool
    layers: dict = field(default_factory=dict)
    note: str = ""
    trace: dict = field(default_factory=dict)  # traced run: spans, query ids


@dataclass
class Ctx:
    """What a workload's run needs from the harness."""
    spark: object
    seed: int
    seconds: float
    scratch: str
    expected_dir: str
    tracer: object = None      # perfbench.trace.Tracer in a traced run
    capture: object = None     # ListenerCapture in a traced run
    phases: dict = field(default_factory=dict)  # untimed phases' seconds

    def phase(self, name: str, t0: float) -> None:
        self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0


def _repeat(ctx: Ctx, one_rep) -> list[Rep]:
    """Run ``one_rep(i)`` until the run's seconds are used (at least once)."""
    reps: list[Rep] = []
    t_end = time.perf_counter() + ctx.seconds
    while not reps or time.perf_counter() < t_end:
        reps.append(one_rep(len(reps)))
    return reps


def _rep_dir(ctx: Ctx, i: int) -> str:
    d = os.path.join(ctx.scratch, f"rep{i}")
    shutil.rmtree(d, ignore_errors=True)
    return d


def _recorded(ctx: Ctx, key: str, value) -> bool:
    """True when ``value`` equals the value recorded for this key in this
    checkout; the first run records it."""
    import json

    os.makedirs(ctx.expected_dir, exist_ok=True)
    path = os.path.join(ctx.expected_dir, f"{key}.json")
    value = json.loads(json.dumps(value))
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh) == value
    with open(path + ".tmp", "w") as fh:
        json.dump(value, fh)
    os.replace(path + ".tmp", path)
    return True


def _watermark_s(p) -> int:
    """The pipeline's watermark delay ("5 minutes") in seconds."""
    n, unit = p.watermark.split()
    return int(n) * {"second": 1, "minute": 60, "hour": 3600}[unit.rstrip("s")]


def _features_key(df) -> str:
    """Short digest of a sorted feature frame, exact to the last bit."""
    import hashlib

    import numpy as np

    h = hashlib.blake2b(digest_size=8)
    h.update("\0".join(df["group_key"]).encode())
    h.update(df["bucket_idx"].to_numpy("int64").tobytes())
    h.update(np.array([list(f) for f in df["features"]], dtype="float64").tobytes())
    return h.hexdigest()


def _host_sample(staged):
    """The staged rows of every fourth host by name and of the host with
    the most documents."""
    hosts = sorted(set(staged["group_key"]))
    docs = staged.groupby("group_key")["features"].apply(lambda fs: sum(f[0] for f in fs))
    pick = set(hosts[::4]) | {docs.idxmax()}
    return staged[staged["group_key"].isin(pick)].reset_index(drop=True)


def _cached_frame(root: str, key: str, build):
    """``build()``'s pandas frame, kept as a pickle under ``root`` so a
    reference is computed once per checkout."""
    import pandas as pd

    path = os.path.join(root, f"{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = build()
    os.makedirs(root, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def _edges_equal(got, want) -> bool:
    """Same edge keys and window starts; importances equal to 1e-9."""
    import numpy as np

    cols = ["group_key", "win_start", "parent", "child", "lag", "win_start_ts"]
    return (len(got) == len(want) and got[cols].equals(want[cols])
            and np.allclose(got["importance"], want["importance"], rtol=1e-9, atol=0))


class Workload:
    name = ""

    def prepare(self, inputs_dir: str, seed: int) -> dict:
        raise NotImplementedError

    def run(self, ctx: Ctx, inp: dict) -> list[Rep]:
        raise NotImplementedError

    def job_layers(self, ctx: Ctx, reps: list[Rep], jobs) -> None:
        """Fill the layers that need the event log (read after the
        session stopped)."""


# ---------------------------------------------------------------------------
# streaming: run_pipeline_concurrent over a gen_pages stream
# ---------------------------------------------------------------------------

class StreamWorkload(Workload):
    def __init__(self, name: str, spec: dict, n_files: int) -> None:
        self.name, self.spec, self.n_files = name, spec, n_files

    def prepare(self, inputs_dir, seed):
        return {"main": inputs.pages_stream(inputs_dir, f"{self.name}-s{seed}", seed,
                                            self.spec, self.n_files)}

    def run(self, ctx, inp):
        from swingstream.streaming.state import run_pipeline_concurrent

        p = params()
        names = list(p.feature_names)
        main = inp["main"]
        if ctx.tracer is not None:
            self._traced_calls(ctx)
        replay: dict = {}

        def one(i):
            work = _rep_dir(ctx, i)
            t0 = time.time()
            feat, edges = run_pipeline_concurrent(ctx.spark, main["path"], work, p, names)
            wall = time.time() - t0
            rep = Rep(wall, first_manifest_time(edges, t0 + wall) - t0, False)
            if ctx.tracer is not None:
                self._rep_layers(ctx, rep, work, edges, t0)
            t = time.perf_counter()
            rep.ok, rep.note = self._check(ctx, rep, main, feat, edges, p, names, replay)
            ctx.phase("check_s", t)
            return rep

        try:
            reps = _repeat(ctx, one)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.unpatch()
        if ctx.tracer is not None:
            t0 = time.perf_counter()
            self._extract_pass(ctx.spark, main["path"])
            for r in reps:
                r.layers["extract.s"] = time.perf_counter() - t0
        return reps

    def _check(self, ctx, rep, main, feat, edges, p, names, replay) -> tuple[bool, str]:
        """Untimed output check against the batch path.

        * q1: the staged features equal the batch twin,
          ``host_bucket_features`` over the input files, on every bucket
          the watermark has passed (exact doc count, allclose on the
          float features), and no other bucket is staged;
        * q2: the edges equal q2's ``emit_windows`` replayed in this
          process over each host's staged series (once per run; wrapped
          in a traced run), with as many windows as the stream scored;
        * q2 against the batch path: on a sample of hosts (every fourth
          and the busiest) the edges equal ``swing_edges`` over the
          densified staged features, on key, importance and
          win_start_ts.  A sample, because the batch path takes about
          25 ms per window on 4 cores.

        Both batch references are computed once and cached beside the
        inputs: the features per seed, the edges per digest of the
        sampled staged features."""
        import numpy as np

        from swingstream.streaming.pipeline import FEATURE_SCHEMA

        spark = ctx.spark
        staged = feat.read(spark, FEATURE_SCHEMA).toPandas().sort_values(
            ["group_key", "bucket_idx"]).reset_index(drop=True)
        t = time.perf_counter()
        batch = _cached_frame(main["path"] + ".ref", "features",
                              lambda: self._batch_features(spark, main["path"], p))
        ctx.phase("ref_features_s", t)
        want = batch[batch["final"]].sort_values(["group_key", "bucket_idx"]).reset_index(drop=True)
        if not (staged[["group_key", "bucket_idx"]].equals(want[["group_key", "bucket_idx"]])):
            return False, (f"staged {len(staged)} buckets, the watermark passed "
                           f"{len(want)} batch buckets")
        sf, wf = (np.array([list(f) for f in d["features"]]) for d in (staged, want))
        if not (np.array_equal(sf[:, 0], wf[:, 0]) and np.allclose(sf, wf, rtol=1e-12, atol=0)):
            return False, "staged features differ from the batch twin"

        got = _canon_edges(edges.read(spark).toPandas())
        if "edges" not in replay:
            replay["edges"], replay["windows"] = self._replay(ctx, rep, staged, p, names)
        streamed = len(got[["group_key", "win_start"]].drop_duplicates())
        if streamed != replay["windows"]:
            return False, f"replayed {replay['windows']} windows, streamed {streamed}"
        if len(got) == 0 or not _edges_equal(got, replay["edges"]):
            return False, "edges differ from the replayed scoring"
        sample = _host_sample(staged)
        t = time.perf_counter()
        ref = _cached_frame(main["path"] + ".ref", f"edges-{_features_key(sample)}",
                            lambda: _canon_edges(self._batch_twin(
                                spark, feat, sorted(set(sample["group_key"])), p)))
        ctx.phase("ref_edges_s", t)
        mine = got[got["group_key"].isin(set(sample["group_key"]))].reset_index(drop=True)
        if len(ref) == 0 or not _edges_equal(mine, ref):
            return False, "edges differ from swing_edges over the staged features"
        return True, ""

    @staticmethod
    def _batch_features(spark, path, p):
        """The batch twin of q1: ``host_bucket_features`` over the input
        files, each bucket marked final when q1 must have staged it."""
        from swingstream.operators.features import host_bucket_features
        from swingstream.sources.pages import read_pages

        out = host_bucket_features(read_pages(spark, path), p, salted=True).toPandas()
        out = out[["group_key", "bucket_idx", "features"]].copy()
        out["features"] = [list(map(float, f)) for f in out["features"]]
        # q1 stages a bucket once the watermark, the latest event time
        # less the watermark delay, has passed the bucket's end
        (latest,) = read_pages(spark, path).selectExpr(
            "max(unix_timestamp(warc_ts))").first()
        out["final"] = (out["bucket_idx"] + 1) * p.delta_seconds <= latest - _watermark_s(p)
        return out

    @staticmethod
    def _batch_twin(spark, feat, hosts, p):
        from pyspark.sql import functions as F

        from swingstream.operators.features import densify_buckets
        from swingstream.pipeline import series_from_features, swing_edges
        from swingstream.streaming.pipeline import FEATURE_SCHEMA

        # untimed: one shuffle partition per core changes its cost, not
        # its rows
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(spark.sparkContext.defaultParallelism))
        try:
            feats = feat.read(spark, FEATURE_SCHEMA).where(F.col("group_key").isin(hosts))
            return swing_edges(series_from_features(densify_buckets(feats, p)),
                               p).toPandas()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    @staticmethod
    def _traced_calls(ctx) -> None:
        from swingstream.sources.catalog import IcebergLiteTable

        ctx.tracer.patch(
            IcebergLiteTable, "commit", "sources.catalog.commit",
            lambda self, batch_id, *a, **k: {
                "table": os.path.basename(self.root), "batch_id": str(batch_id)})

    def _rep_layers(self, ctx, rep, work, edges, t0) -> None:
        tr, cap = ctx.tracer, ctx.capture
        cap.drain(queries=2)
        runs = list(cap.runs.values())
        cap.runs.clear()
        # q2 reads the feature table q1 writes under the repetition's dir
        staged = os.path.join(work, "features")
        (q2,) = [r for r in runs if staged in r["progress"][0]["sources"][0]["description"]]
        (q1,) = [r for r in runs if r is not q2]
        end = time.time()
        run_span = tr.add("run", t0, t0 + rep.wall_s, workload=self.name)
        rep.layers["trace.wall_s"] = rep.wall_s
        b1 = batch_spans(tr, q1, "streaming.pipeline.batch", run_span.span_id)
        b2 = batch_spans(tr, q2, "streaming.state.batch", run_span.span_id)
        calls = [s for s in tr.named("sources.catalog.commit")
                 if s.start >= t0 and s.end <= end]
        for s in calls:
            bs = b1 if s.attrs["table"] == "features" else b2
            tr.adopt(s, [b for b in bs if str(b.attrs["batch_id"]) == s.attrs["batch_id"]])
        rep.trace = {"queries": {"q1": q1["id"], "q2": q2["id"]},
                     "batches": {"q1": b1, "q2": b2}, "calls": calls}
        s1, s2 = progress_summary(q1["progress"]), progress_summary(q2["progress"])
        L = rep.layers
        for k in ("batches", "input_rows", "add_batch_s", "planning_s", "log_commit_s"):
            L[f"streaming.pipeline.{k}"] = s1[k]
        for op, pre in (("dedupeWithinWatermark", "dedup"), ("stateStoreSave", "window_agg")):
            o = s1["ops"].get(op, {})
            for k in ("rows_updated", "update_s", "commit_s"):
                L[f"streaming.pipeline.{pre}.{k}"] = o.get(k, 0)
        L["streaming.pipeline.dedup.rows_dropped_late"] = sum(
            o["rows_dropped_late"] for o in s1["ops"].values())
        L["streaming.pipeline.store_commits"] = s1["store_commits"]
        L["streaming.state.store_commits"] = s2["store_commits"]
        L["streaming.state.batches"] = s2["batches"]
        L["streaming.state.add_batch_s"] = s2["add_batch_s"]
        L["streaming.state.idle_s"] = max(
            0.0, (q2["terminated"] - q2["started"]) - s2["trigger_s"])
        L["streaming.state.edge_rows"] = edges.total_rows()
        sc = s2["ops"].get("applyInPandasWithState", {})
        L["streaming.state.scoring.update_s"] = sc.get("update_s", 0.0)
        L["streaming.state.scoring.commit_s"] = sc.get("commit_s", 0.0)
        L["streaming.state.scoring.state_bytes"] = sc.get("state_bytes", 0)

    @staticmethod
    def _replay(ctx, rep, features, p, names):
        """q2's scoring replayed in this process: ``emit_windows`` once per
        host over its complete staged series.  In a traced run
        emit_windows, score_design and lasso_fista_multi are wrapped.
        Returns (canonical edges, windows scored)."""
        import pandas as pd

        import swingstream.operators.scoring as scoring
        import swingstream.streaming.state as state

        tr = ctx.tracer
        emit = state.emit_windows
        if tr is not None:
            kept = len(tr.patches)
            tr.patch(state, "score_design", "operators.scoring.score_design")
            tr.patch(scoring, "lasso_fista_multi", "models.lasso.fista_multi")
            emit = tr.wrap(emit, "streaming.state.emit_windows")
        t0 = time.time()
        rows = []
        try:
            for host, g in features.sort_values("bucket_idx").groupby("group_key", sort=True):
                out, _ = emit(host, [int(i) for i in g["bucket_idx"]],
                              [list(map(float, f)) for f in g["features"]],
                              None, p, names, p.delta_seconds)
                rows.extend(out)
        finally:
            if tr is not None:
                tr.unpatch(keep=kept)
        edges = _canon_edges(pd.concat([pd.DataFrame(r) for r in rows], ignore_index=True))
        if tr is not None:
            root = tr.add("replay", t0, time.time())
            emits = tr.named("streaming.state.emit_windows")
            for s in emits:
                s.parent = root.span_id
            designs = tr.named("operators.scoring.score_design")
            fistas = tr.named("models.lasso.fista_multi")
            L = rep.layers
            L["streaming.state.windows"] = len(rows)
            L["streaming.state.emit_windows_self_s"] = sum(tr.self_time(s) for s in emits)
            L["operators.scoring.score_design_calls"] = len(designs)
            L["operators.scoring.score_design_self_s"] = sum(tr.self_time(s) for s in designs)
            L["models.lasso.fista_multi_calls"] = len(fistas)
            L["models.lasso.fista_multi_s"] = sum(s.dur for s in fistas)
        return edges, len(rows)

    @staticmethod
    def _extract_pass(spark, path) -> None:
        from pyspark.sql import functions as F

        from swingstream.extract import extract_col
        from swingstream.sources.pages import read_pages

        (read_pages(spark, path).select(extract_col(F.col("html")))
         .write.format("noop").mode("overwrite").save())

    def job_layers(self, ctx, reps, jobs) -> None:
        tr = ctx.tracer
        for rep in reps:
            t = rep.trace
            for q, table, pre in (("q1", "features", "streaming.pipeline"),
                                  ("q2", "edges", "streaming.state")):
                qjobs = [j for j in jobs if j.query_id == t["queries"][q]]
                tot = job_totals(qjobs)
                rep.layers[f"{pre}.task_cpu_frac"] = tot["task_cpu_frac"]
                if q == "q1":
                    rep.layers[f"{pre}.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
                calls = [c for c in t["calls"] if c.attrs["table"] == table]
                _adopt_jobs(tr, qjobs, t["batches"][q] + calls)
                rep.layers[f"sources.catalog.{table}.commit_calls"] = len(calls)
                rep.layers[f"sources.catalog.{table}.commit_self_s"] = sum(
                    tr.self_time(c) for c in calls)


def _adopt_jobs(tr, jobs, candidates) -> None:
    """One span per Spark job, under the innermost candidate span (a
    wrapped call or a micro-batch) that contains its submission."""
    for j in jobs:
        js = tr.add("spark.job", j.start, j.end, None, job_id=j.job_id,
                    description=j.description)
        tr.adopt(js, candidates)


# ---------------------------------------------------------------------------
# ingest: run_corpus_stream_with_compaction behind DigestIndex + MinHashIndex
# ---------------------------------------------------------------------------

def expected_admission(batches, corpus) -> tuple[int, int]:
    """What the digest index must do to ``batches`` (pandas frames in
    arrival order) given the admitted ``corpus``: (rows it rejects, rows
    that collapse onto an identical text of their own batch).  A batch's
    rejected rows are its distinct texts that an earlier batch admitted."""
    admitted: set = set()
    rejected = collapsed = 0
    for b in batches:
        distinct = set(b["text"])
        collapsed += len(b) - len(distinct)
        rejected += len(distinct & admitted)
        admitted |= set(corpus.loc[corpus["doc_id"].isin(b["doc_id"]), "text"])
    return rejected, collapsed


class IngestWorkload(Workload):
    def __init__(self, name: str, n_docs: int, n_batches: int) -> None:
        self.name, self.n_docs, self.n_batches = name, n_docs, n_batches

    def prepare(self, inputs_dir, seed):
        return {"main": inputs.recrawl_batches(inputs_dir, f"{self.name}-s{seed}", seed,
                                               self.n_docs, self.n_batches)}

    @staticmethod
    def _ingest(spark, path: str, work: str):
        """bench.py's ingest topology and settings."""
        from swingstream.streaming.compaction import run_corpus_stream_with_compaction

        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).parquet(path))
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            return run_corpus_stream_with_compaction(
                spark, stream, os.path.join(work, "corpus"), os.path.join(work, "ck"),
                id_col="doc_id", every=0, final_compaction=False,
                digest_index_root=os.path.join(work, "digest_idx"), index_buckets=16,
                minhash_index_root=os.path.join(work, "minhash_idx"),
                minhash_index_params={"n_buckets": 16},
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    def run(self, ctx, inp):
        main = inp["main"]
        if ctx.tracer is not None:
            self._traced_calls(ctx.tracer)
        first: dict = {}

        def one(i):
            work = _rep_dir(ctx, i)
            t0 = time.time()
            table = self._ingest(ctx.spark, main["path"], work)
            wall = time.time() - t0
            rep = Rep(wall, first_manifest_time(table, t0 + wall) - t0, False)
            t = time.perf_counter()
            ms = table.manifests()
            out = {
                "admitted": table.total_rows(),
                "rejected_exact": sum(m["metrics"].get("rows_rejected_index", 0) for m in ms),
                "rejected_neardup": sum(
                    m["metrics"].get("rows_rejected_neardup_index", 0) for m in ms),
                "digest": list(frame_digest(table.read(ctx.spark))),
            }
            first.setdefault("out", out)
            problems = self._check(ctx, main, table, out)
            # determinism: equal across repetitions and to the outcome
            # recorded for the seed in this checkout
            if out != first["out"] or not _recorded(ctx, f"{self.name}-s{ctx.seed}", out):
                problems.append("outcome differs from the recorded one")
            rep.ok = not problems
            rep.note = f"ingest outcome {out}: " + "; ".join(problems)
            ctx.phase("check_s", t)
            if ctx.tracer is not None:
                self._rep_layers(ctx, rep, table, work, ms, out, main, t0)
            return rep

        try:
            return _repeat(ctx, one)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.unpatch()

    @staticmethod
    def _check(ctx, main, table, out) -> list[str]:
        """The admission counts against what the inputs imply.  Exact: a
        batch's digest rejections are its distinct texts that an earlier
        batch admitted; every row is admitted, rejected by one index or
        collapsed onto an identical text of its own batch; no byte-exact
        re-crawl is admitted.  Bound: every planted near re-crawl of a
        long text is rejected as a near duplicate."""
        import glob

        import pandas as pd

        corpus = table.read(ctx.spark).select("doc_id", "text").toPandas()
        batches = [pd.read_parquet(f, columns=["doc_id", "text"]) for f in
                   sorted(glob.glob(os.path.join(main["path"], "batch-*.parquet")))]
        want_exact, collapsed = expected_admission(batches, corpus)
        problems = []
        if out["rejected_exact"] != want_exact:
            problems.append(f"digest index rejected {out['rejected_exact']}, want {want_exact}")
        total = out["admitted"] + out["rejected_exact"] + out["rejected_neardup"] + collapsed
        if total != main["docs"]:
            problems.append(f"{total} rows accounted for, {main['docs']} offered")
        leaked = int(corpus["doc_id"].isin(main["exact_ids"]).sum())
        if leaked:
            problems.append(f"{leaked} byte-exact re-crawls admitted")
        if out["rejected_neardup"] < main["planted_near"]:
            problems.append(f"MinHash index rejected {out['rejected_neardup']}, "
                            f"planted {main['planted_near']} near re-crawls")
        return problems

    @staticmethod
    def _traced_calls(tr) -> None:
        from swingstream.sources.catalog import IcebergLiteTable
        from swingstream.streaming.index import DigestIndex, MinHashIndex

        tr.patch(IcebergLiteTable, "commit", "sources.catalog.commit",
                 lambda self, batch_id, *a, **k: {
                     "table": os.path.basename(self.root), "batch_id": str(batch_id)})
        for cls, key in ((DigestIndex, "digest"), (MinHashIndex, "minhash")):
            for meth in ("filter_new", "commit"):
                tr.patch(cls, meth, f"streaming.index.{key}.{meth}")

    def _rep_layers(self, ctx, rep, table, work, ms, out, main, t0) -> None:
        tr, cap = ctx.tracer, ctx.capture
        cap.drain(queries=1)
        (run,) = cap.runs.values()
        cap.runs.clear()
        end = time.time()
        run_span = tr.add("run", t0, t0 + rep.wall_s, workload=self.name)
        batches = batch_spans(tr, run, "streaming.compaction.batch", run_span.span_id)
        calls = [s for s in tr.spans if s.start >= t0 and s.end <= end and (
            s.name == "sources.catalog.commit" or s.name.startswith("streaming.index."))]
        for s in calls:
            tr.adopt(s, batches + calls)
        summ = progress_summary(run["progress"])
        data_batches = sum(1 for p in run["progress"] if p.get("numInputRows", 0) > 0)
        L = rep.layers
        L["trace.wall_s"] = rep.wall_s
        L["streaming.compaction.batches"] = data_batches
        L["streaming.compaction.sink_s"] = summ["add_batch_s"]
        L["streaming.compaction.admit_frac"] = out["admitted"] / main["docs"]
        L["streaming.compaction.rows_rejected_exact"] = out["rejected_exact"]
        L["streaming.compaction.rows_rejected_neardup"] = out["rejected_neardup"]
        for key in ("digest", "minhash"):
            for meth in ("filter_new", "commit"):
                L[f"streaming.index.{key}.{meth}_s"] = sum(
                    s.dur for s in calls if s.name == f"streaming.index.{key}.{meth}")
            L[f"streaming.index.{key}.files"] = count_files(
                os.path.join(work, f"{key}_idx"))
        L["sources.catalog.corpus.manifests"] = len(ms)
        rep.trace = {"query": run["id"], "batches": batches, "calls": calls,
                     "data_batches": data_batches}

    def job_layers(self, ctx, reps, jobs) -> None:
        tr = ctx.tracer
        for rep in reps:
            t = rep.trace
            qjobs = [j for j in jobs if j.query_id == t["query"]]
            rep.layers["streaming.compaction.jobs_per_batch"] = (
                len(qjobs) / max(1, t["data_batches"]))
            _adopt_jobs(tr, qjobs, t["batches"] + t["calls"])
            commits = [c for c in t["calls"] if c.name == "sources.catalog.commit"]
            rep.layers["sources.catalog.corpus.commit_self_s"] = sum(
                tr.self_time(c) for c in commits)


WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    StreamWorkload("stream_many_hosts",
                   dict(n_hosts=32, n_buckets=32, base_docs_per_bucket=3, hot_factor=8),
                   n_files=16),
    IngestWorkload("ingest_recrawl", n_docs=900, n_batches=2),
)}
