"""The benchmark's workloads.

Each workload has a set-up (input synthesis from the seed, then any
derived state the passes start from), a pass (the timed part: one call
per operation, closed loop, one client), output checks on the last
pass, and its per-layer numbers.  Passes only call the engine's public functions:
``plans.pipeline.run``, ``operators.correlation.*``, ``streaming.*``,
``operators.refresh.*``, ``operators.gapfill.*`` and
``__spark_entry__.queries()``.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

from fixtures import (
    SENTINEL_CONV,
    transcripts,
    write_query_fixture,
    write_stream_inputs,
    write_transcripts,
)
import checks as C


@dataclass
class Op:
    """One timed call into an engine layer."""

    name: str
    wall_s: float
    cpu_s: float
    rows_in: int = 0
    error: str | None = None
    span: dict = field(default_factory=dict)


@dataclass
class Pass:
    ops: list[Op]
    state: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(op.wall_s for op in self.ops)

    @property
    def cpu_s(self) -> float:
        return sum(op.cpu_s for op in self.ops)

    def op(self, name: str) -> Op:
        return next(o for o in self.ops if o.name == name)


def timed(tracer, ops: list[Op], name: str, layer: str, fn, rows_in=0):
    """Run ``fn()`` as one operation; a raised error is recorded as a
    failed operation and the pass goes on."""
    result = error = None
    with tracer.span(name, layer) as rec:
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 - counted, reported
            error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    ops.append(Op(name, rec["wall_s"], rec["cpu_s"], rows_in, error, rec))
    return result


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def _pd(df):
    return df.toPandas()


class Workload:
    name = ""
    checks: tuple[str, ...] = ()

    def __init__(self, spark, work: str, seed: int, scale: str):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        os.makedirs(work, exist_ok=True)

    def setup(self) -> None:
        """Synthesize the inputs from the seed, then build the derived
        state the passes start from."""
        self.inputs = os.path.join(self.work, "in")
        self.make_inputs(self.inputs)
        self.prepare()

    def prepare(self) -> None:
        """Derived state the passes start from, built once."""


# ---------------------------------------------------------------------------
# tier_build: the batch tier path through the checkpoint manifest


TIER_STAGES = ("series", "agg_1m", "agg_1h", "agg_1d", "chunks")


class TierBuild(Workload):
    name = "tier_build"
    checks = ("tier_1m", "tier_1h", "tier_1d", "chunks_roundtrip")
    # (turns, long conversations, conversations synthesized to draw from)
    sizes = {"full": (20_000, 2, 1000), "tiny": (2_500, 1, 300)}
    n_parts = 4

    def make_inputs(self, path: str) -> None:
        self.n_turns = self.sizes[self.scale][0]
        write_transcripts(self.spark, os.path.join(path, "transcripts"),
                          self.seed, *self.sizes[self.scale])

    def run_pass(self, i: int, tracer) -> Pass:
        from timeseriescorrelation_spark.plans import pipeline as P

        root = os.path.join(self.work, f"pass{i}")
        tx = self.spark.read.parquet(os.path.join(self.inputs, "transcripts"))
        ops: list[Op] = []
        for stage in TIER_STAGES:
            cfg = P.PipelineConfig(
                run_id=f"pass{i}", n_parts=self.n_parts, stages=(stage,)
            )
            timed(tracer, ops, stage, "plans.pipeline",
                  lambda: P.run(self.spark, tx, root, cfg))
        manifest = self._manifest(root)
        for op in ops:
            op.rows_in = manifest.get(op.name, {}).get("input_rows", 0)
        p = Pass(ops, {"root": root, "manifest": manifest})
        if i > 0:
            shutil.rmtree(os.path.join(self.work, f"pass{i - 1}"),
                          ignore_errors=True)
        return p

    def _manifest(self, root: str) -> dict:
        from pyspark.sql import functions as F

        path = os.path.join(root, "manifest")
        if not os.path.isdir(path):
            return {}
        m = self.spark.read.parquet(path)
        out = {
            r["stage"]: {"input_rows": int(r["i"]), "output_rows": int(r["o"])}
            for r in m.groupBy("stage").agg(
                F.sum("input_rows").alias("i"), F.sum("output_rows").alias("o")
            ).collect()
        }
        parts = [r["output_rows"] for r in
                 m.where(F.col("stage") == "series").collect()]
        if parts and "series" in out:
            out["series"]["part_skew"] = _ratio(
                max(parts), statistics.median(parts))
        return out

    def check(self, p: Pass, con) -> dict[str, list[str]]:
        from timeseriescorrelation_spark.operators.chunks import decode_chunks

        root = p.state["root"]
        con.execute("CREATE OR REPLACE VIEW series AS "
                    + C.parquet_sql(os.path.join(root, "series")))
        out = {}
        for tier in ("1m", "1h", "1d"):
            got = con.sql(C.parquet_sql(os.path.join(root, f"agg_{tier}"),
                                        "bucket_ts"))
            out[f"tier_{tier}"] = C.compare_tier(
                got.df(), con.sql(C.tier_sql(tier)).df())
        chunks = self.spark.read.parquet(os.path.join(root, "chunks"))
        out["chunks_roundtrip"] = C.compare_points(
            _pd(decode_chunks(chunks)), con.sql("SELECT * FROM series").df())
        return out

    def workload_metrics(self, passes: list[Pass]) -> dict:
        def per_s(stage, rows):
            return statistics.median(
                _ratio(rows(p), p.op(stage).wall_s) for p in passes)

        def rows_in(stage):
            return lambda p: p.state["manifest"].get(stage, {}).get(
                "input_rows", 0)

        return {
            "turns_per_s": (per_s("series", lambda p: self.n_turns), "1/s"),
            "tier_1m_points_per_s": (per_s("agg_1m", rows_in("agg_1m")), "1/s"),
            "tier_1h_points_per_s": (per_s("agg_1h", rows_in("agg_1h")), "1/s"),
            "tier_1d_points_per_s": (per_s("agg_1d", rows_in("agg_1d")), "1/s"),
            "chunk_points_per_s": (per_s("chunks", rows_in("chunks")), "1/s"),
        }

    def manifest_overhead(self, p: Pass) -> float:
        """Σ over stages of (run() wall − a noop write of the same stage
        function over the same input): what the manifest's bookkeeping
        adds to each stage."""
        from timeseriescorrelation_spark.operators.chunks import encode_chunks
        from timeseriescorrelation_spark.operators.rollup import (
            rollup_raw,
            rollup_tier,
        )
        from timeseriescorrelation_spark.operators.series import derive_series

        root = p.state["root"]
        read = lambda name: self.spark.read.parquet(  # noqa: E731
            os.path.join(root, name)).drop("part_key")
        fns = {
            "series": lambda: derive_series(self.spark.read.parquet(
                os.path.join(self.inputs, "transcripts"))),
            "agg_1m": lambda: rollup_raw(read("series"), "1m"),
            "agg_1h": lambda: rollup_tier(read("agg_1m"), "1h"),
            "agg_1d": lambda: rollup_tier(read("agg_1h"), "1d"),
            "chunks": lambda: encode_chunks(read("series"), "day"),
        }
        total = 0.0
        for stage, fn in fns.items():
            t0 = time.perf_counter()
            fn().write.format("noop").mode("overwrite").save()
            total += p.op(stage).wall_s - (time.perf_counter() - t0)
        return total

    def layer_metrics(self, passes: list[Pass]) -> dict:
        from pyspark.sql import functions as F

        p = passes[-1]
        man = p.state["manifest"]
        out = {}
        s = p.op("series")
        out["series.wall_s"] = s.wall_s
        out["series.rows_out"] = man.get("series", {}).get("output_rows", 0)
        out["series.shuffle_bytes"] = s.span.get("shuffle_write_bytes", 0.0)
        for tier in ("1m", "1h", "1d"):
            op = p.op(f"agg_{tier}")
            out[f"rollup.{tier}.wall_s"] = op.wall_s
            out[f"rollup.{tier}.rows_in"] = man.get(f"agg_{tier}", {}).get(
                "input_rows", 0)
            out[f"rollup.{tier}.rows_out"] = man.get(f"agg_{tier}", {}).get(
                "output_rows", 0)
            out[f"rollup.{tier}.shuffle_bytes"] = op.span.get(
                "shuffle_write_bytes", 0.0)
            out[f"rollup.{tier}.agg_build_s"] = op.span.get("agg_build_s", 0.0)
        c = p.op("chunks")
        out["chunks.wall_s"] = c.wall_s
        out["chunks.python_s"] = c.span.get("python_worker_s", 0.0)
        out["chunks.arrow_bytes"] = (c.span.get("python_bytes_sent", 0.0)
                                     + c.span.get("python_bytes_returned", 0.0))
        agg = self.spark.read.parquet(os.path.join(p.state["root"], "chunks")
                                      ).agg(F.sum("enc_bytes"), F.sum("n")).first()
        out["chunks.bytes_per_point"] = _ratio(agg[0] or 0, agg[1] or 0)
        out["manifest.overhead_s"] = self.manifest_overhead(p)
        out["manifest.part_skew"] = man.get("series", {}).get("part_skew", 0.0)
        return out


# ---------------------------------------------------------------------------
# stream_query: incremental write path, gap-fill + correlation, queries


QUERY_KEYS = ("tpch_q1", "spearman_pruned")
CORR_METRIC = "token_len"
CORR_STEPS = 64
CORR_THETA = 0.9
TTL_DAYS = 7


def load_entry(root: str):
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(root, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@contextmanager
def stream_stage_spans(tracer, record: list):
    """Wrap the streaming pipeline's four stage calls (two
    ``run_available_now`` drains, then the 1h and 1d cascade folds) so
    each one is its own span."""
    import timeseriescorrelation_spark.streaming.cascade_stream as cs
    import timeseriescorrelation_spark.streaming.pipeline as sp

    names = iter(["stream.dedup", "stream.rollup_1m"])
    originals = (sp.run_available_now, cs.stream_cascade_1h,
                 cs.stream_cascade_1d)

    def wrap(fn, name=None):
        def inner(*a, **kw):
            with tracer.span(name or next(names), "streaming") as rec:
                fn(*a, **kw)
            record.append(rec)
        return inner

    sp.run_available_now = wrap(originals[0])
    cs.stream_cascade_1h = wrap(originals[1], "stream.cascade_1h")
    cs.stream_cascade_1d = wrap(originals[2], "stream.cascade_1d")
    try:
        yield
    finally:
        sp.run_available_now, cs.stream_cascade_1h, cs.stream_cascade_1d = (
            originals)


class StateRows:
    """Streaming listener: state-store rows at each query's last
    progress report."""

    def __init__(self, spark):
        from pyspark.sql.streaming.listener import StreamingQueryListener

        rows = self.rows = {}

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rows[str(p.id)] = sum(
                    s.numRowsTotal for s in p.stateOperators)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()
        spark.streams.addListener(self.listener)

    def total(self) -> int:
        return int(sum(self.rows.values()))


class StreamQuery(Workload):
    name = "stream_query"
    checks = ("stream_1h", "stream_1d", "refresh_1h", "retention",
              "corr_vs_naive") + tuple(
        f"query_{k}" for k in QUERY_KEYS)
    sizes = {"full": (8_000, 1, 400), "tiny": (2_500, 1, 300)}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.entry = load_entry(os.getcwd())
        self.queries = self.entry.queries()
        self.state_rows = None

    def make_inputs(self, path: str) -> None:
        from timeseriescorrelation_spark.operators.series import derive_series

        tx = transcripts(self.spark, self.seed, *self.sizes[self.scale])
        self.stream = write_stream_inputs(
            self.spark, derive_series(tx), path, self.seed, CORR_METRIC)
        self.fixture_rows = write_query_fixture(
            os.path.join(path, "fixture"), self.seed)

    def prepare(self) -> None:
        """The closed 1h tier the late slice is folded into: the drained
        points, deduplicated, as ``refresh.write_tier`` writes them."""
        from timeseriescorrelation_spark.operators import refresh

        kept = self.spark.read.parquet(os.path.join(
            self.inputs, "points", "kind=drop")).where(
            f"conv_id <> '{SENTINEL_CONV}'").dropDuplicates()
        refresh.write_tier(kept, os.path.join(self.inputs, "tier_1h"))

    def run_pass(self, i: int, tracer) -> Pass:
        from timeseriescorrelation_spark.operators import correlation as corr
        from timeseriescorrelation_spark.operators import refresh
        from timeseriescorrelation_spark.operators.gapfill import fill_locf
        from timeseriescorrelation_spark.plans.pipeline import align_relative
        from timeseriescorrelation_spark.streaming.pipeline import (
            run_full_pipeline_once,
        )

        spark = self.spark
        if i > 0:
            # drop the previous pass's caches first: the same plans would
            # otherwise be served from them
            self._release(self.last)
        inp = lambda name: os.path.join(self.inputs, name)  # noqa: E731
        work = os.path.join(self.work, f"stream{i}")
        tier_1h = os.path.join(work, "tier_1h")
        shutil.copytree(inp("tier_1h"), tier_1h)
        ops: list[Op] = []
        st: dict = {"work": work}

        stages: list = []
        if tracer.traced and self.state_rows is None:
            self.state_rows = StateRows(spark)
        with (stream_stage_spans(tracer, stages) if tracer.traced
              else nullcontext()):
            timed(
                tracer, ops, "drain", "streaming",
                lambda: run_full_pipeline_once(spark, inp("points/kind=drop"),
                                               work),
                self.stream["drop_rows"])
        st["stream_stages"] = stages
        st["days"] = timed(
            tracer, ops, "refresh", "operators.refresh",
            lambda: refresh.refresh_tier(
                spark, tier_1h, spark.read.parquet(inp("points/kind=late")),
                "1h"),
            self.stream["late_rows"])
        st["sweep"] = timed(
            tracer, ops, "retention", "operators.refresh",
            lambda: refresh.retention_sweep(
                spark, {"1h": tier_1h}, {"1h": TTL_DAYS},
                self.stream["last_day"]))

        series = spark.read.parquet(inp("points/kind=fill"))
        cached = []

        def materialize(df):
            df = df.cache()
            cached.append(df)
            return df, df.count()

        filled, st["grid_rows"] = timed(
            tracer, ops, "fill", "operators.gapfill",
            lambda: materialize(fill_locf(series, "1m")),
            self.stream["fill_rows"]) or (None, 0)
        aligned, st["aligned_rows"] = timed(
            tracer, ops, "align", "operators.correlation",
            lambda: materialize(align_relative(
                filled, CORR_METRIC, CORR_STEPS, 60))) or (None, 0)
        vectors, st["n_series"] = timed(
            tracer, ops, "sketch", "operators.correlation",
            lambda: materialize(corr.dft_sketch(corr.build_vectors(aligned)))
        ) or (None, 0)
        cand, st["checked"] = timed(
            tracer, ops, "candidates", "operators.correlation",
            lambda: materialize(corr.candidate_pairs(vectors, CORR_THETA))
        ) or (None, 0)
        st["report"] = timed(
            tracer, ops, "exact", "operators.correlation",
            lambda: _pd(corr.exact_corr(cand, vectors, CORR_THETA)))
        st["aligned"] = aligned
        st["cached"] = cached

        st["results"] = {}
        for key in QUERY_KEYS:
            st["results"][key] = timed(
                tracer, ops, f"query.{key}", "__spark_entry__",
                lambda: _pd(self.queries[key](spark, inp("fixture"))),
                sum(self.fixture_rows.values()))
        self.last = Pass(ops, st)
        return self.last

    @staticmethod
    def _release(p: Pass) -> None:
        for df in p.state.get("cached", []):
            df.unpersist()
        shutil.rmtree(p.state["work"], ignore_errors=True)

    def check(self, p: Pass, con) -> dict[str, list[str]]:
        from timeseriescorrelation_spark.operators.correlation import corr_naive

        st = p.state
        inp = lambda name: os.path.join(self.inputs, name)  # noqa: E731
        out = {}
        con.execute(f"""
            CREATE OR REPLACE VIEW kept AS SELECT DISTINCT * FROM (
                {C.parquet_sql(inp("points/kind=drop"))})
            WHERE conv_id <> '{SENTINEL_CONV}'""")
        con.execute(f"""
            CREATE OR REPLACE VIEW everything AS SELECT * FROM kept
            UNION ALL {C.parquet_sql(inp("points/kind=late"))}""")

        def tier(name):
            return con.sql(C.parquet_sql(os.path.join(st["work"], name),
                                         "bucket_ts")).df()

        # the streamed tiers hold the drained points, deduplicated; the
        # refreshed tier holds them plus the late slice, from the cut on
        for t in ("1h", "1d"):
            out[f"stream_{t}"] = C.compare_tier(
                tier(f"gold_{t}"), con.sql(C.tier_sql(t, "kept")).df())
        cut = _cut_day(self.stream["last_day"])
        want_1h = con.sql(
            f"SELECT * FROM ({C.tier_sql('1h', 'everything')}) "
            f"WHERE bucket_ts >= TIMESTAMP '{cut}'").df()
        out["refresh_1h"] = C.compare_tier(tier("tier_1h"), want_1h)
        want_dropped = sorted(r[0] for r in con.sql(
            "SELECT DISTINCT strftime(ts, '%Y-%m-%d') FROM everything "
            f"WHERE ts < TIMESTAMP '{cut}'").fetchall())
        got_dropped = sorted(st["sweep"][0]["dropped"]) if st["sweep"] else []
        out["retention"] = ([] if got_dropped == want_dropped else
                            [f"dropped {got_dropped} != {want_dropped}"])
        if st["aligned"] is None or st["report"] is None:
            out["corr_vs_naive"] = ["no report"]
        else:
            naive = _pd(corr_naive(st["aligned"], CORR_THETA))
            out["corr_vs_naive"] = C.compare_pairs(st["report"], naive)

        oracles = self.entry.oracle_sql()
        for t in self.fixture_rows:
            path = os.path.join(inp("fixture"), f"{t}.parquet")
            con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        for key in QUERY_KEYS:
            got = st["results"].get(key)
            out[f"query_{key}"] = (
                ["query failed"] if got is None
                else C.compare_oracle(got, con.sql(oracles[key]).df()))
        return out

    def workload_metrics(self, passes: list[Pass]) -> dict:
        med = lambda f: statistics.median(f(p) for p in passes)  # noqa: E731
        corr_ops = ("align", "sketch", "candidates", "exact")
        drains = [p.op("drain").wall_s for p in passes]
        return {
            "fill_points_per_s": (med(lambda p: _ratio(
                p.state["grid_rows"], p.op("fill").wall_s)), "1/s"),
            "corr_s": (med(lambda p: sum(p.op(o).wall_s for o in corr_ops)),
                       "s"),
            "drain_p50_s": (statistics.median(drains), "s"),
            "drain_max_s": (max(drains), "s"),
            "drains": (len(drains), "count"),
            "stream_points_per_s": (med(lambda p: _ratio(
                self.stream["drop_rows"], p.op("drain").wall_s)), "1/s"),
            "refresh_s": (med(lambda p: p.op("refresh").wall_s), "s"),
            "queries_total_s": (med(lambda p: sum(
                p.op(f"query.{k}").wall_s for k in QUERY_KEYS)), "s"),
        }

    def layer_metrics(self, passes: list[Pass]) -> dict:
        p = passes[-1]
        st = p.state
        out = {}
        fill = p.op("fill")
        out["gapfill.wall_s"] = fill.wall_s
        out["gapfill.grid_rows"] = st["grid_rows"]
        out["gapfill.expansion"] = _ratio(st["grid_rows"], fill.rows_in)
        out["gapfill.spill_bytes"] = fill.span.get("spill_bytes", 0.0)
        for name, key in (("align", "align_s"), ("sketch", "sketch_s"),
                          ("candidates", "candidates_s"),
                          ("exact", "exact_s")):
            out[f"correlation.{key}"] = p.op(name).wall_s
        n = st["n_series"]
        reported = len(st["report"]) if st["report"] is not None else 0
        out["correlation.n_series"] = n
        out["correlation.checked"] = st["checked"]
        out["correlation.reported"] = reported
        out["correlation.prune_ratio"] = _ratio(st["checked"], n * (n - 1) / 2)
        out["correlation.precision"] = _ratio(reported, st["checked"])
        stages = {rec["name"]: rec["wall_s"] for rec in st["stream_stages"]}
        for k in ("dedup", "rollup_1m", "cascade_1h", "cascade_1d"):
            out[f"stream.{k}_s"] = stages.get(f"stream.{k}", 0.0)
        out["stream.input_rows"] = self.stream["drop_rows"]
        out["stream.state_rows"] = (self.state_rows.total()
                                    if self.state_rows else 0)
        out["refresh.wall_s"] = p.op("refresh").wall_s
        out["refresh.days_rewritten"] = len(st["days"] or [])
        out["retention.wall_s"] = p.op("retention").wall_s
        out["retention.partitions_dropped"] = (
            len(st["sweep"][0]["dropped"]) if st["sweep"] else 0)
        for key in QUERY_KEYS:
            out[f"query.{key}.wall_s"] = p.op(f"query.{key}").wall_s
        return out


def _cut_day(last_day: str) -> str:
    import datetime as dt

    return (dt.date.fromisoformat(last_day)
            - dt.timedelta(days=TTL_DAYS)).isoformat()


WORKLOADS = {w.name: w for w in (TierBuild, StreamQuery)}
