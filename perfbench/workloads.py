"""The benchmark's workloads: set-up, the timed operation, its check, and
the traced pass. Everything reaches the package through its public stage
functions; nothing here changes how the package runs. The one exception is
the encode-kernel probe: it builds its sample with the frame builder the
shipped encoder and ``scripts/profile_arms.py`` share, so the probe times
the frame the pipeline encodes.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from unittest import mock

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from compress_otel_collector_spark.codec.batch import encode_span_dataframe
from compress_otel_collector_spark.codec.definition import trace_model
from compress_otel_collector_spark.plans.pipeline import (
    _group_spans_frame,
    aggregate_stage,
    encode_pages,
    enrich_stage,
    expected_roundtrip,
    parse_stage,
    read_routed,
    roundtrip_check,
    roundtrip_counts,
    run_pipeline,
    span_stage,
)
from compress_otel_collector_spark.plans.projector import project_blob
from compress_otel_collector_spark.sources.tables import (
    load_table,
    synthetic_pages,
)
from pyspark.sql import functions as F

from . import engine, host
from .run import QUERIES
from .spans import Trace

HERE = os.path.dirname(os.path.abspath(__file__))

#: distinct doc_id windows a seed can pick; window w covers doc_ids
#: [w * pages, (w + 1) * pages) of the package's synthetic pages generator
SEED_WINDOWS = 16

#: single-thread kernel probes: spans per sample and seconds per kernel
KERNEL_SAMPLE_SPANS = 2000
KERNEL_PROBE_S = 0.4

#: the fixed seed-42 sf0.1 tables the driver queries read, kept beside the
#: benchmark with their checksums (the tables the queries below touch)
SF_DIR = os.path.join(HERE, "data", "sf0.1")

#: how the pipeline encodes: every n-th page carries an event or a link
_ENCODE_DEFAULTS = inspect.signature(encode_pages).parameters


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str          # "roundtrip" or "queries": the runner below
    #: synthetic pages per run (0: the workload reads fixed tables)
    pages: int
    #: untimed passes before the timed runs; the first pays codegen and
    #: Python worker imports, the JIT keeps shortening the next one
    warmups: int


WORKLOADS = {w.name: w for w in (
    # the exporter/receiver pair on pages whose every url and id is
    # unique: large pools, so the Python encode (pools, varints, zstd) and
    # the decode do most of the work, and neither runs as one lone task
    Workload("roundtrip_unique", "roundtrip", 60_000, warmups=2),
    # the eight operator queries over the fixed sf0.1 tables: planning and
    # the operators module, no codec
    Workload("driver_queries", "queries", 0, warmups=2),
)}


def doc_id_window(seed: int, pages: int) -> tuple[int, int]:
    lo = (seed % SEED_WINDOWS) * pages
    return lo, lo + pages


# --------------------------------------------------------------- session

def prepare_env(workdir: str, root: str) -> None:
    """Keep every file the JVM and its Python workers write in ``workdir``
    and let the workers import the package from ``root``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")


def heap_bytes() -> int:
    """The driver's heap: a quarter of host memory, 1 to 8 GiB."""
    return max(1, min(8, host.host_mem_bytes() // 4 // 2**30)) * 2**30


def session_conf(workdir: str) -> dict[str, str]:
    """One local driver sized to this host: every core it may run on, and
    ``heap_bytes()`` of heap."""
    cores = len(os.sched_getaffinity(0))
    heap_mb = heap_bytes() // 2**20
    tmp = os.path.join(workdir, "tmp")
    # the heap is committed and touched at its full size when the JVM
    # starts, so it is a constant in the tree's RSS: RSS less the heap is
    # the memory outside it (JVM native memory, the driver and the Python
    # workers), free of when the collector chooses to grow the heap. The
    # heap's own use is read from the engine (no hsperfdata file: the JVM
    # would write it to /tmp). The JIT compiler threads live as long as
    # the JVM, so their CPU can be read per thread and kept out of cpu_s
    java_opts = (f"-Xms{heap_mb}m -XX:+AlwaysPreTouch -XX:-UsePerfData "
                 "-XX:-UseDynamicNumberOfCompilerThreads "
                 f"-Djava.io.tmpdir={tmp}")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.sql.shuffle.partitions": str(cores * 4),
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.adaptive.enabled": "true",
        # bench.make_spark's batch size: blob boundaries follow Arrow
        # batches, so wire bytes compare with the published numbers
        "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    }


def start_session(workdir: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_conf(workdir).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ----------------------------------------------------------------- inputs

def materialize_pages(spark, path: str, w: Workload, seed: int) -> None:
    """Write the seed's window of synthetic pages to parquet.

    The generator's range is split so that the window covers exactly
    ``defaultParallelism`` of its slices; the filter on ``doc_id`` (the
    range id) runs before any page column is computed, the other slices
    come out empty and write nothing, and each file holds one contiguous
    doc_id slice, the layout the generator writes for a window at 0.
    """
    lo, hi = doc_id_window(seed, w.pages)
    slices = spark.sparkContext.defaultParallelism * (hi // w.pages)
    (synthetic_pages(spark, hi, partitions=slices)
     .where(f"doc_id >= {lo}")
     .write.parquet(path))


def expected_routes(spark, pages_path: str) -> dict[tuple, int]:
    """Source page counts per (lang, host_bucket) route."""
    pages = spark.read.parquet(pages_path)
    rows = (enrich_stage(parse_stage(pages), spark)
            .groupBy("lang", "host_bucket").count().collect())
    return {(r["lang"], r["host_bucket"]): r["count"] for r in rows}


def read_sink(sink: str) -> pa.Table:
    """The routed sink as written, read without Spark."""
    ds = pads.dataset(os.path.join(sink, "routed"), format="parquet",
                      partitioning="hive")
    return ds.to_table(columns=["lang", "host_bucket", "n_spans",
                                "raw_bytes", "zstd_bytes", "blob"])


def sink_counts(table: pa.Table) -> dict:
    """Per-route span counts and byte totals recomputed from the rows."""
    routes: dict[tuple, int] = {}
    langs = table.column("lang").to_pylist()
    buckets = table.column("host_bucket").to_pylist()
    for lang, bucket, n in zip(langs, buckets,
                               table.column("n_spans").to_pylist()):
        lang = None if lang == "__HIVE_DEFAULT_PARTITION__" else lang
        key = (lang, None if bucket is None else int(bucket))
        routes[key] = routes.get(key, 0) + n
    blob_bytes = sum(len(b) for b in table.column("blob").to_pylist())
    return {
        "routes": routes,
        "blobs": table.num_rows,
        "wire_bytes": blob_bytes,
        "zstd_bytes_field": sum(table.column("zstd_bytes").to_pylist()),
        "raw_bytes": sum(table.column("raw_bytes").to_pylist()),
    }


def verify_tables(sf_dir: str = SF_DIR) -> None:
    """Refuse tables whose bytes differ from the recorded checksums."""
    with open(os.path.join(sf_dir, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(sf_dir, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    raise RuntimeError(f"{name} differs from its checksum")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """A query result in comparable form: columns by name, rows sorted,
    numbers widened (the driver-contract tests' comparison)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    return df.sort_values(list(df.columns), ignore_index=True)


def oracle_frames(workdir: str, sf_dir: str = SF_DIR) -> dict:
    """Each query's DuckDB twin from ``__spark_entry__.oracle_sql()``, run
    once over views of the tables, normalized.

    The token_count twin joins a side table of per-text BPE counts. It is
    written here, into ``workdir``, from this directory's documents only.
    """
    import duckdb

    import __spark_entry__ as entrymod
    from compress_otel_collector_spark.operators.bpe import bpe_count

    side = os.path.join(workdir, "bpe_side.parquet")
    texts = {""} | {t or "" for t in pq.read_table(
        os.path.join(sf_dir, "documents.parquet"),
        columns=["text"]).column("text").to_pylist()}
    rows = sorted((hashlib.md5(t.encode("utf-8")).hexdigest(), bpe_count(t))
                  for t in texts)
    pq.write_table(pa.table({
        "text_md5": [r[0] for r in rows],
        "bpe_tokens": pa.array([r[1] for r in rows], pa.int64())}), side)
    # the twins read the side table at this path; keep oracle_sql() from
    # writing its own outside the checkout
    with mock.patch.object(entrymod, "_BPE_SIDE_PATH", side), \
            mock.patch.object(entrymod, "_write_bpe_side_table"):
        sql = entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * "
                        f"FROM '{os.path.join(sf_dir, f)}'")
        return {q: normalize(con.sql(sql[q]).df()) for q in QUERIES}
    finally:
        con.close()


# ---------------------------------------------------------------- runners

class Runner:
    """One workload in one driver process: set-ups, warm-up, the timed
    operation and its check, the traced pass and the per-layer probes."""

    def __init__(self, w: Workload, seed: int, workdir: str):
        self.w = w
        self.seed = seed
        self.workdir = workdir
        self.spark = None
        self.session_walls: list[float] = []
        self._dirs = 0

    def _fresh(self, kind: str) -> str:
        self._dirs += 1
        return os.path.join(self.workdir, f"{kind}{self._dirs}")

    # ---- what each workload defines

    def prepare_set_up(self) -> None:
        """The set-up's input work, after the session has (re)started."""

    def op(self):
        """One timed run of the operation; returns what ``check`` reads."""
        raise NotImplementedError

    def check(self, out, wire_ref: int | None) -> tuple[list[str], object]:
        """Problems found in one run's outputs, and the run's wire bytes
        (None where the workload writes no wire)."""
        raise NotImplementedError

    def traced_calls(self, tr: Trace, root: int) -> tuple[object, list[int]]:
        """The operation with a span around each call into the package;
        returns its output and the spans of the calls."""
        raise NotImplementedError

    def plan_probes(self) -> dict[str, object]:
        """Per call span name: a callable that repeats the call's own
        driver-side work (DataFrame build plus physical planning) and
        returns the seconds it took."""
        raise NotImplementedError

    def layer_metrics(self, tp: dict) -> dict[str, float]:
        """The workload's own per-layer metrics from a traced pass."""
        return {}

    def discard_output(self) -> None:
        """Drop the previous run's output once it has been checked."""

    # ---- shared

    def setup_once(self) -> float:
        """Start (or restart) the session and prepare the input; returns
        the seconds it took."""
        t0 = time.monotonic()
        if self.spark is not None:
            self.spark.stop()
        self.spark = start_session(self.workdir)
        self.session_walls.append(time.monotonic() - t0)
        self.prepare_set_up()
        return time.monotonic() - t0

    def warm_up(self) -> dict[str, float]:
        """Run the workload's untimed warm-up passes. Returns the seconds
        each step took."""
        t0 = time.monotonic()
        for _ in range(self.w.warmups):
            self.op()
            self.discard_output()
        return {"setup.warmup_s": time.monotonic() - t0}

    def close(self) -> None:
        """Stop the session, the JVM and the Python workers it forked, and
        wait until each process has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # set once the JVM is launched
        if gateway is None:
            return
        kids = [p for p in host.tree_pids() if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in kids:
            while _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)

    def traced_pass(self) -> dict:
        """The operation once more, traced: a root span, a span around each
        call into the package, and the Spark stages of each call attached
        beneath it.

        Returns the trace, the operation's output, by call span name the
        SQL metrics of the plans the call ran and the SQL-execution
        intervals the engine stamped for it, the stages of the whole pass,
        and the seconds of stage concurrency attributed first come.
        """
        tr = Trace()
        with tr.span(self.w.kind) as root:
            out, calls = self.traced_calls(tr, root)
        # an engine stamp belongs to the call it was submitted in; stamps
        # are whole ms, so a call's window opens a little early
        opens = [tr.spans[c].start - engine.STAMP_SLACK_S for c in calls]
        windows = zip(opens, opens[1:] + [tr.spans[root].end])
        overlap, sql, executions = 0.0, {}, {}
        for c, (t0, t1) in zip(calls, windows):
            name = tr.spans[c].name
            stages = engine.stages_between(self.spark, t0, t1)
            overlap += tr.attach(c, engine.stage_intervals(stages, name))
            sql[name] = engine.sql_metrics_between(self.spark, t0, t1)
            executions[name] = engine.sql_executions_between(
                self.spark, t0, t1)
        root_sp = tr.spans[root]
        stages = engine.stages_between(
            self.spark, root_sp.start - engine.STAMP_SLACK_S, root_sp.end)
        return {
            "trace": tr,
            "out": out,
            "sql": sql,
            "executions": executions,
            "stages": stages,
            "overlap_s": overlap,
        }

    def plan_times(self, reps: int = 3) -> dict[str, float]:
        """Per call span name, the median seconds of its driver-side work,
        measured apart from the traced pass."""
        return {name: statistics.median(fn() for _ in range(reps))
                for name, fn in self.plan_probes().items()}


class RoundtripRunner(Runner):
    """The exporter/receiver pair over the seed's window of synthetic
    pages: ``run_pipeline`` into a fresh sink and collect its aggregate,
    then decode every blob of that sink and count it against the spans the
    pages should produce."""

    def __init__(self, *args):
        super().__init__(*args)
        self.pages_path = ""
        self.sink = ""
        self.routes: dict = {}

    def pages_frame(self):
        return self.spark.read.parquet(self.pages_path)

    def enriched(self):
        return enrich_stage(parse_stage(self.pages_frame()), self.spark)

    def receive_frame(self):
        expected = expected_roundtrip(span_stage(self.enriched()))
        return roundtrip_counts(
            roundtrip_check(read_routed(self.spark, self.sink)), expected)

    def prepare_set_up(self) -> None:
        """Materialize the seed's pages into a fresh directory."""
        old = self.pages_path
        self.pages_path = self._fresh("pages")
        materialize_pages(self.spark, self.pages_path, self.w, self.seed)
        if old:
            shutil.rmtree(old, ignore_errors=True)

    def warm_up(self) -> dict[str, float]:
        """Then count the source pages per route, for the checks."""
        walls = super().warm_up()
        self.routes = expected_routes(self.spark, self.pages_path)
        return walls

    def export(self):
        self.sink = self._fresh("sink")
        return run_pipeline(self.spark, self.pages_frame(), self.sink,
                            arms=False).collect()

    def receive(self):
        return self.receive_frame().collect()[0]

    def op(self):
        return self.export(), self.receive()

    def discard_output(self) -> None:
        if self.sink:
            shutil.rmtree(self.sink, ignore_errors=True)

    def traced_calls(self, tr, root):
        self.sink = self._fresh("sink")
        with tr.span("plans.pipeline", root) as write:
            agg = run_pipeline(self.spark, self.pages_frame(), self.sink,
                               arms=False)
        with tr.span("plans.aggregate", root) as collect:
            rows = agg.collect()
        with tr.span("plans.verify", root) as verify:
            counts = self.receive()
        return (rows, counts), [write, collect, verify]

    def plan_probes(self):
        def pipeline():
            # the plan run_pipeline writes, then the aggregate it returns
            # over the sink (listing the routes and reading a footer)
            _plan(encode_pages(self.enriched(), arms=False))
            aggregate_stage(read_routed(self.spark, self.sink))

        def aggregate():
            # the collect plans the frame run_pipeline already built
            df = aggregate_stage(read_routed(self.spark, self.sink))
            return _timed(lambda: _plan(df))

        return {
            "plans.pipeline": lambda: _timed(pipeline),
            "plans.aggregate": aggregate,
            "plans.verify": lambda: _timed(lambda: _plan(
                self.receive_frame())),
        }

    def check(self, out, wire_ref):
        rows, counts_row = out
        problems = []
        pages = self.w.pages
        got = {(r["lang"], r["host_bucket"]): r["pages"] for r in rows}
        if sum(got.values()) != pages:
            problems.append(f"aggregate pages {sum(got.values())} != {pages}")
        if got != self.routes:
            problems.append("aggregate per-route pages differ from the source")
        counts = sink_counts(read_sink(self.sink))
        if counts["routes"] != self.routes:
            problems.append("sink per-route span counts differ from the "
                            "source")
        wire = counts["wire_bytes"]
        agg_zstd = sum(r["zstd_bytes"] for r in rows)
        if not wire == counts["zstd_bytes_field"] == agg_zstd:
            problems.append(f"blob bytes {wire} != zstd_bytes "
                            f"{counts['zstd_bytes_field']} / aggregate "
                            f"{agg_zstd}")
        if wire_ref is not None and wire != wire_ref:
            problems.append(f"wire bytes {wire} differ from the first run's "
                            f"{wire_ref} on the same input")
        if counts_row["decoded_spans"] != pages:
            problems.append(f"decoded {counts_row['decoded_spans']} of "
                            f"{pages} spans")
        if counts_row["missing"] or counts_row["extra"]:
            problems.append(f"missing={counts_row['missing']} "
                            f"extra={counts_row['extra']}")
        return problems, wire

    def layer_metrics(self, tp: dict) -> dict[str, float]:
        counts = sink_counts(read_sink(self.sink))
        pages = self.w.pages
        tr = tp["trace"]
        return {
            **{f"{c}.s": _span_walls(tr, c)
               for c in ("plans.pipeline", "plans.aggregate", "plans.verify")},
            "plans.parse_enrich.s": self.parse_enrich_s(),
            "codec.wire_bytes_per_page": counts["wire_bytes"] / pages,
            "codec.raw_bytes_per_page": counts["raw_bytes"] / pages,
            "codec.blobs": counts["blobs"],
            "codec.zstd_ratio": counts["raw_bytes"] / counts["wire_bytes"],
            **self.kernel_rates(),
        }

    def parse_enrich_s(self, reps: int = 3) -> float:
        """Noop-sink wall of scan → parse → enrich, median of ``reps``."""
        return _median_wall(
            lambda: self.enriched().write.format("noop")
            .mode("overwrite").save(), reps)

    def kernel_rates(self) -> dict[str, float]:
        """Single-thread driver timings of the codec kernels on a fixed
        sample of this workload's own blobs (routes in key order, whole
        blobs until ``KERNEL_SAMPLE_SPANS`` spans) and span rows."""
        zstd = pa.Codec("zstd")
        table = read_sink(self.sink).sort_by(
            [("lang", "ascending"), ("host_bucket", "ascending"),
             ("raw_bytes", "ascending")])
        raws, spans = [], 0
        for blob, raw_len, n in zip(table.column("blob").to_pylist(),
                                    table.column("raw_bytes").to_pylist(),
                                    table.column("n_spans").to_pylist()):
            raws.append(zstd.decompress(blob, decompressed_size=raw_len,
                                        asbytes=True))
            spans += n
            if spans >= KERNEL_SAMPLE_SPANS:
                break
        model = trace_model()
        raw_bytes = sum(len(r) for r in raws)
        frame, attrs_spec, resource = self._encode_sample()

        def rate(work, fn):
            return work / _median_wall(fn, budget=KERNEL_PROBE_S)

        return {
            "codec.encode_spans_per_s": rate(len(frame), lambda: (
                encode_span_dataframe(frame, attributes_spec=attrs_spec,
                                      resource_attrs_for=resource))),
            "codec.zstd_mb_per_s": rate(raw_bytes / 1e6, lambda: [
                zstd.compress(r, asbytes=True) for r in raws]),
            "projector.spans_per_s": rate(spans, lambda: [
                project_blob(r, model) for r in raws]),
        }

    def _encode_sample(self):
        """The first route's first ``KERNEL_SAMPLE_SPANS`` span rows, as the
        public span stage derives them, in the frame the encoder builds
        for one route group: span columns, columnar attributes, and the
        event and link cells at the pipeline's default rates."""
        lang, bucket = min(self.routes, key=lambda k: (str(k[0]), k[1]))
        g = (span_stage(self.enriched())
             .where(F.col("lang").eqNullSafe(lang)
                    & (F.col("host_bucket") == bucket))
             .orderBy("doc_id").limit(KERNEL_SAMPLE_SPANS).toPandas())
        frame, spec = _group_spans_frame(
            g, lang, bucket, _ENCODE_DEFAULTS["events_every"].default,
            _ENCODE_DEFAULTS["links_every"].default)
        resource = {"service.name": f"crawler-{lang}",
                    "host.bucket": int(bucket)}
        return frame, spec, lambda _k: resource


class QueriesRunner(Runner):
    """The eight operator queries, one after another, each collected to
    the driver and compared with its DuckDB twin. The tables are fixed:
    the seed changes nothing here."""

    def __init__(self, *args):
        super().__init__(*args)
        import __spark_entry__ as entrymod

        self.queries = {q: entrymod.queries()[q] for q in QUERIES}
        self.oracle: dict[str, pd.DataFrame] = {}

    def prepare_set_up(self) -> None:
        """Check the tables and read each one's schema."""
        verify_tables()
        for f in sorted(os.listdir(SF_DIR)):
            if f.endswith(".parquet"):
                load_table(self.spark, SF_DIR, f[:-len(".parquet")])

    def warm_up(self) -> dict[str, float]:
        """Compute the expected results first."""
        t0 = time.monotonic()
        self.oracle = oracle_frames(self.workdir)
        return {"setup.oracle_s": time.monotonic() - t0, **super().warm_up()}

    def _run(self, q: str) -> pd.DataFrame:
        return self.queries[q](self.spark, SF_DIR).toPandas()

    def op(self):
        return {q: self._run(q) for q in QUERIES}

    def traced_calls(self, tr, root):
        out, calls = {}, []
        for q in QUERIES:
            with tr.span(f"operators.{q}", root) as c:
                out[q] = self._run(q)
            calls.append(c)
        return out, calls

    def plan_probes(self):
        return {f"operators.{q}": (lambda q=q: _timed(lambda: _plan(
                    self.queries[q](self.spark, SF_DIR))))
                for q in QUERIES}

    def check(self, out, wire_ref):
        problems = []
        for q in QUERIES:
            got, want = normalize(out[q]), self.oracle[q]
            if list(got.columns) != list(want.columns):
                problems.append(f"{q}: columns {list(got.columns)} != "
                                f"{list(want.columns)}")
            elif len(got) != len(want):
                problems.append(f"{q}: {len(got)} rows != {len(want)}")
            else:
                try:
                    pd.testing.assert_frame_equal(
                        got, want, check_dtype=False, check_exact=True)
                except AssertionError as e:
                    problems.append(f"{q}: {str(e).splitlines()[0]}")
        return problems, None

    def layer_metrics(self, tp):
        return {f"operators.{q}.s": _span_walls(tp["trace"], f"operators.{q}")
                for q in QUERIES}


def make_runner(w: Workload, seed: int, workdir: str) -> Runner:
    cls = {"roundtrip": RoundtripRunner, "queries": QueriesRunner}[w.kind]
    return cls(w, seed, workdir)


def _plan(df) -> None:
    """Physical planning of ``df`` on the driver, as an action would."""
    df._jdf.queryExecution().executedPlan()


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def _span_walls(tr: Trace, name: str) -> float:
    return sum(sp.duration for sp in tr.spans if sp.name == name)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; reaps it if it is our exited child."""
    try:
        if os.waitpid(pid, os.WNOHANG)[0] == pid:
            return False
    except ChildProcessError:  # not our child: ask the kernel instead
        pass
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _median_wall(fn, reps: int = 3, budget: float = 0.0) -> float:
    """Median seconds of one call over at least ``reps`` calls, repeating
    for ``budget`` seconds."""
    walls = []
    t_end = time.monotonic() + budget
    while len(walls) < reps or time.monotonic() < t_end:
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)
