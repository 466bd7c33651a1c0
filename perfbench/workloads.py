"""The benchmark's workloads: what one pass runs and how its output is checked.

A workload prepares its inputs (outside every timed region), runs one
checked warm-up pass, then timed passes, and finally checks the outputs
of the timed passes. Every call into the program is a public function:
``read_text_lines``, ``bigram_counts``, ``write_kv_text`` and
``REGISTRY[q].fn`` followed by a ``noop`` write.
"""

from __future__ import annotations

import gc
import hashlib
import math
import statistics
import time
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

import corpus

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"

QUERY_METRICS = (
    ("construct_s", "s"),
    ("construct_jobs", "count"),
    ("execute_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("cpu_share", "ratio"),
    ("shuffle_write_bytes", "bytes"),
    ("exchanges", "count"),
    ("python_eval_nodes", "count"),
)
CORPUS_METRICS = (
    ("sources.scan_s", "s"),
    ("sources.input_bytes", "bytes"),
    ("sources.records", "count"),
    ("sources.tasks", "count"),
    ("sources.cpu_share", "ratio"),
    ("operators.bigram.self_s", "s"),
    ("operators.bigram.shuffle_write_bytes", "bytes"),
    ("operators.bigram.combine_ratio", "ratio"),
    ("operators.bigram.spill_bytes", "bytes"),
    ("operators.bigram.gc_s", "s"),
    ("sinks.self_s", "s"),
    ("sinks.output_bytes", "bytes"),
    ("sinks.files", "count"),
    ("sinks.cpu_share", "ratio"),
)
_PY_NODE = ("Python", "InPandas", "InArrow")


class Context:
    """What a workload needs from the run: session, tracer, output dir."""

    def __init__(self, spark, tracer, run_dir: Path):
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.cores = spark.sparkContext.defaultParallelism


class Tally:
    """Jobs attempted, jobs that raised, and jobs whose output was wrong."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.errors: list[str] = []

    def run(self, fn, *args):
        """Run one job; count it and record (not raise) its exception."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # one failing job must not stop the run
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
            return None


# --------------------------------------------------------------------------
# bigram_corpus: text lines -> bigram counts -> 32 sorted key<TAB>count files
# --------------------------------------------------------------------------


class BigramCorpus:
    target_bytes = 8 << 20
    tiny_bytes = 1 << 20
    warm_jobs = 6

    def prepare(self, cache: Path, seed: int, tiny: bool) -> dict:
        size = self.tiny_bytes if tiny else self.target_bytes
        self.manifest = corpus.prepare(cache, seed, size)
        self.paths = self.manifest["paths"]
        self.outputs: list[Path] = []
        self.scan_spans: list[dict] = []
        self.bigram_spans: list[dict] = []
        self.job_spans: list[dict] = []
        return {
            "input_bytes": self.manifest["input_bytes"],
            "input_files": len(self.paths),
            "distinct_bigrams": self.manifest["distinct_bigrams"],
        }

    @property
    def input_bytes(self) -> int:
        return self.manifest["input_bytes"]

    def _lines(self, ctx):
        from hadoop_map_reduce_spark.sources import read_text_lines

        return read_text_lines(ctx.spark, *self.paths)

    def _counts(self, ctx):
        from hadoop_map_reduce_spark.operators.bigram import bigram_counts

        return bigram_counts(self._lines(ctx), text_col="value")

    def _job(self, ctx, out: Path) -> None:
        from hadoop_map_reduce_spark.sinks import write_kv_text

        write_kv_text(self._counts(ctx), str(out), "bigram", "cnt", num_partitions=32)

    def warm(self, ctx: Context, tally: Tally) -> None:
        """Untimed, unchecked full jobs until the JVM's compiled code is
        steady: on a 4-core host a fresh session's jobs take 4.3, 3.2,
        2.8, 2.8, 2.9, 2.5 s and then hold at 2.3-2.5 s."""
        for k in range(self.warm_jobs):
            tally.run(self._job, ctx, ctx.run_dir / f"out-warm-{k}")

    def run_pass(self, ctx: Context, tally: Tally, k: int) -> float:
        """One pass; returns its wall time (the full job only)."""
        tr = ctx.tracer
        out = ctx.run_dir / f"out-{k}"
        if tr.enabled:
            # Prefix runs for self time: scan, then scan + bigram, each into noop.
            with tr.span("sources") as s:
                tally.run(_noop, self._lines(ctx))
            self.scan_spans.append(s)
            with tr.span("operators.bigram") as s:
                tally.run(_noop, self._counts(ctx))
            self.bigram_spans.append(s)
        t0 = time.perf_counter()
        with tr.span("sinks") as s:
            tally.run(self._job, ctx, out)
        wall = time.perf_counter() - t0
        self.job_spans.append(s)
        self.outputs.append(out)
        return wall

    def check(self, ctx: Context, tally: Tally) -> None:
        """Digest and per-file order of every output; outside timed passes."""
        for out in self.outputs:
            if not _kv_output_ok(out, self.manifest["digest"]):
                tally.wrong += 1

    def layer_metrics(self, ctx: Context) -> dict:
        out: dict = {}
        if not self.job_spans or not self.scan_spans:
            return out
        scan = statistics.median([_dur(s) for s in self.scan_spans])
        upto_bigram = statistics.median([_dur(s) for s in self.bigram_spans])
        full = statistics.median([_dur(s) for s in self.job_spans])
        sc, bc, jc = (self.scan_spans[-1]["counters"], self.bigram_spans[-1]["counters"],
                      self.job_spans[-1]["counters"])
        files = sorted(p for p in self.outputs[-1].glob("part-*"))
        out["sources.scan_s"] = scan
        out["sources.input_bytes"] = sc["input_bytes"]
        out["sources.records"] = sc["input_records"]
        out["sources.tasks"] = sc["tasks"]
        out["sources.cpu_share"] = _share(sc["executor_cpu_s"], scan, ctx.cores)
        out["operators.bigram.self_s"] = upto_bigram - scan
        out["operators.bigram.shuffle_write_bytes"] = bc["shuffle_write_bytes"]
        out["operators.bigram.combine_ratio"] = (
            bc["shuffle_write_records"] / self.manifest["bigrams_emitted"]
        )
        out["operators.bigram.spill_bytes"] = bc["spill_bytes"]
        out["operators.bigram.gc_s"] = bc["gc_s"]
        out["sinks.self_s"] = full - upto_bigram
        out["sinks.output_bytes"] = sum(p.stat().st_size for p in files)
        out["sinks.files"] = len(files)
        out["sinks.cpu_share"] = _share(
            max(jc["executor_cpu_s"] - bc["executor_cpu_s"], 0.0), full - upto_bigram, ctx.cores
        )
        out["trace.pass_s_p50"] = full
        return out


def _kv_output_ok(out: Path, digest: str) -> bool:
    if not (out / "_SUCCESS").exists():
        return False
    lines: list[bytes] = []
    for part in sorted(out.glob("part-*")):
        body = part.read_bytes().splitlines()
        keys = [ln.split(b"\t", 1)[0] for ln in body]
        if keys != sorted(keys):
            return False
        lines.extend(body)
    return corpus.kv_digest(lines) == digest


# --------------------------------------------------------------------------
# Registry workloads: REGISTRY[q].fn(spark, sf_dir) into the noop sink
# --------------------------------------------------------------------------


class RegistryQueries:
    def __init__(self, queries: tuple[str, ...], tables: tuple[str, ...]):
        self.queries = queries
        self.tables = tables

    def prepare(self, cache: Path, seed: int, tiny: bool) -> dict:
        # The sf tables are the fixed seed-42 synthetic data: --seed changes nothing.
        self.sf_dir = DATA / ("sf0.001" if tiny else "sf0.01")
        self.table_bytes = sum(
            (self.sf_dir / f"{t}.parquet").stat().st_size for t in self.tables
        )
        self.spans: dict[str, list[tuple[dict, dict]]] = {q: [] for q in self.queries}
        self.rdd_deltas: dict[str, list[int]] = {q: [] for q in self.queries}
        self.plan_nodes: dict[str, tuple[int, int]] = {}
        return {"input_bytes": self.table_bytes, "sf_dir": self.sf_dir.name,
                "tables": list(self.tables)}

    @property
    def input_bytes(self) -> int:
        return self.table_bytes

    def _fn(self, q: str):
        from hadoop_map_reduce_spark.plans import REGISTRY

        return REGISTRY[q].fn

    def warm(self, ctx: Context, tally: Tally) -> None:
        """Collect every query once and compare it with its DuckDB oracle."""
        from hadoop_map_reduce_spark.plans import REGISTRY

        import duckdb

        con = duckdb.connect()
        try:
            for t in sorted(p.stem for p in self.sf_dir.glob("*.parquet")):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir / t}.parquet')"
                )
            for q in self.queries:
                df = tally.run(self._fn(q), ctx.spark, str(self.sf_dir))
                rows = None if df is None else tally.run(df.collect)
                if rows is None:
                    continue
                res = con.execute(REGISTRY[q].oracle)
                expect = _canon(res.fetchall(), [d[0] for d in res.description])
                if _canon([tuple(r) for r in rows], df.columns) != expect:
                    tally.wrong += 1
                if ctx.tracer.enabled:
                    self.plan_nodes[q] = _plan_nodes(df)
        finally:
            con.close()

    def run_pass(self, ctx: Context, tally: Tally, k: int) -> float:
        tr = ctx.tracer
        sc = ctx.spark.sparkContext
        wall = 0.0
        for q in self.queries:
            before = persistent_rdds(sc) if tr.enabled else 0
            t0 = time.perf_counter()
            with tr.span(f"plans.{q}.construct") as cs:
                df = tally.run(self._fn(q), ctx.spark, str(self.sf_dir))
            with tr.span(f"plans.{q}.execute") as es:
                if df is not None:
                    tally.run(_noop, df)
            wall += time.perf_counter() - t0
            del df
            if tr.enabled:
                self.spans[q].append((cs, es))
                self.rdd_deltas[q].append(persistent_rdds(sc) - before)
        return wall

    def check(self, ctx: Context, tally: Tally) -> None:
        """Timed passes write to noop; the warm-up pass carried the check."""

    def layer_metrics(self, ctx: Context) -> dict:
        out: dict = {}
        walls = []
        for q, pairs in self.spans.items():
            if not pairs:
                continue
            con = statistics.median([_dur(c) for c, _ in pairs])
            exe = statistics.median([_dur(e) for _, e in pairs])
            cc, ec = pairs[-1][0]["counters"], pairs[-1][1]["counters"]
            both = {k: cc[k] + ec[k] for k in cc}
            exchanges, py_nodes = self.plan_nodes.get(q, (0, 0))
            p = f"plans.{q}."
            out[p + "construct_s"] = con
            out[p + "construct_jobs"] = cc["jobs"]
            out[p + "execute_s"] = exe
            out[p + "jobs"] = both["jobs"]
            out[p + "stages"] = both["stages"]
            out[p + "tasks"] = both["tasks"]
            out[p + "executor_cpu_s"] = both["executor_cpu_s"]
            last_wall = _dur(pairs[-1][0]) + _dur(pairs[-1][1])
            out[p + "cpu_share"] = _share(both["executor_cpu_s"], last_wall, ctx.cores)
            out[p + "shuffle_write_bytes"] = both["shuffle_write_bytes"]
            out[p + "exchanges"] = exchanges
            out[p + "python_eval_nodes"] = py_nodes
            out[f"checkpoint.{q}.persistent_rdds_delta"] = statistics.median(self.rdd_deltas[q])
            walls.append([_dur(c) + _dur(e) for c, e in pairs])
        if walls:
            out["trace.pass_s_p50"] = statistics.median([sum(w) for w in zip(*walls)])
        return out


def _plan_nodes(df) -> tuple[int, int]:
    """Exchange and Python-evaluation node counts of the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = py_nodes = 0
    for line in plan.splitlines():
        node = line.lstrip(" :+-|").split(" ", 1)[0]
        if node.endswith("Exchange") and node != "ReusedExchange":
            exchanges += 1
        elif any(tag in node for tag in _PY_NODE):
            py_nodes += 1
    return exchanges, py_nodes


def _canon(rows, cols) -> str:
    """Order-insensitive digest of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in canon:
        h.update(row.encode())
    return h.hexdigest()


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, (str, bytes)):
        return v
    if isinstance(v, (float, Decimal)):
        f = float(v)
        if math.isfinite(f) and f.is_integer() and abs(f) < 2**53:
            return int(f)
        return f
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (date, datetime)):
        return v.isoformat()
    return v


def persistent_rdds(sc) -> int:
    """RDDs registered as persisted, once Python has dropped what it can.

    Collecting first makes the count independent of when Python's own
    collector would have run the program's release callbacks.
    """
    gc.collect()
    return sc._jsc.getPersistentRDDs().size()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _share(cpu_s: float, wall_s: float, cores: int) -> float:
    return cpu_s / (wall_s * cores) if wall_s > 0 else 0.0


WORKLOADS = {
    "bigram_corpus": BigramCorpus(),
    "iterative_graph": RegistryQueries(
        ("graph_kcore_bounded", "graph_pagerank", "events_rfm_segments"),
        ("lineitem", "orders", "events"),
    ),
}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    names = [
        ("session.get_spark_s", "s"),
        ("session.first_action_s", "s"),
        ("session.peak_rss_mb", "MB"),
    ]
    names += list(CORPUS_METRICS)
    for w in WORKLOADS.values():
        for q in getattr(w, "queries", ()):
            names += [(f"plans.{q}.{m}", u) for m, u in QUERY_METRICS]
            names.append((f"checkpoint.{q}.persistent_rdds_delta", "count"))
    names += [
        ("failed_share", "ratio"),
        ("wrong_outputs", "count"),
        ("leaked_rdds_per_pass", "count"),
        ("trace.pass_s_p50", "s"),
    ]
    return names
