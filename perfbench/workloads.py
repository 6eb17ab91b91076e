"""The three workloads. Each is a closed loop driven by one client thread
(``rebalance_large`` adds one closed-loop reader thread): the next call
starts only after the previous one returns.

A workload fills the run's ``Result``: per-operation wall times, failures,
the set-up time, its workload-level metrics (``record``) and, in a traced
run, the per-layer metrics (``layers``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import ExitStack, contextmanager, nullcontext
from dataclasses import dataclass, field

import baseline
import gen
from tracing import PYTHON_EXEC_NODES, SparkMetrics, Tracer

# rebalance_large: 2M rows, ~40 bytes a row as parquet; its warm-up
# resizes a small table of the same shape, which loads and compiles the
# same code paths at a fraction of the cost
LARGE_ROWS = 2_000_000
LARGE_TABLE = "bench_large"
WARM_ROWS = 100_000
WARM_TABLE = "bench_warm"
# rebalance_db and query_mix: the ten fixture tables at sf0.01 scale
FIXTURE_SF = 0.01
DB = "bench_db"
# the shard-count cycle every resize walks through
SHARD_CYCLE = [12, 16, 12, 8]
WARMUP_SHARDS = 8
# set-ups per run: the first launches the JVM and runs cold, setup_s is
# the second's time
SETUPS = 2

# query_mix: CORE and EXTENDED queries of bench.py that write nothing
# outside the session's own temp space (rebalance_invariants and
# rebalance_pipeline write under a fixed /tmp path; the resize path they
# exercise is what the rebalance workloads measure) and that agree
# with their DuckDB oracle on the generated fixture. tf_idf's builder runs
# Spark jobs every time it builds the DataFrame (builders that cache per
# session, such as bm25_topk, run theirs only in set-up).
QUERY_MIX = [
    "pricing_summary",
    "join_theta_range",
    "ngram_repetition_quality",
    "ch_dialect_quantile",
    "tf_idf",
]

# query_mix: timed passes at least, so every run takes the same number
MIN_PASSES = 4

DDL_VERBS = ("ALTER", "CREATE", "DROP", "DESCRIBE")


@dataclass
class Result:
    setup_s: float = 0.0
    op_s: list = field(default_factory=list)
    pass_task_cpu_s: list = field(default_factory=list)
    # task CPU time over the yardsticks' (baseline.py)
    cpu_ratio: float = 0.0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    record: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the results)."""
    print(f"[perfbench +{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name: state, ppid,
    ..., utime, stime, cutime, cstime at 11..14."""
    with open(path) as f:
        raw = f.read()
    return raw[raw.rindex(")") + 2:].split()


def python_workers_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's descendants: PySpark's worker
    daemon and the Python workers that run UDFs for Spark tasks. Workers
    that already exited count through the daemon's cumulative times."""
    parents: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = _stat_fields(f"/proc/{d}/stat")
        except OSError:
            continue  # exited while we looked
        parents.setdefault(int(fields[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, list(parents.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(parents.get(pid, []))
    return total / _CLK_TCK


def task_cpu_s(ctx, group: str, workers_s: float) -> float:
    """CPU seconds of the Spark tasks an operation ran: the executor task
    threads' CPU time (deserialisation and run, as Spark's task metrics
    count it) over the jobs started under the job group ``group``, plus
    ``workers_s``, the Python workers' CPU time during the operation.

    The reader thread's jobs carry no group, and the JVM's own threads
    (JIT, GC, scheduler) are not task threads, so neither is counted: their
    CPU time grows with the operation's wall time, not with its work. A
    busy host still raises task CPU time; ``baseline.py`` divides that
    out."""
    _, stages = ctx.metrics.group_stages(group)
    ns = sum(s.executorDeserializeCpuTime() + s.executorCpuTime() for s in stages)
    return ns / 1e9 + workers_s


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def data_files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if not f.startswith((".", "_"))]


def _ddl_span(self, sql_text, *args, **kwargs):
    verb = sql_text.lstrip().split(None, 1)[0].upper() if sql_text.strip() else ""
    return "catalog.ddl" if verb in DDL_VERBS else None


class Context:
    """Per-run state: session, work directory, tracer and layer hooks."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.tracer = Tracer()
        self.result = Result()
        self.spark = None
        self.metrics = None
        self.jvm_pid = None
        self.untimed_s = 0.0
        self.cpus = len(os.sched_getaffinity(0))
        self.get_spark_s: list[float] = []
        self.load_tables_s: list[float] = []
        self.setup_runs_s: list[float] = []

    @contextmanager
    def untimed(self):
        """Output checks and yardsticks: their time is left out of set-up
        time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def span(self, name: str):
        return self.tracer.span(name) if self.trace else nullcontext()

    def start_session(self):
        from clickhouse_data_rebalance_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            self.spark = get_spark("perfbench")
        self.get_spark_s.append(time.perf_counter() - t0)
        self.metrics = SparkMetrics(self.spark)
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        self.jvm_pid = proc.pid if proc is not None else None
        return self.spark

    def workers_cpu_s(self) -> float:
        return python_workers_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0

    def load_tables(self, sf_dir: str):
        from clickhouse_data_rebalance_spark.tables import load_tables

        t0 = time.perf_counter()
        with self.span("tables.load_tables"):
            dfs = load_tables(self.spark, sf_dir)
        self.load_tables_s.append(time.perf_counter() - t0)
        return dfs

    def set_up(self, build):
        """Set the workload up SETUPS times and keep the last. Each set-up
        starts a session and calls ``build(root)``, which makes the inputs
        under the fresh directory ``root`` and warms up. Before the next
        one the session is stopped (its catalog goes with it) and the
        directory deleted, untimed. The first set-up also launches the JVM
        and runs cold; setup_s is the median time of the later ones, output
        checks and yardsticks excluded. All times are in the run record."""
        out, root = None, None
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                shutil.rmtree(root)
            root = os.path.join(self.work, f"setup{i}")
            self.untimed_s = 0.0
            t0 = time.perf_counter()
            self.start_session()
            out = build(root)
            self.setup_runs_s.append(time.perf_counter() - t0 - self.untimed_s)
            log(f"set-up {i} done in {self.setup_runs_s[-1]:.1f}s")
        self.result.setup_s = statistics.median(self.setup_runs_s[1:])
        return out

    @contextmanager
    def hooks(self):
        """Time the package's layer boundaries while a traced operation
        runs."""
        from clickhouse_data_rebalance_spark.plans import catalog, ch_dialect

        # the session's concrete classes (PySpark 4 subclasses DataFrame
        # and its writer per backend)
        df = self.spark.range(1)
        t = self.tracer
        with ExitStack() as stack:
            for cm in (
                t.patch(catalog, "table_exists", "catalog.probe"),
                t.patch(type(self.spark), "sql", _ddl_span),
                t.patch(ch_dialect, "translate", "ch_dialect.translate"),
                t.patch(type(df.write), "insertInto", "pipeline.write", only_under="pipeline.resize"),
                t.patch(type(df), "count", "pipeline.verify", only_under="pipeline.resize"),
            ):
                stack.enter_context(cm)
            yield

    def echo(self) -> dict:
        import platform

        import pyspark

        sc = self.spark.sparkContext
        return {
            "seed": self.seed,
            "cpus": self.cpus,
            "master": sc.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
        }


def _traced(ctx: Context, i: int) -> bool:
    """Whether operation (or pass) ``i`` of a traced run is traced. The
    order runs untraced, traced, traced, untraced, ... so each pair has one
    of each and neither side always goes second; the tracing overhead is
    measured in the same window."""
    return ctx.trace and (i + i // 2) % 2 == 1


@contextmanager
def _job_group(ctx: Context, name: str):
    """Tag the Spark jobs this thread starts with the job group ``name``."""
    sc = ctx.spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


# --------------------------------------------------------------- rebalance


def _content_hash(df):
    """Order-insensitive content hash: the sum of xxhash64 over every
    column, in decimal(38,0) so it cannot overflow."""
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))


def _fingerprint(spark, table: str, n_shards: int, key: str) -> dict:
    """One scan: row count, content hash, and per output file the shard ids
    its rows hash to."""
    from pyspark.sql import functions as F

    from clickhouse_data_rebalance_spark.plans.rebalance import shard_id

    df = spark.table(table)
    sid = shard_id(n_shards, key)
    rows = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _content_hash(df).alias("h"),
            F.min(sid).alias("lo"),
            F.max(sid).alias("hi"),
        )
        .collect()
    )
    return {
        "n": sum(r["n"] for r in rows),
        "h": sum(r["h"] for r in rows),
        "files": len(rows),
        "shards": len({r["lo"] for r in rows}),
        "pure": all(r["lo"] == r["hi"] for r in rows),
    }


class _Reader(threading.Thread):
    """Closed-loop reader of the logical table name. Each read records
    (start, end, count or None when it raised).

    The reader is another client: it has its own session and resolves the
    name afresh on every read. (A reader sharing the resizing session
    shares its table-relation cache, and a read that loads the cache while
    the swap renames the table can leave the old location cached under the
    logical name; the pipeline's insert then lands in the old copy and the
    new table stays empty. README.md, finding 5.)"""

    def __init__(self, spark, table: str) -> None:
        super().__init__(daemon=True)
        self.spark, self.table = spark.newSession(), table
        self.reads: list[tuple] = []
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.is_set():
            t0 = time.perf_counter()
            try:
                self.spark.catalog.refreshTable(self.table)
                n = self.spark.table(self.table).count()
            except Exception:  # a missing table is the outcome being measured
                n = None
            self.reads.append((t0, time.perf_counter(), n))


def _unavailable(reads, c0: float, c1: float, expect: int) -> tuple[float, int, int, int]:
    """For one resize call [c0, c1]: (unavailable seconds, reads, bad reads,
    torn reads). Unavailable time runs from the start of the first bad
    read to the start of the next good read; measuring start to start
    keeps the estimate unbiased by the length of one read."""
    inside = [r for r in reads if c0 <= r[0] <= c1]
    bad = [r for r in inside if r[2] != expect]
    torn = [r for r in bad if r[2] not in (None, 0)]
    if not bad:
        return 0.0, len(inside), 0, 0
    first = bad[0][0]
    last = bad[-1][0]
    after = [r[0] for r in reads if r[0] > last and r[2] == expect]
    end = after[0] if after else c1
    return end - first, len(inside), len(bad), len(torn)


def _register(ctx: Context, table: str, location: str) -> list[str]:
    """Create the external table ``table`` over the parquet files at
    ``location``; return its columns."""
    ctx.spark.sql(f"CREATE TABLE {table} USING parquet LOCATION '{location}'")
    return ctx.spark.table(table).columns


class _Resizer:
    """Drives ``resize_and_rebalance`` on one table and checks every call,
    untimed: content fingerprint unchanged, one pure file per non-empty
    shard, and the old copy sized (then deleted) right after the call."""

    def __init__(self, ctx: Context, table: str, key: str, location: str, root: str,
                 every_shard: bool = False) -> None:
        self.ctx, self.table, self.key = ctx, table, key
        self.location = location
        self.root = root
        self.flip = 0
        # the key has enough distinct values that every shard gets rows
        self.every_shard = every_shard
        # the source's row count and content hash, scanned before the
        # table's first resize
        self.expect: dict = {}

    def resize(self, n_shards: int, i: int) -> dict:
        from clickhouse_data_rebalance_spark.plans.pipeline import resize_and_rebalance

        ctx, spark = self.ctx, self.ctx.spark
        if not self.expect:
            with ctx.untimed():
                self._scan_source()
        self.flip ^= 1
        target_root = os.path.join(self.root, "AB"[self.flip])
        traced = _traced(ctx, i)
        group = f"op{i}"
        rep, err = None, None
        # the layer hooks end with the call, so the check below records no
        # spans
        with ExitStack() as stack:
            stack.enter_context(_job_group(ctx, group))
            if traced:
                ctx.tracer.op = group
                stack.enter_context(ctx.hooks())
                stack.enter_context(ctx.tracer.span("pipeline.resize"))
            w0, t0 = ctx.workers_cpu_s(), time.perf_counter()
            try:
                rep = resize_and_rebalance(spark, self.table, n_shards, [self.key], target_root)
            except Exception as e:  # counted as a failed operation
                err = e
            t1, w1 = time.perf_counter(), ctx.workers_cpu_s()
        out = {"t0": t0, "t1": t1, "s": t1 - t0, "cpu_s": task_cpu_s(ctx, group, w1 - w0),
               "traced": traced, "group": group,
               "rows": 0, "orphaned": 0, "live": 0, "ok": False, "files": 0}
        if err is not None:
            out["error"] = f"{type(err).__name__}: {err}"[:300]
            return out
        with ctx.untimed():
            self._check(rep, n_shards, os.path.join(target_root, self.table), out)
            if not traced and out["ok"]:
                out["base_cpu_s"] = self._yardstick(n_shards, group + ".base")
        return out

    def _yardstick(self, n_shards: int, group: str) -> float:
        """Task CPU seconds of ``baseline.reshard`` over the files the
        resize just wrote, to the same shard count."""
        ctx = self.ctx
        with _job_group(ctx, group):
            w0 = ctx.workers_cpu_s()
            n = baseline.reshard(ctx.spark, self.location, n_shards, self.key,
                                 os.path.join(self.root, "baseline"))
            w1 = ctx.workers_cpu_s()
        if n != self.expect["n"]:
            raise RuntimeError(f"baseline.reshard of {self.table} wrote {n} rows, "
                               f"not {self.expect['n']}")
        return task_cpu_s(ctx, group, w1 - w0)

    def _scan_source(self) -> None:
        from pyspark.sql import functions as F

        df = self.ctx.spark.table(self.table)
        row = df.agg(F.count(F.lit(1)).alias("n"), _content_hash(df).alias("h")).first()
        self.expect = {"n": row["n"], "h": row["h"]}

    def _check(self, rep, n_shards: int, new_loc: str, out: dict) -> None:
        from clickhouse_data_rebalance_spark.plans.catalog import old_name, table_exists

        spark = self.ctx.spark
        # the old copy, sized before anything else touches the disk
        orphaned = 0
        if not table_exists(spark, old_name(self.table)) and os.path.isdir(self.location):
            orphaned = dir_bytes(self.location)
        out.update(rows=rep.rows_before, orphaned=orphaned, live=dir_bytes(new_loc))
        if orphaned:
            shutil.rmtree(self.location, ignore_errors=True)
        self.location = new_loc
        fp = _fingerprint(spark, self.table, n_shards, self.key)
        files = data_files(new_loc)
        out["files"] = len(files)
        checks = {
            "content": (fp["n"], fp["h"]) == (self.expect["n"], self.expect["h"]),
            "report": rep.rows_before == rep.rows_after == fp["n"],
            # Spark may add one empty file beside the data files
            "one_file_per_shard": fp["pure"] and fp["files"] == fp["shards"]
            and len(files) <= n_shards,
            "every_shard_used": fp["shards"] == n_shards or not self.every_shard,
        }
        out["ok"] = all(checks.values())
        if not out["ok"]:
            failed = [k for k, v in checks.items() if not v]
            out["error"] = (
                f"check failed: {failed}; report {rep.rows_before}->{rep.rows_after}, "
                f"scan {fp}, source {self.expect}, {len(files)} files"
            )


def _resize_layers(ctx: Context, ops: list[dict]) -> dict:
    """Per-resize means of the layer metrics over the traced resizes."""
    traced = [o for o in ops if o["traced"]]
    m = ctx.metrics
    rows = []
    for o in traced:
        spans = ctx.tracer.summary({o["group"]})
        none = {"calls": 0, "total_s": 0.0}
        probe = spans.get("catalog.probe", none)
        ddl = spans.get("catalog.ddl", none)
        jobs, stages = m.group_stages(o["group"])
        tot = m.stage_totals(stages)
        # the write stage reads the re-scatter shuffle and writes the files
        write = [s for s in stages if s.shuffleReadBytes() > 0 and s.outputBytes() > 0]
        skew = 0.0
        if write:
            q = m.task_runtime_quantiles(write[-1])
            if q and q[0] > 0:
                skew = q[1] / q[0]
        rows.append({
            "catalog.probe_calls": probe["calls"],
            "catalog.probe_s": probe["total_s"],
            "catalog.ddl_statements": ddl["calls"],
            "catalog.ddl_s": ddl["total_s"],
            "pipeline.jobs_per_resize": jobs,
            "pipeline.write_s": spans.get("pipeline.write", none)["total_s"],
            "pipeline.verify_s": spans.get("pipeline.verify", none)["total_s"],
            "rebalance.shuffle_write_bytes": tot["shuffle_write_bytes"],
            "rebalance.write_task_skew": skew,
            "rebalance.output_files": o["files"],
            "rebalance.output_bytes": o["live"],
            "exec.cpu_busy_ratio": tot["run_ms"] / 1000.0 / (o["s"] * ctx.cpus),
            "exec.spill_bytes": tot["spill_bytes"],
            "exec.peak_memory_bytes": tot["peak_memory_bytes"],
            "gc.orphaned_bytes": o["orphaned"],
        })
    return {k: _mean([r[k] for r in rows]) for k in rows[0]} if rows else {}


def _warm_up(ctx: Context, resizers: list) -> None:
    """Resize each of ``resizers`` once (checked like any other call)."""
    for rz in resizers:
        o = rz.resize(WARMUP_SHARDS, -2)
        ctx.result.attempted += 1
        if not o["ok"]:
            ctx.result.fail(f"warm-up {rz.table}: {o.get('error')}")


def _run_resizes(ctx: Context, resizers: list, pass_len: int) -> list[dict]:
    """Whole passes of ``pass_len`` steps until the resize calls have taken
    ``seconds`` of wall time. Step k resizes table k mod len(resizers) to
    the next shard count of the cycle once every table has had the current
    one. A traced run makes every step twice, once untraced and once
    traced, so the two halves resize the same tables to the same shard
    counts."""
    res = ctx.result
    ops: list[dict] = []
    busy = 0.0
    scale = 2 if ctx.trace else 1
    step = 0
    while busy < ctx.seconds * scale or step % pass_len:
        n = SHARD_CYCLE[step // len(resizers) % len(SHARD_CYCLE)]
        rz = resizers[step % len(resizers)]
        for _ in range(scale):
            o = rz.resize(n, len(ops))
            o["pass"] = step // pass_len
            ops.append(o)
            busy += o["s"]
            log(f"resize {rz.table} -> {n}: {o['s']:.2f}s ok={o['ok']}")
            res.attempted += 1
            if not o["ok"]:
                res.fail(f"{rz.table}@{n}: {o.get('error')}")
        step += 1
    return ops


def _pass_sums(ops: list[dict], key: str) -> list[float]:
    """Sum of ``key`` over the operations of each pass."""
    out: dict = {}
    for o in ops:
        out[o["pass"]] = out.get(o["pass"], 0.0) + o.get(key, 0.0)
    return list(out.values())


def _cpu_ratio(ops: list[dict]) -> float:
    """The task CPU time of the run's operations over their yardsticks',
    both summed over every operation that has a yardstick. The sums weigh
    each operation by its cost and use every pair the run measured: one
    small query's pair varies by up to a fifth from pass to pass on a busy
    host."""
    measured = [o for o in ops if "base_cpu_s" in o]
    base = sum(o["base_cpu_s"] for o in measured)
    return sum(o["cpu_s"] for o in measured) / base if base else 0.0


def _resize_record(ops: list[dict]) -> dict:
    ok = [o for o in ops if o["ok"]] or ops
    live = sum(o["live"] for o in ok)
    return {
        "resizes": len(ops),
        "resize_p50_s": _median([o["s"] for o in ops]),
        "rows_moved_per_s": sum(o["rows"] for o in ops) / sum(o["s"] for o in ops),
        "orphaned_bytes_ratio": (sum(o["orphaned"] for o in ok) / live) if live else 0.0,
    }


def rebalance_large(ctx: Context) -> None:
    res = ctx.result

    def build(root):
        rzs, top_rows = [], {}
        for name, rows in ((WARM_TABLE, WARM_ROWS), (LARGE_TABLE, LARGE_ROWS)):
            loc = os.path.join(root, "gen", name)
            top_rows[name] = gen.write_large(loc, rows, ctx.seed, 2 * ctx.cpus)
            _register(ctx, name, loc)
            rzs.append(_Resizer(ctx, name, "k", loc, os.path.join(root, name), every_shard=True))
        _warm_up(ctx, rzs[:1])
        return rzs[1], top_rows[LARGE_TABLE]

    rz, top_rows = ctx.set_up(build)
    input_bytes = dir_bytes(rz.location)

    reader = _Reader(ctx.spark, LARGE_TABLE)
    reader.start()
    try:
        # a pass is one shard-count cycle
        ops = _run_resizes(ctx, [rz], pass_len=len(SHARD_CYCLE))
    finally:
        reader.stop.set()
        reader.join(timeout=120)
    if reader.is_alive():
        raise RuntimeError("reader thread did not stop")
    per = [_unavailable(reader.reads, o["t0"], o["t1"], LARGE_ROWS) for o in ops]
    res.op_s = [o["s"] for o in ops if not o["traced"]]
    res.pass_task_cpu_s = _pass_sums([o for o in ops if not o["traced"]], "cpu_s")
    res.cpu_ratio = _cpu_ratio(ops)
    res.record = {
        "input_rows": LARGE_ROWS,
        "input_bytes": input_bytes,
        "top_key_share": top_rows / LARGE_ROWS,
        **_resize_record(ops),
        "reader_unavailable_s": _median([u[0] for u in per]),
        "reader_reads": sum(u[1] for u in per),
        "reader_bad_reads": sum(u[2] for u in per),
        "reader_torn_reads": sum(u[3] for u in per),
    }
    if ctx.trace:
        layers = _resize_layers(ctx, ops)
        traced = [u for u, o in zip(per, ops) if o["traced"]]
        layers.update({
            "reader.reads": _mean([u[1] for u in traced]),
            "reader.unavailable_reads": _mean([u[2] for u in traced]),
            "reader.torn_reads": _mean([u[3] for u in traced]),
            "reader.unavailable_s": _median([u[0] for u in traced]),
        })
        res.layers = layers
        res.layers["trace.overhead_ratio"] = _overhead(ops)


def _overhead(ops: list[dict]) -> float:
    plain = [o["s"] for o in ops if not o["traced"]]
    traced = [o["s"] for o in ops if o["traced"]]
    return _median(traced) / _median(plain) - 1.0 if plain and traced else 0.0


def rebalance_db(ctx: Context) -> None:
    res = ctx.result

    def build(root):
        fix = os.path.join(root, "fixture")
        rows = gen.write_fixture(fix, ctx.seed, FIXTURE_SF)
        input_bytes = dir_bytes(fix)
        ctx.spark.sql(f"CREATE DATABASE {DB} LOCATION '{root}/warehouse'")
        resizers = []
        # each generated file becomes the data directory of one table
        for name in rows:
            qname = f"{DB}.{name}"
            loc = os.path.join(root, "gen", qname)
            os.makedirs(loc)
            os.replace(os.path.join(fix, f"{name}.parquet"), os.path.join(loc, "part-00000.parquet"))
            key = _register(ctx, qname, loc)[0]
            resizers.append(_Resizer(ctx, qname, key, loc, os.path.join(root, name)))
        # set-up ends with one warm-up resize of the smallest table
        _warm_up(ctx, resizers[:1])
        return resizers, rows, input_bytes

    resizers, rows, input_bytes = ctx.set_up(build)
    # a pass resizes every table once
    ops = _run_resizes(ctx, resizers, pass_len=len(resizers))
    res.op_s = [o["s"] for o in ops if not o["traced"]]
    res.pass_task_cpu_s = _pass_sums([o for o in ops if not o["traced"]], "cpu_s")
    res.cpu_ratio = _cpu_ratio(ops)
    res.record = {
        "input_rows": sum(rows.values()),
        "input_bytes": input_bytes,
        "tables": len(resizers),
        **_resize_record(ops),
    }
    if ctx.trace:
        res.layers = _resize_layers(ctx, ops)
        res.layers["trace.overhead_ratio"] = _overhead(ops)


# --------------------------------------------------------------- query_mix


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, columns, rows) -> None:
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def query_mix(ctx: Context) -> None:
    from clickhouse_data_rebalance_spark import registry
    from tests.oracle_harness import compare, duck_connection

    res = ctx.result
    # per set-up, per query: (seconds, collected result or None)
    setups: list[dict] = []

    def build(root):
        registry.load_all()
        fix = os.path.join(root, "fixture")
        rows = gen.write_fixture(fix, ctx.seed, FIXTURE_SF)
        ctx.load_tables(fix)
        # set-up ends with one pass over the queries; by the timed passes
        # the JVM has run every query once per set-up
        got = {}
        for name in QUERY_MIX:
            res.attempted += 1
            q0, r = time.perf_counter(), None
            try:
                df = registry.QUERIES[name](ctx.spark, fix)
                r = _Collected(df.columns, df.collect())
            except Exception as e:  # counted as a failed operation
                res.fail(f"{name} (set-up): {type(e).__name__}: {str(e)[:200]}")
            got[name] = (time.perf_counter() - q0, r)
        setups.append(got)
        with ctx.untimed():
            for name in QUERY_MIX:
                _query_yardstick(ctx, name, fix, "warm-up.base")
        return fix, rows

    fix, rows = ctx.set_up(build)
    # the last set-up's results against the DuckDB oracle, the earlier
    # set-ups' against the last one's row counts
    expected = {n: r for n, (_, r) in setups[-1].items() if r is not None}
    with ctx.untimed():
        con = duck_connection(fix)
        try:
            for name, got in expected.items():
                if name not in registry.ORACLES:
                    continue
                try:
                    compare(got, con, registry.ORACLES[name])
                except AssertionError as e:
                    res.fail(f"{name} (oracle): {str(e)[:200]}")
        finally:
            con.close()
    for i, got in enumerate(setups[:-1]):
        for name, (_, r) in got.items():
            if r is not None and name in expected and len(r.collect()) != len(expected[name].collect()):
                res.fail(f"{name} (set-up {i}): {len(r.collect())} rows, "
                         f"{len(expected[name].collect())} in the last")

    def run_pass(tag, traced: bool) -> list[dict]:
        out = []
        for name in QUERY_MIX:
            res.attempted += 1
            o = _run_query(ctx, registry, name, fix, f"{tag}.{name}", traced)
            o["pass"] = tag
            out.append(o)
            expect = len(expected[name].collect()) if name in expected else None
            if o.get("error") or o["rows"] != expect:
                res.fail(f"{name}: {o.get('error') or (o['rows'], expect)}")
        return out

    ops = []
    p = 0
    scale = 2 if ctx.trace else 1
    while sum(o["s"] for o in ops) < ctx.seconds * scale or p < MIN_PASSES * scale:
        ops += run_pass(f"p{p}", _traced(ctx, p))
        p += 1
    plain = [o for o in ops if not o["traced"]]
    passes = _pass_sums(plain, "s")
    res.op_s = [o["s"] for o in plain]
    res.pass_task_cpu_s = _pass_sums(plain, "cpu_s")
    res.cpu_ratio = _cpu_ratio(plain)
    lat = sorted(res.op_s)
    res.record = {
        "input_rows": sum(rows.values()),
        "input_bytes": dir_bytes(fix),
        "queries": len(QUERY_MIX),
        "passes": len(passes),
        "query_pass_s": _median(passes),
        "query_p50_s": _median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0],
        "oracle_checked": sum(1 for n in expected if n in registry.ORACLES),
        "per_query_setup_s": [{n: t for n, (t, _) in got.items()} for got in setups],
        "per_query_p50_s": {
            n: _median([o["s"] for o in plain if o["group"].endswith("." + n)])
            for n in QUERY_MIX
        },
        # task CPU time over the yardstick's, per query: which query moved
        "per_query_cpu_ratios": {
            n: [round(o["cpu_s"] / o["base_cpu_s"], 4) for o in plain
                if o["group"].endswith("." + n) and "base_cpu_s" in o]
            for n in QUERY_MIX
        },
    }
    if ctx.trace:
        res.layers = _query_layers(ctx, ops)
        traced_ops = [o for o in ops if o["traced"]]
        res.layers["trace.overhead_ratio"] = (
            _median(_pass_sums(traced_ops, "s")) / _median(passes) - 1.0 if passes else 0.0
        )


def _query_yardstick(ctx: Context, name: str, fix: str, group: str) -> float:
    """Task CPU seconds of query ``name``'s yardstick on the fixture."""
    with _job_group(ctx, group):
        w0 = ctx.workers_cpu_s()
        baseline.FOR_QUERY[name](ctx.spark, fix, ctx.cpus)
        w1 = ctx.workers_cpu_s()
    return task_cpu_s(ctx, group, w1 - w0)


def _run_query(ctx: Context, registry, name: str, fix: str, group: str, traced: bool) -> dict:
    spark = ctx.spark
    fn = registry.QUERIES[name]
    out = {"group": group, "traced": traced, "rows": None}
    if not traced:
        with _job_group(ctx, group):
            w0, t0 = ctx.workers_cpu_s(), time.perf_counter()
            try:
                out["rows"] = len(fn(spark, fix).collect())
            except Exception as e:  # counted as a failed operation
                out["error"] = f"{type(e).__name__}: {str(e)[:200]}"
            out["s"], w1 = time.perf_counter() - t0, ctx.workers_cpu_s()
        out["cpu_s"] = task_cpu_s(ctx, group, w1 - w0)
        if "error" not in out:
            out["base_cpu_s"] = _query_yardstick(ctx, name, fix, group + ".base")
        return out
    tr = ctx.tracer
    tr.op = group
    df = None
    t0 = time.perf_counter()
    try:
        with ctx.hooks():
            with _job_group(ctx, group + ".build"), tr.span("registry.build"):
                df = fn(spark, fix)
            with _job_group(ctx, group + ".collect"), tr.span("exec.collect"):
                out["rows"] = len(df.collect())
    except Exception as e:  # counted as a failed operation
        out["error"] = f"{type(e).__name__}: {str(e)[:200]}"
    out["s"] = time.perf_counter() - t0
    if df is not None and "error" not in out:
        m = ctx.metrics
        out["catalyst"] = m.catalyst_ms(df)
        nodes = m.plan_nodes(df)
        out["exchanges"] = sum(1 for n in nodes if "Exchange" in n)
        out["python_exec_nodes"] = sum(1 for n in nodes if n in PYTHON_EXEC_NODES)
        out["build_jobs"], _ = m.group_stages(group + ".build")
        _, stages = m.group_stages(group + ".collect")
        out["stages"] = m.stage_totals(stages)
        t1 = time.perf_counter()
        with tr.span("exec.noop"):
            df.write.format("noop").mode("overwrite").save()
        out["noop_s"] = time.perf_counter() - t1
    return out


def _query_layers(ctx: Context, ops: list[dict]) -> dict:
    """Per-pass sums of the layer metrics over the traced passes."""
    traced = [o for o in ops if o["traced"] and "error" not in o]
    summ = ctx.tracer.summary({o["group"] for o in traced})
    n_pass = len({o["pass"] for o in traced}) or 1

    def total(key, field="total_s"):
        return summ.get(key, {}).get(field, 0.0)

    def count(key):
        return summ.get(key, {}).get("calls", 0)

    def per(f):
        return sum(f(o) for o in traced) / n_pass

    collect = total("exec.collect")
    noop = sum(o["noop_s"] for o in traced)
    return {
        "registry.build_s": total("registry.build", "self_s") / n_pass,
        "registry.build_jobs": per(lambda o: o["build_jobs"]),
        "catalyst.analysis_s": per(lambda o: o["catalyst"].get("analysis", 0.0)) / 1000.0,
        "catalyst.optimization_s": per(lambda o: o["catalyst"].get("optimization", 0.0)) / 1000.0,
        "catalyst.planning_s": per(lambda o: o["catalyst"].get("planning", 0.0)) / 1000.0,
        "exec.noop_s": noop / n_pass,
        "exec.transfer_s": (collect - noop) / n_pass,
        "exec.shuffle_write_bytes": per(lambda o: o["stages"]["shuffle_write_bytes"]),
        "exec.spill_bytes": per(lambda o: o["stages"]["spill_bytes"]),
        "exec.peak_memory_bytes": max((o["stages"]["peak_memory_bytes"] for o in traced), default=0),
        "exec.exchanges": per(lambda o: o["exchanges"]),
        "exec.python_exec_nodes": per(lambda o: o["python_exec_nodes"]),
        "exec.cpu_busy_ratio": per(lambda o: o["stages"]["run_ms"]) / 1000.0
        / max(collect / n_pass * ctx.cpus, 1e-9),
        "ch_dialect.translate_s": total("ch_dialect.translate") / n_pass,
        "ch_dialect.translate_calls": count("ch_dialect.translate") / n_pass,
        "catalog.probe_calls": count("catalog.probe") / n_pass,
        "catalog.probe_s": total("catalog.probe") / n_pass,
        "catalog.ddl_statements": count("catalog.ddl") / n_pass,
        "catalog.ddl_s": total("catalog.ddl") / n_pass,
    }


WORKLOADS = {
    "rebalance_large": rebalance_large,
    "rebalance_db": rebalance_db,
    "query_mix": query_mix,
}
