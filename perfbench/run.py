#!/usr/bin/env python3
"""The repository benchmark: one client, closed loop, one op at a time.

    python3 perfbench/run.py --workload registry-sf0.01 --seed 1 --seconds 18 --trace 0

Workloads (see README.md for why each exists):

- ``analytics-sf0.1``: the 15 bench.py HEADLINE keys at sf0.1, in a
  seeded order each pass;
- ``registry-sf0.01``: a fixed panel of registry keys spanning the
  latency strata, in a seeded order each pass, at sf0.01 (the per-query
  floor);
- ``backup-cycle``: BackupEngine full backup, incremental backup,
  retention prune and both restores over growing slices of sf0.1
  orders and lineitem.

A run generates its tables, sets the program up three times (the
median is ``setup_s``), runs one first pass, then a fixed number of
warm passes, ``--seconds`` worth at a nominal pace
(``workload.warm_passes``), checks every result, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones from a traced
run. A report goes to stderr, and a record with the box description
is appended to ``.perfbench/results.jsonl`` under the checkout. The
exit code is 1 when any check failed.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine package, bench.py and tests/

import datagen  # noqa: E402
import measure  # noqa: E402
import workload  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = tuple(workload.SCALE)
#: Setups per run; setup_s is their median.
SETUP_REPEATS = 3
#: Seed of the generated tables. The workload seed picks samples,
#: order and slices over these fixed tables, whose every oracle result
#: the calibration (calibrate.py) has checked.
DATA_SEED = 42
#: Driver heap of the benchmarked session.
DRIVER_MEMORY = "1g"
STATE_DIR = os.path.join(ROOT, ".perfbench")
STRATA_PATH = os.path.join(HERE, "strata.json")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def force(df):
    """bench.py's full-width forcing aggregate: count and max of an
    xxhash64 over every output column, so Catalyst cannot prune the
    operator being timed."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c).cast("string") for c in df.columns])
    return df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.max("h").alias("hmax")
    )


# ---------------------------------------------------------------- run state


@dataclass
class Op:
    """One timed operation of the closed loop."""

    id: str
    kind: str  # registry key, or backup op type
    pass_no: int
    wall_s: float = 0.0
    ok: bool = True
    error: str = ""
    result: tuple | None = None
    conf_leaks: int = 0
    spans: list = field(default_factory=list)


@dataclass
class Run:
    args: argparse.Namespace
    run_dir: str
    sf_dir: str
    tracer: Tracer
    spark: object = None
    specs: dict = field(default_factory=dict)
    ops: list[Op] = field(default_factory=list)
    setups: list[dict] = field(default_factory=list)
    checks_failed: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)
    jvm_pid: int | None = None
    peak_rss_mb: float = 0.0
    #: wall of each phase of the run (not metrics): where a run's time goes
    phases: dict = field(default_factory=dict)
    _phase_t0: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Close the phase that ends now under ``name``; with a session up,
        also record the JVM's GC time so far as ``<name>.gc_total``."""
        t = time.perf_counter()
        self.phases[name] = t - self._phase_t0
        self._phase_t0 = t
        if self.spark is not None:
            self.phases[f"{name}.gc_total"] = jvm_gc_s(self.spark)

    def measured(self) -> None:
        """End of the timed phase: read the peak RSS before the checks,
        which collect whole results into this process."""
        self.peak_rss_mb = measure.vm_hwm_mb() + measure.vm_hwm_mb(self.jvm_pid)

    def warm_ops(self) -> list[Op]:
        return [o for o in self.ops if o.pass_no > 0]

    def warm_passes(self) -> int:
        return workload.warm_passes(self.args.workload, self.args.seconds)


# ---------------------------------------------------------------- isolation


def isolate(run_dir: str) -> None:
    """Point every scratch location of the program into ``run_dir``:
    Spark local dirs, the engine scratch base, Python and JVM temp
    dirs, the SQL warehouse and Derby home. The JVM reads these at
    launch, so this runs before the first session exists."""
    dirs = {n: os.path.join(run_dir, n) for n in ("local", "scratch", "tmp", "warehouse", "derby")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        SPARK_LOCAL_DIRS=dirs["local"],
        CBS_SCRATCH_DIR=dirs["scratch"],
        TMPDIR=dirs["tmp"],
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_DRIVER_MEM=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=(
            # no hsperfdata file: the JVM writes it outside java.io.tmpdir
            f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']} "
            f"-Dderby.system.home={dirs['derby']}' "
            f"--conf spark.cbs.scratch.dir={dirs['scratch']} "
            f"--conf spark.sql.warehouse.dir={dirs['warehouse']} "
            f"--conf spark.hadoop.hadoop.tmp.dir={dirs['tmp']} "
            # no progress bar: a JVM thread redrawing stderr while ops run
            "--conf spark.ui.showConsoleProgress=false "
            "pyspark-shell"
        ),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(run_dir)  # relative paths the program writes land here too


def conf_keys() -> list[str]:
    from clickhousebackup_spark.session import RUNTIME_CONFS

    return [*RUNTIME_CONFS, "spark.sql.shuffle.partitions"]


def conf_snapshot(spark) -> dict:
    return {k: spark.conf.get(k, None) for k in conf_keys()}


def conf_restore(spark, before: dict) -> int:
    """Reset every session conf an op changed; return how many."""
    leaks = 0
    for k, v in before.items():
        if spark.conf.get(k, None) != v:
            leaks += 1
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return leaks


# ---------------------------------------------------------------- setup


def touched_tables(name: str) -> tuple[str, ...]:
    from clickhousebackup_spark.tables import TABLES

    return ("region", "orders", "lineitem") if name == "backup-cycle" else TABLES


def setup_once(run: Run, first: bool) -> dict:
    """import + get_spark + all_specs + first load_table of each touched
    table + a generic warmup; returns the wall of each step."""
    walls: dict[str, float] = {}

    def step(name: str, fn):
        t0 = time.perf_counter()
        with run.tracer.span(name):
            out = fn()
        walls[name] = time.perf_counter() - t0
        return out

    def warmup():
        region = load_table(run.spark, run.sf_dir, "region")
        region.count()
        region.groupBy("r_regionkey").count().count()

    if not first:
        run.spark.stop()
    step("setup.import", lambda: [
        importlib.import_module(f"clickhousebackup_spark.{m}") for m in ("registry", "session", "tables")
    ])
    from clickhousebackup_spark.registry import all_specs
    from clickhousebackup_spark.session import get_spark
    from clickhousebackup_spark.tables import load_table

    run.spark = step("session.get_spark", lambda: get_spark("perfbench"))
    run.specs = step("registry.all_specs", all_specs)
    step("tables.load_table", lambda: [
        load_table(run.spark, run.sf_dir, t) for t in touched_tables(run.args.workload)
    ])
    step("setup.warmup", warmup)
    walls["total_s"] = sum(walls.values())
    return walls


def jvm_gc_s(spark) -> float:
    """Seconds the driver JVM has spent in garbage collection so far."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def floor_probe(spark) -> float:
    """Min of three one-row queries: the box's per-query floor."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(1).collect()
        best = min(best, time.perf_counter() - t0)
    return best


# ---------------------------------------------------------------- ops


def timed_op(run: Run, op: Op, body) -> Op:
    """Run ``body()`` as one op: conf snapshot, the timed call inside an
    ``op`` span, conf reset, then job attribution (outside the wall)."""
    spark, tr = run.spark, run.tracer
    before = conf_snapshot(spark)
    first_span = len(tr.spans)
    t0 = time.perf_counter()
    try:
        with tr.span("op", op.id):
            op.result = body()
    except Exception as e:  # a failing op is counted, the run goes on
        op.ok = False
        op.error = f"{type(e).__name__}: {e}"[:500]
        print(f"# op {op.id} failed:\n{traceback.format_exc()}", file=sys.stderr)
    op.wall_s = time.perf_counter() - t0
    op.conf_leaks = conf_restore(spark, before)
    op.spans = tr.spans[first_span:]
    tr.attribute(op.spans)
    run.ops.append(op)
    return op


def forced_frame(tr: Tracer, build):
    """construct → plan → execute of one forced frame; (count, hash)."""
    with tr.span("operators.construct"):
        df = build()
    forced = force(df)
    with tr.span("plans.plan"):
        forced._jdf.queryExecution().executedPlan()
    with tr.span("exec.execute"):
        row = forced.collect()[0]  # reuses the plan made above
    return (row["n"], row["hmax"])


def query_op(run: Run, key: str, pass_no: int) -> Op:
    spec = run.specs[key]
    return timed_op(
        run,
        Op(f"{pass_no}:{key}", key, pass_no),
        lambda: forced_frame(run.tracer, lambda: spec.fn(run.spark, run.sf_dir)),
    )


def open_duck(sf_dir: str):
    import duckdb

    from clickhousebackup_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def oracle_check(spark, spec, sf_dir: str, con, n_expected: int | None) -> str | None:
    """Compare one key's full result with its DuckDB oracle; None if equal."""
    from tests.compare import assert_same_result, fast_collect

    try:
        df = spec.fn(spark, sf_dir)
        rows = fast_collect(df)
        if n_expected is not None and len(rows) != n_expected:
            return f"{len(rows)} rows collected, forced count said {n_expected}"
        if spec.oracle is not None:
            assert_same_result(df, con, spec.oracle, spec.name, raw_rows=rows)
    except Exception as e:  # AssertionError or an engine error alike
        return f"{type(e).__name__}: {e}"[:500]
    return None


def ranked_pool(specs: dict) -> list[str]:
    """Registry keys by reference warm latency (strata.json), keeping
    only keys still registered."""
    with open(STRATA_PATH) as fh:
        ranked = [k for k, _ in json.load(fh)["ranked"]]
    return [k for k in ranked if k in specs]


def run_queries(run: Run) -> None:
    args = run.args
    if args.workload == "analytics-sf0.1":
        from bench import HEADLINE

        keys = list(HEADLINE)
    else:
        keys = workload.registry_panel(ranked_pool(run.specs))
    run.extra["keys"] = keys
    for pass_no in range(run.warm_passes() + 1):
        for key in workload.pass_order(keys, args.seed, pass_no):
            query_op(run, key, pass_no)
        if pass_no == 0:
            run.phase("first")
    run.measured()
    run.phase("warm")

    # correctness, outside every timed span
    first = {o.kind: o for o in run.ops if o.pass_no == 0}
    bad_keys = set()
    for o in run.ops:
        if o.ok and first[o.kind].ok and o.result != first[o.kind].result:
            o.ok, o.error = False, f"(count, hash) {o.result} != first pass {first[o.kind].result}"
    con = open_duck(run.sf_dir)
    try:
        for key, o in first.items():
            n = o.result[0] if o.ok else None
            with run.tracer.span("check", key):
                err = oracle_check(run.spark, run.specs[key], run.sf_dir, con, n)
            if err:
                bad_keys.add(key)
                run.checks_failed.append(f"{key}: oracle: {err}")
    finally:
        con.close()
    for o in run.ops:
        if o.kind in bad_keys:
            o.ok = False
    run.phase("checks")


# ---------------------------------------------------------------- backup

#: Columns of backup.queries.integrity_diff's one-row report.
DIFF_COLS = ("n_source", "n_restored", "n_missing", "n_extra")


def run_backup_cycles(run: Run) -> None:
    from pyspark.sql import functions as F

    from clickhousebackup_spark.backup.config import BackupConfig, RetentionPolicy
    from clickhousebackup_spark.backup.queries import integrity_diff
    from clickhousebackup_spark.engine import BackupEngine
    from clickhousebackup_spark.tables import load_table, table_rows_metadata

    spark, tr, args = run.spark, run.tracer, run.args
    roots = {r: os.path.join(run.run_dir, "backups", r) for r in ("full", "incremental")}
    engines = {}
    for r, path in roots.items():
        os.makedirs(path)
        engines[r] = BackupEngine(spark, BackupConfig(
            host="perfbench", dbs="db0", user="perfbench", password="perfbench", backup_dir=path,
            retention=RetentionPolicy(**workload.RETENTION),
        ))
    full, incr = engines["full"], engines["incremental"]
    tables = {
        "orders": (load_table(spark, run.sf_dir, "orders"), "o_orderkey"),
        "lineitem": (load_table(spark, run.sf_dir, "lineitem"), "l_orderkey"),
    }
    table_rows = {t: table_rows_metadata(run.sf_dir, t) for t in tables}
    table_bytes = {t: os.path.getsize(os.path.join(run.sf_dir, f"{t}.parquet")) for t in tables}
    slices = workload.backup_slices(args.seed, table_rows["orders"])
    counts = run.extra.setdefault("backup", {
        "files_written": [], "bytes_written": [], "write_amp": [], "useful_row_ratio": [],
        "paths_deleted": [], "bytes_read": [], "user_bytes": [],
    })
    prev_rows = 0
    new_rows = None

    def snapshot_dirs(root: str) -> set[str]:
        d = os.path.join(root, "db0")
        return set(os.listdir(d)) if os.path.isdir(d) else set()

    def cycle(c: int) -> None:
        nonlocal prev_rows, new_rows
        new_rows = None
        now = workload.clock(c)
        src = {t: df.filter(slices.predicate(col, c)) for t, (df, col) in tables.items()}
        batch = {"db0": src}

        files0, bytes0 = measure.file_count(roots["full"]), measure.tree_bytes(roots["full"])
        op = timed_op(run, Op(f"{c}:backup", "backup", c), lambda: _call(tr, "engine.run_backup", full.run_backup, batch, now=now))
        if op.ok:
            rows = {res.table: res.n_rows for res in op.result}
            user = sum(table_bytes[t] * rows[t] / table_rows[t] for t in rows)
            written = measure.tree_bytes(roots["full"]) - bytes0
            counts["files_written"].append(measure.file_count(roots["full"]) - files0)
            counts["bytes_written"].append(written)
            counts["user_bytes"].append(user)
            counts["write_amp"].append(written / user)
            new_rows, prev_rows = sum(rows.values()) - prev_rows, sum(rows.values())
        op = timed_op(run, Op(f"{c}:backup_incr", "backup_incr", c), lambda: _call(tr, "engine.run_incremental", incr.run_incremental, batch, now=now))
        if op.ok and new_rows is not None:
            written = sum(res.n_rows for res in op.result)
            counts["useful_row_ratio"].append(new_rows / written if written else 1.0)

        before = snapshot_dirs(roots["full"])

        def prune():
            with tr.span("engine.retention_plan"):
                plan = full.retention_plan()
            with tr.span("engine.prune"):
                full.prune(plan, apply=True)

        timed_op(run, Op(f"{c}:prune", "prune", c), prune)
        counts["paths_deleted"].append(len(before - snapshot_dirs(roots["full"])))

        # the restore step, one op: restore (A) and restore_incremental (B)
        # of every table, each forced
        frames = {}

        def restore_all():
            out = {}
            for root, restore in (("full", full.restore), ("incremental", incr.restore_incremental)):
                for t in tables:
                    def build(root=root, restore=restore, t=t):
                        frames[root, t] = restore("db0", t)
                        return frames[root, t]

                    out[root, t] = forced_frame(tr, build)
            return out

        op = timed_op(run, Op(f"{c}:restore", "restore", c), restore_all)
        if not op.ok:
            return
        # verification, outside the timed op: every restored table against
        # its source slice, all diffs in one action
        counts["bytes_read"].append(sum(
            os.path.getsize(p.removeprefix("file:")) for df in frames.values() for p in df.inputFiles()
        ))
        diffs = [
            integrity_diff(src[t], df).select(*[F.col(n).alias(f"{n}_{i}") for n in DIFF_COLS])
            for i, ((_, t), df) in enumerate(frames.items())
        ]
        t0 = time.perf_counter()
        with tr.span("check", op.id):
            row = functools.reduce(lambda a, b: a.crossJoin(b), diffs).collect()[0]
        run.phases["in_cycle_checks"] = run.phases.get("in_cycle_checks", 0.0) + time.perf_counter() - t0
        for i, (root, t) in enumerate(frames):
            d = {n: row[f"{n}_{i}"] for n in DIFF_COLS}
            if d["n_missing"] or d["n_extra"] or d["n_source"] != d["n_restored"] or op.result[root, t][0] != d["n_source"]:
                op.ok = False
                run.checks_failed.append(f"{op.id}:{root}:{t}: restored rows differ from the source slice: {d}")

    cycles = run.warm_passes() + 1
    for c in range(cycles):
        cycle(c)
        if c == 0:
            run.phase("first")
    run.measured()
    run.phase("warm")

    # end-of-run state of both roots, outside timing; the newest
    # restorable state is the last cycle's slice, which its backup wrote
    last_backup_ok = any(o.ok for o in run.ops if o.id == f"{cycles - 1}:backup")
    newest_user_bytes = counts["user_bytes"][-1] if last_backup_ok else 0.0
    stored = measure.tree_bytes(*roots.values())
    state = run.extra["backup_state"] = {
        "stored_bytes_per_user_byte": stored / newest_user_bytes if newest_user_bytes else 0.0,
    }
    if tr.enabled:  # catalog counts are per-layer metrics: Spark jobs only the traced run pays
        with tr.span("check", "backup-state"):
            cat_rows = sum(e.catalog().count() for e in engines.values())
            chain = [
                incr.catalog().filter(F.col("table_name") == t).select("path").distinct().count()
                for t in tables
            ]
        state.update(
            catalog_rows_per_cycle=cat_rows / cycles,
            catalog_files_per_cycle=sum(measure.file_count(e.catalog_path) for e in engines.values()) / cycles,
            chain_len=sum(chain) / len(chain),
        )
    run.phase("checks")


def _call(tr: Tracer, span: str, fn, *a, **kw):
    with tr.span(span):
        return fn(*a, **kw)


# ---------------------------------------------------------------- metrics


BACKUP_KINDS = ("backup", "backup_incr", "prune", "restore")


def end_to_end(run: Run) -> dict:
    warm = run.warm_ops()
    warm_ok = [o for o in warm if o.ok]
    return {
        "setup_s": (measure.median(s["total_s"] for s in run.setups), "s"),
        "first_pass_s": (sum(o.wall_s for o in run.ops if o.pass_no == 0), "s"),
        "ops_per_s": (len(warm_ok) / sum(o.wall_s for o in warm), "1/s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }


def backup_report(run: Run) -> dict:
    """Per-op-type warm latency of backup-cycle and its storage
    amplification; 0 on the query workloads."""
    warm = run.warm_ops()
    out = {
        f"{kind}_p50_s": measure.median([o.wall_s for o in warm if o.kind == kind] or [0.0])
        for kind in BACKUP_KINDS
    }
    out["stored_bytes_per_user_byte"] = run.extra.get("backup_state", {}).get("stored_bytes_per_user_byte", 0.0)
    return out


def extra_report(run: Run) -> dict:
    """Metrics printed to stderr and kept in the record, not in the JSON
    line: the median op latency, the p90 where the sample supports it,
    failed_ratio, and on backup-cycle the per-op-type latency and
    storage amplification."""
    warm = run.warm_ops()
    out = {
        "warm_ops": len(warm),
        "op_p50_s": measure.median(o.wall_s for o in warm),
        "op_p90_s": measure.percentile([o.wall_s for o in warm], 90),
        "failed_ratio": sum(not o.ok for o in run.ops) / len(run.ops),
        "setup_cold_s": run.setups[0]["total_s"],
    }
    if run.args.workload == "backup-cycle":
        out.update(backup_report(run))
    return out


def per_layer(run: Run) -> dict:
    tr = run.tracer
    warm = run.warm_ops()

    def spans(name):
        return [s for o in warm for s in o.spans if s.name == name]

    def med(xs, default=0.0):
        xs = list(xs)
        return measure.median(xs) if xs else default

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    construct = spans("operators.construct")
    op_spans = [o.spans for o in warm]
    jobs = [sum(s.jobs for s in ss) for ss in op_spans]
    stages = [sum(s.stages for s in ss) for ss in op_spans]
    tasks = [sum(s.tasks for s in ss) for ss in op_spans]
    # an op's name is its id without the pass: the key, or the backup step
    by_name: dict[str, list[float]] = {}
    for o in warm:
        by_name.setdefault(o.id.split(":", 1)[1], []).append(o.wall_s)
    first = {o.id.split(":", 1)[1]: o.wall_s for o in run.ops if o.pass_no == 0}
    m = {
        **{
            f"{name}_s": (med(s[name] for s in run.setups), "s")
            for name in ("session.get_spark", "registry.all_specs", "tables.load_table", "setup.warmup")
        },
        "operators.construct_s": (med(s.self_s for s in construct), "s"),
        "operators.construct_jobs": (mean(s.jobs for s in construct), "count"),
        "plans.plan_s": (med(s.self_s for s in spans("plans.plan")), "s"),
        "exec.execute_s": (med(s.self_s for s in spans("exec.execute")), "s"),
        "exec.jobs": (mean(jobs), "count"),
        "exec.stages": (mean(stages), "count"),
        "exec.tasks": (mean(tasks), "count"),
        "exec.tasks_per_stage": (sum(tasks) / max(1, sum(stages)), "ratio"),
        "exec.tasks_failed": (sum(s.tasks_failed for o in run.ops for s in o.spans), "count"),
        "exec.first_over_warm": (med(first[k] / measure.median(v) for k, v in by_name.items() if k in first), "ratio"),
        "exec.jobs_unattributed": (run.extra.get("jobs_unattributed", 0), "count"),
        "session.conf_leaks": (sum(o.conf_leaks for o in run.ops), "count"),
        "trace.bookkeeping_s": (tr.bookkeeping_s / len(run.ops), "s"),
    }
    b = run.extra.get("backup", {})
    st = run.extra.get("backup_state", {})

    def kind_jobs(kind):
        return mean(sum(s.jobs for s in o.spans) for o in warm if o.kind == kind)

    m.update({
        "engine.catalog_rows": (st.get("catalog_rows_per_cycle", 0.0), "count"),
        "engine.catalog_files": (st.get("catalog_files_per_cycle", 0.0), "count"),
        "backup.jobs": (kind_jobs("backup"), "count"),
        "backup.files_written": (mean(b.get("files_written", [])), "count"),
        "backup.bytes_written": (mean(b.get("bytes_written", [])), "bytes"),
        "backup.write_amp": (mean(b.get("write_amp", [])), "ratio"),
        "backup_incr.useful_row_ratio": (mean(b.get("useful_row_ratio", [])), "ratio"),
        "backup_incr.chain_len": (st.get("chain_len", 0.0), "count"),
        "prune.jobs": (kind_jobs("prune"), "count"),
        "prune.paths_deleted": (mean(b.get("paths_deleted", [])), "count"),
        "restore.jobs": (kind_jobs("restore"), "count"),
        "restore.bytes_read": (mean(b.get("bytes_read", [])), "bytes"),
    })
    m.update({
        k: (v, "ratio" if k == "stored_bytes_per_user_byte" else "s") for k, v in backup_report(run).items()
    })
    return m


# ---------------------------------------------------------------- box record


def box_record(run: Run) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env, capture_output=True, text=True, timeout=10,
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    jvm = run.spark.sparkContext._jvm.System
    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": DRIVER_MEMORY,
        "spark": pyspark.__version__,
        "java": jvm.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "commit": commit,
        "seed": run.args.seed,
        "floor_probe_s": floor_probe(run.spark),
    }


# ---------------------------------------------------------------- main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the warm phase at the nominal pace")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(run: Run) -> None:
    for i in range(SETUP_REPEATS):
        run.setups.append(setup_once(run, first=(i == 0)))
    run.jvm_pid = run.spark.sparkContext._gateway.proc.pid
    run.tracer.attach(run.spark)
    run.extra["box"] = box_record(run)
    run.phase("setup")
    tr = run.tracer
    if tr.enabled:
        mark, first_span = tr.job_mark(), len(tr.spans)
    if run.args.workload == "backup-cycle":
        run_backup_cycles(run)
    else:
        run_queries(run)
    if tr.enabled:
        run.extra["jobs_unattributed"] = tr.unattributed_jobs(mark, first_span)


def main(argv=None) -> int:
    args = parse_args(argv)
    os.makedirs(STATE_DIR, exist_ok=True)
    run_dir = os.path.join(STATE_DIR, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    load_start = os.getloadavg()[0]
    run = None
    try:
        t0 = time.perf_counter()
        sf = workload.SCALE[args.workload]
        sf_dir = datagen.generate(os.path.join(run_dir, "data"), sf, DATA_SEED)
        measure.reset_peak_rss()  # peak_rss_mb is the program's, not the generator's
        isolate(run_dir)
        run = Run(args=args, run_dir=run_dir, sf_dir=sf_dir, tracer=Tracer(bool(args.trace)))
        run.phases["datagen"] = time.perf_counter() - t0
        execute(run)
        return report(run, load_start)
    finally:
        if run is not None and run.spark is not None:
            shutdown(run.spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def report(run: Run, load_start: float) -> int:
    args = run.args
    e2e = end_to_end(run)
    layers = per_layer(run) if run.tracer.enabled else {}
    extra = extra_report(run)
    failed = sum(not o.ok for o in run.ops)
    correct = failed == 0 and not run.checks_failed
    box = run.extra["box"]
    box.update(load1_start=load_start, load1_end=os.getloadavg()[0])
    for o in run.ops:
        if not o.ok:
            print(f"# FAILED op {o.id}: {o.error or 'wrong result'}", file=sys.stderr)
    for line in run.checks_failed:
        print(f"# CHECK FAILED {line}", file=sys.stderr)
    print(f"# box: {json.dumps(box)}", file=sys.stderr)
    print(f"# phases: {json.dumps({k: round(v, 2) for k, v in run.phases.items()})}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {len(run.ops)} ops, "
          f"{extra['warm_ops']} warm, {failed} failed", file=sys.stderr)
    for name, (v, unit) in {**e2e, **layers}.items():
        print(f"#   {name:32s} {v:14.6f} {unit}", file=sys.stderr)
    for name, v in extra.items():
        if v is not None:
            unit = "s" if name.endswith("_s") else "count" if name == "warm_ops" else "ratio"
            print(f"#   {name:32s} {v:14.6f} {unit}", file=sys.stderr)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "seconds": args.seconds,
        "correct": correct, "attempted": len(run.ops), "failed": failed,
        "metrics": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in layers.items()},
        "extra": extra, "box": box, "keys": run.extra.get("keys"), "setups": run.setups,
        "ops": [[o.id, o.wall_s, o.ok] for o in run.ops], "phases": run.phases,
    }
    with open(os.path.join(STATE_DIR, "results.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    if run.tracer.enabled:
        os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
        run.tracer.write(os.path.join(STATE_DIR, "traces", f"{args.workload}-seed{args.seed}.json"))
    shown = layers if run.tracer.enabled else e2e
    print(json.dumps({
        "correct": correct,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
