"""Benchmark runner: one workload, one process, closed loop, one client.

    python3 perfbench/run.py --workload cdm_etl --seed 1 --seconds 1 --trace 0

Generates the workload's inputs from ``--seed`` in a scratch directory
inside the checkout (removed at exit), starts one Spark session on
``local[nproc]`` and drives the entry points users reach: ``cli.main``
verbs (``--run-etl``, ``--data-quality``, ``--achilles``) and a
``plans.catalog`` query function.  Passes repeat until ``--seconds``
have been measured; each pass's output is checked outside the timed
region and a failed check counts as a failed operation.

The first pass of a run is timed cold, in the state a user's CLI
invocation starts from: the session is up, nothing has run in it.  On
a 4-vCPU host that pass costs 17-20 s more than a warm one; a warm-up
pass per run would double the run's length.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` traces the
same cold pass and prints the per-layer metrics; ``trace.wall_s`` is
its wall time, to set against ``wall_s`` of an untraced run of the same
seed, and ``trace.overhead_s`` the time spent in the tracer's own code.
The spans go to ``perfbench/out/``.

The last stdout line is the JSON result; the line before it is the run
record: host facts, every pass with its counters, and the exact
counters that moved between passes.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "rabbit_in_a_blender_spark"
NPROC = len(os.sched_getaffinity(0))

# Persons in the generated cohort (~23 source rows each).  Per-job
# scheduling, not data, dominates the CLI verbs at this size.
N_PERSONS = 1000
# OMOP tables the quality verbs read.  visit_occurrence would add ~8 s
# to a cold pass (4 vCPUs); without it a run stays under a minute.
QUALITY_TABLES = ("person", "measurement")
# Catalog rows run after the quality verbs: q5_region_revenue reads six
# tables, each with a schema-inference job at plan build.  Its input is
# fixed: the oracle hash was proven on it, and the workload seed does
# not apply to it.
CATALOG_SEED = 42
CATALOG_ROWS = ("q5_region_revenue",)
CATALOG_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
# DQD summary over the generated OMOP zone.  The failing checks are
# structural (concept ids absent from the empty vocabulary, CDM tables
# the zone does not hold), so the summary is the same for every seed
# (checked on seeds 1-12).
DQD_REFERENCE = {"checks": 168, "failed_checks": 39}
# Exact counters that must not move between passes of one run.
REPEAT_COUNTERS = ("spark.jobs", "spark.tasks", "spark.input_rows", "dqd.checks")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> list[int]:
    kids = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for task in tasks:
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                kids += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return kids


def descendant_pids(pid: int) -> list[int]:
    out, todo = [], child_pids(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += child_pids(p)
    return out


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its largest child, the JVM."""
    me = os.getpid()
    kids = child_pids(me)
    return (_vm_hwm_kb(me) + max((_vm_hwm_kb(k) for k in kids), default=0)) / 1024.0


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the Spark JVM and every process under it, and wait for each
    to end.

    ``spark.stop()`` leaves the JVM running: it exits once its stdin
    closes, and then takes about a second to tear down.  Without this
    wait it would outlive the run, reparented to init."""
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    others = [p for p in descendant_pids(os.getpid()) if jvm is None or p != jvm.pid]
    if jvm is not None:
        with contextlib.suppress(OSError):
            jvm.stdin.close()
        try:
            jvm.wait(timeout)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    # Python workers under the JVM: the JVM stops them as it exits
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + timeout / 2
        for p in others:
            if _alive(p):
                with contextlib.suppress(OSError):
                    os.kill(p, sig)
        while any(_alive(p) for p in others) and time.monotonic() < deadline:
            time.sleep(0.05)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {
        "nproc": NPROC,
        "loadavg_start": os.getloadavg(),
        "cpu_steal_s_start": cpu_steal_s(),
        "git_sha": sha,
        "package_sha256": h.hexdigest()[:16],
        "python": platform.python_version(),
    }


def configure_env(work: str) -> None:
    """Environment the engine and its Spark Python workers need."""
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(NPROC)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    # spark-submit's launcher JVM: no hsperfdata file in the system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_spark(work: str):
    from rabbit_in_a_blender_spark.core.session import get_spark

    spark = get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                         "-XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def call_cli(argv: list[str]) -> tuple[int, str]:
    """``cli.main`` as a user invokes it; returns (exit code, stdout).

    An exception escaping the verb is a failed operation, not the end of
    the run: it comes back as exit code -1 with the error as the last
    stdout line."""
    from rabbit_in_a_blender_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        try:
            rc = cli.main(argv)
        except SystemExit as e:
            rc = e.code if isinstance(e.code, int) else 1
        except Exception as e:  # noqa: BLE001 - reported as the verb's failure
            rc = -1
            print(f"{type(e).__name__}: {str(e)[:300]}")
    return rc, buf.getvalue()


def verb_failure(verb: str, rc: int, out: str) -> str:
    last = out.strip().splitlines()[-1] if out.strip() else ""
    return f"{verb} raised {last}" if rc == -1 else f"{verb} exited {rc}"


# -- workloads ---------------------------------------------------------------

class Pass:
    """One pass: its wall time, operations, counters and per-layer figures."""

    def __init__(self, index: int, traced: bool):
        self.index = index
        self.traced = traced
        self.wall = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.spark: dict[str, float] = {}
        self.jobs: list[dict] = []


class CdmEtl:
    """``--run-etl`` from the convention tree into a fresh pointer-mode
    warehouse; one operation per pass."""

    name = "cdm_etl"

    def setup(self, ctx) -> None:
        import gen

        cohort = gen.cdm_cohort(ctx.seed, N_PERSONS)
        self.inputs = os.path.join(ctx.work, "inputs")
        gen.write_etl_inputs(cohort, self.inputs)
        self.expected = cohort.expected()
        self.rows = self.expected["source_rows"]

    def run(self, ctx, p: Pass) -> None:
        self.wh = os.path.join(ctx.work, f"wh-{p.index}")
        ini = os.path.join(ctx.work, f"riab-{p.index}.ini")
        with open(ini, "w") as f:
            f.write(f"[warehouse]\nroot = {self.wh}\ncommit_mode = pointer\n"
                    f"[raw]\npath = {os.path.join(self.inputs, 'raw')}\n")
        t = time.perf_counter()
        self.rc, self.out = call_cli(["--config", ini, "--run-etl",
                                      os.path.join(self.inputs, "etl")])
        p.wall = time.perf_counter() - t
        p.attempted = 1

    def check(self, ctx, p: Pass) -> None:
        import checks

        bad = ([verb_failure("--run-etl", self.rc, self.out)] if self.rc != 0
               else checks.check_etl(self.wh, self.expected))
        # the step table the CLI prints: "<step> <sec> <in_rows> <out_rows> <out_bytes>"
        steps = re.findall(r"^(stage\d:\S+|invalidate_stale_mappings|seal_transaction)\s+"
                           r"([\d.]+)", self.out, re.M)
        p.layer["etl.step_sum_s"] = sum(float(s) for _, s in steps)
        p.layer["etl.overlap"] = p.layer["etl.step_sum_s"] / p.wall
        p.layer["etl.stage2_s"] = sum(float(s) for n, s in steps if n.startswith("stage2:"))
        if not bad:
            omop_bytes = sum(
                os.path.getsize(os.path.join(d, f))
                for t in self.expected["rows"]
                for d, _, files in os.walk(checks.table_dir(self.wh, "omop", t))
                for f in files if f.endswith(".parquet")
            )
            p.layer["warehouse.bytes_per_row"] = omop_bytes / sum(self.expected["rows"].values())
        shutil.rmtree(self.wh, ignore_errors=True)
        p.failures += bad
        p.failed = int(bool(bad))


class CdmQuality:
    """``--data-quality`` then ``--achilles`` over a generated OMOP zone,
    then one catalog row; three operations per pass."""

    name = "cdm_quality"

    def setup(self, ctx) -> None:
        import checks
        import gen
        from rabbit_in_a_blender_spark.plans import catalog

        cohort = gen.cdm_cohort(ctx.seed, N_PERSONS)
        self.wh = os.path.join(ctx.work, "wh")
        gen.write_omop_zone(cohort, self.wh, QUALITY_TABLES)
        self.n_persons = cohort.n_persons
        self.rows = sum(cohort.expected()["rows"][t] for t in QUALITY_TABLES)
        self.ini = os.path.join(ctx.work, "riab.ini")
        with open(self.ini, "w") as f:
            f.write(f"[warehouse]\nroot = {self.wh}\n")
        self.fixture = os.path.join(ctx.work, "fixture")
        gen.write_catalog_inputs(self.fixture, CATALOG_SEED)
        self.queries = [catalog.get(n) for n in CATALOG_ROWS]
        self.oracle = checks.oracle_connection(self.fixture, CATALOG_TABLES)

    def run(self, ctx, p: Pass) -> None:
        # every pass starts from the bare OMOP zone, as a first run does
        for zone in ("dqd", "achilles"):
            shutil.rmtree(os.path.join(self.wh, zone), ignore_errors=True)
        t0 = time.perf_counter()
        self.dqd_rc, self.dqd_out = call_cli(["--config", self.ini, "--data-quality"])
        t1 = time.perf_counter()
        self.ach_rc, self.ach_out = call_cli(["--config", self.ini, "--achilles"])
        t2 = time.perf_counter()
        # Each row's result (a few dozen rows) is collected, not sent to
        # the noop sink, so the rows checked are the rows timed.
        self.results = []
        for q in self.queries:
            t = time.perf_counter()
            df = rows = error = None
            try:
                with ctx.span(f"catalog.plan:{q.name}"):
                    df = q.fn(ctx.spark, self.fixture)
                with ctx.span(f"catalog.exec:{q.name}"):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failed row is a failed operation
                error = f"{q.name}: {type(e).__name__}: {str(e)[:300]}"
            p.layer[f"catalog.{q.name}.s"] = time.perf_counter() - t
            self.results.append((q, df, rows, error))
        p.wall = time.perf_counter() - t0
        p.attempted = 2 + len(self.queries)
        p.layer.update({"dqd_s": t1 - t0, "achilles_s": t2 - t1})

    def check(self, ctx, p: Pass) -> None:
        import checks

        dqd = checks.check_dqd(self.dqd_rc, self.dqd_out, DQD_REFERENCE)
        ach = ([verb_failure("--achilles", self.ach_rc, self.ach_out)] if self.ach_rc != 0
               else checks.check_achilles(self.wh, self.n_persons))
        rows_failed = 0
        for q, df, rows, error in self.results:
            bad = [error] if error else [f"{q.name}: {b}" for b in checks.check_catalog_row(
                self.oracle, q.oracle, df.columns, [r.asDict() for r in rows])]
            for c in getattr(df, "_graft_cached", []):
                c.unpersist()
            p.failures += bad
            rows_failed += int(bool(bad))
        counts = checks.dqd_counts(self.dqd_out)
        if counts:
            p.layer["dqd.checks"], p.layer["dqd.failed_checks"] = counts
            p.layer["dqd.ms_per_check"] = 1e3 * p.layer["dqd_s"] / max(counts[0], 1)
        if not ach:
            p.layer["achilles.result_rows"] = checks.achilles_rows(self.wh)
        p.failures += dqd + ach
        p.failed = int(bool(dqd)) + int(bool(ach)) + rows_failed


WORKLOADS = {w.name: w for w in (CdmEtl, CdmQuality)}


# -- tracing -----------------------------------------------------------------

# Spans whose jobs build a plan (schema inference, eager lookups) rather
# than execute a verb's or a row's result.
PLAN_SPANS = ("catalog.plan:", "folders.", "mapping.", "io.", "warehouse.read")


def install_tracer(tracer) -> None:
    """Wrap the layers' public functions, each where it is looked up."""
    import importlib

    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    def mod(name):
        return importlib.import_module(f"{PACKAGE}.{name}")

    # import every module that looks the targets up before patching
    for m in ("cli", "folders", "pipeline.etl", "plans.catalog"):
        mod(m)
    mod("plans.catalog")._load()
    tracer.wrap_function(mod("cli"), "main", "cli.main")
    tracer.wrap_function(mod("folders"), "load_table_inputs", "folders.load_table_inputs")
    for m, names in {
        "mapping.usagi": ("read_usagi_csv", "apply_usagi", "duplicate_mappings",
                          "approved_mappings"),
        "mapping.swap": ("swap_merge", "apply_pk_swap", "apply_fk_swaps"),
        "mapping.events": ("resolve_event_columns", "discover_event_tables"),
        "mapping.custom_concepts": ("assign_custom_concept_ids", "duplicate_concept_codes",
                                    "validate_custom_concepts"),
        "operators.dedup": ("dedup_keep_first",),
        "operators.aggregates": ("duplicate_groups",),
        "operators.joins": ("merge_upsert", "polymorphic_resolve"),
    }.items():
        for n in names:
            tracer.wrap_function(mod(m), n, f"{m.split('.')[0]}.{n}")
    tracer.wrap_method(Warehouse, "write", "warehouse.write")
    tracer.wrap_method(Warehouse, "read", "warehouse.read")
    commit = mod("core.commit")
    for cls in (commit._LocalFS, commit._HadoopFS):
        for attr, value in list(vars(cls).items()):
            if callable(value) and not attr.startswith("_"):
                tracer.wrap_method(cls, attr, "commit.fs_call", count_only=True)
    tracer.wrap_function(mod("quality.dqd_sweep"), "run_sweep", "dqd.run_sweep")
    tracer.wrap_function(mod("quality.achilles_catalog"), "run_catalog", "achilles.run_catalog")
    tracer.wrap_function(mod("core.io"), "load_tables", "io.load_tables")


def span_layers(tracer, p: Pass) -> dict[str, float]:
    """Per-layer figures of one traced pass."""
    from spans import self_times, total

    spans = tracer.pass_spans(p.index)
    out = {
        "folders.load_inputs_s": total(spans, "folders.")[0],
        "warehouse.read_s": total(spans, "warehouse.read")[0],
        "commit.fs_calls": tracer.pass_count(p.index, "commit.fs_call"),
        "io.load_tables_s": total(spans, "io.")[0],
        "catalog.plan_build_s": total(spans, "catalog.plan:")[0],
        "catalog.exec_s": total(spans, "catalog.exec:")[0],
    }
    out["mapping.plan_s"], out["mapping.calls"] = total(spans, "mapping.")
    out["operators.plan_s"], out["operators.calls"] = total(spans, "operators.")
    out["warehouse.write_s"], out["warehouse.writes"] = total(spans, "warehouse.write")
    by_id = {s.id: s for s in spans}
    for key, inner in (("dqd", "dqd.run_sweep"), ("achilles", "achilles.run_catalog")):
        inside = [s for s in spans if s.name == inner]
        verbs = {s.parent for s in inside if s.parent in by_id}
        verb_s = sum(by_id[v].end - by_id[v].start for v in verbs)
        out[f"{key}.plan_s"] = sum(s.end - s.start for s in inside)
        out[f"{key}.exec_s"] = verb_s - out[f"{key}.plan_s"]
    own = self_times(spans)
    out["cli.self_s"] = sum(own[s.id] for s in spans if s.name == "cli.main")
    plan = [(s.start, s.end) for s in spans if s.name.startswith(PLAN_SPANS)]
    out["spark.plan_build_jobs"] = sum(
        1 for j in p.jobs
        if j.get("submissionTime") is not None
        and any(a <= j["submissionTime"] / 1e3 <= b for a, b in plan)
    )
    return out


def jobs_by_step(tracer, p: Pass) -> dict[str, int]:
    """Jobs per ETL step (its ``riab:<step>`` job group), else per the
    innermost span open at the job's submission."""
    spans = tracer.pass_spans(p.index)
    out: dict[str, int] = {}
    for j in p.jobs:
        key = j.get("jobGroup") or ""
        if not key.startswith("riab:"):
            ts = (j.get("submissionTime") or 0) / 1e3
            open_ = [s for s in spans if s.start <= ts <= s.end]
            key = max(open_, key=lambda s: s.start).name if open_ else "(none)"
        out[key] = out.get(key, 0) + 1
    return out


# -- runner ------------------------------------------------------------------

class Context:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None

    def span(self, name):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


def run_pass(ctx, wl, store, index: int, traced: bool) -> Pass:
    import sparkstats

    p = Pass(index, traced)
    if ctx.tracer:
        ctx.tracer.pass_id = index
    floor = store.floor()
    wl.run(ctx, p)
    p.jobs, stages = store.since(floor, store.floor())
    p.spark = sparkstats.counters(p.jobs, stages)
    wl.check(ctx, p)
    return p


def moved_counters(passes: list[Pass]) -> dict[str, list]:
    vals: dict[str, list] = {}
    for p in passes:
        merged = {**p.spark, **p.layer}
        for k in REPEAT_COUNTERS:
            if k in merged:
                vals.setdefault(k, []).append(merged[k])
    return {k: v for k, v in vals.items() if len(set(v)) > 1}


def load_metric_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    facts = host_facts()
    work = tempfile.mkdtemp(prefix=".work-", dir=HERE)
    try:
        return _run(args, work, facts)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, facts: dict) -> int:
    import compileall

    configure_env(work)
    import sparkstats

    # The verbs import modules lazily: compile them now, so the first run
    # in a fresh checkout does not time bytecode compilation.
    compileall.compile_dir(os.path.join(ROOT, PACKAGE), quiet=1)

    spec = load_metric_spec()
    ctx = Context(args.seed, work)
    wl = WORKLOADS[args.workload]()
    wl.setup(ctx)
    passes: list[Pass] = []
    try:
        ctx.spark = start_spark(work)
        store = sparkstats.StatusStore(ctx.spark)
        facts["spark"] = ctx.spark.version
        setup_s = time.perf_counter() - T_START
        if args.trace:
            from spans import Tracer

            ctx.tracer = Tracer()
            install_tracer(ctx.tracer)
        t0 = time.perf_counter()
        while not passes or time.perf_counter() - t0 < args.seconds:
            passes.append(run_pass(ctx, wl, store, len(passes) + 1, bool(args.trace)))
        rss = peak_rss_mb()
    finally:
        if ctx.tracer:
            ctx.tracer.uninstall()
        try:
            if ctx.spark is not None:
                ctx.spark.stop()
        finally:
            stop_processes()
    facts["loadavg_end"] = os.getloadavg()
    facts["cpu_steal_s"] = cpu_steal_s() - facts.pop("cpu_steal_s_start")

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    moved = moved_counters(passes)
    wall = _median([p.wall for p in passes])
    record = {
        "workload": args.workload, "seed": args.seed, "host": facts, "setup_s": setup_s,
        "passes": [{"index": p.index, "traced": p.traced, "wall_s": p.wall,
                    "failures": p.failures, "spark": p.spark, "layer": p.layer}
                   for p in passes],
        "moved_counters": moved,
    }
    if args.trace:
        record["jobs_by_step"] = {p.index: jobs_by_step(ctx.tracer, p) for p in passes}
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                        {k: record[k] for k in ("workload", "seed", "jobs_by_step")})
        per_pass = []
        for p in passes:
            v = {**p.spark, **p.layer, **span_layers(ctx.tracer, p)}
            v["driver.gap_s"] = p.wall - p.spark["spark.job_busy_s"]
            v["spark.core_busy_ratio"] = p.spark["spark.executor_run_s"] / (p.wall * NPROC)
            v["trace.wall_s"] = p.wall
            v["trace.overhead_s"] = ctx.tracer.own_s[p.index]
            per_pass.append(v)
        values = {k: _median([v.get(k, 0.0) for v in per_pass]) for k in per_pass[0]}
        values["failed_ratio"] = failed / attempted
        values["repeat.moved_counters"] = len(moved)
        values["peak_rss_mb"] = rss
        entries = spec["per_layer"]
    else:
        values = {"wall_s": wall, "setup_s": setup_s, "rows_per_s": wl.rows / wall}
        entries = spec["end_to_end"]
    metrics = {e["name"]: {"value": float(values.get(e["name"], 0.0)), "unit": e["unit"]}
               for e in entries}
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
