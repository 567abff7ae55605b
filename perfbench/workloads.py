"""The benchmark's workloads: one client in a closed loop.

``catalog``     catalog queries built with ``catalog.QUERIES[name]`` and
                run to a ``noop`` sink, one pass after another, each pass
                in a seeded order.
``cdc_ingest``  a seeded WAL replayed copy-on-write, merge-on-read and as
                a merge-on-read stream, then each final table read in
                full; one such cycle is one pass.

Each workload sets up (inputs, session, warm-up), checks its outputs
outside the timed region, then measures passes for the run's seconds.
A traced run alternates untraced and traced passes: the traced ones give
the per-layer numbers. The tracing overhead is the calibrated cost of an
empty span times the spans one traced pass opens.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from . import check, datagen, host
from .trace import JobClock, Tracer

# A subset of the repository's headline queries, small enough that a run
# fits its time budget: relational join/aggregate/window paths including
# the FEC pipeline analog, and the near-dup and quantile-sketch paths
# (the latter the only one with a Python boundary).
RELATIONAL = ["q5_local_supplier_volume", "sessionize_gap_windows", "fec_final_support_analog"]
SKETCH = ["minhash_neardup_pairs", "quantile_sketch_rollup"]
NEARDUP = ("minhash_neardup_pairs",)

# catalog inputs: TPC-H scale factor, documents, embedding vectors
SF, N_DOCS, N_VECS = 0.01, 500, 500
# CDC WAL: repos x paths key space with a 30% hot repo and 5% deletes,
# in small epochs so the per-epoch commit cost shows
CDC_REPOS, CDC_PATHS, CDC_HOT, CDC_DELETES = 200, 500, 0.3, 0.05
CDC_EPOCHS, CDC_EPOCH_EVENTS, CDC_BUCKETS = 2, 2000, 8
CDC_FILES_PER_TRIGGER = 2
CDC_WARM_EPOCHS = 1  # the warm-up WAL: same shape, fewer epochs
INPUT_REPEATS = 3
# A pass takes about the run's seconds, and the run-time budget of the
# whole benchmark (every run of every workload) leaves room for one cold
# round, WARM_PASSES sequential passes and one measured pass. Passes
# still get faster after that (JIT compilation shows in their CPU time);
# the drift line reports it.
MIN_PASSES = 1
WARM_PASSES = 1


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error, with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(label, value) of the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    n = len(xs)
    if n <= 10:
        return None
    k = n - 10
    return f"p{100 * k // n}", sorted(xs)[k - 1]


class Run:
    """State and results of one benchmark run."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, traced: bool, perturb: str | None,
                 on_measure=lambda: None):
        self.on_measure = on_measure  # called as the measured window opens
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.perturb = perturb
        self.work = os.path.join(root, ".perfbench", f"{workload}-s{seed}-p{os.getpid()}")
        self.spark = None
        self.clock: JobClock | None = None
        self.tracer: Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.gate_ok = False
        self.named: dict[str, dict] = {}  # user-visible metrics
        self.layers: dict[str, dict] = {}  # per-layer metrics
        self.setup: dict[str, float] = {}
        self.warm_rounds: list[float] = []
        self.passes: list[float] = []  # untraced pass walls
        self.pass_steal: list[float] = []  # host steal share during each untraced pass
        self.pass_cpu: list[float] = []  # CPU seconds of the process tree in each untraced pass
        self.traced_passes: list[float] = []
        self.pass_jobs: list[tuple[int, int]] = []  # job id range of each untraced pass
        self.live_rdds: list[int] = []
        self.stat0 = host.cpu_stat()  # the set-up window opens here
        self.setup_steal = 0.0

    def fail(self, what: str, reason: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {reason}")

    def name(self, key: str, values, unit: str) -> None:
        values = list(values)
        rec = {"value": median(values), "unit": unit, "n": len(values)}
        t = tail(values)
        if t is not None:
            rec[t[0]] = t[1]
        self.named[key] = rec

    def layer(self, key: str, value, unit: str) -> None:
        self.layers[key] = {"value": value, "unit": unit}

    def after_op(self) -> None:
        """Count the intermediates still registered for release in
        ``operators.caching``, then clear the cache the way the
        repository's bench.py does after every query."""
        from fec_cn_support_etl_spark.operators import caching

        self.live_rdds.append(len(caching._REGISTRY))
        self.spark.catalog.clearCache()

    def start_session(self) -> None:
        t = time.perf_counter()
        self.spark = host.start_spark(self.work)
        self.setup["get_spark_s"] = time.perf_counter() - t
        self.clock = JobClock(self.spark)
        self.tracer = Tracer(f"{self.workload}-s{self.seed}-p{os.getpid()}", self.clock)

    def measure(self, one_pass) -> None:
        """Run passes until the next one would end past the run's
        seconds: at least ``MIN_PASSES`` untraced ones, and in a traced
        run at least one traced one, alternating untraced and traced."""
        self.on_measure()
        self.setup_steal = host.steal_share(self.stat0, host.cpu_stat())
        span_cost = self.tracer.calibrate() if self.traced else 0.0
        t0 = time.perf_counter()
        i = 0
        while True:
            traced = self.traced and i % 2 == 1
            j0, s0, c0 = self.clock.jobs(), host.cpu_stat(), host.tree_cpu_s(os.getpid())
            w = one_pass(i, traced)
            if traced:
                self.traced_passes.append(w)
            else:
                self.passes.append(w)
                self.pass_cpu.append(host.tree_cpu_s(os.getpid()) - c0)
                self.pass_steal.append(host.steal_share(s0, host.cpu_stat()))
                self.pass_jobs.append((j0, self.clock.jobs()))
            i += 1
            enough = len(self.passes) >= MIN_PASSES and (self.traced_passes or not self.traced)
            if enough and time.perf_counter() - t0 + w > self.seconds:
                break
        if self.traced:
            spans = len(self.tracer.closed()) / len(self.traced_passes)
            self.layer("trace.spans_per_pass", int(spans), "count")
            self.layer("trace.span_cost_s", spans * span_cost, "s")

    def session_layers(self) -> None:
        """Per-layer numbers every workload reports."""
        for k in ("get_spark_s", "inputs_s", "warmup_s"):
            self.layer(f"session.{k}", self.setup[k], "s")
        a, b = self.pass_jobs[-1]
        tasks, _ = self.clock.tasks(range(a, b))
        _, failed_tasks = self.clock.tasks(range(self.pass_jobs[0][0], self.clock.jobs()))
        self.layer("session.spark_jobs", b - a, "count")
        self.layer("session.spark_tasks", tasks, "count")
        self.layer("session.failed_tasks", failed_tasks, "count")
        self.layer("operators.caching.live_rdds", max(self.live_rdds, default=0), "count")

    # The host may be a shared virtual machine: when the hypervisor runs
    # other guests (steal time in /proc/stat) wall times stretch. The
    # steal share of each window is printed next to the times as a label;
    # the times themselves are the measured walls.
    def setup_s(self) -> float:
        """Set-up wall time: session start, input generation, warm-up."""
        return self.setup["get_spark_s"] + self.setup["inputs_s"] + self.setup["warmup_s"]

    def pass_s(self) -> float:
        """Median wall time of the untraced passes."""
        return median(self.passes)

    def pass_cpu_s(self) -> float:
        """Median CPU seconds the untraced passes used."""
        return median(self.pass_cpu)


def _per_pass(tr: Tracer, name: str, passes: int) -> tuple[float, int]:
    s, j, _ = tr.totals(name)
    return s / passes, j // passes


# ====================================================================== catalog


def run_catalog(run: Run) -> None:
    from fec_cn_support_etl_spark.plans import analog, catalog
    from fec_cn_support_etl_spark.sources import tpch

    names = RELATIONAL + SKETCH
    data = os.path.join(run.work, "data")
    run.start_session()
    spark = run.spark
    gen = []
    for _ in range(INPUT_REPEATS):
        t = time.perf_counter()
        datagen.write(spark, data, run.seed, SF, N_DOCS, N_VECS)
        gen.append(time.perf_counter() - t)
    run.setup["inputs_s"] = median(gen)
    # oracle answers on the same files
    expected = check.oracle_answers(data, tpch.TABLES, {q: catalog.ORACLE[q] for q in names})
    log("inputs written, oracle answers computed")

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    # --- warm-up: one concurrent round over every query, cold paths
    # first (the sketch queries' cold runs are the longest), collecting
    # the outputs the check compares; then one unmeasured sequential pass
    outputs: dict = {}

    def first(q):
        outputs[q] = catalog.QUERIES[q](spark, data).toPandas()

    t_warm = time.perf_counter()
    with ThreadPoolExecutor(max_workers=host.cores()) as pool:
        futs = {q: pool.submit(first, q) for q in SKETCH + RELATIONAL}
        for q, f in futs.items():
            try:
                f.result()
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                run.attempted += 1
                run.fail(f"warm-up {q}", repr(e))
    spark.catalog.clearCache()
    run.warm_rounds.append(time.perf_counter() - t_warm)

    # --- correctness, outside any timed region
    sample = None
    for q in names:
        if q not in outputs:
            continue
        run.attempted += 1
        got = outputs[q]
        if run.perturb and q == names[0]:
            got = check.perturb(got, run.perturb)
        reason = check.frame_mismatch(got, expected[q])
        if reason:
            run.fail(q, reason)
        elif sample is None and len(got) >= 2:
            sample = got
    run.gate_ok = sample is not None and check.gate_bites(sample)
    log(f"checked {len(outputs)} outputs, {run.failed} failed")

    tr = run.tracer
    per_query: dict[str, list[float]] = {q: [] for q in names}

    def sweep(i: int, traced: bool) -> dict[str, float]:
        """Every query once, in the pass's seeded order; seconds per query."""
        order = list(names)
        random.Random(run.seed * 7919 + i).shuffle(order)
        took = {}
        for q in order:
            t0 = time.perf_counter()
            try:
                if traced:
                    with tr.span(f"query.{q}", harness=True):
                        with tr.span(f"plans.catalog.{q}.build"):
                            df = catalog.QUERIES[q](spark, data)
                        with tr.span(f"plans.catalog.{q}.exec"):
                            sink(df)
                else:
                    sink(catalog.QUERIES[q](spark, data))
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                run.fail(q, repr(e))
            took[q] = time.perf_counter() - t0
            run.attempted += 1
            run.after_op()
        return took

    # --- warm-up, second part: sequential passes, as measured passes run
    for i in range(WARM_PASSES):
        t = time.perf_counter()
        sweep(-1 - i, False)
        run.warm_rounds.append(time.perf_counter() - t)
    run.setup["warmup_s"] = sum(run.warm_rounds)
    log(f"warm-up rounds {[round(x, 2) for x in run.warm_rounds]}")

    # --- measured passes
    def one_pass(i: int, traced: bool) -> float:
        if traced:
            tr.patch(catalog, "load_table", "sources.tpch.load_table")
            tr.patch(analog, "load_table", "sources.tpch.load_table")
        try:
            t_pass = time.perf_counter()
            took = sweep(i, traced)
            wall = time.perf_counter() - t_pass
        finally:
            tr.unpatch_all()
        if not traced:
            for q, dt in took.items():
                per_query[q].append(dt)
        return wall

    run.measure(one_pass)
    log(f"measured passes {[round(x, 2) for x in run.passes]}")
    run.session_layers()
    log("counted jobs and tasks")

    n = len(run.passes)
    run.name("relational_pass_s", [sum(per_query[q][i] for q in RELATIONAL) for i in range(n)], "s")
    run.name("fec_final_s", per_query["fec_final_support_analog"], "s")
    run.name("sketch_pass_s", [sum(per_query[q][i] for q in SKETCH) for i in range(n)], "s")
    run.name("neardup_s", [sum(per_query[q][i] for q in NEARDUP) for i in range(n)], "s")
    for q in names:
        run.name(f"query.{q}_s", per_query[q], "s")
    if run.traced:
        _catalog_layers(run, names)


def _catalog_layers(run: Run, names: list[str]) -> None:
    tr = run.tracer
    passes = max(len(run.traced_passes), 1)
    build_s = exec_s = 0.0
    build_j = exec_j = 0
    for q in names:
        bs, bj = _per_pass(tr, f"plans.catalog.{q}.build", passes)
        es, ej = _per_pass(tr, f"plans.catalog.{q}.exec", passes)
        run.layer(f"plans.catalog.{q}.build_s", bs, "s")
        run.layer(f"plans.catalog.{q}.build_jobs", bj, "count")
        run.layer(f"plans.catalog.{q}.exec_s", es, "s")
        build_s, build_j, exec_s, exec_j = build_s + bs, build_j + bj, exec_s + es, exec_j + ej
    load_s, load_j = _per_pass(tr, "sources.tpch.load_table", passes)
    exec_spans = [s for s in tr.closed() if s["name"].endswith(".exec")]
    run.layer("plans.catalog.build_s", build_s, "s")
    run.layer("plans.catalog.build_jobs", build_j, "count")
    run.layer("plans.catalog.exec_s", exec_s, "s")
    run.layer("plans.catalog.exec_jobs", exec_j, "count")
    run.layer("plans.catalog.exec_tasks", sum(run.clock.tasks(tr.job_ids(s))[0] for s in exec_spans) // passes,
              "count")
    run.layer("sources.tpch.load_table_s", load_s, "s")
    run.layer("sources.tpch.load_table_jobs", load_j, "count")
    # the same numbers under the role names every workload reports
    run.layer("layer.build_s", build_s, "s")
    run.layer("layer.build_jobs", build_j, "count")
    run.layer("layer.execute_s", exec_s, "s")
    run.layer("layer.execute_jobs", exec_j, "count")
    run.layer("layer.storage_s", load_s, "s")
    _self_times(run, passes, {
        "harness": lambda n: n.startswith("query."),
        "plans.catalog": lambda n: n.endswith(".build"),
        "sink": lambda n: n.endswith(".exec"),
        "sources.tpch": lambda n: n == "sources.tpch.load_table",
    })


def _self_times(run: Run, passes: int, layers: dict) -> None:
    """Per-pass self time of each layer, from the spans its names match."""
    selfs = run.tracer.self_times()
    for layer, match in layers.items():
        run.layer(f"self.{layer}_s", sum(v for k, v in selfs.items() if match(k)) / passes, "s")


# ====================================================================== cdc


def _wal(spark, wal_dir: str, seed: int, epochs: int) -> None:
    from fec_cn_support_etl_spark.cdc import events

    df = events.gen_change_events(
        spark, epochs * CDC_EPOCH_EVENTS, n_repos=CDC_REPOS, n_paths=CDC_PATHS, epochs=epochs,
        hot_fraction=CDC_HOT, delete_ratio=CDC_DELETES, seed=seed,
    )
    events.write_wal(df, wal_dir)


def _cycle(run: Run, wal: str, out: str, traced: bool, concurrent: bool = False) -> dict:
    """One pass: COW replay, MOR replay, streamed MOR, then full reads
    of the two replayed tables. ``concurrent`` runs the three writes side
    by side and then the two reads (warm-up only)."""
    from fec_cn_support_etl_spark.cdc import runner
    from fec_cn_support_etl_spark.cdc.table import LakeTable
    from fec_cn_support_etl_spark.streaming.pipeline import stream_cdc_ingest

    spark, tr = run.spark, run.tracer
    res: dict = {"traced": traced, "tables": {k: os.path.join(out, k) for k in ("cow", "mor", "stream")}}

    def replay(mode):
        summary = runner.replay(spark, wal, res["tables"][mode], n_buckets=CDC_BUCKETS, mode=mode,
                                log=lambda *_: None)
        res["events"] = summary["events"]

    def stream():
        table = runner.open_or_create(spark, res["tables"]["stream"], CDC_BUCKETS)
        q = stream_cdc_ingest(spark, wal, table, checkpoint_dir=os.path.join(out, "ckpt"),
                              available_now=True, mode="mor", max_files_per_trigger=CDC_FILES_PER_TRIGGER)
        q.awaitTermination()
        res["progress"] = [p for p in q.recentProgress if p["numInputRows"] > 0]

    def read(mode):
        LakeTable(spark, res["tables"][mode]).read().write.format("noop").mode("overwrite").save()

    def leg(key, fn, *args):
        t = time.perf_counter()
        if traced:
            with tr.span(f"leg.{key}", harness=True):
                fn(*args)
        else:
            fn(*args)
        res[f"{key}_s"] = time.perf_counter() - t

    stages = [
        [("cow", replay, "cow"), ("mor", replay, "mor"), ("stream", stream)],
        [("cow_read", read, "cow"), ("mor_read", read, "mor")],
    ]
    for stage in stages:
        if concurrent:
            with ThreadPoolExecutor(max_workers=len(stage)) as pool:
                for f in [pool.submit(leg, *x) for x in stage]:
                    f.result()
        else:
            for x in stage:
                leg(*x)
    res["wall"] = sum(res[f"{k}_s"] for k in ("cow", "mor", "stream", "cow_read", "mor_read"))
    return res


def _check_cycle(run: Run, want, res: dict) -> None:
    from fec_cn_support_etl_spark.cdc.table import LakeTable

    want_digest = check.state_digest(want)
    for kind, path in res["tables"].items():
        run.attempted += 1
        got = LakeTable(run.spark, path).read().select(*check.STATE_COLS).toPandas()
        if run.perturb and kind == "cow":
            got = check.perturb(got.sort_values(["repo", "path"]).reset_index(drop=True), run.perturb)
        if check.state_digest(got) != want_digest:
            run.fail(f"cdc {kind} final state",
                     f"digest differs from the pandas replay ({len(got)} vs {len(want)} keys)")


def run_cdc(run: Run) -> None:
    from fec_cn_support_etl_spark.cdc import engine
    from fec_cn_support_etl_spark.cdc.table import LakeTable

    run.start_session()
    spark = run.spark

    # --- warm-up: one concurrent cycle over a small throwaway WAL
    t_warm = time.perf_counter()
    warm_wal = os.path.join(run.work, "warm-wal")
    _wal(spark, warm_wal, run.seed + 1_000_003, CDC_WARM_EPOCHS)
    t = time.perf_counter()
    _cycle(run, warm_wal, os.path.join(run.work, "warm-lake"), traced=False, concurrent=True)
    run.warm_rounds.append(time.perf_counter() - t)
    spark.catalog.clearCache()
    run.setup["warmup_s"] = time.perf_counter() - t_warm

    # --- inputs: the seeded WAL, generated several times
    wal = os.path.join(run.work, "wal")
    gen = []
    for _ in range(INPUT_REPEATS):
        t = time.perf_counter()
        _wal(spark, wal, run.seed, CDC_EPOCHS)
        gen.append(time.perf_counter() - t)
    run.setup["inputs_s"] = median(gen)
    run.layer("cdc.events.write_wal_s", run.setup["inputs_s"], "s")

    # --- warm-up, second part: sequential cycles over the WAL, as
    # measured passes run
    for i in range(WARM_PASSES):
        t = time.perf_counter()
        _cycle(run, wal, os.path.join(run.work, f"warm-lake-{i}"), traced=False)
        run.warm_rounds.append(time.perf_counter() - t)
        spark.catalog.clearCache()
        run.setup["warmup_s"] += run.warm_rounds[-1]
    log(f"warm-up rounds {[round(x, 2) for x in run.warm_rounds]}")
    want = check.replay_lww(wal)
    run.gate_ok = check.gate_bites(want, want)

    tr = run.tracer
    cycles: list[dict] = []

    def one_pass(i: int, traced: bool) -> float:
        out = os.path.join(run.work, f"lake-{i}")
        t0 = time.perf_counter()
        if traced:
            tr.patch(engine, "prepare_epoch", "cdc.engine.prepare_epoch")
            tr.patch(engine, "commit_epoch", "cdc.engine.commit_epoch")
            for m in ("commit_merge", "commit_append_delta", "read"):
                tr.patch(LakeTable, m, f"cdc.table.{m}")
        try:
            res = _cycle(run, wal, out, traced)
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            run.attempted += 1
            run.fail(f"cdc pass {i}", repr(e))
            return time.perf_counter() - t0
        finally:
            tr.unpatch_all()
        run.attempted += 5  # two replays, one stream, two reads
        run.after_op()
        cycles.append(res)
        if i:
            shutil.rmtree(os.path.join(run.work, f"lake-{i - 1}"), ignore_errors=True)
        return res["wall"]

    run.measure(one_pass)
    if cycles:  # the last pass's tables are still on disk
        _check_cycle(run, want, cycles[-1])
    run.session_layers()
    plain = [c for c in cycles if not c["traced"]]
    run.name("cow_events_per_s", [c["events"] / c["cow_s"] for c in plain], "ev/s")
    run.name("mor_events_per_s", [c["events"] / c["mor_s"] for c in plain], "ev/s")
    run.name("stream_events_per_s", [c["events"] / c["stream_s"] for c in plain], "ev/s")
    run.name("stream_batch_p50_s",
             [p["durationMs"]["triggerExecution"] / 1000.0 for c in plain for p in c["progress"]], "s")
    run.name("cow_read_s", [c["cow_read_s"] for c in plain], "s")
    run.name("mor_read_s", [c["mor_read_s"] for c in plain], "s")
    if cycles:
        _table_counts(run, cycles[-1])
    if run.traced:
        _cdc_layers(run, [c for c in cycles if c["traced"]])


def _table_counts(run: Run, res: dict) -> None:
    """Exact counts of the final merge-on-read table and its stream."""
    from fec_cn_support_etl_spark.cdc.table import LakeTable

    t = LakeTable(run.spark, res["tables"]["mor"])
    snap = t.current_snapshot()
    parquet = 0
    for entries in snap.buckets.values():
        for e in entries:
            if os.path.isdir(e["path"]):
                parquet += sum(1 for f in os.listdir(e["path"]) if f.endswith(".parquet"))
    run.layer("cdc.table.files_per_bucket_max", max((len(v) for v in snap.buckets.values()), default=0), "count")
    run.layer("cdc.table.files_total", parquet, "count")
    run.layer("cdc.table.bytes_per_event", t.state_size_bytes(snap) // max(res["events"], 1), "count")
    run.layer("cdc.table.snapshot_bytes", os.path.getsize(os.path.join(t._snap_dir, f"v{snap.version}.json")), "count")
    run.layer("streaming.batches", len(res["progress"]), "count")


def _cdc_layers(run: Run, cycles: list[dict]) -> None:
    tr = run.tracer
    passes = max(len(cycles), 1)
    for name in ("cdc.engine.prepare_epoch", "cdc.engine.commit_epoch"):
        run.layer(f"{name}_s", median(tr.durations(name)), "s")
        run.layer(f"{name}_jobs", int(median(tr.job_counts(name))), "count")
    storage_s = 0.0
    for m in ("commit_merge", "commit_append_delta", "read"):
        s, _ = _per_pass(tr, f"cdc.table.{m}", passes)
        run.layer(f"cdc.table.{m}_s", s, "s")
        storage_s += s
    prog = [p for c in cycles for p in c["progress"]]
    for k in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
        run.layer(f"streaming.{k}_s", median([p["durationMs"].get(k, 0) / 1000.0 for p in prog]), "s")
    build_s, build_j = _per_pass(tr, "cdc.engine.prepare_epoch", passes)
    exec_s, exec_j = _per_pass(tr, "cdc.engine.commit_epoch", passes)
    run.layer("layer.build_s", build_s, "s")
    run.layer("layer.build_jobs", build_j, "count")
    run.layer("layer.execute_s", exec_s, "s")
    run.layer("layer.execute_jobs", exec_j, "count")
    run.layer("layer.storage_s", storage_s, "s")
    # share of each write leg's wall spent inside commit_epoch
    spans = tr.closed()
    share = {}
    for leg in ("leg.cow", "leg.mor", "leg.stream"):
        for s in (x for x in spans if x["name"] == leg):
            inside = sum(c["end"] - c["start"] for c in spans if c["name"] == "cdc.engine.commit_epoch"
                         and s["start"] <= c["start"] and c["end"] <= s["end"])
            share.setdefault(leg, []).append(inside / (s["end"] - s["start"]))
    for leg, v in share.items():
        run.layer(f"cdc.engine.commit_share.{leg[4:]}", median(v), "ratio")
    _self_times(run, passes, {
        "harness": lambda n: n.startswith("leg."),
        "cdc.engine": lambda n: n.startswith("cdc.engine."),
        "cdc.table": lambda n: n.startswith("cdc.table."),
    })
