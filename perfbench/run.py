"""CDC micro-batch benchmark: stream -> normalize -> LWW -> fan-out -> ParquetSink.

    python3 perfbench/run.py --workload pg_rewrite_merge --seed 1 --seconds 14 --trace 0

Run from the repository root.  Each run:

1. generates the workload's envelope batch files from ``--seed``
   (untimed);
2. starts the session from ``get_spark`` (production defaults: AQE and
   whole-stage codegen on, ``local[nproc]``, a driver memory that fits
   RAM), then seeds the sink and drains the warm-up batches through
   ``CdcPipeline`` (``setup_s``);
3. drains the timed batch files through one ``availableNow`` stream with
   ``maxFilesPerTrigger=1`` -- a closed loop: the next batch starts when
   the previous one has committed -- for ``--seconds``;
4. checks the sink against the DuckDB oracle (``oracle.py``).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  The full result, with the
environment, goes to ``.perfbench/results/``; traced runs also write
their spans to ``.perfbench/traces/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
KEYS = ("db", "table", "key")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail_pct(n: int) -> int:
    """The highest of these percentiles with >= 10 samples beyond it.
    Below 20 samples none qualifies, and the tail is the maximum."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p
    return 100


def pct(values: list[float], p: int) -> float:
    if p == 100 or len(values) == 1:
        return max(values)
    if p == 50:
        return statistics.median(values)
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def tail(values: list[float]) -> float:
    return pct(values, tail_pct(len(values)))


def _env_setup(work: str) -> None:
    """Keep every file the JVM and Python write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # a quarter of RAM, capped: the batches are small and the host shared
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, total_kb // (4 << 20)))}g"
    sys.path.insert(0, ROOT)


def _session(work: str):
    from cdc_redshift_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap starts at its full size, so heap growth does not
            # differ from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEM']}"
            ),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _changeset_fn(envelope: str):
    from cdc_redshift_spark import normalize

    fn = {"pg": normalize.pg_changeset, "mongo": normalize.mongo_changeset, "dms": normalize.dms_changeset}[envelope]
    return lambda raw: fn(raw, offset_col="offset")


def _build(spark, spec, root: str, rec):
    from layers import TimedPipeline, TimedSink

    sink = TimedSink(spark, root, keys=KEYS, merge_mode=spec.merge_mode)
    sink.rec = rec
    pipe = TimedPipeline(_changeset_fn(spec.envelope), sink, keys=KEYS, rec=rec)
    return pipe, sink


def _fixed_read(spark, sink, table: str):
    """read_table -> aggregate: (rows, payload chars, max ts)."""
    from pyspark.sql import functions as F

    db, t = table.split(".", 1)
    r = (
        sink.read_table(spark, db, t)
        .agg(F.count(F.lit(1)), F.sum(F.length("payload")), F.max("ts_ms"))
        .collect()[0]
    )
    return (int(r[0]), int(r[1] or 0), int(r[2]) if r[2] is not None else None)


def _reads(spark, sink, tables: list[str], rec, batch_id) -> list[dict]:
    from layers import TAG_PREFIX, job_tag

    out = []
    for i, table in enumerate(tables):
        tag = f"{TAG_PREFIX}-read-{batch_id}-{i}"
        t0 = time.time()
        try:
            with job_tag(rec.sc, tag):
                ans = _fixed_read(spark, sink, table)
            err = None
        except Exception as e:  # noqa: BLE001 -- counted as a failed read
            ans, err = None, repr(e)
        out.append({"table": table, "t0": t0, "t1": time.time(), "answer": ans, "error": err, "tag": tag})
    return out


def _batch_files(ckpt: str) -> dict[int, list[str]]:
    """{batch id: input file names} from the file source's log in the
    checkpoint (compacted logs carry every earlier batch too)."""
    out: dict[int, list[str]] = {}
    d = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                out.setdefault(e["batchId"], []).append(os.path.basename(e["path"]))
    return {k: sorted(set(v)) for k, v in out.items()}


def _check_reads(reads: list[dict], want: dict, where: str) -> list[str]:
    return [
        f"{where} read {r['table']}: {r['answer']} != oracle {want.get(r['table'])}"
        for r in reads
        if r["answer"] is not None and tuple(r["answer"]) != want.get(r["table"])
    ]


def _drain(spark, pipe, rec, indir: str, ckpt: str):
    """The workload's one availableNow stream: setup batches, then the
    timed window; stopped once the batch past the deadline has reported
    its progress (later triggers are no-ops)."""
    from cdc_redshift_spark.sources.streams import file_stream

    q = pipe.start(file_stream(spark, indir, 1, fmt="parquet"), checkpoint=ckpt, available_now=True)
    while q.isActive and not rec.stopping.wait(0.05):
        pass
    if rec.stopping.is_set():
        last, t = rec.batches[-1].batch_id, time.time()
        while q.isActive and time.time() - t < 60:
            lp = q.lastProgress
            if lp is not None and lp["batchId"] >= last:
                break
            time.sleep(0.02)
        q.stop()
    q.awaitTermination()
    rec.timing = False
    return q


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM"):
                return int(line.split()[1]) / 1024
    return float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    spec = WORKLOADS.get(args.workload)
    if spec is None:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(OUT, "work", f"{spec.name}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env_setup(work)
    try:
        result = _run(spec, args, work)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    name = f"{spec.name}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(OUT, "results", name), "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line), flush=True)
    return 0


def _shutdown() -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _run(spec, args, work: str):
    from gen import Generator, stamp_order
    from oracle import Oracle, row_hash

    traced = bool(args.trace)
    # -- inputs (untimed) -------------------------------------------------
    t = time.perf_counter()
    gen = Generator(spec, args.seed)
    indir = os.path.join(work, "in")
    os.makedirs(indir)
    setup_files = [gen.seed_file(indir)]
    setup_files += [gen.change_file(indir)[0] for _ in range(spec.warm_batches)]
    counts = {}
    timed_files = []
    for _ in range(int(args.seconds / spec.min_batch_s) + 2):
        p, n = gen.change_file(indir)
        counts[os.path.basename(p)] = n
        timed_files.append(p)
    stamp_order(setup_files + timed_files)
    gen_s = time.perf_counter() - t
    digest = gen.digest()
    log(f"{spec.name} seed={args.seed}: {len(setup_files)}+{len(timed_files)} files in {gen_s:.2f}s, digest {digest}")

    # -- setup (session start, seed, warm-up), then the timed window -------
    t = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t
    from layers import Recorder

    rec = Recorder(spark, traced, len(setup_files), args.seconds)
    pipe, sink = _build(spark, spec, os.path.join(work, "sink"), rec)
    analyze_s = 0.0
    if spec.analyze:

        def analyze():
            nonlocal analyze_s
            t = time.perf_counter()
            for table in sink.list_tables():
                sink.analyze(*table, approx=True)
            analyze_s = time.perf_counter() - t

        rec.after_seed = analyze
    if spec.read_after_commit:
        rec.read_fn = lambda bid: _reads(spark, sink, tables, rec, bid)
    if traced:
        rec.after_batch = lambda b: _scan_writes(sink, b)
    t_query = time.time()
    tables = [f"{spec.db}.{t}" for t in gen.tables]
    ckpt = os.path.join(work, "ckpt")
    q = _drain(spark, pipe, rec, indir, ckpt)
    exc = q.exception()
    if exc is not None or rec.setup_end is None:
        raise RuntimeError(f"stream failed: {exc}")
    setup_s = session_s + rec.setup_end - t_query
    progress = {p["batchId"]: p for p in q.recentProgress}
    batches = rec.batches
    files = _batch_files(ckpt)
    for b in batches:
        b.files = files[b.batch_id]
    if not rec.stopping.is_set():
        log(f"input ran out before {args.seconds}s: lower the workload's min_batch_s")
    attempted, failed = len(batches), 0

    # -- end-to-end metrics --------------------------------------------------
    events = sum(counts[f] for b in batches for f in b.files)
    first_p, last_p = progress[batches[0].batch_id], progress[batches[-1].batch_id]
    t_end = _epoch(last_p["timestamp"]) + last_p["durationMs"]["triggerExecution"] / 1000
    wall = t_end - _epoch(first_p["timestamp"])
    # the benchmark's own reads run inside the trigger: not batch latency
    batch_s = [
        progress[b.batch_id]["durationMs"]["triggerExecution"] / 1000
        - sum(r["t1"] - r["t0"] for r in b.reads)
        for b in batches
    ]
    cpu_s = (batches[-1].jvm_cpu_ns - rec.cpu0[0]) / 1e9 + (batches[-1].py_cpu_s - rec.cpu0[1])

    # -- oracle --------------------------------------------------------------
    t = time.perf_counter()
    oracle = Oracle(spec.envelope)
    for p in setup_files:
        oracle.apply([p])
    mismatches = []
    survivors = []
    for b in batches:
        survivors.append(oracle.apply([os.path.join(indir, f) for f in b.files]))
        if b.reads:
            mismatches += _check_reads(b.reads, oracle.reads(), f"batch {b.batch_id}")
    # the final fixed read of every table, then every live row
    final_reads = _reads(spark, sink, tables, rec, "final")
    want = oracle.reads()
    mismatches += _check_reads(final_reads, want, "final")
    if sorted(tables) != sorted(want):
        mismatches.append(f"tables {sorted(tables)} != oracle {sorted(want)}")
    live = None
    for table in tables:
        db, tb = table.split(".", 1)
        df = sink.read_table(spark, db, tb).select("db", "table", "key", "op", "payload")
        live = df if live is None else live.unionByName(df)
    arrow = live.toArrow()
    got = row_hash(zip(*[c.to_pylist() for c in arrow.columns]))
    exp = oracle.live_hash()
    if got != exp:
        mismatches.append(f"live rows (n, hash) {got} != oracle {exp}")
    reads = [r for b in batches for r in b.reads] + final_reads
    attempted += len(reads) + 1
    failed += len(mismatches) + sum(r["error"] is not None for r in reads)
    oracle_s = time.perf_counter() - t
    for m in mismatches[:10]:
        log(f"MISMATCH {m}")

    e2e = {
        "setup_s": (setup_s, "s"),
        "events_per_s": (events / wall, "1/s"),
        "batch_p50_s": (statistics.median(batch_s), "s"),
        "cpu_s_per_kevent": (cpu_s / events * 1000, "s"),
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "workload": spec.name,
        "seed": args.seed,
        "trace": args.trace,
        "input_digest": digest,
        "env": _environment(spark, rec),
        "counts": {
            "events": events,
            "batches": len(batches),
            "batch_s": batch_s,
            "skipped_batches": rec.skipped,
            "drain_wall_s": wall,
            "failed_share": failed / attempted,
            "gen_s": gen_s,
            "session_s": session_s,
            "setup_batches_s": rec.setup_end - t_query,
            "analyze_s": analyze_s,
            "setup_trigger_s": [
                p["durationMs"]["triggerExecution"] / 1000
                for i, p in sorted(progress.items())
                if i < batches[0].batch_id
            ],
            "oracle_s": oracle_s,
        },
        "mismatches": mismatches,
    }
    log(
        f"{len(batches)} batches, {events} events in {wall:.2f}s; "
        f"batch p50 {e2e['batch_p50_s'][0]:.3f}s; "
        f"oracle {oracle_s:.1f}s, {len(mismatches)} mismatches"
    )
    if traced:
        layer = _per_layer(spark, spec, args.seed, sink, rec, batches, progress, survivors, reads, wall, events, indir)
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        result["metrics"]["oracle.failed_share"] = {"value": failed / attempted, "unit": "ratio"}
        result["tracing_overhead"] = _overhead(spec.name, args.seed, e2e)
    else:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return result


def _scan_writes(sink, b) -> None:
    from layers import version_files

    for a in b.applies:
        db, t = a["table"].split(".", 1)
        a["written"], a["bytes"], a["linked"] = version_files(sink, db, t)


def _environment(spark, rec) -> dict:
    import pyspark

    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.codegen.wholeStage",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )

    def confs(s):
        return {k: s.conf.get(k) for k in keys} if s is not None else None

    return {
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "session_conf": confs(spark),
        # the micro-batch runs on the stream's session; recording both
        # makes a split between the two visible
        "stream_session_conf": confs(rec.stream_session),
    }


def _overhead(name: str, seed: int, traced: dict) -> dict | None:
    """Traced minus untraced end-to-end numbers, when an untraced run
    of the same workload and seed left its result."""
    p = os.path.join(OUT, "results", f"{name}-seed{seed}-trace0.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        base = json.load(f)["metrics"]
    return {k: traced[k][0] - base[k]["value"] for k in traced if k in base}


def _per_layer(spark, spec, seed, sink, rec, batches, progress, survivors, reads, wall, events, indir) -> dict:
    from layers import add_counts
    from spans import layer_spans, self_times

    med = statistics.median

    def dur(b, k):
        return progress[b.batch_id]["durationMs"].get(k, 0)

    m = {}
    m["stream.trigger_overhead_ms"] = (med([dur(b, "triggerExecution") - dur(b, "addBatch") for b in batches]), "ms")
    for k in ("walCommit", "commitOffsets", "latestOffset"):
        m[f"stream.{k}_ms"] = (med([dur(b, k) for b in batches]), "ms")

    route, fan, wait, last, busy, cap = [], [], [], [], 0.0, 0.0
    for b in batches:
        a = sorted(b.applies, key=lambda x: x["t0"])
        first = a[0]["t0"] if a else b.t1
        route.append(first - b.t0)
        if not a:
            continue
        f = max(x["t1"] for x in a) - first
        fan.append(f)
        wait.append(statistics.fmean(x["t0"] - first for x in a))
        ends = sorted(x["t1"] for x in a)
        last.append(ends[-1] - ends[-2] if len(ends) > 1 else 0.0)
        busy += sum(x["t1"] - x["t0"] for x in a)
        cap += f * min(len(a), 10)
    m["pipeline.route_s"] = (med(route), "s")
    m["pipeline.fanout_s"] = (med(fan), "s")
    m["pipeline.fanout_wait_s"] = (med(wait), "s")
    m["pipeline.fanout_busy_ratio"] = (busy / cap if cap else 0.0, "ratio")
    m["pipeline.tail_s"] = (med(last), "s")
    m["pipeline.tables_per_batch"] = (statistics.fmean(len(b.applies) for b in batches), "count")

    m.update(_replay(spec, rec, batches, indir))

    applies = [a for b in batches for a in b.applies]
    apply_s = [a["t1"] - a["t0"] for a in applies]
    m["sink.apply_p50_s"] = (med(apply_s), "s")
    m["sink.apply_tail_s"] = (tail(apply_s), "s")
    apply_c, batch_c = {}, {}
    for b in batches:
        for tag, c in b.jobs.items():
            if "-apply-" in tag:
                add_counts(apply_c, c)
            if "-read-" not in tag:
                add_counts(batch_c, c)
    n_a, n_b = max(1, len(applies)), len(batches)
    m["sink.jobs_per_apply"] = (apply_c.get("jobs", 0) / n_a, "count")
    m["sink.tasks_per_apply"] = (apply_c.get("tasks", 0) / n_a, "count")
    m["sink.cpu_s_per_apply"] = (apply_c.get("cpu_s", 0) / n_a, "s")
    wrote = sum(a.get("bytes", 0) for a in applies)
    surv_b = sum(b for s in survivors for _, b in s.values())
    m["sink.bytes_written_per_batch"] = (wrote / n_b, "B")
    m["sink.files_written_per_batch"] = (sum(a.get("written", 0) for a in applies) / n_b, "count")
    m["sink.files_linked_per_batch"] = (sum(a.get("linked", 0) for a in applies) / n_b, "count")
    m["sink.survivor_bytes_per_batch"] = (surv_b / n_b, "B")
    m["sink.write_amplification"] = (wrote / surv_b if surv_b else 0.0, "ratio")
    rs = [r["t1"] - r["t0"] for r in reads if r["error"] is None]
    m["sink.read_s"] = (med(rs) if rs else 0.0, "s")
    if spec.merge_mode == "dv":
        fr = [sink.dv_masked_fraction(*t) for t in sink.list_tables()]
        m["sink.dv_masked_fraction"] = (statistics.fmean(fr), "ratio")
    m["planner.broadcast_share"] = (sum(a["broadcast"] for a in applies) / n_a, "ratio")
    m["planner.priced_share"] = (sum(a["priced"] for a in applies) / n_a, "ratio")
    m["planner.plan_s"] = (med([a["plan_s"] for a in applies]), "s")

    m["spark.jobs_per_batch"] = (batch_c.get("jobs", 0) / n_b, "count")
    m["spark.stages_per_batch"] = (batch_c.get("stages", 0) / n_b, "count")
    m["spark.tasks_per_batch"] = (batch_c.get("tasks", 0) / n_b, "count")
    m["spark.executor_cpu_s_per_batch"] = (batch_c.get("cpu_s", 0) / n_b, "s")
    m["spark.executor_run_s_per_batch"] = (batch_c.get("run_s", 0) / n_b, "s")
    m["spark.shuffle_write_MB_per_batch"] = (batch_c.get("shuffle_write_B", 0) / n_b / 1e6, "MB")
    m["spark.gc_s_per_batch"] = (batch_c.get("gc_s", 0) / n_b, "s")
    m["jvm.peak_rss_MB"] = (_rss_mb(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()), "MB")

    spans = layer_spans(batches, progress, reads, _epoch)
    for layer, v in self_times(spans).items():
        m[f"self.{layer}_s"] = (v, "s")
    m["trace.overhead_s_per_batch"] = (rec.trace_s / n_b, "s")
    m["trace.events_per_s"] = (events / wall, "1/s")
    os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
    path = os.path.join(OUT, "traces", f"{spec.name}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": spec.name, "spans": spans}, f)
    log(f"{len(spans)} spans -> {os.path.relpath(path, ROOT)}")
    return m


def _replay(spec, rec, batches, indir) -> dict:
    """Split ``pipeline.route_s``: replay sampled batch frames on the
    stream's session, forcing ``changeset_fn`` alone and then with
    ``latest_per_key``."""
    from cdc_redshift_spark.dedup import latest_per_key
    from cdc_redshift_spark.sources.streams import RAW_STREAM_SCHEMA

    s = rec.stream_session
    fn = _changeset_fn(spec.envelope)
    picks = sorted({batches[0].files[0], batches[-1].files[0]})
    norm, lww, ratio = [], [], []
    for f in picks:
        raw = s.read.schema(RAW_STREAM_SCHEMA).parquet(os.path.join(indir, f))
        for _ in range(2):  # the second pass is the one kept: warm caches
            t = time.perf_counter()
            fn(raw).write.format("noop").mode("overwrite").save()
            t_n = time.perf_counter() - t
            t = time.perf_counter()
            latest_per_key(fn(raw), keys=KEYS).write.format("noop").mode("overwrite").save()
            t_l = time.perf_counter() - t
        norm.append(t_n)
        lww.append(t_l - t_n)
        ratio.append(latest_per_key(fn(raw), keys=KEYS).count() / fn(raw).count())
    med = statistics.median
    return {
        "normalize.changeset_s": (med(norm), "s"),
        "dedup.latest_per_key_s": (med(lww), "s"),
        "dedup.survivor_ratio": (med(ratio), "ratio"),
    }


if __name__ == "__main__":
    sys.exit(main())
