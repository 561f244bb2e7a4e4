"""Benchmark of the ezdata_spark engine: one closed-loop client, one
driver process, a seeded operation order.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run

1. reads the catalog's sf0.01 fixture tables from ``data/``;
2. gives itself a fresh ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and warehouse
   directory, removed at the end, so the artifacts that operations save
   and reload are never shared between runs;
3. starts the session and runs a generic warm-up that calls no workload
   operation;
4. runs one untimed cold pass, in the workload's listed order, that also
   checks every result: against the DuckDB oracle where the catalog has
   one (``tests/oracle_check.py``), otherwise against the row count and
   schema in ``expected.json``;
5. times passes over the workload, each in an order drawn from
   ``--seed``, until ``--seconds`` have passed and every operation has
   ``MIN_SAMPLES`` samples. Each operation is timed from outside through
   the public calls: build (``QUERIES[name](spark, dir)``), execute (the
   noop sink) and release (``release_caches`` plus ``clearCache``).

The last line of standard output is the result object. With ``--trace 0``
it holds the end-to-end metrics; with ``--trace 1`` the per-layer
metrics, and the spans go to ``.perfbench/traces/``. Run scratch and
traces are the only files the run writes, all under ``.perfbench/``.
README.md defines every metric.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

from workloads import DATA, LAYERS, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
EXPECTED = os.path.join(HERE, "expected.json")

#: Local cores the engine gets; capped by the host's cores.
CPUS = 4
#: Timed samples every operation gets before the run may stop, so each
#: per-operation median rejects one slow sample. The window is extended
#: for them by at most ``--seconds`` once more.
MIN_SAMPLES = 3
#: Artifact directories under ``gettempdir()/ez_rt_<uid>`` per layer.
ARTIFACT_KINDS = {
    "operators.ann_index": ("ngram_lm", "ivfpq", "minhash", "bpe"),
    "sources": ("fits", "h5", "vot"),
}

PER_LAYER = (
    [f"{layer}.{stat}" for layer in LAYERS
     for stat in ("build_s", "exec_s", "build_jobs", "exec_jobs")]
    + ["session.get_spark_s", "session.warmup_s", "session.cold_pass_s",
       "cache.release_s", "cache.released_frames",
       "operators.ann_index.artifact_mb", "sources.artifact_mb",
       "spark.tasks", "spark.run_s", "spark.cpu_s", "spark.gc_s",
       "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
       "spark.failed_tasks",
       "host.peak_rss_mb", "host.ref_probe_s", "host.load_1m",
       "trace.op_s", "trace.harvest_s"]
)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(run_dir: str, cpus: int) -> None:
    """Point every scratch location of this process tree into ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ]
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(cpus),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit),
    )
    tempfile.tempdir = None  # re-read TMPDIR


def warm_up(spark, data_dir: str) -> None:
    """Generic engine warm-up: parquet reader, shuffle, higher-order
    functions and both Python worker paths. Calls no workload operation."""
    from pyspark.sql import functions as F

    spark.read.parquet(f"{data_dir}/region.parquet").count()
    df = spark.range(0, 20_000, 1, 8)
    df.select(
        F.expr("aggregate(transform(sequence(1, 8), i -> xxhash64(id, i)), 0L,"
               " (acc, h) -> acc + h % 7)").alias("h"),
        (F.col("id") % 97).alias("k"),
    ).groupBy("k").agg(F.sum("h")).write.format("noop").mode("overwrite").save()

    @F.pandas_udf("double")
    def plus_one(s):
        return s + 1.0

    df.select(
        plus_one(F.col("id").cast("double")), F.udf(lambda x: x % 7, "long")("id")
    ).write.format("noop").mode("overwrite").save()


def ambient_probe(spark) -> float:
    """A pure-Spark aggregate that calls no engine code; its time shows
    slow host windows. Reported, never part of a metric it could skew."""
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, CPUS).selectExpr("sum(id % 7)").collect()
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (``/proc/stat``): a
    slow window caused by neighbours shows here."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total / (1024 * 1024)


def artifact_mb(run_dir: str) -> dict[str, float]:
    rt = os.path.join(tempfile.gettempdir(), f"ez_rt_{os.getuid()}")
    out = {
        layer: sum(dir_mb(os.path.join(rt, k)) for k in kinds)
        for layer, kinds in ARTIFACT_KINDS.items()
    }
    out["operators.ann_index"] += dir_mb(os.path.join(run_dir, "warehouse"))
    return out


def check_results(spark, ops, data_dir, release, expected):
    """The cold pass: run each operation once, untimed, and check it.

    Returns the names of the operations whose result did not match."""
    import oracle_check
    from ezdata_spark.queries import ORACLE, QUERIES

    con = oracle_check.connect_oracle(data_dir)
    bad = []
    try:
        for op in ops:
            fn = QUERIES[op.query]
            if op.query in ORACLE:
                status, _, msgs = oracle_check.compare_one(
                    spark, con, fn, ORACLE[op.query], data_dir
                )
                ok = status == "pass"
            else:
                try:
                    df = fn(spark, data_dir)
                    got = {"rows": len(df.collect()), "schema": df.schema.simpleString()}
                except Exception as exc:  # noqa: BLE001 - a failing op is a counted error
                    got = {"error": f"{type(exc).__name__}: {exc}"[:300]}
                ok = expected.get(op.query) == got
                msgs = [] if ok else [f"expected {expected.get(op.query)}, got {got}"]
            release()
            if not ok:
                bad.append(op.query)
                print(f"result check failed: {op.query}: {'; '.join(msgs)}"[:2000],
                      file=sys.stderr)
    finally:
        con.close()
    return bad


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    for need in ("ezdata_spark/queries.py", "tests/oracle_check.py", "bench.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} is missing; run from a full checkout",
                  file=sys.stderr)
            return 2
    ops = WORKLOADS[args.workload]
    cpus = min(CPUS, len(os.sched_getaffinity(0)))
    load_start = os.getloadavg()
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    isolate(run_dir, cpus)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    from pyspark import SparkContext

    spark = None
    try:
        import bench
        from ezdata_spark.cache import release_caches
        from ezdata_spark.queries import QUERIES
        from ezdata_spark.session import get_spark

        t_imported = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter()
        warm_up(spark, DATA)
        t_warm = time.perf_counter()
        # process start to a warm session
        setup_s = t_warm - T_PROCESS

        released = [0]

        def release() -> None:
            # operators persist() intermediates; without this a later sample
            # would time cache hits (bench.py's per-query hygiene)
            released[0] += release_caches()
            spark.catalog.clearCache()

        with open(EXPECTED) as fh:
            expected = json.load(fh)
        rng = random.Random(args.seed)
        t0 = time.perf_counter()
        bad = check_results(spark, ops, DATA, release, expected)
        cold_pass_s = time.perf_counter() - t0

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            run_span = tracer.start("run", None, kind="run", workload=args.workload)
        samples = {op.query: [] for op in ops}
        failed = []
        passes = []
        deadline = time.perf_counter() + args.seconds

        def stop() -> bool:
            now = time.perf_counter()
            return now >= deadline + args.seconds or (
                now >= deadline
                and min(len(s) for s in samples.values()) >= MIN_SAMPLES
            )

        done = False
        n_pass = 0
        while not done:
            if stop():
                break
            n_pass += 1
            order = rng.sample(ops, len(ops))
            pass_span = tracer.start("pass", run_span["id"], kind="pass") if tracer else None
            t_pass, steal0 = time.perf_counter(), steal_s()
            for op in order:
                if stop():
                    done = True
                    break
                fn = QUERIES[op.query]
                rel0 = released[0]
                op_span = None
                if tracer:
                    op_span = tracer.start(op.query, pass_span["id"], f"{n_pass}:{op.query}",
                                           layer=op.layer, kind="op")
                try:
                    with (tracer.phase("build", op_span) if tracer else nullcontext()):
                        t0 = time.perf_counter()
                        df = fn(spark, DATA)
                        t1 = time.perf_counter()
                    with (tracer.phase("execute", op_span) if tracer else nullcontext()):
                        df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 - a failing op is a counted error
                    failed.append(f"{op.query}: {type(exc).__name__}: {exc}"[:300])
                    release()
                    samples[op.query].append(None)
                    if tracer:
                        tracer.end(op_span)
                    continue
                with (tracer.phase("release", op_span) if tracer else nullcontext()):
                    t3 = time.perf_counter()
                    release()
                    t4 = time.perf_counter()
                if tracer:
                    tracer.end(op_span)
                samples[op.query].append({
                    "pass": n_pass, "build_s": t1 - t0, "exec_s": t2 - t1,
                    "release_s": t4 - t3, "released": released[0] - rel0,
                    "op_id": f"{n_pass}:{op.query}",
                })
            op_s = time.perf_counter() - t_pass
            if tracer:
                tracer.end(pass_span)
                stats = tracer.harvest()
                for op_samples in samples.values():
                    for s in op_samples:
                        if s and s["pass"] == n_pass:
                            s["spark"] = {
                                ph: stats.get((s["op_id"], ph))
                                for ph in ("build", "execute", "release")
                            }
            # bench.py's between-pass hygiene: a full GC first, so the RSS
            # series tracks retained memory rather than lazy heap growth
            spark._jvm.System.gc()
            passes.append({
                "pass": n_pass, "order": [op.query for op in order],
                "op_s": op_s, "steal_s": steal_s() - steal0,
                "rss_mb": bench._tree_rss_mb(),
                "ambient_probe_s": ambient_probe(spark),
                "artifact_mb": artifact_mb(run_dir),
            })
        load_end = os.getloadavg()

        good = {q: [s for s in v if s] for q, v in samples.items()}
        good = {q: v for q, v in good.items() if v}

        def med(q: str, key) -> float:
            return statistics.median(key(s) for s in good[q])

        lat = {q: med(q, lambda s: s["build_s"] + s["exec_s"]) for q in good}
        rows = sum(op.input_rows for op in ops if op.query in good)
        n_failed = len(bad) + len(failed)
        attempted = len(ops) + sum(len(v) for v in samples.values())
        record = {
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": cpus, "load_avg_start": [round(x, 2) for x in load_start],
            "load_avg_end": [round(x, 2) for x in load_end],
            "import_s": t_imported - T_PROCESS,
            "session_s": t_session - t_imported, "warmup_s": t_warm - t_session,
            "cold_pass_s": cold_pass_s,
            "passes": passes,
            "op_median_s": {q: round(v, 4) for q, v in sorted(lat.items())},
            "op_samples_s": {q: [round(s["build_s"] + s["exec_s"], 4) for s in v]
                             for q, v in sorted(good.items())},
            "result_mismatches": bad, "failures": failed,
        }
        print(json.dumps({"record": record}))
        if tracer:
            tracer.end(run_span)
            metrics = layer_metrics(ops, good, med, record, passes, load_start, tracer, lat)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.write(path, {"record": record, "metrics": metrics})
            print_self_times(tracer)
            print(f"spans written to {os.path.relpath(path, ROOT)}", file=sys.stderr)
            units = {k: _unit(k) for k in metrics}
        else:
            medians = sorted(lat.values())
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": rows / sum(medians),
                "op_geomean_s": statistics.geometric_mean(medians),
                "op_p80_s": statistics.quantiles(medians, n=5)[3],
            }
            units = {"setup_s": "s", "rows_per_s": "rows/s", "op_geomean_s": "s", "op_p80_s": "s"}
        print(json.dumps({
            "correct": n_failed == 0,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        gateway = SparkContext._gateway
        if spark is not None:
            spark.stop()
        if gateway is not None:
            # the JVM exits when its stdin closes; wait so no process outlives the run
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)
        shutil.rmtree(run_dir, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("load_1m"):
        return "load"
    return "count"


def layer_metrics(ops, good, med, record, passes, load_start, tracer, lat) -> dict[str, float]:
    """Per-layer metrics of a traced run: each is the sum, over the
    layer's operations, of the per-operation median across timed passes."""
    from spans import SPARK_STATS

    def phase_stat(s, phase, key):
        return (s.get("spark", {}).get(phase) or {}).get(key, 0)

    m = dict.fromkeys(PER_LAYER, 0.0)
    for op in ops:
        if op.query not in good:
            continue
        m[f"{op.layer}.build_s"] += med(op.query, lambda s: s["build_s"])
        m[f"{op.layer}.exec_s"] += med(op.query, lambda s: s["exec_s"])
        m[f"{op.layer}.build_jobs"] += med(op.query, lambda s: phase_stat(s, "build", "jobs"))
        m[f"{op.layer}.exec_jobs"] += med(op.query, lambda s: phase_stat(s, "execute", "jobs"))
        m["cache.release_s"] += med(op.query, lambda s: s["release_s"])
        m["cache.released_frames"] += med(op.query, lambda s: s["released"])
        for key in SPARK_STATS:
            m[f"spark.{key}"] += med(op.query, lambda s: sum(
                phase_stat(s, ph, key) for ph in ("build", "execute", "release")))
    m["session.get_spark_s"] = record["session_s"]
    m["session.warmup_s"] = record["warmup_s"]
    m["session.cold_pass_s"] = record["cold_pass_s"]
    for layer in ARTIFACT_KINDS:
        m[f"{layer}.artifact_mb"] = max(p["artifact_mb"][layer] for p in passes)
    m["host.peak_rss_mb"] = max(p["rss_mb"] for p in passes)
    m["host.ref_probe_s"] = statistics.median(p["ambient_probe_s"] for p in passes)
    m["host.load_1m"] = load_start[0]
    m["trace.op_s"] = sum(lat.values())
    m["trace.harvest_s"] = tracer.harvest_s
    return m


def print_self_times(tracer) -> None:
    rows = sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"])
    print(f"{'span':40s} {'spans':>6s} {'total_s':>9s} {'self_s':>9s}", file=sys.stderr)
    for name, r in rows:
        print(f"{name:40s} {r['spans']:6d} {r['total_s']:9.3f} {r['self_s']:9.3f}",
              file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
