#!/usr/bin/env python3
"""End-to-end benchmark of the query registry on seeded generated inputs.

    python3 perfbench/run.py --workload ingest_hourly --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client process issues the
workload's ops in a fixed order, each waiting for the previous one, on
``local[2]``. Each op is built through the registry (the same callables
``__spark_entry__.queries()`` returns) and run with a ``noop`` write, so the
whole result is computed and nothing is collected.

Phases, in order: set-up (JVM, session, ``load_all()``), one cold pass
(the warm-up), timed passes for ``--seconds`` (at least three), then an
untimed verification of every op's result against its DuckDB oracle with
``scripts/simlib.compare_frames``. With ``--trace 1``
every other timed pass is traced (see layers.py) and the per-layer metrics
are printed instead of the end-to-end ones.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import procfs  # noqa: E402  (HERE is sys.path[0] when run as a script)

#: local[2]: half the 4 vCPUs, leaving the rest to the JVM's JIT/GC threads
#: and the Python workers.
CORES = 2
#: Spark's default JVM heap: the generated inputs (at most ~60k rows per
#: table) never need more, and the process tree peaks at ~1.3-1.5 GB.
JVM_HEAP = "1g"

#: Ops per workload, in the order every pass issues them.
WORKLOADS = {
    "ingest_hourly": [
        "q_sink_bronze", "q_sink_silver", "q_merge_upsert", "q_incremental_agg",
        "q_stream_tumbling", "q_stream_silver", "q_stream_rocksdb", "q_ohlc_hourly",
    ],
    "dedup_curation": [
        "q_jaccard_join", "q_dedup_near", "q_ann_lsh", "q_cosine_topk",
        "q_dedup_exact", "q_wordcount", "q_pipeline_training_data",
    ],
    "star_analytics": [
        "q_ohlc_hourly", "q_join_inner", "q_join_broadcast", "q_join_range",
        "q_join_asof", "q_rollup", "q_count_distinct", "q_rank", "q_moving_avg",
        "q_topk", "q_tpch_q1", "q_tpch_q3", "q_tpch_q5",
    ],
}

#: The timed phase runs at least this many passes, whatever --seconds says:
#: a median of three passes and ~24 op samples per run. The cold pass is the
#: only warm-up; pass time still falls for ~5 passes (JIT), but a run must
#: stay near a minute (22 runs per workload fit in under an hour), and a
#: fixed pass count keeps every run at the same point of that curve.
MIN_TIMED_PASSES = 3
#: Tail percentile: the highest with at least this many samples above it.
TAIL_SAMPLES_BEYOND = 10
#: Host calibration kernel (same shape as bench.py's _calibrate_spark).
CALIB_ROWS, CALIB_GROUPS = 5_000_000, 4096


def log(msg: str) -> None:
    print(f"[{procfs.process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def _require_checkout() -> None:
    """The program is built from the checkout's own source: refuse to run
    anywhere else."""
    need = [
        os.path.join(ROOT, "crypto_data_ingestion_script_spark", "registry.py"),
        os.path.join(ROOT, "scripts", "simlib.py"),
    ]
    missing = [p for p in need if not os.path.isfile(p)]
    if missing:
        log(f"perfbench: run from a checkout of the repository; missing {missing}")
        sys.exit(2)


class RunDirs:
    """Fresh per-run directories inside the checkout, pointed to by TMPDIR
    and Spark's local dirs, removed when the run ends. /dev/shm is
    snapshotted so stream checkpoints the program leaves there are
    counted and removed."""

    SHM = "/dev/shm"
    SHM_PREFIX = "ckpt_"

    def __init__(self, workload: str, seed: int):
        self.base = os.path.join(ROOT, ".perfbench_work",
                                 f"{workload}-s{seed}-{os.getpid()}")
        self.tmp = os.path.join(self.base, "tmp")
        self.jvm_tmp = os.path.join(self.base, "jvm_tmp")
        self.local = os.path.join(self.base, "spark_local")
        self.data = os.path.join(self.base, "data")
        for d in (self.tmp, self.jvm_tmp, self.local, self.data):
            os.makedirs(d)
        self.shm_before = set(os.listdir(self.SHM)) if os.path.isdir(self.SHM) else set()

    def environ(self) -> None:
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_DRIVER_MEM": JVM_HEAP,
            "TMPDIR": self.tmp,
            "SPARK_LOCAL_DIRS": self.local,
            "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={self.jvm_tmp}",
            # Python workers import the package from the checkout.
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        })
        tempfile.tempdir = self.tmp
        sys.path.insert(0, ROOT)
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        os.chdir(self.base)  # spark-warehouse / derby land here

    def tmp_mb(self) -> float:
        total = 0
        for d, _, files in os.walk(self.tmp):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(d, f))
                except OSError:
                    pass
        return total / (1024.0 * 1024.0)

    def shm_left(self) -> list[str]:
        if not os.path.isdir(self.SHM):
            return []
        uid = os.getuid()
        out = []
        for name in set(os.listdir(self.SHM)) - self.shm_before:
            p = os.path.join(self.SHM, name)
            try:
                if name.startswith(self.SHM_PREFIX) and os.stat(p).st_uid == uid:
                    out.append(p)
            except OSError:
                pass
        return out

    def remove(self) -> None:
        os.chdir(ROOT)
        for p in self.shm_left():
            shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(self.base, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.base))
        except OSError:
            pass


class Runner:
    """Issues passes over one workload's ops and keeps every outcome."""

    def __init__(self, spark, specs, ops: list[str], data_dir: str, tracer=None):
        self.spark, self.specs, self.ops = spark, specs, ops
        self.data_dir, self.tracer = data_dir, tracer
        self.attempted = 0
        self.failed_calls: dict[str, int] = {}
        self.completed: dict[str, int] = {}
        self.last_df: dict = {}

    def _fail(self, op: str, phase: str) -> None:
        self.failed_calls[op] = self.failed_calls.get(op, 0) + 1
        if self.failed_calls[op] == 1:
            log(f"perfbench: {op} failed in {phase}:\n{traceback.format_exc()}")

    def run_pass(self, phase: str, traced: bool = False) -> dict:
        """One pass over the ops; returns its wall time, per-op latencies
        and (when traced) per-op layer records."""
        lat, recs = {}, []
        t0 = time.perf_counter()
        for op in self.ops:
            fn = self.specs[op].fn
            self.attempted += 1
            try:
                if traced:
                    df, rec = self.tracer.run_op(op, fn, self.data_dir, phase)
                    recs.append(rec)
                    lat[op] = rec["build_s"] + rec["plan_s"] + rec["action_s"]
                else:
                    a = time.perf_counter()
                    df = fn(self.spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
                    lat[op] = time.perf_counter() - a
            except Exception:
                self._fail(op, phase)
                continue
            self.completed[op] = self.completed.get(op, 0) + 1
            self.last_df[op] = df
        wall = time.perf_counter() - t0
        log(f"perfbench: {phase} pass {wall:.3f}s"
            + (" (traced)" if traced else ""))
        return {"wall": wall, "lat": lat, "recs": recs, "traced": traced}

    def verify(self) -> dict[str, str]:
        """Collect every op's result and compare it with its DuckDB oracle
        on the same files; returns op -> status."""
        import duckdb
        from simlib import compare_frames

        con = duckdb.connect()
        con.execute(f"SET threads={CORES}")
        for f in sorted(os.listdir(self.data_dir)):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * FROM "
                        f"'{os.path.join(self.data_dir, f)}'")
        status = {}
        for op in self.ops:
            self.attempted += 1
            try:
                df = (self.last_df[op] if op in self.last_df
                      else self.specs[op].fn(self.spark, self.data_dir))
                got = df.toPandas()
                want = con.execute(self.specs[op].oracle).fetchdf()
                status[op], err = compare_frames(got, want)
            except Exception:
                self._fail(op, "verify")
                status[op], err = "crash", None
                continue
            self.completed[op] = self.completed.get(op, 0) + 1
            if status[op] != "ok":
                log(f"perfbench: {op} does not match its oracle: {status[op]} {err}")
        con.close()
        return status

    def ok_calls(self, status: dict[str, str]) -> int:
        return sum(n for op, n in self.completed.items() if status.get(op) == "ok")


def calibrate(spark) -> float:
    """Fixed-work Spark kernel (range -> mod key -> group sum/count),
    warm once, best of three: moves only with the host."""
    from pyspark.sql import functions as F

    def kernel():
        return (spark.range(CALIB_ROWS)
                .withColumn("k", F.col("id") % CALIB_GROUPS)
                .groupBy("k")
                .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
                .count())

    kernel()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        kernel()
        best = min(best, time.perf_counter() - t0)
    return best


def tail(lat: list[float]) -> tuple[float, float, int]:
    """Highest nearest-rank percentile with >= TAIL_SAMPLES_BEYOND samples
    above it: (value, percentile, sample count)."""
    xs = sorted(lat)
    n = len(xs)
    rank = max(n - TAIL_SAMPLES_BEYOND, 1)
    return xs[rank - 1], 100.0 * rank / n, n


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, and wait for every process
    this run started."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procfs.reap_tree(os.getpid())


def measure(args, dirs: RunDirs) -> dict:
    """Set-up, cold pass, timed passes and verification in one
    session; stops every process it started before returning."""
    me = os.getpid()
    m: dict = {}
    spark = None
    try:
        t0 = time.perf_counter()
        from crypto_data_ingestion_script_spark.session import build_session

        spark = build_session("perfbench")
        m["session_build_s"] = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        from crypto_data_ingestion_script_spark.registry import load_all

        specs = load_all()
        m["registry_load_s"] = time.perf_counter() - t0
        m["setup_s"] = procfs.process_age_s()
        log("perfbench: set-up done")

        import gen

        counts = gen.generate(args.workload, args.seed, dirs.data, args.scale)
        log(f"perfbench: {args.workload} seed={args.seed} inputs {counts}")
        tracer = None
        if args.trace:
            from layers import Tracer

            m["calib_s"] = calibrate(spark)
            tracer = Tracer(spark, dirs.tmp)
        runner = m["runner"] = Runner(spark, specs, WORKLOADS[args.workload],
                                      dirs.data, tracer)

        m["cold"] = runner.run_pass("cold")
        timed = m["timed"] = []
        t0 = time.perf_counter()
        while len(timed) < MIN_TIMED_PASSES or time.perf_counter() - t0 < args.seconds:
            if args.trace and len(timed) % 2 == 1:
                with tracer.counting_materializations():
                    timed.append(runner.run_pass("timed", traced=True))
            else:
                timed.append(runner.run_pass("timed"))
        m["status"] = runner.verify()
        log("perfbench: verification done")
        m["peak_rss_mb"] = procfs.tree_peak_rss_mb(me)
        if tracer is not None:
            tracer.close()
            _write_trace(args, timed, tracer)
        m["tmp_mb_left"] = dirs.tmp_mb()
        m["shm_dirs_left"] = len(dirs.shm_left())
    finally:
        if spark is not None:
            stop_spark(spark)
            log("perfbench: spark stopped")
    return m


def _write_trace(args, timed: list[dict], tracer) -> None:
    """Per-op layer records and spans of the traced passes, kept in memory
    during the run and written once at its end."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-trace.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "cores": CORES,
                   "passes": [p["recs"] for p in timed if p["traced"]],
                   "spans": tracer.spans}, f, indent=1)
    log(f"perfbench: trace written to {path}")


def report(args, m: dict) -> dict:
    """The metrics of one run: end-to-end ones, or with --trace 1 the
    per-layer ones."""
    runner, timed = m["runner"], m["timed"]
    plain = [p for p in timed if not p["traced"]]
    log(f"perfbench: timed passes {[round(p['wall'], 3) for p in timed]}")
    print(f"# verification: {m['status']}")
    if not args.trace:
        lat = [v for p in plain for v in p["lat"].values()]
        tail_s, tail_pct, n_lat = tail(lat)
        print(f"# op_tail_s is p{tail_pct:.1f} of {n_lat} warm op latencies")
        return {
            "setup_s": (m["setup_s"], "s"),
            "cold_pass_s": (m["cold"]["wall"], "s"),
            "pass_s": (statistics.median(p["wall"] for p in plain), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            "ok_frac": (runner.ok_calls(m["status"]) / runner.attempted, "ratio"),
            "peak_rss_mb": (m["peak_rss_mb"], "MB"),
        }
    from layers import LAYER_METRICS, pass_layers

    traced = [pass_layers(p["recs"], CORES) for p in timed if p["traced"]]
    values = {
        "session.build_s": (m["session_build_s"], "s"),
        "registry.load_s": (m["registry_load_s"], "s"),
    }
    for name, (key, unit) in LAYER_METRICS.items():
        values[name] = (statistics.median(t[key] for t in traced), unit)
    values["ingest.tmp_mb_left"] = (m["tmp_mb_left"], "MB")
    values["streaming.shm_dirs_left"] = (m["shm_dirs_left"], "count")
    values["host.calib_s"] = (m["calib_s"], "s")
    values["trace.overhead_frac"] = (
        statistics.median(p["wall"] for p in timed if p["traced"])
        / statistics.median(p["wall"] for p in plain) - 1.0, "ratio")
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size (tiny is the smoke check's)")
    args = ap.parse_args()
    _require_checkout()

    dirs = RunDirs(args.workload, args.seed)
    try:
        dirs.environ()
        m = measure(args, dirs)
    finally:
        dirs.remove()
    values = report(args, m)
    for name, (v, unit) in values.items():
        print(f"{name} {v:.6g} {unit}")
    runner = m["runner"]
    ok = runner.ok_calls(m["status"])
    print(json.dumps({
        "correct": ok == runner.attempted,
        "attempted": runner.attempted,
        "failed": runner.attempted - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
