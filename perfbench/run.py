"""Keyed-upsert benchmark: one client drives ``KeyedTable`` in a closed loop.

Run from the root of a checkout of the repository::

    python3 perfbench/run.py --workload upsert_trickle --seed 1 --seconds 10 --trace 0

Each timed cycle is one upsert, the CDC consumer catching up, an inline
``clean(retain_commits=2)`` and one read of each of the four read kinds
in a seeded order. The op count of a run is fixed by the workload and
``--seconds``. Every read is checked against a DuckDB model of the
table, and so are the final snapshot and the consumer's row total. The
last line of stdout is the JSON result; the line before it (``# meta``)
holds the host context and the per-op latencies in op order.
See perfbench/README.md for the workloads, metrics and traced run.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
READ_KINDS = ("snapshot", "pruned", "lookup", "incremental")
#: the reference cleaner keeps 10 commits; a run makes only 3-4, so the
#: benchmark keeps 2 to have the cleaner delete on every timed commit
RETAIN_COMMITS = 2
#: set-up (the base load) is repeated this many times; setup_s counts its
#: median. Two, not more: every repeat costs 2-3 s of a run, and 22 runs
#: per workload must fit the benchmark's hour
SETUP_REPEATS = 2


def parse_args(argv=None):
    from gen import SPECS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--warmup",
        type=int,
        default=None,
        help="untimed warm-up cycles (default: the workload's, chosen "
        "from the latency-by-op-index curve; 0 records that curve)",
    )
    return ap.parse_args(argv)


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) ticks of the whole host so far, from /proc/stat:
    busy is user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def cpu_probe_s() -> float:
    """Median time of a fixed pure-Python loop: how fast the host runs
    right now, recorded as run context (never used to scale a metric)."""
    from statistics import median

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t0)
    return median(times)


def host_counters() -> dict:
    return {
        "loadavg_1m": os.getloadavg()[0],
        "steal_ticks": cpu_ticks()[1],
        "cpu_probe_s": cpu_probe_s(),
    }


def vm_hwm_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found in /proc/self/status")


def file_sizes(root: str) -> dict:
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def is_data_file(rel: str) -> bool:
    """A table data file (not a bloom sidecar or other metadata)."""
    return rel.startswith("data/") and rel.endswith(".parquet")


def start_spark(work: str, slots: int, trace: bool):
    from hudi_glue_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: in a one-minute process the C2 compiler threads
        # compete with the workload for the cores and never pay back, and
        # runs sat on a JIT slope (see README.md "Warm-up")
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    spark = get_spark(
        "perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Bench:
    """State of one run: the table, the model and the recorded ops."""

    def __init__(self, spec, seed: int, work: str, spark, tracer):
        import numpy as np

        from gen import Generator

        self.spec, self.work = spec, work
        # Spark job groups of this run's ops: unique even when two runs
        # share one session
        self.run_tag = uuid.uuid4().hex[:12]
        self.spark, self.tracer = spark, tracer
        self.gen = Generator(spec, seed)
        self.read_rng = np.random.default_rng([seed, 1 << 20])
        self.kt = None
        self.model = None
        self.query = None
        self.ops: list = []
        self.next_op = 0
        self.failed = 0
        self.attempted = 0
        self.batch_no = 0
        self.touched: list[set] = []  # parts rewritten, per commit
        self.cdc_expected = 0
        self.cdc_seen = 0  # consumer rows received up to the last commit
        self.files = {}
        self.traced_cycle = False
        self.timing = True

    # -- set-up --------------------------------------------------------------

    def table(self, path: str):
        from hudi_glue_spark.table.keyed_table import KeyedTable

        return KeyedTable(
            path,
            key="id",
            precombine="ts",
            partition_by="part",
            key_bloom=True,
        )

    def set_up(self) -> list[float]:
        """Load the base ``SETUP_REPEATS`` times, each into a fresh table,
        and return each load's wall time (data generation included). The
        first table is kept and the CDC consumer starts on it at once, so
        its start-up (Python worker spawn and imports) overlaps the
        repeats; the repeats' tables are deleted. Returns once the
        consumer has caught up."""
        from model import Model

        walls = []
        for r in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            base = self.gen.base()
            kt = self.table(os.path.join(self.work, f"table{r}"))
            kt.bulk_insert(self.spark.createDataFrame(base.to_pandas()))
            walls.append(time.perf_counter() - t0)
            if r == 0:
                self.kt = kt
                self.start_consumer()
            else:
                shutil.rmtree(kt.path)
        self.model = Model(base)
        self.files = file_sizes(self.kt.path)
        self.query.processAllAvailable()
        self.cdc_seen = self.consumer_rows()
        return walls

    def start_consumer(self) -> None:
        from hudi_glue_spark.streaming.table_source import stream_changes

        self.query = (
            stream_changes(self.spark, self.kt, starting="latest")
            .writeStream.format("noop")
            .option("checkpointLocation", os.path.join(self.work, "ckpt"))
            .queryName("perfbench_cdc")
            .start()
        )

    # -- ops -----------------------------------------------------------------

    def _op(self, kind: str, fn):
        """Run one client op, timed; returns (result, OpRecord) or
        (None, None) when it raised."""
        from tracing import OpRecord

        tr = self.tracer
        op_id = self.next_op
        self.next_op += 1
        traced = tr is not None and self.traced_cycle
        rec = OpRecord(op_id, kind, 0.0, 0.0, traced)
        if tr is not None:
            rec.extra["group"] = f"pb-{self.run_tag}-{op_id}"
            self.spark.sparkContext.setJobGroup(rec.extra["group"], kind)
            if traced:
                cpu0, jvm0, gc0 = time.process_time(), tr.jvm_cpu_s(), tr.gc_s()
                tr.active_op = op_id
        self.attempted += self.timing
        jobs0 = self._job_ids()
        busy0, steal0 = cpu_ticks()
        try:
            rec.start = time.perf_counter()
            out = fn(rec)
            rec.end = time.perf_counter()
        except Exception:  # noqa: BLE001 - an op failure is counted, the run goes on
            rec.end = time.perf_counter()
            traceback.print_exc()
            self.failed += self.timing
            return None, None
        finally:
            busy1, steal1 = cpu_ticks()
            rec.extra.update(cpu_ticks=busy1 - busy0, steal_ticks=steal1 - steal0)
            if tr is not None:
                tr.active_op = None
                if traced:
                    rec.py_cpu_s = time.process_time() - cpu0
                    rec.jvm_cpu_s = tr.jvm_cpu_s() - jvm0
                    rec.gc_s = tr.gc_s() - gc0
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec.extra["timed"] = self.timing
        jobs = self._job_ids() - jobs0
        if "group" in rec.extra:
            jobs |= self._job_ids(rec.extra["group"])
        rec.extra["jobs"] = sorted(jobs)
        self.ops.append(rec)
        return out, rec

    def _job_ids(self, group: str | None = None) -> set:
        """IDs of the application's Spark jobs in ``group`` (None: jobs
        without a group, which is every job of an untraced op; the CDC
        consumer's jobs carry the query's group), read once the listener
        bus has delivered every event posted so far."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def consumer_rows(self) -> int:
        """Rows the CDC consumer has received so far."""
        return sum(int(p.get("numInputRows", 0)) for p in self.query.recentProgress)

    def _check(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"CHECK FAILED: {what}", file=sys.stderr)
            self.failed += self.timing

    def commit(self) -> None:
        self.batch_no += 1
        i = self.batch_no
        batch = self.gen.batch(i)
        bdf = self.spark.createDataFrame(batch.to_pandas())
        _, rec = self._op("commit", lambda r: self.kt.upsert(bdf))
        t_commit = time.perf_counter()
        self.query.processAllAvailable()
        lag = time.perf_counter() - t_commit
        cdc_rows = self.consumer_rows()
        cdc_new, self.cdc_seen = cdc_rows - self.cdc_seen, cdc_rows
        after_upsert = file_sizes(self.kt.path)
        # the clean is part of the commit op: its wall is added below
        _, crec = self._op("clean", lambda r: self.kt.clean(retain_commits=RETAIN_COMMITS))
        after_clean = file_sizes(self.kt.path)
        self.model.apply(batch)
        parts = {int(p) for p in batch.column("part").to_pylist()}
        self.touched.append(parts)
        self.cdc_expected += self.model.rows_in_parts(parts)
        if rec is None or crec is None:
            self.files = after_clean
            return
        rec.extra.update(
            clean_s=crec.wall, cdc_lag_s=lag, cdc_rows=cdc_new, rows=batch.num_rows
        )
        new = {p: s for p, s in after_upsert.items() if p not in self.files}
        data = {p: s for p, s in new.items() if is_data_file(p)}
        rec.extra.update(
            data_files=len(data),
            data_bytes=sum(data.values()),
            meta_bytes=sum(s for p, s in new.items() if p not in data),
            parts_rewritten=len({os.path.dirname(p) for p in data}),
            clean_deleted=sum(
                1 for p in after_upsert if p not in after_clean and is_data_file(p)
            ),
            clean_op=crec,
        )
        self.files = after_clean

    def read(self, kind: str) -> None:
        from pyspark.sql import functions as F

        from model import CHECKSUM_SQL

        rng, kt, spark = self.read_rng, self.kt, self.spark
        aggs = [F.count("*"), F.sum("v"), F.expr(CHECKSUM_SQL)]
        if kind == "snapshot":
            plan = lambda: kt.read(spark).agg(*aggs)  # noqa: E731
            expect = self.model.agg()
        elif kind == "pruned":
            part = int(rng.integers(self.spec.n_parts))
            plan = lambda: kt.read(spark).where(F.col("part") == part).agg(*aggs)  # noqa: E731
            expect = self.model.agg(part)
        elif kind == "lookup":
            keys = self.gen.lookup_keys(rng)
            plan = lambda: kt.read_keys(spark, keys).select("id", "part", "ts", "v", "pad")  # noqa: E731
            expect = self.model.lookup(keys)
        else:
            ids = kt.commits()
            back = min(3, len(ids) - 1)
            since = ids[-1 - back]
            parts = set().union(*self.touched[-back:])
            plan = lambda: kt.read_incremental(spark, since).agg(F.count("*"))  # noqa: E731
            expect = (self.model.rows_in_parts(parts),)

        def run(rec):
            df = plan()
            rec.extra["plan_s"] = time.perf_counter() - rec.start
            return df.collect()

        rows, rec = self._op(kind, run)
        if rec is None:
            return
        if kind == "lookup":
            got = sorted(tuple(r) for r in rows)
            rec.extra["keys"] = keys
        else:
            got = tuple(int(x or 0) for x in rows[0])
        self._check(got == expect, f"{kind} read: got {got}, expected {expect}")

    def cycle(self) -> None:
        self.commit()
        for k in self.read_rng.permutation(len(READ_KINDS)):
            self.read(READ_KINDS[k])

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        if self.model is not None:
            self.model.close()

    def final_check(self) -> bool:
        from pyspark.sql import functions as F

        from model import CHECKSUM_SQL

        got = self.kt.read(self.spark).agg(
            F.count("*"), F.sum("v"), F.expr(CHECKSUM_SQL)
        ).collect()[0]
        snap = tuple(int(x or 0) for x in got)
        ok = snap == self.model.agg()
        if not ok:
            print(f"FINAL CHECK FAILED: snapshot {snap} vs model {self.model.agg()}", file=sys.stderr)
        self.query.processAllAvailable()
        cdc_rows = self.consumer_rows()
        if cdc_rows != self.cdc_expected:
            print(
                f"FINAL CHECK FAILED: consumer rows {cdc_rows} vs {self.cdc_expected}",
                file=sys.stderr,
            )
            ok = False
        return ok


def spark_tasks(spark, ops) -> dict:
    """Tasks each op's Spark jobs ran, by op id. A stage a later job
    reuses (shown as skipped) counts once, for the op that ran it."""
    tracker = spark.sparkContext.statusTracker()
    seen, out = set(), {}
    for r in ops:
        n = 0
        for j in r.extra["jobs"]:
            for sid in tracker.getJobInfo(j).stageIds:
                if sid not in seen:
                    seen.add(sid)
                    info = tracker.getStageInfo(sid)
                    n += info.numCompletedTasks if info is not None else 0
        out[r.op] = n
    return out


def latencies(b: Bench) -> dict:
    """Wall-clock figures of the timed ops (s; rows/s for the merge
    rate). Run context in the meta line, not gated metrics: the host's
    speed moves them together by more than any bound (README.md)."""
    from statistics import median

    from stats import tail
    from tracing import timed_commits

    timed = [r for r in b.ops if r.extra["timed"]]
    commits = timed_commits(b.ops)
    walls = [r.wall + r.extra["clean_s"] for r in commits]
    reads = {k: [r.wall for r in timed if r.kind == k] for k in READ_KINDS}
    read_tail, tail_p = tail([w for ws in reads.values() for w in ws])
    out = {
        "commit_p50_s": median(walls),
        "rows_merged_per_s": sum(r.extra["rows"] for r in commits) / sum(walls),
        **{f"{k}_read_p50_s": median(reads[k]) for k in READ_KINDS},
        "read_tail_s": read_tail,
        "read_tail_percentile": tail_p,
        "cdc_lag_p50_s": median([r.extra["cdc_lag_s"] for r in commits]),
    }
    return {k: v if v is None or isinstance(v, int) else round(v, 4) for k, v in out.items()}


def e2e_metrics(b: Bench, setup_s: float, end_ok: bool) -> dict:
    from gen import ROW_BYTES
    from hudi_glue_spark.table import manifest as M
    from tracing import timed_commits

    commits = timed_commits(b.ops)
    reads = [r for r in b.ops if r.extra["timed"] and r.kind in READ_KINDS]
    tasks = spark_tasks(b.spark, b.ops)
    man = M.read_manifest(b.kt.path)
    ddir = M.data_dir(b.kt.path)
    live_bytes = sum(os.path.getsize(os.path.join(ddir, f)) for f in man.files)
    total_bytes = sum(file_sizes(b.kt.path).values())
    rows = sum(r.extra["rows"] for r in commits)
    ok_ratio = (1 - b.failed / b.attempted) if end_ok else 0.0
    # a commit is the upsert plus its inline clean
    commit_ops = [op for r in commits for op in (r, r.extra["clean_op"])]
    m = {
        "setup_s": (setup_s, "s"),
        "commit_spark_jobs": (
            sum(len(r.extra["jobs"]) for r in commit_ops) / len(commits), "count"
        ),
        "commit_spark_tasks": (sum(tasks[r.op] for r in commit_ops) / len(commits), "count"),
        "read_spark_jobs": (sum(len(r.extra["jobs"]) for r in reads) / len(reads), "count"),
        "read_spark_tasks": (sum(tasks[r.op] for r in reads) / len(reads), "count"),
        "cdc_rows_per_batch_row": (sum(r.extra["cdc_rows"] for r in commits) / rows, "ratio"),
        "write_amp": (
            sum(r.extra["data_bytes"] for r in commits) / (rows * ROW_BYTES),
            "ratio",
        ),
        "space_amp": (total_bytes / live_bytes, "ratio"),
        "driver_rss_mb": (vm_hwm_mb(), "MB"),
        "ok_ratio": (ok_ratio, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run_workload(spark, spec, seed: int, n_cycles: int, warmup: int, work: str,
                 trace: bool, session_s: float = 0.0, t_spark: float | None = None):
    """One run on a started session: set-up, warm-up, ``n_cycles`` timed
    cycles, the end-of-run check. Returns (result, meta)."""
    from statistics import median

    tracer = b = None
    if trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    try:
        b = Bench(spec, seed, work, spark, tracer)
        t_setup = time.perf_counter()
        base_walls = b.set_up()
        t_warm = time.perf_counter()
        b.timing = False
        for _ in range(warmup):
            b.cycle()
        b.timing = True
        t_timed = time.perf_counter()
        before = 0.0 if t_spark is None else t_spark - T_PROCESS
        # the elapsed set-up with the base loads counted once, at their median
        setup_s = (
            before + session_s + (t_timed - t_setup) - sum(base_walls) + median(base_walls)
        )
        for c in range(n_cycles):
            b.traced_cycle = trace and bool(c % 2)
            b.cycle()
        b.traced_cycle = False
        t_check = time.perf_counter()
        end_ok = b.final_check()
        correct = end_ok and b.failed == 0
        phases = {
            "base_and_consumer": t_warm - t_setup,
            "warmup": t_timed - t_warm,
            "timed": t_check - t_timed,
            "check": time.perf_counter() - t_check,
        }
        e2e = metrics = e2e_metrics(b, setup_s, end_ok)
        if trace:
            from layers import layer_metrics

            metrics = layer_metrics(b, session_s)
        meta = {
            "workload": spec.name,
            "seed": seed,
            "cycles": n_cycles,
            "warmup_cycles": warmup,
            "session_start_s": session_s,
            "base_load_s": base_walls,
            "phase_s": phases,
            "latency": latencies(b),
            # kind, wall (s), timed, host busy and steal ticks during the
            # op, Spark jobs
            "ops": [
                [r.kind, round(r.wall, 4), r.extra["timed"], r.extra["cpu_ticks"],
                 r.extra["steal_ticks"], len(r.extra["jobs"])]
                for r in b.ops
            ],
        }
        if trace:
            meta["e2e"] = e2e
        result = {
            "correct": bool(correct),
            "attempted": b.attempted,
            "failed": b.failed,
            "metrics": metrics,
        }
        return result, meta
    finally:
        if tracer is not None:
            tracer.uninstall()
        if b is not None:
            b.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hudi_glue_spark")):
        print(f"no hudi_glue_spark package under {ROOT}", file=sys.stderr)
        return 2
    from gen import SPECS

    spec = SPECS[args.workload]
    slots = max(1, (os.cpu_count() or 2) // 2)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Spark's Python workers import the engine from the checkout, and
    # every temp file of the run stays under its work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # gettempdir() re-reads TMPDIR
    sys.path.insert(0, ROOT)
    host0 = host_counters()
    spark = None
    try:
        t_spark = time.perf_counter()
        spark = start_spark(work, slots, bool(args.trace))
        session_s = time.perf_counter() - t_spark
        warmup = spec.warmup_cycles if args.warmup is None else args.warmup
        result, meta = run_workload(
            spark,
            spec,
            args.seed,
            spec.n_cycles(args.seconds),
            warmup,
            work,
            bool(args.trace),
            session_s,
            t_spark,
        )
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    host1 = host_counters()
    meta["phase_s"]["shutdown"] = time.perf_counter() - t_stop
    meta["phase_s"]["total"] = time.perf_counter() - T_PROCESS
    meta.update(
        nproc=os.cpu_count(),
        task_slots=slots,
        traced=bool(args.trace),
        loadavg_1m_start=host0["loadavg_1m"],
        loadavg_1m_end=host1["loadavg_1m"],
        steal_ticks_delta=host1["steal_ticks"] - host0["steal_ticks"],
        cpu_probe_s_start=host0["cpu_probe_s"],
        cpu_probe_s_end=host1["cpu_probe_s"],
    )
    print("# meta " + json.dumps(meta))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
