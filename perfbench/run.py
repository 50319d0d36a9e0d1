"""Closed-loop benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql_repl --seed 1 --seconds 10 --trace 0

Runs from the repository root. It writes seeded tables, starts one Spark
session on ``local[nproc]``, warms up by running every op kind of the
workload once (those results are checked against DuckDB), then runs a
number of whole cycles of ops fixed by ``--seconds``, one op at a time
(``workloads.CYCLES_PER_10S``: 9 to 20 s of ops at 10 s on a 4-core box).
The output checks run after the timed loop's clock has stopped. The last
stdout line is the result: end-to-end metrics with ``--trace 0``, per-layer
metrics from spans and counters with ``--trace 1``. The line before it
records the machine and inputs of the run. Everything the run writes lives
in a scratch directory under ``.perfbench_runs/``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import duckdb  # noqa: E402
from measure import latency_summary, same_result  # noqa: E402
from spans import (  # noqa: E402
    ROOT_SPAN,
    JvmProbe,
    StreamStats,
    Tracer,
    patch_layers,
    self_times,
    subtree,
)
from workloads import SQL_TPCH, WORKLOADS, cycles, repeat_share, timed_cycles  # noqa: E402

from sql_query_engine_rs_spark import Database  # noqa: E402
from sql_query_engine_rs_spark.functions.caching import release_caches  # noqa: E402
from sql_query_engine_rs_spark.plans import plan_report  # noqa: E402
from sql_query_engine_rs_spark.queries import QUERIES  # noqa: E402
from sql_query_engine_rs_spark.session import get_spark  # noqa: E402

RUNS_DIR = ".perfbench_runs"
SF = 0.1
# local mode runs the executors inside the driver JVM; 2g holds every op of
# every workload at SF with room to spare, on a box shared with other jobs
DRIVER_MEMORY = "2g"
DEADLINE_S = 150
COVERED_SHARE = 0.9  # an op is covered when layer spans explain 90% of it

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "ops_per_s": "1/s",
    "ok_frac": "ratio",
    "jvm_peak_rss_mb": "MB",
}
STREAM_KEYS = {
    "batches": "count", "input_rows": "count", "trigger_ms": "ms", "planning_ms": "ms",
    "add_batch_ms": "ms", "wal_commit_ms": "ms", "state_rows_updated": "count",
    "state_commit_ms": "ms", "state_memory_bytes": "bytes",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "catalog.load_s": "s",
    "catalog.load_jobs": "count",
    "database.run_s": "s",
    "plans.plan_s": "s",
    "plans.exchanges": "count",
    "plans.broadcast_joins": "count",
    "plans.scans": "count",
    "operators.scan_calls": "count",
    "operators.scan_jobs": "count",
    "operators.scan_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.tmp_bytes_left": "bytes",
    "functions.dedup_s": "s",
    "functions.similarity_s": "s",
    "functions.text_s": "s",
    "functions.arrow_kernels_s": "s",
    "functions.caching.released": "count",
    "functions.caching.release_s": "s",
    **{f"streaming.{k}": u for k, u in STREAM_KEYS.items()},
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_success_ratio": "ratio",
    "exec.gc_ms": "ms",
    "exec.codegen_compiles": "count",
    "exec.codegen_compile_ms": "ms",
    "exec.write_bytes": "bytes",
    "harness.self_s": "s",
    "trace.latency_p50_s": "s",
    "trace.ops_covered_frac": "ratio",
}
JVM_KEYS = ("gc_ms", "codegen_compiles", "codegen_compile_ms", "write_bytes")


class Interrupted(BaseException):
    """Not an Exception, so the per-op handlers cannot swallow it."""


def _interrupt(signum, frame):
    raise Interrupted(f"{signal.Signals(signum).name}: the run is cut short")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass  # removed while walking
    return total


def git_commit() -> str:
    """The checkout's git commit, or ``unknown`` outside a git repository."""
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            return subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10, check=True,
            ).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return "unknown"


class Bench:
    """One run: owns the session, the DuckDB oracle and the scratch dir."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.workload = args.workload
        self.dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "ckpt", "data", "wh")}
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        self.db = None  # the Database facade, on sql_repl only
        self.duck = None
        self.jvm_pid = None
        self.last_plan, self.last_released = None, 0  # of the op just run
        self.check_s = 0.0
        self.warm_texts: set[str] = set()

    # -- isolation: every path the engine, Spark or Python may write under
    # the run dir, the machine's share fixed, no outside conf

    def isolate(self) -> None:
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
        os.environ.update({
            "TMPDIR": self.dirs["tmp"],
            "SPARK_LOCAL_DIRS": self.dirs["local"],
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "PYSPARK_PYTHON": sys.executable,
            # every JVM, the launcher's too: temp files in the run dir and
            # no hsperfdata file in /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={self.dirs['tmp']}",
        })
        tempfile.tempdir = None  # re-read TMPDIR

    def run(self) -> tuple[dict, dict]:
        self.isolate()
        args, wl = self.args, self.workload
        t0 = time.perf_counter()
        data = datagen.write_tables(self.dirs["data"], args.seed, SF)
        data_s = time.perf_counter() - t0
        self.open_oracle(data)
        tr = self.tracer = Tracer(bool(args.trace))
        if args.trace:
            patch_layers(tr)

        session_s, load_s = self.start(data)
        streams = None
        if args.trace:
            streams = StreamStats()
            self.spark.streams.addListener(streams)
        ops = cycles(wl, args.seed, {k: QUERIES[k].oracle for k in SQL_TPCH})
        warm_lat, bad = self.warm_up(next(ops))
        setup_s = session_s + load_s + sum(warm_lat.values())
        setup_spans = list(tr.spans)
        tr.resolve_jobs(setup_spans)

        if streams is not None:
            streams.phase = "timed"
        jvm0 = self.probe.sample() if args.trace else None
        n_cycles = timed_cycles(wl, args.seconds)
        t0 = time.perf_counter()
        lat, kinds, texts, raised, first_out, op_stats = self.timed_loop(ops, n_cycles)
        loop_s = time.perf_counter() - t0
        for text, (op, (rows, cols)) in first_out.items():
            if text not in self.warm_texts and not self.check(op, rows, cols):
                bad.add(text)
        failed = sum(1 for t, r in zip(texts, raised) if r or t in bad)
        summary = latency_summary(lat)

        if args.trace:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            metrics = self.layer_metrics(
                setup_spans, op_stats, summary, jvm0, streams.totals.get("timed", {})
            )
            print(json.dumps({"spans": tr.to_json()}), file=sys.stderr)
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_s": summary["p50"],
                "latency_tail_s": summary["tail"],
                "ops_per_s": len(lat) / loop_s,
                "ok_frac": 1.0 - failed / len(lat),
                "jvm_peak_rss_mb": self.probe.peak_rss_mb(),
            }
        by_kind = defaultdict(list)
        for k, x in zip(kinds, lat):
            by_kind[k].append(x)
        record = {
            "workload": wl, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "cpus": self.cpus, "sf": SF, "driver_memory": DRIVER_MEMORY, "commit": git_commit(),
            "data_s": data_s, "session_s": session_s, "load_s": load_s,
            "warmup_s": sum(warm_lat.values()), "check_s": self.check_s,
            "cycles": n_cycles, "ops": len(lat), "measured_s": loop_s,
            "tail_pct": summary["tail_pct"], "tail_n": summary["n"],
            "repeat_share": repeat_share(texts, self.warm_texts),
            "mismatched": sorted(bad), "raised": sum(raised),
            "kind_warmup_s": dict(sorted(warm_lat.items())),
            "kind_p50_s": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
        }
        units = PER_LAYER if args.trace else END_TO_END
        result = {
            "correct": not bad and not any(raised),
            "attempted": len(lat),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return record, result

    def open_oracle(self, data: str) -> None:
        self.duck = duckdb.connect()
        self.duck.execute(f"SET temp_directory = '{os.path.join(self.dirs['tmp'], 'duckdb')}'")
        self.duck.execute(f"SET threads = {self.cpus}")
        for t in datagen.TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def start(self, data: str) -> tuple[float, float]:
        """Session start, then the table loads on ``sql_repl``; both timed."""
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                master=f"local[{self.cpus}]",
                shuffle_partitions=self.cpus,
                checkpoint_dir=os.path.join(self.dirs["ckpt"], "rdd"),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    # a fixed heap and young generation, so the JVM's peak RSS
                    # follows live data, not G1's heap-resizing decisions
                    "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn512m",
                    "spark.sql.warehouse.dir": self.dirs["wh"],
                    "spark.sql.streaming.checkpointLocation": os.path.join(self.dirs["ckpt"], "streams"),
                },
            )
        session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if tr.enabled:
            tr.sc = self.spark.sparkContext  # spans from here on get job groups
        self.probe = JvmProbe(self.spark)
        self.jvm_pid = self.probe.pid
        if self.workload != "sql_repl":
            return session_s, 0.0
        self.db = Database(self.spark)
        t0 = time.perf_counter()
        for t in datagen.TABLES:
            with tr.span("catalog.load"):
                self.db.run(f"\\load parquet {t} {shlex.quote(f'{data}/{t}.parquet')}")
        return session_s, time.perf_counter() - t0

    def warm_up(self, first_cycle) -> tuple[dict[str, float], set[str]]:
        """Run every op kind once, collecting rows; check them afterwards.

        Returns each kind's wall time and the texts whose result was wrong."""
        self.tracer.op = "warmup"
        warm_lat, results, bad = {}, [], set()
        for op in first_cycle:
            t0 = time.perf_counter()
            try:
                results.append((op, self.run_op(op, collect=True)))
            except Exception:
                traceback.print_exc()
                bad.add(op.text)
            finally:
                warm_lat[op.kind] = time.perf_counter() - t0
        self.warm_texts = {op.text for op, _ in results}
        for op, (rows, cols) in results:
            if not self.check(op, rows, cols):
                bad.add(op.text)
        return warm_lat, bad

    def timed_loop(self, ops, n_cycles: int):
        """Whole cycles, one op at a time.

        Also returns the first collected result of each distinct text, for
        the output check that runs after the loop's clock has stopped."""
        tr, trace = self.tracer, self.args.trace
        lat, kinds, texts, raised, first_out, op_stats = [], [], [], [], {}, []
        for _ in range(n_cycles):
            for op in next(ops):
                tr.op = f"op{len(lat)}"
                tmp0 = dir_bytes(self.dirs["tmp"]) if trace else 0
                self.last_plan, self.last_released = None, 0
                out, failed = None, False
                t0 = time.perf_counter()
                try:
                    with tr.span(ROOT_SPAN):
                        out = self.run_op(op, collect=(self.db is not None))
                except Exception:
                    traceback.print_exc()
                    failed = True
                lat.append(time.perf_counter() - t0)
                kinds.append(op.kind)
                texts.append(op.text)
                raised.append(failed)
                if out is not None and op.text not in first_out:
                    first_out[op.text] = (op, out)
                if trace:
                    op_stats.append(self.op_stats(tr.op, dir_bytes(self.dirs["tmp"]) - tmp0))
        return lat, kinds, texts, raised, first_out, op_stats

    def run_op(self, op, collect: bool):
        """One op: build or parse, plan report (traced runs), the action.

        Returns ``(rows, columns)`` when ``collect`` else ``None``."""
        tr = self.tracer
        if self.db is not None:
            with tr.span("database.run"):
                df = self.db.run(op.text)
        else:
            with tr.span("queries.build"):
                df = QUERIES[op.text].build(self.spark, self.dirs["data"])
        if tr.enabled:
            with tr.span("plans.plan"):
                self.last_plan = plan_report(df)
        with tr.span("exec.run"):
            if collect:
                out = ([tuple(r) for r in df.collect()], df.columns)
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        if self.db is None:
            with tr.span("functions.caching.release"):
                self.last_released = release_caches()
        return out

    def check(self, op, rows, cols) -> bool:
        """Compare one result with DuckDB running the same SQL or the oracle."""
        t0 = time.perf_counter()
        sql = op.text if self.workload == "sql_repl" else QUERIES[op.text].oracle
        res = self.duck.execute(sql)
        ok = same_result(rows, cols, res.fetchall(), [d[0] for d in res.description])
        self.check_s += time.perf_counter() - t0
        if not ok:
            print(f"perfbench: result mismatch for {op.kind}: {op.text[:120]}", file=sys.stderr)
        return ok

    # -- traced run: per-op layer numbers, then means over the timed ops

    def op_stats(self, op_id: str, tmp_left: int) -> dict:
        tr = self.tracer
        spans = [s for s in tr.spans if s.op == op_id]
        tr.resolve_jobs(spans)
        own = self_times(spans)
        st: dict[str, float] = defaultdict(float)
        root = next(s for s in spans if s.name == ROOT_SPAN)
        wall = root.end - root.start
        for s in spans:
            if s is not root:
                st[f"{s.name}_s"] += own[s.id]
        st["harness.self_s"] = own[root.id]
        st["covered"] = float(wall - own[root.id] >= COVERED_SHARE * wall)
        st["wall"] = wall
        st["queries.tmp_bytes_left"] = float(tmp_left)
        st["functions.caching.released"] = float(self.last_released)
        if self.last_plan is not None:
            st["plans.exchanges"] = float(self.last_plan["exchanges"])
            st["plans.broadcast_joins"] = float(self.last_plan["broadcast_joins"])
            st["plans.scans"] = float(self.last_plan["scans"])
        scans = [s for s in spans if s.name == "operators.scan"]
        st["operators.scan_calls"] = float(len(scans))
        st["operators.scan_jobs"] = float(sum(len(s.jobs) for s in scans))
        st["queries.build_jobs"] = float(sum(
            len(x.jobs) for b in spans if b.name == "queries.build" for x in subtree(spans, b)
        ))
        tracker = self.spark.sparkContext.statusTracker()
        exec_jobs = {j for s in spans if s.name == "exec.run" for j in s.jobs}
        done = failed = 0
        for j in {j for s in spans for j in s.jobs}:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                si = tracker.getStageInfo(sid)
                if si is None:
                    continue
                done += si.numCompletedTasks
                failed += si.numFailedTasks
                if j in exec_jobs:
                    st["exec.stages"] += 1
                    st["exec.tasks"] += si.numCompletedTasks + si.numFailedTasks
        st["exec.jobs"] = float(len(exec_jobs))
        st["exec.failed_tasks"] = float(failed)
        st["exec.task_success_ratio"] = done / (done + failed) if done + failed else 1.0
        return st

    def layer_metrics(self, setup_spans, op_stats, summary, jvm0, stream) -> dict:
        n = len(op_stats)
        out = {k: sum(st.get(k, 0.0) for st in op_stats) / n for k in PER_LAYER}
        jvm1 = self.probe.sample()
        for k in JVM_KEYS:
            out[f"exec.{k}"] = (jvm1[k] - jvm0[k]) / n
        for k in STREAM_KEYS:
            v = stream.get(k, 0.0)
            out[f"streaming.{k}"] = v if k == "state_memory_bytes" else v / n
        get_spark = [s for s in setup_spans if s.name == "session.get_spark"]
        loads = [s for s in setup_spans if s.name == "catalog.load"]
        out["session.get_spark_s"] = sum(s.end - s.start for s in get_spark)
        out["catalog.load_s"] = sum(s.end - s.start for s in loads)
        out["catalog.load_jobs"] = float(sum(len(s.jobs) for s in loads))
        out["trace.latency_p50_s"] = summary["p50"]
        out["trace.ops_covered_frac"] = sum(st["covered"] for st in op_stats) / n
        return out

    def close(self) -> None:
        """Stop the session and the JVM, and wait for every process they started."""
        children = _children(self.jvm_pid) if self.jvm_pid else []
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                traceback.print_exc()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        # the Python worker daemons notice the JVM's exit only at their next
        # one-second poll; SIGTERM ends each, and its workers, at once
        for pid in children:
            try:
                os.kill(pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
        _wait_gone(children)
        if self.duck is not None:
            self.duck.close()


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass  # exited while scanning
    return out


def _wait_gone(pids: list[int], timeout: float = 20.0) -> None:
    """Wait for processes this run started (Python workers) to exit."""
    end = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < end:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(ROOT, RUNS_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    bench = Bench(args, run_dir)
    for sig in (signal.SIGALRM, signal.SIGTERM):
        signal.signal(sig, _interrupt)
    # the measured run must end within DEADLINE_S; the clean-up after it is
    # not under this alarm but has its own timeouts (close(), _wait_gone())
    signal.alarm(DEADLINE_S)
    try:
        record, result = bench.run()
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        try:
            bench.close()
        except Exception:
            traceback.print_exc()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
