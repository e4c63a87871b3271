#!/usr/bin/env python3
"""End-to-end benchmark of the engine through its public surfaces.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  The engine and its wire doors run in a
server process (``server.py``); this process is the client: closed-loop
connections that each wait for their reply.  Workloads (see
``workloads.py`` and README.md):

  serving       three phases on one server (6, 6 and 7 19ths of the window):
                olap    2 native readers, small-result SELECT mix
                export  1 connection rotating native/HTTP/MySQL, 20k rows
                ingest  1 native writer of 10k-row blocks + 1 reader
  pipeline_ops  1 in-process caller of five LLM-pipeline operators for 6
                19ths of the window, then the same ingest phase for 13

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``.  A human-readable summary goes to stderr.
Everything the run writes lives under ``.perfbench_tmp/`` in the current
directory and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import secrets
import select
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from collections import defaultdict

import fixtures
import workloads as W
from spans import Tracer, per_op, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
EXPORT_DOORS = ("native", "http", "mysql")
_now = time.perf_counter
READY_TIMEOUT_S = 600
DRIVER_MEM = "2g"  # Spark driver heap: well below the 15 GB of a 4-core box
STOP_TIMEOUT_S = 60
WARM_INSERTS = 2  # inserts before the first timed one

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
    "insert_latency_p50_ms": "ms",
    "read_latency_mean_ms": "ms",
    "storage_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.tables.load_s": "s",
    "engine.translate_sql.ms_p50": "ms",
    "engine.sql.plan_ms_p50": "ms",
    "spark.exec.ms_p50": "ms",
    "spark.exec.tasks_per_op": "count",
    "spark.exec.shuffle_bytes_per_op": "B",
    "spark.exec.scan_rows_per_result_row": "ratio",
    "door.native.overhead_ms_p50": "ms",
    "door.http.overhead_ms_p50": "ms",
    "door.mysql.overhead_ms_p50": "ms",
    "sources.chnative.block_iter.ms_per_krow": "ms/krow",
    "sources.chnative.encode_body.ms_per_krow": "ms/krow",
    "sources.chnative.compress_frame.ms_per_mb": "ms/MB",
    "sources.chnative.wire_bytes_per_row": "B/row",
    "sources.chnative.compress_ratio": "ratio",
    "sources.httpwire.encode_rows.tsv.ms_per_krow": "ms/krow",
    "sources.mysqlwire.send_resultset.ms_per_krow": "ms/krow",
    "client.decode_ms_per_krow": "ms/krow",
    "engine.insert_df.ms_p50": "ms",
    "sources.chnative.read_data_packet.ms_per_krow": "ms/krow",
    "storage.files_per_insert": "count",
    "storage.partitions_per_insert": "count",
    "storage.bytes_written_per_input_byte": "ratio",
    "storage.table_files_end": "count",
    "olap.latency_p50_ms": "ms",
    "export.latency_p50_ms": "ms",
    "ingest.rows_per_s": "1/s",
    **{f"pipeline.{op}.ms_p50": "ms" for op in W.PIPELINE_OPS},
    "pipeline.python_worker.start_ms": "ms",
    "pipeline.python_worker.run_ms": "ms",
    "pipeline.python_worker.bytes_to_python": "B",
    "pipeline.python_worker.bytes_from_python": "B",
    "pipeline.tasks_per_op": "count",
    "pipeline.shuffle_bytes_per_op": "B",
    "trace.overhead_pct": "%",
}
# span name -> per-layer self-time metric (ms per op of the workload)
SELF_TIME_SPANS = (
    "door.native.query", "door.http.request", "door.mysql.query",
    "engine.sql", "engine.translate_sql", "engine.insert_df", "spark.fetch",
    "sources.chnative.block_iter", "sources.chnative.encode_body",
    "sources.chnative.compress_frame", "sources.chnative.read_data_packet",
    "sources.httpwire.encode_rows", "sources.mysqlwire.send_resultset",
    "client.op", "client.socket_wait", "client.http.raw",
    *(f"pipeline.{op}" for op in W.PIPELINE_OPS),
)
for _name in SELF_TIME_SPANS:
    PER_LAYER[f"trace.self_ms_per_op.{_name}"] = "ms"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def pct(values, q: float) -> float:
    v = sorted(values)
    if not v:
        return 0.0
    i = (len(v) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (i - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    return statistics.fmean(values) if values else 0.0


# ---------------------------------------------------------------------------
# server process
# ---------------------------------------------------------------------------


class ServerProc:
    """The engine server: spawn, control calls, tree RSS sampling, stop."""

    def __init__(self, root: str, workdir: str, args):
        self.workdir = workdir
        self.authkey = secrets.token_bytes(16)
        tmp = os.path.join(workdir, "tmp")
        for d in ("tmp", "warehouse", "spark-local"):
            os.makedirs(os.path.join(workdir, d), exist_ok=True)
        ncpu = len(os.sched_getaffinity(0))
        env = dict(os.environ)
        env.update({
            "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "PERFBENCH_AUTHKEY": self.authkey.hex(),
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(workdir, "warehouse"),
            "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
            "TMPDIR": tmp,
            # a heap of fixed size that is not pre-touched: the JVM's resident
            # size is the heap it has used, without the noise of the
            # collector growing the heap at moments that vary run to run
            "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
                                   f"'-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}' pyspark-shell",
            "TZ": "UTC",
        })
        self.log_path = os.path.join(workdir, "server.log")
        self._log = open(self.log_path, "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server.py"), "--workdir", workdir,
             "--workload", args.workload, "--seed", str(args.seed), "--scale", args.scale,
             "--trace", str(args.trace)],
            cwd=workdir, env=env, stdout=subprocess.PIPE, stderr=self._log,
            start_new_session=True,
        )
        self.peak_rss = 0
        self._sampling = True
        self._sampler = threading.Thread(target=self._sample_rss, daemon=True)
        self._sampler.start()
        self._conns: list = []

    def wait_ready(self) -> dict:
        """The server's ``ready`` line; the JVM it starts shares its stdout,
        so other lines are skipped."""
        deadline = time.monotonic() + READY_TIMEOUT_S
        while True:
            ready, _, _ = select.select([self.proc.stdout], [], [],
                                        max(0.0, deadline - time.monotonic()))
            line = self.proc.stdout.readline() if ready else b""
            if not line:
                raise RuntimeError("server did not start; last log lines:\n" + self.tail_log())
            if line.startswith(b'{"ready"'):
                return json.loads(line)["ready"]

    def tail_log(self, n: int = 30) -> str:
        self._log.flush()
        with open(self.log_path, "rb") as f:
            return b"\n".join(f.read().splitlines()[-n:]).decode(errors="replace")

    def connect(self, port: int):
        from multiprocessing.connection import Client

        conn = Client(("127.0.0.1", port), authkey=self.authkey)
        self._conns.append(conn)
        return Control(conn)

    def _tree_rss(self) -> int:
        """Resident bytes of the server's session, each shared page counted
        once: the sum of proportional set sizes.  (Plain RSS counts a page
        once per process sharing it, so a short-lived child forked by the
        JVM would double the total.)"""
        total = 0
        for pid in self._session_pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def tree_cpu_s(self) -> float:
        """User plus system CPU seconds of the server's live processes."""
        ticks = 0
        for pid in self._session_pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += int(fields[11]) + int(fields[12])  # stat fields 14, 15
        return ticks / os.sysconf("SC_CLK_TCK")

    def _sample_rss(self) -> None:
        while self._sampling and self.proc.poll() is None:
            self.peak_rss = max(self.peak_rss, self._tree_rss())
            time.sleep(0.2)

    def _session_pids(self) -> list[int]:
        pids = []
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[3]) == self.proc.pid:  # stat field 6: session id
                    pids.append(int(pid))
        return pids

    def kill(self) -> None:
        """Kill the server's whole session (server, JVM, Python workers)."""
        self._sampling = False
        for conn in self._conns:
            conn.close()
        self._conns = []
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(self) -> None:
        """Kill the server and wait until none of its processes is left."""
        self.kill()
        self.proc.wait()
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while self._session_pids() and time.monotonic() < deadline:
            time.sleep(0.05)
        self.proc.stdout.close()
        self._sampler.join(timeout=5)
        self._log.close()


class Control:
    def __init__(self, conn):
        self.conn = conn

    def call(self, cmd: str, **kw):
        self.conn.send((cmd, kw))
        status, res = self.conn.recv()
        if status != "ok":
            raise RuntimeError(f"server {cmd} failed: {res}")
        return res


# ---------------------------------------------------------------------------
# doors (client side)
# ---------------------------------------------------------------------------


class _TimedFile:
    """File proxy that charges blocking reads to the open client span."""

    def __init__(self, f, tracer: Tracer):
        self._f, self._tracer = f, tracer

    def read(self, n=-1):
        t0 = _now()
        b = self._f.read(n)
        self._tracer.charge("client.socket_wait", _now() - t0)
        return b

    def __getattr__(self, name):
        return getattr(self._f, name)


class Door:
    """One client connection through a wire door; ``select`` returns rows."""

    def __init__(self, kind: str, port: int, tracer: Tracer):
        from tensorbase_spark.sources import chnative, httpwire, mysqlwire

        self.kind = kind
        if kind == "native":
            self.client = chnative.NativeClient(port=port)
            self.client._r = chnative.Reader(_TimedFile(self.client._rf, tracer))
        elif kind == "http":
            self.client = httpwire.HttpClient(port=port)
            tracer.wrap(self.client, "raw", "client.http.raw")
        else:
            self.client = mysqlwire.MySQLClient(port=port)
            self.client.pio.rfile = _TimedFile(self.client.rfile, tracer)
        self.tracer = tracer

    def select(self, sql: str) -> list[tuple]:
        with self.tracer.span(f"client.{self.kind}.execute"):
            if self.kind == "native":
                return self.client.execute(sql)[1]
            if self.kind == "http":
                return self.client.execute(sql)[2]
            return self.client.query(sql)[1]

    def insert(self, table: str, columns) -> None:
        with self.tracer.span(f"client.{self.kind}.insert"):
            self.client.insert(table, columns)

    def close(self) -> None:
        self.client.close()


# ---------------------------------------------------------------------------
# the closed loop
# ---------------------------------------------------------------------------


class Op:
    __slots__ = ("kind", "door", "sql", "t0", "t1", "rows", "result", "error", "payload")

    def __init__(self, kind, door, sql, payload=None):
        self.kind, self.door, self.sql, self.payload = kind, door, sql, payload
        self.t0 = self.t1 = 0.0
        self.rows = 0
        self.result = None
        self.error = None

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


class Loop:
    """Closed-loop connection: runs whole cycles of ops until the deadline.

    ``next_cycle()`` returns the next list of ops; ``execute(op)`` performs
    one and returns (result rows count, result kept for checking).  Work
    done between ops (``after``) is outside the op's timed interval and
    outside the connection's busy time.  A ``follower`` starts no cycle
    once the other connections of its window have finished."""

    def __init__(self, name, next_cycle, execute, tracer, after=None, follower=False):
        self.name, self.next_cycle, self.execute = name, next_cycle, execute
        self.after = after
        self.follower = follower
        self.tracer = tracer
        self.ops: list[Op] = []
        self.busy = 0.0

    def run(self, keep_going, counter) -> None:
        while keep_going():
            for op in self.next_cycle():
                self.tracer.set_op(f"{self.name}:{next(counter)}")
                op.t0 = _now()
                with self.tracer.span("client.op"):
                    try:
                        op.rows, op.result = self.execute(op)
                    except Exception as e:  # a failed op is counted, the loop goes on
                        op.error = f"{type(e).__name__}: {e}"
                op.t1 = _now()
                self.busy += op.latency
                self.ops.append(op)
                if self.after is not None and op.error is None:
                    self.after(op)


def host_steal(since: tuple[int, int] | None = None):
    """(steal, total) jiffies of the host's CPUs; with ``since``, the share
    of CPU time stolen by the hypervisor in between."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    now = (fields[7], sum(fields))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def run_threads(calls) -> None:
    """Run each call on its own thread; re-raise the first failure."""
    errors = []

    def guarded(call):
        try:
            call()
        except BaseException as e:  # handed to the caller below
            errors.append(e)

    threads = [threading.Thread(target=guarded, args=(c,)) for c in calls]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def run_loops(loops: list[Loop], seconds: float) -> list[Loop]:
    """Leaders start cycles until ``seconds`` have passed; followers start
    cycles until every leader has finished."""
    counter = iter(range(10**9))
    deadline = _now() + seconds
    done = threading.Event()

    def leaders():
        try:
            run_threads([lambda lp=lp: lp.run(lambda: _now() < deadline, counter)
                         for lp in loops if not lp.follower])
        finally:
            done.set()

    run_threads([leaders] + [lambda lp=lp: lp.run(lambda: not done.is_set(), counter)
                             for lp in loops if lp.follower])
    return loops


def ops_of(loops: list[Loop], kind: str | None = None) -> list[Op]:
    return [op for lp in loops for op in lp.ops if kind is None or op.kind == kind]


def latencies_ms(ops: list[Op]) -> list[float]:
    return [op.latency * 1e3 for op in ops]


def by_kind(ops: list[Op]) -> dict[str, list[float]]:
    """Latencies in ms per op kind: a query shape, or an export door."""
    kinds = defaultdict(list)
    for op in ops:
        kinds[op.kind if op.kind != "export" else f"export.{op.door}"].append(op.latency * 1e3)
    return kinds


def rate(loops: list[Loop], weight) -> float:
    """Per connection: weight of its ops over its busy time, summed."""
    return sum(sum(weight(op) for op in lp.ops) / lp.busy for lp in loops if lp.busy)


def judge(op: Op, good: bool) -> bool:
    if not good and op.error is None:
        op.error = "wrong answer"
    return good


def selector(door: Door):
    def run(op):
        rows = door.select(op.sql)
        return len(rows), rows
    return run


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class IngestPhase:
    """The phase both workloads end with: one native writer inserts seeded
    10k-row blocks into the toYYYYMM-partitioned ``ingest`` table while one
    native reader runs month-range aggregates over it.  (The engine
    serializes inserts into a table, so a second writer would only queue:
    its inserts would take the first one's time plus its own, and the
    median of a phase's few inserts would jump between the two.)

    Every insert begun is logged with its start and acknowledgement times,
    so any read of the table, in this phase or before it, is checked
    against the blocks it must and may see."""

    def __init__(self, bench: "Bench", writer: Door, reader: Door):
        self.bench = bench
        self.writer = writer
        self.reader = reader
        self.base = W.ingest_base_facts(bench.args.workload, bench.args.seed, bench.sc)
        self.blocks: list[list] = []  # [start, ack or None, facts] per insert begun
        self.loops: list[Loop] = []
        self._numbers = iter(range(10**9))

    def insert_op(self) -> Op:
        """The next seeded block, built before its op is timed."""
        return Op("insert", "native", "INSERT INTO ingest",
                  W.ingest_columns(self.bench.args.seed, self.bench.sc, next(self._numbers)))

    def insert(self, op: Op) -> tuple[int, None]:
        cols, facts = op.payload
        entry = [_now(), None, facts]
        self.blocks.append(entry)
        self.writer.insert("ingest", cols)
        entry[1] = _now()
        return facts.rows, None

    def _loops(self, tag) -> list[Loop]:
        """The writer inserts one block per cycle; the reader reads until
        the writer is done, so every read has an insert beside it."""
        r = W.rng_for(self.bench.args.seed, "ingest", tag)
        tracer = self.bench.tracer
        return [Loop("w0", lambda: [self.insert_op()], lambda op: self.insert(op), tracer),
                Loop("r1", lambda: [Op("ingest_range", "native", *W.ingest_read_sql(r))],
                     selector(self.reader), tracer, follower=True)]

    def run(self, seconds: float) -> dict:
        """The timed phase; returns its end-to-end metrics and records the
        storage layer's in ``bench.layer``."""
        b = self.bench
        start = b.ctl.call("storage", table="ingest")
        n_before = len(self.blocks)
        self.loops = b.windows(self._loops, seconds)
        end = b.ctl.call("storage", table="ingest")
        window = [f for _s, ack, f in self.blocks[n_before:] if ack is not None]
        n_window = max(len(window), 1)
        raw_window = sum(f.raw for f in window)
        raw_all = self.base.raw + sum(f.raw for _s, ack, f in self.blocks if ack is not None)
        t_first = min((op.t0 for op in ops_of(self.loops)), default=0.0)
        b.summary["ingest_ops_ms"] = [(op.kind, round((op.t0 - t_first) * 1e3), round(op.latency * 1e3))
                                      for op in sorted(ops_of(self.loops), key=lambda o: o.t0)]
        b.layer.update({
            "ingest.rows_per_s": rate(self.loops, lambda op: op.rows if op.kind == "insert" else 0),
            "storage.files_per_insert": (end["files"] - start["files"]) / n_window,
            "storage.partitions_per_insert": sum(f.partitions for f in window) / n_window,
            "storage.bytes_written_per_input_byte": (end["bytes"] - start["bytes"]) / max(raw_window, 1),
            "storage.table_files_end": end["files"],
        })
        return {
            "insert_latency_p50_ms": median(latencies_ms(ops_of(self.loops, "insert"))),
            # a mean, not a median: reads that overlap an insert's Spark
            # jobs take about twice as long as those that do not, the two
            # groups are near half and half, and the median jumps between them
            "read_latency_mean_ms": mean(latencies_ms(ops_of(self.loops, "ingest_range"))),
            "storage_bytes_per_input_byte": end["bytes"] / raw_all,
        }

    def check_read(self, op: Op) -> bool:
        """A read sees the base rows and every block acknowledged before it
        began, and at most the blocks begun before it ended: its count and
        sum must lie between those two totals (which are equal when no
        insert was in flight, as in the olap phase)."""
        if op.error is not None or len(op.result) != 1:
            return False
        lo = list(self.base.in_range(op.payload))
        hi = list(lo)
        for start, ack, facts in self.blocks:
            c, s = facts.in_range(op.payload)
            if ack is not None and ack <= op.t0:
                lo[0] += c
                lo[1] += s
            if start < op.t1:
                hi[0] += c
                hi[1] += s
        count, total = op.result[0]
        total = 0 if total is None else total  # a sum over no rows may be NULL
        return lo[0] <= int(count) <= hi[0] and lo[1] <= int(total) <= hi[1]

    def check(self, door: Door) -> tuple[list[Op], list[bool]]:
        """The phase's ops, then a final read: the table must hold exactly
        the base rows plus every acknowledged block."""
        ops = ops_of(self.loops)
        ok = [judge(op, self.check_read(op)) if op.kind == "ingest_range" else op.error is None
              for op in ops]
        acked = [f for _s, ack, f in self.blocks if ack is not None]
        want = (self.base.rows + sum(f.rows for f in acked),
                sum(self.base.sums) + sum(sum(f.sums) for f in acked))
        got = door.select("SELECT count(*) AS c, sum(value) AS s FROM ingest")
        final = Op("final_count_sum", "native", "")
        if [tuple(map(int, r)) for r in got] != [want]:
            final.error = f"final count/sum {got} != {want}"
        return ops + [final], ok + [final.error is None]


class Bench:
    def __init__(self, args, root: str, workdir: str):
        self.args = args
        self.root = root
        self.workdir = workdir
        self.sc = fixtures.SCALES[args.scale]
        # Phase lengths, in 19ths of the window.  A connection starts a
        # whole cycle of ops while time remains, so a phase whose length is
        # near a multiple of its cycle runs one cycle more or less from run
        # to run, and the extra cycle, warmer than the first, shifts its
        # numbers.  At 19 s each length lies inside a whole number of
        # cycles: olap 6 s (two ~4.5 s cycles per connection), export 6 s
        # (two ~4.5 s cycles), serving's ingest 7 s (three or four ~2.5 s
        # inserts, so the first, slowest one is never half of them);
        # pipeline 6 s (one ~9 s cycle), then ingest 13 s.
        self.unit_s = args.seconds / 19
        self.tracer = Tracer(False)
        self.layer: dict[str, float] = {}
        self.summary: dict[str, object] = {}
        self.doors: list[Door] = []
        self.traced_loops: list[Loop] = []
        self.window_cpu_s = 0.0
        self.steal: list[float] = []
        self.untraced_loops: list[Loop] = []

    # -- shared steps ----------------------------------------------------------

    def open_door(self, kind: str) -> Door:
        d = Door(kind, self.info["doors"][kind], self.tracer)
        self.doors.append(d)
        return d

    def close_door(self, d: Door) -> None:
        self.doors.remove(d)
        d.close()

    def close_doors(self) -> None:
        for d in self.doors:
            try:
                d.close()
            except OSError:
                pass
        self.doors = []

    def windows(self, make_loops, seconds: float) -> list[Loop]:
        """Untraced: one window of ``seconds``.  Traced: an untraced half
        then a traced half; the per-layer numbers come from the second."""
        if not self.args.trace:
            cpu0, steal0 = self.server.tree_cpu_s(), host_steal()
            loops = run_loops(make_loops("w"), seconds)
            self.window_cpu_s += self.server.tree_cpu_s() - cpu0
            self.steal.append(host_steal(steal0))
            return loops
        base = run_loops(make_loops("u"), seconds / 2)
        self.tracer.active = True
        self.ctl.call("trace_on")
        loops = run_loops(make_loops("t"), seconds / 2)
        self.tracer.active = False
        self.server_trace = self.ctl.call("trace_off")  # every span so far
        self.traced_loops += loops
        self.untraced_loops += base
        return loops

    def run(self) -> dict:
        t_spawn = _now()
        self.server = ServerProc(self.root, self.workdir, self.args)
        self.ctl = None
        try:
            self.info = self.server.wait_ready()
            self.ctl = self.server.connect(self.info["ctl_port"])
            self.layer["session.start_s"] = self.info["session_start_s"]
            self.layer["sources.tables.load_s"] = self.info["load_s"]
            self.summary["session_start_s"] = self.info["session_start_s"]
            self.summary["load_s"] = self.info["load_s"]
            self.summary["load_marks"] = self.info["load_marks"]
            workload = getattr(self, self.args.workload)
            metrics = workload(t_spawn)
            metrics["peak_rss_mb"] = self.summary["peak_rss_mb"]
        finally:
            t_stop = _now()
            self.close_doors()
            self.server.stop()
        attempted = self.summary["attempted"]
        failed = self.summary["failed"]
        self.summary["error_rate"] = failed / attempted if attempted else 1.0
        self.summary["stop_s"] = _now() - t_stop
        log("summary " + json.dumps(self.summary, default=str))
        if self.args.trace:
            self.finish_trace()
            out = {k: self.layer.get(k, 0.0) for k in PER_LAYER}
            units = PER_LAYER
        else:
            out = {k: metrics[k] for k in END_TO_END}
            units = END_TO_END
        return {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in out.items()},
        }

    def release_server(self) -> None:
        """Called once the server is no longer needed: kill it, so that it
        goes down while the client checks."""
        self.summary["peak_rss_mb"] = self.server.peak_rss / 2**20
        self.close_doors()
        self.server.kill()

    def e2e(self, ops: list[Op], setup_s: float, ops_per_s: float, rows_per_s: float,
            ingest: dict) -> dict:
        """End-to-end numbers: latency over the ops outside the ingest phase
        (whose ops have latency metrics of their own), the workload's own
        throughputs and the ingest phase's metrics.

        ``latency_p50_ms`` is the geometric mean of each op kind's median.
        Kinds differ up to 4x in latency, so the median of all ops would
        jump from one kind to the next between runs."""
        lat = latencies_ms(ops)
        kinds = {k: median(v) for k, v in by_kind(ops).items()}
        self.summary["kind_p50_ms"] = {k: round(v, 1) for k, v in kinds.items()}
        self.summary["kind_n"] = {k: len(v) for k, v in by_kind(ops).items()}
        # server CPU and host CPU steal: noise probes for the reader
        if self.steal:
            self.summary["host_steal_pct"] = round(statistics.fmean(self.steal) * 100, 1)
        metrics = {"setup_s": setup_s, "latency_p50_ms": statistics.geometric_mean(kinds.values()),
                   "ops_per_s": ops_per_s, "rows_per_s": rows_per_s, **ingest}
        self.summary.update({
            "server_cpu_s": self.window_cpu_s,
            "ops": len(ops),
            "all_ops_p50_ms": median(lat),
            "latency_p90_ms": pct(lat, 0.9) if len(lat) >= 100 else None,
            **metrics,
        })
        return metrics

    def settle(self, ops: list[Op], ok: list[bool]) -> None:
        self.summary["attempted"] = len(ops)
        self.summary["failed"] = sum(1 for o in ok if not o)
        errors = [op.error for op in ops if op.error]
        if errors:
            self.summary["first_error"] = errors[0]

    # -- serving -----------------------------------------------------------------

    def serving(self, t_spawn: float) -> dict:
        """Three phases on one server, 6, 6 and 7 19ths of the window: olap
        (small-result reads), export (wide results through each door) and
        ingest (a writer beside a reader on a partitioned table)."""
        import pyarrow.parquet as pq

        # never more open connections than the 4 cores: two native ones
        # throughout (the ingest phase's reader and writer), the HTTP and
        # MySQL ones up to the end of the export phase
        native = [self.open_door("native") for _ in range(2)]
        exporters = {"native": native[0], "http": self.open_door("http"),
                     "mysql": self.open_door("mysql")}
        ingest = IngestPhase(self, writer=native[1], reader=native[0])

        # warm-up, connections side by side: a cycle of reads and an export
        # on one native connection, inserts on the other (the insert path's
        # first call is several times slower than it settles at, its second
        # still about 1.3x), one export per other door
        warm = W.rng_for(self.args.seed, "warm")
        warm_reads = [ch for _kind, ch, _check in W.olap_cycle(warm, self.sc)]
        warm_exports = {k: W.export_sql(warm, self.sc)[0] for k in EXPORT_DOORS}
        run_threads([
            lambda: [native[0].select(ch) for ch in warm_reads + [warm_exports["native"]]],
            lambda: [ingest.insert(ingest.insert_op()) for _ in range(WARM_INSERTS)],
            *(lambda k=k: exporters[k].select(warm_exports[k]) for k in ("http", "mysql")),
        ])
        setup_s = _now() - t_spawn

        def olap_loops(tag):
            loops = []
            for i, c in enumerate(native):
                r = W.rng_for(self.args.seed, "olap", tag, i)
                loops.append(Loop(f"r{i}", lambda r=r: [
                    Op(kind, "native", ch, check) for kind, ch, check in W.olap_cycle(r, self.sc)],
                    selector(c), self.tracer))
            return loops

        def export_loops(tag):
            r = W.rng_for(self.args.seed, "export", tag)

            def export(op):
                rows = exporters[op.door].select(op.sql)
                return len(rows), rows

            def digest(op):  # outside the timed interval
                op.result = W.rows_digest(op.result)

            return [Loop("e0", lambda: [Op("export", k, *W.export_sql(r, self.sc))
                                        for k in EXPORT_DOORS],
                         export, self.tracer, after=digest)]

        olap = self.windows(olap_loops, 6 * self.unit_s)
        exports = self.windows(export_loops, 6 * self.unit_s)
        self.close_door(exporters["http"])
        self.close_door(exporters["mysql"])
        ingest_metrics = ingest.run(7 * self.unit_s)

        # queries answered per second in the olap phase; result rows per
        # second in the export phase.  Each phase is rated on its own, so a
        # phase that ran one more cycle does not shift the mix.
        metrics = self.e2e(ops_of(olap + exports), setup_s, rate(olap, lambda op: 1),
                           rate(exports, lambda op: op.rows), ingest_metrics)
        self.layer.update({
            "olap.latency_p50_ms": median(latencies_ms(ops_of(olap))),
            "export.latency_p50_ms": median(latencies_ms(ops_of(exports))),
        })
        self.summary.update({k: v for k, v in self.layer.items()
                             if k.startswith(("olap.", "export.", "ingest.", "storage."))})

        # correctness: the ingest phase's own checks, then, with the server
        # gone, fixture-table reads against DuckDB, ingest-table reads
        # against the blocks inserted and exports against the fixture rows
        # they select
        t_check = _now()
        ingest_ops, ingest_ok = ingest.check(native[0])
        if self.args.trace:
            self.profile_reads(ops_of(olap)[:12] + ops_of(exports)[:6])
        self.release_server()
        ok = self.check_olap(ops_of(olap), ingest)
        wide = pq.read_table(os.path.join(self.workdir, "fixtures", "wide.parquet"))
        ok += [judge(op, op.error is None and op.result == W.export_expected(wide, *op.payload))
               for op in ops_of(exports)]
        self.settle(ops_of(olap + exports) + ingest_ops, ok + ingest_ok)
        self.summary["check_s"] = _now() - t_check
        return metrics

    def check_olap(self, ops: list[Op], ingest: IngestPhase) -> list[bool]:
        import duckdb

        con = duckdb.connect()
        try:
            fx = os.path.join(self.workdir, "fixtures")
            for t in ("customer", "orders"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fx}/{t}.parquet')")
            return [judge(op, ingest.check_read(op) if op.kind == "ingest_range" else (
                op.error is None and W.same_rows(op.result, con.execute(op.payload).fetchall())))
                for op in ops]
        finally:
            con.close()

    def profile_reads(self, ops: list[Op]) -> None:
        """Traced run, after the window: re-run reads in-process for plan
        and execution times and Spark counters, and time each through its
        door and in-process for the door's overhead."""
        stats = defaultdict(list)
        for op in ops:
            res = self.ctl.call("inproc", sql=op.sql, profile=True)
            s = res["stats"]
            stats["exec_ms"].append(res["exec_s"] * 1e3)
            stats["tasks"].append(s["tasks"])
            stats["shuffle"].append(s["shuffle_bytes"])
            stats["scan_ratio"].append(s["input_records"] / max(res["nrows"], 1))
        self.layer["spark.exec.ms_p50"] = median(stats["exec_ms"])
        self.layer["spark.exec.tasks_per_op"] = statistics.fmean(stats["tasks"])
        self.layer["spark.exec.shuffle_bytes_per_op"] = statistics.fmean(stats["shuffle"])
        self.layer["spark.exec.scan_rows_per_result_row"] = statistics.fmean(stats["scan_ratio"])
        # door overhead: the same query through its door, then in-process,
        # back to back with nothing else running
        doors = {}
        for d in self.doors:
            doors.setdefault(d.kind, d)
        over = defaultdict(list)
        for op in ops:
            if op.door not in doors:
                doors[op.door] = self.open_door(op.door)
            t0 = _now()
            doors[op.door].select(op.sql)
            door_s = _now() - t0
            res = self.ctl.call("inproc", sql=op.sql, profile=False)
            over[op.door].append((door_s - res["plan_s"] - res["exec_s"]) * 1e3)
        for door, vals in over.items():
            self.layer[f"door.{door}.overhead_ms_p50"] = median(vals)

    # -- pipeline_ops ----------------------------------------------------------

    def pipeline_ops(self, t_spawn: float) -> dict:
        """Two phases: the pipeline operators for 6 19ths of the window,
        then the ingest phase for 13."""
        ingest = IngestPhase(self, writer=self.open_door("native"), reader=self.open_door("native"))
        # warm-up: every operator once, side by side on their own control
        # connections (first calls start the Python workers), beside the
        # warm-up inserts and one read of the ingest table
        warm = W.rng_for(self.args.seed, "warm")
        warm_params = {op: W.pipeline_params(warm, self.sc, op) for op in W.PIPELINE_OPS}
        warm_read = W.ingest_read_sql(warm)[0]
        ctls = {op: self.server.connect(self.info["ctl_port"]) for op in W.PIPELINE_OPS}
        run_threads([
            *(lambda op=op: ctls[op].call(
                "pipeline", op=op, params=warm_params[op], profile=False, clear_cache=False)
              for op in W.PIPELINE_OPS),
            lambda: [ingest.insert(ingest.insert_op()) for _ in range(WARM_INSERTS)],
            lambda: ingest.reader.select(warm_read),
        ])
        self.ctl.call("clear_cache")
        setup_s = _now() - t_spawn
        corpus = {"brute_force_topk": self.sc.embeddings, "pq_topk": self.sc.embeddings,
                  "embedding_dedup": self.sc.embeddings, "minhash_lsh": self.sc.documents,
                  "bm25_topk": self.sc.documents}
        profiles = defaultdict(list)

        def make_loops(tag):
            r = W.rng_for(self.args.seed, "pipeline", tag)

            def cycle():
                return [Op(op, "inproc", op, W.pipeline_params(r, self.sc, op))
                        for op in W.PIPELINE_OPS]

            def execute(op):
                res = self.ctl.call("pipeline", op=op.kind, params=op.payload,
                                    profile=self.tracer.active)
                if "stats" in res:
                    profiles[op.kind].append((res["elapsed_s"], res["stats"]))
                return len(res["rows"]), res["rows"]

            return [Loop("c0", cycle, execute, self.tracer)]

        loops = self.windows(make_loops, 6 * self.unit_s)
        ingest_metrics = ingest.run(13 * self.unit_s)
        lp = loops[0]
        metrics = self.e2e(lp.ops, setup_s, len(lp.ops) / lp.busy,
                           sum(corpus[op.kind] for op in lp.ops) / lp.busy, ingest_metrics)
        ops = ops_of(loops)
        ingest_ops, ingest_ok = ingest.check(ingest.reader)
        self.release_server()
        ok = self.check_pipeline(ops)
        self.settle(ops + ingest_ops, ok + ingest_ok)
        if self.args.trace:
            allstats = [s for v in profiles.values() for _e, s in v]
            for op, v in profiles.items():
                self.layer[f"pipeline.{op}.ms_p50"] = median([e * 1e3 for e, _s in v])
            py = [s for s in allstats if s["python_run_ms"] > 0]
            self.layer.update({
                "pipeline.python_worker.start_ms": median([s["python_start_ms"] for s in py]),
                "pipeline.python_worker.run_ms": median([s["python_run_ms"] for s in py]),
                "pipeline.python_worker.bytes_to_python": median([s["bytes_to_python"] for s in py]),
                "pipeline.python_worker.bytes_from_python": median([s["bytes_from_python"] for s in py]),
                "pipeline.tasks_per_op": statistics.fmean([s["tasks"] for s in allstats]),
                "pipeline.shuffle_bytes_per_op": statistics.fmean([s["shuffle_bytes"] for s in allstats]),
            })
        return metrics

    def check_pipeline(self, ops: list[Op]) -> list[bool]:
        """Exact operators: rows and values against numpy / pure-Python
        oracles.  Approximate operators (PQ, MinHash-LSH, bucketed
        embedding dedup): row counts against exact references."""
        import numpy as np
        import pyarrow.parquet as pq

        fx = os.path.join(self.workdir, "fixtures")
        emb = pq.read_table(os.path.join(fx, "embeddings.parquet"))
        vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float32)
        texts = pq.read_table(os.path.join(fx, "documents.parquet")).column("text").to_pylist()
        planted = self.info["facts"]["planted_pairs"]
        exact_pairs = W.near_dup_oracle(vecs, W.EMB_DEDUP_THRESHOLD)
        ok = []
        for op in ops:
            good = False
            if op.error is None:
                rows = op.result
                if op.kind == "brute_force_topk":
                    want = W.topk_oracle(vecs, op.payload["q_ids"], W.TOPK_K)
                    good = sorted((int(q), int(c), int(k)) for q, c, k, _cos in rows) == sorted(want)
                elif op.kind == "pq_topk":
                    good = len(rows) == len(op.payload["q_ids"]) * W.TOPK_K
                elif op.kind == "minhash_lsh":
                    good = len(planted) * 0.9 <= len(rows) <= len(planted) * 1.1
                elif op.kind == "bm25_topk":
                    want = W.bm25_oracle(texts, op.payload["queries"], W.TOPK_K)
                    good = W.same_rows([tuple(r) for r in rows], want)
                elif op.kind == "embedding_dedup":
                    got = {(int(a), int(b)) for a, b, _c in rows}
                    good = got <= exact_pairs and len(got) >= 0.9 * len(exact_pairs)
            ok.append(judge(op, good))
        return ok

    # -- traced run ------------------------------------------------------------

    def finish_trace(self) -> None:
        base = median([op.latency for lp in self.untraced_loops for op in lp.ops])
        traced = median([op.latency for lp in self.traced_loops for op in lp.ops])
        self.layer["trace.overhead_pct"] = (traced / base - 1.0) * 100.0 if base else 0.0
        server_spans = self.server_trace["spans"]
        counts = self.server_trace["counts"]
        client = self.tracer.export()
        client_spans = client["spans"]
        door_ops = [s for s in server_spans if s[4] and not s[4].startswith("inproc:")]
        self.layer["engine.translate_sql.ms_p50"] = median(
            [v * 1e3 for v in per_op(door_ops, "engine.translate_sql")])
        self.layer["engine.sql.plan_ms_p50"] = median(
            [v * 1e3 for v in per_op(door_ops, "engine.sql")])
        self.layer["engine.insert_df.ms_p50"] = median(
            [v * 1e3 for v in per_op(door_ops, "engine.insert_df")])
        st = self_times(server_spans)
        cst = self_times(client_spans)

        def self_ms(name):
            return (st.get(name) or cst.get(name) or {}).get("self_s", 0.0) * 1e3

        def per_krow(name, rows_key):
            rows = counts.get(rows_key, 0)
            return self_ms(name) / (rows / 1e3) if rows else 0.0

        self.layer["sources.chnative.block_iter.ms_per_krow"] = per_krow(
            "sources.chnative.block_iter", "chnative.block_iter.rows")
        self.layer["sources.chnative.encode_body.ms_per_krow"] = per_krow(
            "sources.chnative.encode_body", "chnative.encode_body.rows")
        self.layer["sources.chnative.read_data_packet.ms_per_krow"] = per_krow(
            "sources.chnative.read_data_packet", "chnative.read_data_packet.rows")
        self.layer["sources.httpwire.encode_rows.tsv.ms_per_krow"] = per_krow(
            "sources.httpwire.encode_rows", "httpwire.encode_rows.TabSeparatedWithNamesAndTypes.rows")
        mysql_rows = sum(op.rows for op in self._traced_ops() if op.door == "mysql")
        self.layer["sources.mysqlwire.send_resultset.ms_per_krow"] = (
            self_ms("sources.mysqlwire.send_resultset") / (mysql_rows / 1e3) if mysql_rows else 0.0)
        cin, cout = counts.get("chnative.compress_frame.in_bytes", 0), counts.get(
            "chnative.compress_frame.out_bytes", 0)
        body_rows = counts.get("chnative.encode_body.rows", 0)
        self.layer["sources.chnative.compress_frame.ms_per_mb"] = (
            self_ms("sources.chnative.compress_frame") / (cin / 1e6) if cin else 0.0)
        self.layer["sources.chnative.compress_ratio"] = cin / cout if cout else 0.0
        self.layer["sources.chnative.wire_bytes_per_row"] = cout / body_rows if body_rows else 0.0
        # client decode: the execute spans minus their blocking socket reads
        # and HTTP transfer, per thousand result rows
        dec = sum(cst.get(f"client.{k}.execute", {}).get("self_s", 0.0)
                  for k in ("native", "http", "mysql")) * 1e3
        read_rows = sum(op.rows for op in self._traced_ops() if op.kind != "insert")
        self.layer["client.decode_ms_per_krow"] = dec / (read_rows / 1e3) if read_rows else 0.0
        n_ops = max(len(self._traced_ops()), 1)
        for name in SELF_TIME_SPANS:
            self.layer[f"trace.self_ms_per_op.{name}"] = self_ms(name) / n_ops
        self.summary["trace_self_ms"] = {k: round(v["self_s"] * 1e3, 1)
                                         for k, v in {**st, **cst}.items()}
        if self.args.spans_out:
            with open(self.args.spans_out, "w") as f:
                json.dump({"server": self.server_trace, "client": client,
                           "window_s": self.args.seconds / 2}, f)

    def _traced_ops(self) -> list[Op]:
        return [op for lp in self.traced_loops for op in lp.ops]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full", choices=sorted(fixtures.SCALES),
                    help="fixture size; 'smoke' is the sf0.001-sized test profile")
    ap.add_argument("--spans-out", help="traced run: also write the raw spans here")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tensorbase_spark", "engine.py")):
        log("error: run from the repository root; tensorbase_spark/ not found")
        return 2
    sys.path.insert(0, root)
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp_root = os.path.join(root, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    try:
        result = Bench(args, root, workdir).run()
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
