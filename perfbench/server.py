"""Benchmark server process: the engine, its wire doors and a control port.

Started by ``run.py`` as ``python3 perfbench/server.py --workdir D --workload
W --seed N --scale S --trace 0|1`` with the Spark environment already set.
It starts a Spark session, writes the workload's seeded fixtures, loads them
into engine tables, starts the wire doors the workload uses and prints one
JSON ``ready`` line with their ports.  It then serves control requests
(in-process queries, pipeline operators, storage stats, spans) on a
``multiprocessing.connection`` listener bound to localhost until the client
kills its process session.

With ``--trace 1`` the engine's layer entry points are wrapped with spans
(see ``install_probes``); they record between the ``trace_on`` and
``trace_off`` requests, and ``trace_off`` returns the spans and counts.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from multiprocessing.connection import Listener

import fixtures
import sparkstats
import workloads
from spans import Tracer

_now = time.perf_counter


def install_probes(tracer: Tracer, engine_mod, chnative, httpwire, mysqlwire) -> None:
    """Wrap each layer entry point the workloads pass through."""
    try:  # Spark 4 keeps the implementation in the classic subclass
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    eng = engine_mod.TensorBaseEngine
    tracer.wrap(eng, "sql", "engine.sql")
    tracer.wrap(eng, "_translate_query", "engine.translate_sql", outermost=True)
    tracer.wrap(eng, "insert_df", "engine.insert_df")

    orig_track = eng.track_query

    def track_query(self, *a, **kw):
        cm = orig_track(self, *a, **kw)

        class _Op:
            def __enter__(_):
                qid = cm.__enter__()
                tracer.set_op(str(qid))
                return qid

            def __exit__(_, *exc):
                tracer.set_op("")
                return cm.__exit__(*exc)

        return _Op()

    eng.track_query = track_query

    tracer.wrap(chnative._Conn, "_query", "door.native.query")
    tracer.wrap(httpwire._HttpHandler, "do_POST", "door.http.request")
    tracer.wrap(mysqlwire._MyConn, "_query", "door.mysql.query")
    tracer.wrap(mysqlwire._MyConn, "_send_resultset", "sources.mysqlwire.send_resultset")

    orig_blocks = chnative.df_to_block_iter

    def df_to_block_iter(df):
        header, it = orig_blocks(df)
        return header, tracer.wrap_iter(
            it, "sources.chnative.block_iter",
            counter=lambda b: {"chnative.block_iter.rows": b.nrows})

    chnative.df_to_block_iter = df_to_block_iter

    tracer.wrap(chnative.Block, "encode_body", "sources.chnative.encode_body",
                counter=lambda a, out: {"chnative.encode_body.rows": a[0].nrows})
    tracer.wrap(chnative, "compress_frame", "sources.chnative.compress_frame",
                counter=lambda a, out: {"chnative.compress_frame.in_bytes": len(a[0]),
                                        "chnative.compress_frame.out_bytes": len(out)})
    tracer.wrap(chnative, "read_data_packet_body", "sources.chnative.read_data_packet",
                counter=lambda a, out: {"chnative.read_data_packet.rows": out.nrows})

    orig_encode = httpwire.encode_rows

    def encode_rows(fmt, names, ch_types, rows, *a, **kw):
        def counted(it):
            for row in it:
                tracer.count(f"httpwire.encode_rows.{fmt}.rows", 1)
                yield row
        return tracer.wrap_iter(orig_encode(fmt, names, ch_types, counted(rows), *a, **kw),
                                "sources.httpwire.encode_rows")

    httpwire.encode_rows = encode_rows

    # Spark row fetches are charged to whichever layer pulls them, so the
    # codec layers' self time excludes the engine's execution time.
    orig_iter = DataFrame.toLocalIterator

    def to_local_iterator(self, *a, **kw):
        t0 = _now()
        it = orig_iter(self, *a, **kw)  # submits the first job
        tracer.charge("spark.fetch", _now() - t0)
        return tracer.wrap_iter(it, "spark.fetch", charge=True)

    DataFrame.toLocalIterator = to_local_iterator


class Server:
    def __init__(self, args):
        self.args = args
        # probes are installed with --trace 1 but record only between
        # the client's trace_on and trace_off requests
        self.tracer = Tracer(False)
        self.spec = workloads.WORKLOADS[args.workload]
        self.scale = fixtures.SCALES[args.scale]
        self.fixture_dir = os.path.join(args.workdir, "fixtures")
        self.warehouse = os.environ["SPARK_GRAFT_WAREHOUSE"]
        self._groups = 0
        self._lock = threading.Lock()

    def start(self) -> dict:
        with ThreadPoolExecutor(max_workers=4) as pool:
            return self._start(pool)

    def _start(self, pool) -> dict:
        t0 = _now()
        # the fixtures need no Spark: they are written while the JVM starts
        written = pool.submit(fixtures.write_tables, self.fixture_dir, self.args.seed,
                              self.scale, self.spec.tables)
        from tensorbase_spark import engine as engine_mod
        from tensorbase_spark.session import get_spark
        from tensorbase_spark.sources import chnative, httpwire, mysqlwire
        from tensorbase_spark.sources.tables import load_table

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()  # first job: scheduler and codegen warm-up
        self.engine = engine_mod.TensorBaseEngine(self.spark)
        session_s = _now() - t0
        if self.args.trace:
            install_probes(self.tracer, engine_mod, chnative, httpwire, mysqlwire)

        t1 = _now()
        facts = written.result()
        load_marks = {"fixtures_wait_s": _now() - t1}

        def load(table):
            """Create an engine table; fill it from its fixture, if it has one."""
            t2 = _now()
            self.engine.sql(workloads.DDL[table])
            if table in self.spec.tables:
                self.engine.insert_df(table, self.spark.read.parquet(
                    os.path.join(self.fixture_dir, f"{table}.parquet")))
            load_marks[f"{table}_s"] = _now() - t2

        def view(name):
            df = load_table(self.spark, self.fixture_dir, name)
            df.createOrReplaceTempView(name)
            self.frames[f"n_{name}"] = df.count()
            self.frames[name] = df

        # the tables load side by side
        self.frames = {}
        loads = [pool.submit(load, t) for t in self.spec.engine_tables]
        loads += [pool.submit(view, v) for v in self.spec.views]
        for f in loads:
            f.result()
        load_s = _now() - t1

        self.doors = {}
        starters = {"native": chnative.serve_native, "http": httpwire.serve_http,
                    "mysql": mysqlwire.serve_mysql}
        for door in self.spec.doors:
            srv, port = starters[door](self.engine)
            self.doors[door] = (srv, port)
        return {
            "session_start_s": session_s,
            "load_s": load_s,
            "load_marks": load_marks,
            "doors": {d: p for d, (_s, p) in self.doors.items()},
            "facts": facts,
        }

    # -- control requests ---------------------------------------------------

    def _group(self) -> str:
        with self._lock:
            self._groups += 1
            return f"perfbench-{self._groups}"

    def inproc(self, sql: str, profile: bool) -> dict:
        """Plan and materialize ``sql`` in-process, under its own job group."""
        group = self._group()
        self.spark.sparkContext.setJobGroup(group, "perfbench in-process op")
        self.tracer.set_op(f"inproc:{group}")
        t0 = _now()
        df = self.engine.sql(sql)
        t1 = _now()
        rows = [tuple(r) for r in df.collect()]
        t2 = _now()
        self.tracer.set_op("")
        out = {"plan_s": t1 - t0, "exec_s": t2 - t1, "nrows": len(rows)}
        if profile:
            out["stats"] = sparkstats.group_stats(self.spark, group)
        return out

    def pipeline(self, op: str, params: dict, profile: bool, clear_cache: bool = True) -> dict:
        group = self._group()
        self.spark.sparkContext.setJobGroup(group, f"perfbench pipeline {op}")
        self.tracer.set_op(group)
        t0 = _now()
        with self.tracer.span(f"pipeline.{op}"):
            df = workloads.pipeline_frame(self.spark, self.frames, op, params)
            rows = [tuple(r) for r in df.collect()]
        t1 = _now()
        self.tracer.set_op("")
        if clear_cache:  # results leave no cached state behind for the next op
            self.spark.catalog.clearCache()
        out = {"elapsed_s": t1 - t0, "rows": rows}
        if profile:
            out["stats"] = sparkstats.group_stats(self.spark, group)
        return out

    def storage(self, table: str) -> dict:
        root = os.path.join(self.warehouse, table)
        files = nbytes = 0
        for d, _dirs, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, n))
        return {"files": files, "bytes": nbytes}

    def handle(self, conn) -> None:
        with conn:
            while True:
                try:
                    cmd, kw = conn.recv()
                except (EOFError, OSError):
                    return
                try:
                    if cmd == "inproc":
                        res = self.inproc(**kw)
                    elif cmd == "pipeline":
                        res = self.pipeline(**kw)
                    elif cmd == "clear_cache":
                        self.spark.catalog.clearCache()
                        res = {}
                    elif cmd == "storage":
                        res = self.storage(**kw)
                    elif cmd == "trace_on":
                        self.tracer.active = True
                        res = {}
                    elif cmd == "trace_off":
                        self.tracer.active = False
                        res = self.tracer.export()
                    else:
                        raise ValueError(f"unknown command {cmd}")
                    conn.send(("ok", res))
                except Exception as e:  # report to the client, keep serving
                    conn.send(("error", f"{type(e).__name__}: {e}\n{traceback.format_exc()}"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", default="full", choices=sorted(fixtures.SCALES))
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    authkey = bytes.fromhex(os.environ["PERFBENCH_AUTHKEY"])

    server = Server(args)
    info = server.start()
    listener = Listener(("127.0.0.1", 0), authkey=authkey)
    info["ctl_port"] = listener.address[1]
    print(json.dumps({"ready": info}), flush=True)

    # serve until the client kills this process's session
    while True:
        conn = listener.accept()
        threading.Thread(target=server.handle, args=(conn,), daemon=True).start()


if __name__ == "__main__":
    sys.exit(main())
