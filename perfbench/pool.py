"""Worker processes that run a workload's pass, the way Spark's
``local[nproc]`` executor runs Python workers: one worker per core, and
each task (a point range, a file, an image batch) goes to the next free
worker.

Spreading a pass over every core also spreads it over the host's cores: on
a shared VM one vCPU can run 1.7x slower than another for tens of seconds,
and a single-threaded pass would measure that placement instead of the
program.

The workers are forked from a fork server, a fresh interpreter that has
imported the workers' modules and done nothing else, as PySpark forks its
Python workers from a daemon. Each worker is given the workload's task
inputs once when it starts (:meth:`Workload.__getstate__`); a task names
what to run, and a worker sends back only a small result for the output
check. Forking the driver itself would copy the locks held by the threads
Arrow and jemalloc run in it, and a worker forked so once hung on one.
"""

from __future__ import annotations

import multiprocessing
import multiprocessing.connection
import multiprocessing.forkserver
import multiprocessing.util
import shutil
import time
import traceback

PRELOAD = ["perfbench.workloads", "spark_shp.cells", "spark_shp.clip",
           "spark_shp.ingest", "spark_shp.shp.parser"]

_context = multiprocessing.get_context("forkserver")

def start_server() -> None:
    """Start the fork server (once per run, with the run's environment)."""
    _context.set_forkserver_preload(PRELOAD)
    multiprocessing.forkserver.ensure_running()


def remove_at_exit(path: str) -> None:
    """Remove the directory ``path`` when the interpreter exits, after
    multiprocessing has removed its own temp directory (the fork server's
    socket) inside it."""
    multiprocessing.util.Finalize(None, shutil.rmtree, (path,),
                                  {"ignore_errors": True}, exitpriority=-200)


def _serve(conn, workload) -> None:
    """A worker: run each task received, send back (task, result, start,
    end), or (task, None, traceback, None) if the task raised."""
    while True:
        try:
            task = conn.recv()
        except EOFError:
            return
        t0 = time.perf_counter()
        try:
            out = workload.run_task(task)
        except Exception:
            conn.send((task, None, traceback.format_exc(), None))
            continue
        conn.send((task, out, t0, time.perf_counter()))


class TaskPool:
    """``procs`` workers, each fed one task at a time over its own pipe by
    the driver's thread (no helper threads, so a signal that unwinds the
    driver can always stop the workers)."""

    def __init__(self, workload, procs: int):
        self._workers = []
        for _ in range(procs):
            conn, child = _context.Pipe()
            proc = _context.Process(target=_serve, args=(child, workload),
                                    daemon=True)
            proc.start()
            child.close()
            self._workers.append((proc, conn))

    def map(self, tasks: list) -> list[tuple]:
        """Run ``tasks``; one (task, result, start, end) per task, in the
        order they finished. ``start``/``end`` are the worker's
        ``perf_counter`` readings (one system-wide clock)."""
        idle = [conn for _, conn in self._workers]
        busy, done, i = [], [], 0
        while len(done) < len(tasks):
            while idle and i < len(tasks):
                conn = idle.pop()
                conn.send(tasks[i])
                busy.append(conn)
                i += 1
            for conn in multiprocessing.connection.wait(busy):
                task, out, start, end = conn.recv()
                if end is None:
                    raise RuntimeError(f"task {task} failed:\n{start}")
                done.append((task, out, start, end))
                busy.remove(conn)
                idle.append(conn)
        return done

    def close(self) -> None:
        """Stop the workers and wait for each to end."""
        for proc, conn in self._workers:
            proc.kill()
            conn.close()
        for proc, _ in self._workers:
            proc.join()
