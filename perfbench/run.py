#!/usr/bin/env python3
"""DataPact benchmark: one workload, one process, closed loop at local[4].

    python3 perfbench/run.py --workload validate_tables --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. One run:

1. makes the workload's inputs from ``--seed`` (parquet plus manifest,
   cached under ``.perfbench/inputs``) in a child process;
2. sets up ``SETUPS`` times - SparkSession, ``load_config``, tables
   resolved - and keeps the last session. The first set-up launches the
   JVM; the others stop the session and set up again in that JVM, so
   ``setup_s`` (their median) is the program's set-up work, not the
   JVM's launch;
3. runs one cold iteration, then timed warm iterations until
   ``--seconds`` of iteration time have passed (at least the workload's
   ``min_timed``, but only two once the run is past ``WALL_TARGET_S``,
   so that a busy host does not stretch a run far past a minute), one
   iteration at a time; every iteration's outputs are checked,
   outside the timed region. Timings are medians over the timed
   iterations; with three or more, the first warm one, still a little
   above the steady state, does not set them;
4. prints one JSON line: with ``--trace 0`` the end-to-end metrics, with
   ``--trace 1`` the per-layer metrics. A traced run alternates traced
   and untraced timed iterations, records the Spark event log and times
   calls into the program's public functions (``layers.py``).

Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import prepare  # noqa: E402

SETUPS = 3
WALL_TARGET_S = 62.0
MASTER = "local[4]"


# -------------------------------------------------------------- processes
def _parents() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _parents(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def vmhwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------- session
def start_session(work: str, event_dir: str | None = None):
    from datapact_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        # no perf-data file in /tmp: the run writes only under .perfbench/
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and every process it
    started (the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    family = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 10
    while family and time.monotonic() < deadline:
        family = [p for p in family if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)
    for p in family:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# ---------------------------------------------------------------- metrics
def end_to_end(setups, timed, rows, rss_mb) -> dict:
    """Medians over the timed iterations; the unit percentiles are taken
    within each iteration first, so they never mix units of different
    iterations."""
    run_s = statistics.median(it.seconds for it in timed)
    return {
        "setup_s": (statistics.median(s["total"] for s in setups), "s"),
        "run_s": (run_s, "s"),
        "rows_per_s": (rows / run_s, "rows/s"),
        "task_p50_s": (statistics.median(statistics.median(it.units) for it in timed), "s"),
        "task_p90_s": (statistics.median(
            statistics.quantiles(it.units, n=10, method="inclusive")[8] for it in timed), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


# ------------------------------------------------------------------- main
def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="bench", choices=("bench", "tiny"))
    return p.parse_args(argv)


def main(argv=None) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "datapact_spark", "engine.py")):
        print("perfbench: run from the root of a datapact checkout "
              "(datapact_spark/ not found)", file=sys.stderr)
        return 2
    args = parse_args(argv)
    t_start = time.monotonic()
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable

    # inputs (and their expected answers) are made in a child process
    # while the JVM launches; that keeps the generator's memory out of
    # this process's peak RSS and its time out of set-up
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "inputs.py"), args.workload, str(args.seed), args.size, work],
        stdout=subprocess.DEVNULL,
    )
    sys.path.insert(0, root)
    from datapact_spark.config import load_config
    from workloads import WORKLOADS

    event_dir = None
    if args.trace:
        event_dir = os.path.join(work, "eventlog", str(os.getpid()))
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)

    # a SIGTERM unwinds through the finally below, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, event_dir if SETUPS == 1 else None)
        session_s = time.perf_counter() - t0
        if gen.wait() != 0:
            raise RuntimeError(f"input generation exited with {gen.returncode}")
        wl = WORKLOADS[args.workload](*prepare(work, args.workload, args.seed, args.size), work)
        setups = []
        for i in range(SETUPS):
            if i:
                spark.stop()  # the JVM stays: later set-ups reuse it
                t0 = time.perf_counter()
                spark = start_session(work, event_dir if i == SETUPS - 1 else None)
                session_s = time.perf_counter() - t0
            t1 = time.perf_counter()
            config = load_config(wl.config_path)
            t2 = time.perf_counter()
            wl.register(spark)
            t3 = time.perf_counter()
            setups.append({"total": session_s + t3 - t1, "session": session_s, "config": t2 - t1})
            print(f"perfbench: setup {i} {setups[-1]['total']:.3f}s", file=sys.stderr)

        wl.prime(spark, config)
        tracer = None
        if args.trace:
            from layers import after_traced, install

            tracer = install()
        wrong = attempted = failed = 0
        run_ids = iter(range(int(time.time() * 1000), 1 << 62))

        def one(traced: bool = False):
            nonlocal wrong, attempted, failed
            wl.reset()
            if tracer is not None:
                tracer.enabled = traced
            w0 = time.time()
            it = wl.run(spark, config, next(run_ids))
            w1 = time.time()
            if tracer is not None:
                tracer.enabled = False
            it.window = (w0, w1)
            it.traced = traced
            it.wrong = wl.check(spark, it)
            if traced:
                after_traced(spark, wl, it, tracer)
            print(f"perfbench: {args.workload} iteration {'traced' if traced else 'plain'} "
                  f"{it.seconds:.3f}s wrong={it.wrong} failed={it.failed}", file=sys.stderr)
            wrong += it.wrong
            attempted += it.attempted
            failed += it.failed
            return it

        # the cold iteration is also the only warm-up, which keeps one
        # run near a minute
        cold = one()
        timed, measured = [], 0.0
        # a traced run times one traced iteration, then one plain one
        while not (measured >= args.seconds and len(timed) >= wl.min_timed):
            if len(timed) >= 2 and time.monotonic() - t_start > WALL_TARGET_S:
                break
            timed.append(one(traced=bool(args.trace) and len(timed) % 2 == 0))
            measured += timed[-1].seconds

        pid = jvm_pid()
        workers = descendants(pid) if pid else []
        rss = {"driver": vmhwm_mb(os.getpid()), "jvm": vmhwm_mb(pid) if pid else 0.0,
               "python_workers": sum(vmhwm_mb(p) for p in workers)}
        rss_mb = sum(rss.values())
        print(f"perfbench: peak RSS MB {json.dumps({k: round(v) for k, v in rss.items()})} "
              f"over {len(workers)} worker processes", file=sys.stderr)
    finally:
        if spark is not None:
            stop_session(spark)
        if gen.poll() is None:
            gen.kill()
            gen.wait()

    if args.trace:
        from layers import per_layer

        metrics = per_layer(wl, setups, cold, timed, tracer, event_dir, wrong, failed, attempted)
        tracer.restore()
        shutil.rmtree(event_dir, ignore_errors=True)
    else:
        metrics = end_to_end(setups, timed, wl.input_rows(), rss_mb)

    print(json.dumps({
        "correct": wrong == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
