"""Pipeline benchmark for redeye_spark.

    python3 perfbench/run.py --workload tok_combined --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

Run from the root of a source tree. Each run builds (or reuses from
`.perfbench/cache/`) the workload's seeded input and its Spark-free
oracle, starts a `local[4]` session, and then:

  --trace 0  times whole `plans.pipeline.run_pipeline` calls, one at a
             time (a closed loop with one client), until --seconds of
             pipeline wall time are measured, and checks every call's
             committed sinks against the oracle;
  --trace 1  replays the pipeline one public call per layer under
             Spark job groups with the event log on, and reports the
             per-layer table (see layers.py).

The last stdout line is one JSON object: correct, attempted (input rows
of every checked call), failed (rows the oracle disagrees with) and the
metrics named in BENCHMARK.json. Everything the run writes stays under
`.perfbench/` in the tree.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8  # two per core, as bench.py sizes its executors
# After set-up the JVM keeps speeding up over the first several
# full-size calls (per-call CPU time falls by half over six calls), so a
# run times a fixed number of calls: MIN_CALLS, or more only if they end
# before --seconds. Reported figures are medians over those calls.
MIN_CALLS = 4
# session.py's 48g default does not fit a 15 GB box; 3g holds local[4]
DRIVER_MEM = "3g"


def _environment() -> None:
    """Keep Spark's scratch files and temp dirs inside the tree, give the
    Python workers the package, and size the driver heap."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("REDEYE_EVENTLOG", None)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


class Session:
    """One SparkSession at a time on one JVM; close() ends the JVM and
    waits for it."""

    def __init__(self) -> None:
        self.spark = None

    def start(self, master: str = MASTER, event_log: str | None = None):
        from redeye_spark.session import get_spark

        self.stop()
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            # the builder is shared across sessions: always set this
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.dir": "file://" + event_log,
                # Spark 4 compresses and may roll the log by default
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=master, shuffle_partitions=SHUFFLE_PARTITIONS,
                               extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        """Stop the session; the JVM stays up for the next start()."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and every
        process under it (the Python workers) has ended."""
        import signal
        import subprocess

        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is None or proc is None:
            return
        started = descendants(proc.pid)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 10
        while started and time.monotonic() < deadline:
            started = [p for p in started if _alive(p)]
            time.sleep(0.1)
        for pid in started:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True unless the process is gone or a zombie (ended, not yet reaped)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every live process
    under it (the JVM, the Python workers), with their reaped children."""
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    """PIDs of every live process below `root`, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    found, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def pipeline_config(spark, w):
    from redeye_spark.plans.pipeline import PipelineConfig

    # text mode spreads lines round-robin after the per-file numbering
    # window, as redeye_spark/job.py --text-input does
    return PipelineConfig(
        fmt=w.fmt,
        bucket_granularity=w.granularity,
        num_partitions=spark.sparkContext.defaultParallelism if w.text else None,
    )


def load_input(spark, c):
    if c.workload.text:
        from redeye_spark.operators.tokenize_op import read_text_lines

        return read_text_lines(spark, c.input)
    return spark.read.parquet(c.input)


def run_pipeline_once(spark, c, base: str, io=None) -> float:
    """One batch job: input -> committed sinks + aggregate table. Returns
    its wall seconds."""
    from redeye_spark.plans.pipeline import run_pipeline
    from redeye_spark.sources.io import ParquetIO

    t0 = time.perf_counter()
    run_pipeline(spark, load_input(spark, c), io or ParquetIO(base), pipeline_config(spark, c.workload))
    return time.perf_counter() - t0


def set_up(session: Session, c, out: str, io=None, **start) -> tuple[float, float, float]:
    """Start a session and run the warm-up input through the pipeline.
    Returns (session start wall seconds, warm-up wall seconds, CPU
    seconds of both)."""
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    spark = session.start(**start)
    t1 = time.perf_counter()
    run_pipeline_once(spark, c.warm, out, io)
    return t1 - t0, time.perf_counter() - t1, tree_cpu_s() - cpu0


def measure(session: Session, c, out: str, seconds: float,
            min_calls: int = MIN_CALLS) -> tuple[list[float], list[float], int]:
    """Closed loop of whole pipeline calls on a set-up session, timed
    until at least `min_calls` calls and `seconds` of wall time. Every
    call's sinks are checked. Returns (wall seconds, CPU seconds of the
    process tree, rows the oracle disagrees with)."""
    import corpus

    failed = 0
    walls, cpus = [], []
    while len(walls) < min_calls or sum(walls) < seconds:
        cpu0 = tree_cpu_s()
        walls.append(run_pipeline_once(session.spark, c, out))
        cpus.append(tree_cpu_s() - cpu0)
        failed += corpus.bad_rows(c, out)
    return walls, cpus, failed


def timed(c, seconds: float, session: Session) -> dict:
    import corpus

    start_s, warm_s, setup_cpu = set_up(session, c, os.path.join(WORK, "out", "warm"))
    out = os.path.join(WORK, "out", c.workload.name)
    walls, cpus, failed = measure(session, c, out, seconds)
    size, _ = corpus.data_bytes_files(os.path.join(out, "events"), os.path.join(out, "agg_counts"))
    print(f"# {c.workload.name}: {c.rows} rows; session start {start_s:.3f} s, warm-up {warm_s:.3f} s, "
          f"calls {[round(w, 3) for w in walls]} s, cpu {[round(x, 2) for x in cpus]} s")
    return {
        "attempted": c.rows * len(walls),
        "failed": failed,
        "metrics": {
            "rows_per_cpu_s": (statistics.median(c.rows / x for x in cpus), "rows/cpu-s"),
            "setup_s": (setup_cpu, "s"),
            "sink_bytes_per_row": (size / c.rows, "B/row"),
        },
        # wall-clock figures swing with neighbours on a shared box far
        # more than CPU time does; printed, not tracked
        "extra": {
            "rows_per_s": (statistics.median(c.rows / w for w in walls), "rows/s"),
            "setup_wall_s": (start_s + warm_s, "s"),
        },
    }


def self_check(session: Session) -> int:
    """The checker must pass a clean smoke-sized run of every workload and
    fail one whose sink lost a file."""
    import corpus

    ok = True
    session.start()
    for w in corpus.WORKLOADS.values():
        c = corpus.prepare(w, 0, os.path.join(WORK, "cache"), rows=8_000)
        out = os.path.join(WORK, "out", "self-check-" + w.name)
        run_pipeline_once(session.spark, c, out)
        clean = corpus.bad_rows(c, out)
        sink_dir = os.path.join(out, "events", "sink=sink_2xx")
        victim = sorted(f for f in os.listdir(sink_dir) if f.endswith(".parquet"))[0]
        os.remove(os.path.join(sink_dir, victim))
        corrupted = corpus.bad_rows(c, out)
        good = clean == 0 and corrupted > 0
        ok &= good
        print(f"{w.name}: clean bad_output_share={clean / c.rows:.6f}, "
              f"one sink file removed bad_output_share={corrupted / c.rows:.6f}: {'ok' if good else 'FAIL'}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-check", action="store_true")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "redeye_spark", "__init__.py")):
        print(f"perfbench: no redeye_spark package under {ROOT}; run from a source tree", file=sys.stderr)
        return 2
    _environment()
    import corpus

    if not args.self_check and args.workload not in corpus.WORKLOADS:
        p.error(f"--workload must be one of {sorted(corpus.WORKLOADS)}")
    session = Session()
    try:
        if args.self_check:
            return self_check(session)
        t0 = time.perf_counter()
        c = corpus.prepare(corpus.WORKLOADS[args.workload], args.seed, os.path.join(WORK, "cache"))
        print(f"# input and oracle ready in {time.perf_counter() - t0:.3f} s")
        try:
            if args.trace:
                import layers

                result = layers.traced(c, session)
            else:
                result = timed(c, args.seconds, session)
        except Exception:
            # a run that raises counts all its rows as failed
            traceback.print_exc()
            print(json.dumps({"correct": False, "attempted": c.rows, "failed": c.rows, "metrics": {}}))
            return 1
    finally:
        t0 = time.perf_counter()
        session.close()
        print(f"# processes stopped in {time.perf_counter() - t0:.3f} s")
    share = result["failed"] / result["attempted"]
    for name, (value, unit) in {**result["metrics"], **result.get("extra", {})}.items():
        print(f"{name:32s} {value:16.6f} {unit}")
    print(f"{'bad_output_share':32s} {share:16.6f}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
