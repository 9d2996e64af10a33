"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a source checkout. One process, one Spark session
at ``local[N]`` (N = usable cores, at most 4) with a heap sized to the
host; inputs are generated from ``--seed`` under ``perfbench/_work``
and removed at exit. The run:

1. set-up (``setup_s``, cold, from process start): session start,
   a JVM warm-up job, input generation, base stores, and one untimed
   warm-up pass over the workload's operation list;
2. timed passes over the same operation list (order fixed by the seed)
   until ``--seconds`` have elapsed, at least one pass;
3. checks of every output of every pass against computations made apart
   from the engine (DuckDB oracle SQL, the census generator's tallies);
4. one JSON line: ``correct``, ``attempted``, ``failed``, ``metrics``
   (end-to-end metrics untraced, per-layer metrics with ``--trace 1``).
   ``attempted`` and ``failed`` count the operations of every pass, the
   warm-up pass included, so an operation that fails only while warming
   up is counted too.

Each operation's latency, the set-up time, failed checks and failed
operations go to stderr.

With ``--trace 1`` engine calls are wrapped in spans (perfbench/spans.py)
and the spans are written to ``perfbench/_runs/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CPUS = 4


def _process_age() -> float:
    """Seconds since this process started (kernel start time), so the
    set-up clock includes interpreter start-up; falls back to the time
    since this module started."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        uptime = time.clock_gettime(time.CLOCK_BOOTTIME)
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        if age > 0:
            return age
    except (OSError, ValueError, IndexError):
        pass
    return time.perf_counter() - _T0


def _cpus() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        n = os.cpu_count() or 1
    return max(1, min(MAX_CPUS, n))


def _heap() -> str:
    try:
        mem_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    except (ValueError, OSError):  # pragma: no cover
        mem_gib = 8
    return f"{max(1, min(3, int(mem_gib // 4)))}g"


class RssSampler(threading.Thread):
    """Samples the summed proportional set size (Pss) of this process and
    its live descendants (the Spark JVM, the PySpark daemon and its
    forked workers) and keeps the peak. Pss shares each page out among
    the processes that map it, so pages a fork shares with its parent
    are counted once, however many workers are alive."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kib = 0
        self._halt = threading.Event()

    @staticmethod
    def _tree() -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [os.getpid()]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    @staticmethod
    def _pss(pid: int) -> int:
        """Pss KiB of one process (0 once it has exited)."""
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1])
        except (OSError, IndexError, ValueError):
            pass
        return 0

    def sample(self) -> None:
        self.peak_kib = max(self.peak_kib, sum(self._pss(p) for p in self._tree()))

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> None:
    """Process-local settings: engine parallelism and heap, and every
    scratch location (Spark local dirs, JVM and Python temp dirs)
    inside the run's work directory."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _heap()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    # Python workers import the engine (and this directory's modules
    # pickled into UDF closures) from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def _session(work: str, trace: bool):
    from censo_escolar_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _run_pass(ops, idx: int, results: dict, latencies: list, failures: dict, trace: bool, sc) -> float:
    """Run the operation list once as pass ``idx``; each result goes to
    ``results[(op, idx)]`` (None when the operation raised, with its
    error in ``failures``). Returns the summed latency."""
    import spans

    total = 0.0
    with spans.span("pass", index=idx):
        for op in ops:
            if trace:
                sc.setJobGroup(f"p{idx}:{op.name}", op.name)
            t0 = time.perf_counter()
            try:
                with spans.span(f"op:{op.name}", op=op.name, module=op.module, index=idx):
                    res = op.fn(idx)
            except Exception as exc:  # a failing operation is counted, not fatal
                res = None
                failures[(op.name, idx)] = f"{type(exc).__name__}: {str(exc)[:300]}"
            dt_ = time.perf_counter() - t0
            print(f"perfbench: pass {idx} {op.name} {dt_:.3f}s", file=sys.stderr)
            total += dt_
            if idx > 0:
                latencies.append(dt_)
            results[(op.name, idx)] = res
    return total


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "censo_escolar_spark", "__init__.py")):
        print("perfbench: the engine package censo_escolar_spark is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare_env(work)
    trace = bool(args.trace)
    import spans

    if trace:
        spans.activate()
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        with spans.span("session.start"):
            spark = _session(work, trace)
        with spans.span("session.warmup"):
            spark.range(0, 200_000, 1, _cpus()).selectExpr("sum(id % 7)").collect()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        if trace:
            import layers

            layers.install_tracing()
        with spans.span("setup"):
            wl.setup()
        ops = wl.ops()
        results: dict = {}
        latencies: list[float] = []
        failures: dict[tuple[str, int], str] = {}
        sc = spark.sparkContext
        with spans.span("warmup_pass"):
            _run_pass(ops, 0, results, [], failures, trace, sc)
        setup_s = _process_age()
        print(f"perfbench: setup {setup_s:.2f}s", file=sys.stderr)

        pass_times: list[float] = []
        t_start = time.perf_counter()
        while not pass_times or time.perf_counter() - t_start < args.seconds:
            pass_times.append(_run_pass(ops, len(pass_times) + 1, results, latencies,
                                        failures, trace, sc))
        n_pass = len(pass_times)
        if trace:  # later jobs (checks, quality metrics) are not timed-pass jobs
            sc.setJobGroup("post", "post")

        errors = wl.check(results, n_pass)
        for (name, idx), msg in sorted(failures.items()):
            print(f"perfbench operation failed: {name} pass {idx}: {msg}", file=sys.stderr)
        attempted, failed = tally(results)

        if trace:
            import layers

            metrics, layer_errors = layers.per_layer(spark, wl, n_pass)
            errors += layer_errors
            spans.dump(os.path.join(_runs_dir(), f"trace-{args.workload}-{args.seed}.json"))
        else:
            rss.stop()
            metrics = end_to_end(setup_s, pass_times, latencies,
                                 wl.out_bytes(results, n_pass), rss.peak_kib)
        for e in errors[:20]:
            print(f"perfbench check failed: {e}", file=sys.stderr)
        line = result_line(not errors, attempted, failed, metrics)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop_session(spark)
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(line)
    return 0


def tally(results: dict) -> tuple[int, int]:
    """(attempted, failed) over every (operation, pass) of the run."""
    return len(results), sum(res is None for res in results.values())


def end_to_end(setup_s: float, pass_times: list[float], latencies: list[float],
               out_bytes: int, peak_kib: int) -> dict:
    """The end-to-end metrics of one untraced run, unrounded."""
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": statistics.median(pass_times), "unit": "s"},
        "op_p50_s": {"value": statistics.median(latencies), "unit": "s"},
        "out_bytes": {"value": out_bytes, "unit": "bytes"},
        "peak_rss_mb": {"value": peak_kib / 1024, "unit": "MiB"},
    }


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The run's last stdout line."""
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def _runs_dir() -> str:
    d = os.path.join(HERE, "_runs")
    os.makedirs(d, exist_ok=True)
    return d


if __name__ == "__main__":
    sys.exit(main())
