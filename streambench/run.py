"""Repository benchmark entry point.

    python3 streambench/run.py --workload stt_live --seed 1 --seconds 10 --trace 0

Runs one workload in this process on local[<cores>], checks its
outputs, and prints as the last stdout line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics of BENCHMARK.json
with ``--trace 1``. Everything it writes lives under
``.streambench/`` in the checkout and is removed at the end. Exit
codes: 0 with a result; 2 when the program is not next to the
benchmark; 3 when a validity guard voids the run; 1 on any other
failure."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def _process_start() -> float:
    """Wall-clock time this interpreter started: its age from /proc
    (start tick against the uptime clock) subtracted from now."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


PROC_START = _process_start()


def _descendants(pid: int) -> list[int]:
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
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for ln in f:
                if ln.startswith("VmRSS:"):
                    return int(ln.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    its Python workers), sampled every 0.25 s on a thread."""

    def __init__(self, exclude: set[int]):
        self.exclude = exclude
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(0.25):
            pids = [p for p in _descendants(os.getpid()) if p not in self.exclude]
            self.peak_mb = max(self.peak_mb,
                               sum(_rss_kb(p) for p in pids) / 1024.0)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Context:
    """One run: its arguments, work directory and Spark session."""

    def __init__(self, args):
        self.root = ROOT
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.proc_start = PROC_START
        self.base = os.path.join(ROOT, ".streambench", f"run-{os.getpid()}")
        self._spark = None

    def work(self, name: str) -> str:
        path = os.path.join(self.base, name)
        os.makedirs(path, exist_ok=True)
        return path

    def rss_sampler(self, exclude: set[int] = frozenset()) -> RssSampler:
        return RssSampler(set(exclude))

    def spark(self):
        from streamprocess_spark import get_spark

        tmp = self.work("tmp")
        self._spark = get_spark(
            app_name="streambench",
            extra_conf={
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": self.work("spark-local"),
            },
        )
        self._spark.sparkContext.setLogLevel("ERROR")
        return self._spark

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process this run
        started, then remove the work directory."""
        if self._spark is not None:
            from pyspark import SparkContext

            kids = _descendants(os.getpid())
            self._spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            deadline = time.time() + 30
            while time.time() < deadline and any(
                    os.path.exists(f"/proc/{p}") and _rss_kb(p) for p in kids):
                time.sleep(0.1)
            for p in kids:
                if os.path.exists(f"/proc/{p}") and _rss_kb(p):
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
        shutil.rmtree(self.base, ignore_errors=True)


def _prepare_env(base: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    the checkout, and run on all cores this process may use."""
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(base, "spark-local")
    # the JVM writes perf data to /tmp unless told not to; this covers
    # spark-submit's launcher JVM (Spark's own JVM gets it in Context.spark)
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _metric_specs() -> tuple[dict, dict]:
    with open(SPEC) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("stt_live", "headline_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "streamprocess_spark")):
        print("streamprocess_spark is not next to the benchmark; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    e2e_units, layer_units = _metric_specs()
    ctx = Context(args)
    _prepare_env(ctx.base)
    try:
        if args.workload == "stt_live":
            from streambench.stream import run_live as run
        else:
            from streambench.batch import run_headline as run
        res = run(ctx)
    except Exception as exc:  # report and fail the run
        from streambench.stream import RunInvalid

        traceback.print_exc()
        return 3 if isinstance(exc, RunInvalid) else 1
    finally:
        ctx.close()

    e2e = res["e2e"]
    if set(e2e) != set(e2e_units):
        print(f"workload reported {sorted(e2e)}, BENCHMARK.json lists "
              f"{sorted(e2e_units)}", file=sys.stderr)
        return 1
    if args.trace:
        values = dict.fromkeys(layer_units, 0.0)
        values.update(res["layers"])
        values.update({f"trace.{k}": v for k, v in e2e.items()})
        unknown = set(values) - set(layer_units)
        if unknown:
            print(f"metrics missing from BENCHMARK.json: {sorted(unknown)}",
                  file=sys.stderr)
            return 1
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in e2e_units.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
