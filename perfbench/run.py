"""Benchmark runner: one workload of the engine's CLI, in a process of its own.

    python3 perfbench/run.py --workload flagship_small --seed 42 --seconds 10 --trace 0

Inputs are generated from --seed by `inputs.py` and cached under
`.perfbench_work/` at the repo root; the CLI reads them only as files
(`--pages`, and `SPARK_GRAFT_FIXTURE_DIR` for the buildings). The runner
starts the Spark session the CLI uses, warms it up with full commands, then
runs the command (`cli.main`, in this process) again and again for
--seconds seconds. Every command's output is checked against the oracles in
`oracle.py`; a command that raises or fails a check counts as failed.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer table of `layers.py`; the traced run also writes its
spans to `.perfbench_work/trace-<workload>-seed<seed>.json`.

Commands and set-up are timed in CPU seconds (user + system) of this process
and every process below it: the driver, the JVM and the Python workers. On a
shared 4-vCPU virtual machine the wall time of a command follows the time the
hypervisor gives the vCPUs to other guests (steal time): one flagship command
read 6.3 s of wall time with 1 s of steal and 11.1 s with 12.5 s of steal,
while its CPU time stayed within 15-17 s. Wall times go to stderr and to the
traced run's table.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
MASTER = "local[4]"
DEADLINE_S = 170.0

# pages: rows of the pages table (0: the command reads none); buildings:
# footprint rows, written where the CLI's `--sf` fixture lookup finds them
WORKLOADS = {
    "flagship_small": {"cmd": "flagship", "pages": 200_000, "buildings": 2_000, "warmup": 2},
    "seed3d": {"cmd": "seed", "pages": 0, "buildings": 600, "warmup": 1},
}


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_rss(pid: int) -> int:
    """Summed resident bytes of pid and every process below it."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu(pid: int) -> float:
    """CPU seconds (user + system) used so far by pid and every process
    below it, ended children included once their parent has reaped them."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(v) for v in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return total / tick


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids: list[int], grace_s: float = 10.0) -> None:
    """Wait for pids to end; kill what is left after grace_s."""
    end = time.monotonic() + grace_s
    while any(_alive(p) for p in pids) and time.monotonic() < end:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
    while any(_alive(p) for p in pids) and time.monotonic() < end + 5:
        time.sleep(0.1)


class PeakRss:
    """Samples the process tree's summed RSS every `every` seconds."""

    def __init__(self, every: float = 0.2):
        self.every, self.peak = every, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(os.getpid()))
            self._stop.wait(self.every)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def watchdog() -> threading.Timer:
    """Ends the run, and every process it started, before the time limit."""

    def _abort():
        print(f"run.py: no result after {DEADLINE_S:.0f} s, aborting", file=sys.stderr, flush=True)
        pids = descendants(os.getpid())
        for p in pids:
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
        reap(pids, 5.0)
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - T_START), _abort)
    t.daemon = True
    t.start()
    return t


# ---------------------------------------------------------------------------
# inputs and checks
# ---------------------------------------------------------------------------


def sf_of(n_buildings: int) -> float:
    """The CLI's `--sf` whose fixture file holds n building rows."""
    return n_buildings / 20_000


def prepare(workload: str, seed: int) -> dict:
    """Generate (once per seed) the workload's input files and the oracle's
    expectations."""
    import numpy as np

    import inputs
    import oracle

    spec = WORKLOADS[workload]
    d = os.path.join(WORK, "inputs", f"{workload}-seed{seed}")
    os.makedirs(d, exist_ok=True)
    sf = sf_of(spec["buildings"])
    bpath = os.path.join(d, f"buildings-sf{sf}.parquet")
    if not os.path.exists(bpath):
        inputs.write_parquet(inputs.make_buildings(spec["buildings"], seed), bpath)
    ids = sorted(oracle.building_rings(bpath))
    p = {"dir": d, "sf": sf, "buildings": bpath, "building_ids": ids, "pages": None}
    if spec["pages"]:
        p["pages"] = os.path.join(d, "pages.parquet")
        if not os.path.exists(p["pages"]):
            inputs.write_parquet(inputs.make_pages(spec["pages"], seed), p["pages"])
        exp = os.path.join(d, "expected_join.npy")
        if not os.path.exists(exp):
            tmp = f"{exp}.tmp{os.getpid()}.npy"
            np.save(tmp, oracle.expected_join(p["pages"], bpath))
            os.replace(tmp, exp)
        p["expected"] = np.load(exp)
    return p


def check(workload: str, inp: dict, out: str, printed: dict) -> list[str]:
    """Oracle problems with one command's output; empty when correct."""
    import oracle

    if WORKLOADS[workload]["cmd"] == "flagship":
        return oracle.check_flagship(out, printed, inp["expected"], len(inp["building_ids"]))
    return oracle.check_seed(out, printed, inp["building_ids"])


class Runner:
    """Runs the workload's CLI command and keeps the tally of attempts."""

    def __init__(self, workload: str, inp: dict):
        self.workload, self.inp = workload, inp
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self._n = 0

    def argv(self, out: str) -> list[str]:
        spec, inp = WORKLOADS[self.workload], self.inp
        if spec["cmd"] == "flagship":
            return ["--master", MASTER, "flagship", "--pages", inp["pages"],
                    "--sf", str(inp["sf"]), "--workdir", out]
        return ["--master", MASTER, "seed", "--sf", str(inp["sf"]), "--out", out]

    def command(self, keep: bool = False) -> tuple[float, float, int, str]:
        """(wall seconds, CPU seconds, output bytes, output dir) of one CLI
        command; the output is checked, then removed unless keep is set."""
        import layers
        from osm_data_3d_tiles_spark import cli

        self._n += 1
        out = os.path.join(WORK, "runs", f"{self.workload}-{os.getpid()}-{self._n}")
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        buf = io.StringIO()
        t, c = time.perf_counter(), tree_cpu(os.getpid())
        try:
            with contextlib.redirect_stdout(buf):
                cli.main(self.argv(out))
            dt, cpu = time.perf_counter() - t, tree_cpu(os.getpid()) - c
            problems = check(self.workload, self.inp, out,
                             json.loads(buf.getvalue().strip().splitlines()[-1]))
        except Exception as e:  # a crashed command is a failed run
            dt, cpu = time.perf_counter() - t, tree_cpu(os.getpid()) - c
            problems = [f"{type(e).__name__}: {e}"]
            traceback.print_exc()
        size = layers.dir_size(out)[1]
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            print(f"run.py: command {self._n} failed: {problems}", file=sys.stderr, flush=True)
        return dt, cpu, size, out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def timed(runner: Runner, seconds: float) -> dict:
    times, cpus, sizes = [], [], []
    while sum(times) < seconds or not times:
        dt, cpu, size, _ = runner.command()
        times.append(dt)
        cpus.append(cpu)
        sizes.append(size)
    print(f"run.py: {len(times)} timed commands, wall s: {[round(t, 3) for t in times]}, "
          f"CPU s: {[round(c, 2) for c in cpus]}", file=sys.stderr)
    return {
        "cpu_s": (statistics.median(cpus), "s"),
        "output_mb": (statistics.median(sizes) / 1e6, "MB"),
    }


def traced(runner: Runner, spark, session: dict, seed: int) -> dict:
    import layers
    import tracing as tr

    spans = tr.Spans()
    for name, (start, end) in session.items():
        spans.add(name, start, end)
    with spans.span("untraced"), PeakRss() as rss:
        untraced_s, untraced_cpu, _, _ = runner.command()
    counter = tr.JobCounter(spark.sparkContext, f"perfbench-{spans.run_id}")
    with spans.span("pipeline"), counter:
        traced_s, _, _, out = runner.command(keep=True)
    metrics = {name: 0 for name, _ in layers.METRICS}
    metrics.update({f"pipeline.{k}": v for k, v in counter.counts().items()})
    metrics["pipeline.peak_rss_mb"] = rss.peak / 1e6
    metrics["session.start_s"] = session["session"][1] - session["session"][0]
    metrics["session.warmup_s"] = session["warmup"][1] - session["warmup"][0]
    scratch = os.path.join(WORK, "runs", f"layers-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    inp = runner.inp
    if WORKLOADS[runner.workload]["cmd"] == "flagship":
        files, size = layers.dir_size(out)
        metrics["checkpoint.files"], metrics["checkpoint.bytes"] = files, size
        metrics.update(layers.flagship_layers(spark, spans, inp["pages"], inp["buildings"], scratch))
        printed = {"join_rows": metrics["spatial_join.matches"],
                   "owned_buildings": spark.read.parquet(os.path.join(scratch, "owners")).count(),
                   "tiles_with_docs": spark.read.parquet(os.path.join(scratch, "tile_doc_counts")).count()}
    else:
        metrics.update(layers.seed_layers(spark, spans, inp["buildings"], scratch))
        printed = {"tiles_written": metrics["b3dm.files"]}
    # the layer outputs answer to the same oracle as the command's
    runner.attempted += 1
    problems = check(runner.workload, inp, scratch, printed)
    if problems:
        runner.failed += 1
        runner.problems.extend(problems)
    spark.catalog.clearCache()
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(scratch, ignore_errors=True)

    metrics["trace.layer_sum_s"] = layers.layer_sum(spans)
    metrics["trace.untraced_wall_s"] = untraced_s
    metrics["trace.untraced_cpu_s"] = untraced_cpu
    metrics["trace.traced_wall_s"] = traced_s
    metrics["trace.overhead_s"] = traced_s - untraced_s
    path = os.path.join(WORK, f"trace-{runner.workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": runner.workload, "spans": spans.table(), "metrics": metrics}, f, indent=1)
    for r in spans.table():
        print(f"  {r['name']:<20} {r['duration_s']:8.3f} s", file=sys.stderr)
    units = dict(layers.METRICS)
    return {k: (v, units[k]) for k, v in metrics.items()}


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the Python workers, and wait for them."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        # a later session in this process starts a JVM of its own
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap(pids)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine under test is the checkout's own, never an installed copy
    if not os.path.isfile(os.path.join(ROOT, "osm_data_3d_tiles_spark", "cli.py")):
        print(f"run.py: no engine package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import osm_data_3d_tiles_spark.cli  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"run.py: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    timer = watchdog()

    # Python workers import the package too; Spark's scratch files stay here
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    t, c = time.perf_counter(), tree_cpu(os.getpid())
    inp = prepare(args.workload, args.seed)
    prepare_s, prepare_cpu = time.perf_counter() - t, tree_cpu(os.getpid()) - c
    os.environ["SPARK_GRAFT_FIXTURE_DIR"] = inp["dir"]

    from osm_data_3d_tiles_spark.session import get_spark

    runner = Runner(args.workload, inp)
    t0 = time.perf_counter()
    # the session the CLI's get_spark builds; each command re-applies the
    # CLI's own settings to it
    spark = get_spark(app_name=f"osm-3d-tiles-{WORKLOADS[args.workload]['cmd']}", master=MASTER)
    try:
        spark.range(1).count()
        t1 = time.perf_counter()
        warm = [runner.command()[0] for _ in range(WORKLOADS[args.workload]["warmup"])]
        t2 = time.perf_counter()
        # set-up is counted in CPU seconds like the commands (see the module docstring)
        setup_s = tree_cpu(os.getpid()) - prepare_cpu
        print(f"run.py: session {t1 - t0:.3f} s, warm-up commands {[round(t, 3) for t in warm]} s, "
              f"set-up {t2 - T_START - prepare_s:.3f} s wall, {setup_s:.2f} s CPU", file=sys.stderr)
        if args.trace:
            metrics = traced(runner, spark, {"session": (t0, t1), "warmup": (t1, t2)}, args.seed)
        else:
            metrics = {"setup_s": (setup_s, "s"), **timed(runner, args.seconds)}
    finally:
        stop_spark(spark)
        timer.cancel()
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
