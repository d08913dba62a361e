"""Benchmark entry point: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload medallion_cdc --seed 1 --seconds 30 --trace 0

Run from the repository root. The run builds a Spark session with a
pinned master, shuffle width and heap (the defaults of ``--cores``,
``--shuffle-partitions`` and ``--driver-memory`` are the configuration
``BENCHMARK.json`` records) and a pinned JIT compiler (``JIT_OPTION``),
prepares a fresh workspace under ``.perfbench/`` (removed at exit),
warms up every op shape, then times a fixed number of whole cycles of
ops one after another and checks each op's result outside the timed
window. ``--seconds`` only caps the timed window on a slow host: the
run stops at the first cycle boundary past it. A human-readable report
goes to stderr; the last line of stdout is the JSON result:

- ``--trace 0``: the end-to-end metrics (README.md defines them),
- ``--trace 1``: per-layer metrics from spans recorded around the
  program's public calls, plus Spark job-group counts read from the UI.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Workload parameters (fixed; README.md says where each comes from).
#: ``cycles`` is how many whole cycles (see ``Workload.cycle``) a run
#: times, whatever the wall time, so a faster program times the same ops.
PARAMS = {
    "medallion_cdc": {
        "batch_rows": 1000, "batch_deletes": 100, "delete_every": 3, "cycles": 1,
    },
    "warehouse_queries": {"sf": 0.1, "cycles": 1},
    "lsh_ingest": {"batch_docs": 125, "compact_every": 3, "cycles": 1},
}

#: The JVM compiles with C1 only. With the default tiered compiler the
#: C2 threads spent 3-8 CPU-seconds per timed op for the whole run, more
#: than the op's own work, and kept the 4-core host saturated, so every
#: op time followed the host's load (README.md, "Noise").
JIT_OPTION = "-XX:TieredStopAtLevel=1"

#: The op-cost metrics are CPU seconds of the whole process tree (Python
#: driver, JVM, Python workers): wall time on the shared host swung by
#: 30-50% between runs with the hypervisor's CPU steal, CPU time by about
#: a quarter of that. Wall-clock latency is still printed in the report.
END_TO_END_UNITS = {
    "setup_s": "s",
    "op_cpu_p50_s": "s",
    "ops_per_cpu_s": "1/s",
    "correct_op_share": "ratio",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "ledger.append_s": "s",
    "incremental.read_s": "s",
    "pseudonymise.build_s": "s",
    "incremental.write_s": "s",
    "ledger.merge_s": "s",
    "watermark.advance_s": "s",
    "queries.build_s": "s",
    "catalyst.plan_s": "s",
    "spark.execute_s": "s",
    "dedup.refresh_s": "s",
    "dedup.candidates_s": "s",
    "ledger.compact_s": "s",
    "ledger.bytes_written_per_op": "bytes",
    "ledger.files_written_per_op": "count",
    "ledger.versions_per_read": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.job_time_share": "ratio",
    "spark.shuffle_write_bytes_per_op": "bytes",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


# -- process-tree memory and CPU ----------------------------------------------


def _process_table() -> dict[int, tuple[int, int, str, int]]:
    """pid -> (parent pid, resident bytes, state, CPU ticks) of every
    process; the ticks are user + system, reaped children included."""
    table = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{entry}/statm") as f:
                resident = int(f.read().split()[1])
        except OSError:
            continue
        cpu = sum(int(v) for v in stat[11:15])
        table[int(entry)] = (int(stat[1]), resident * page, stat[0], cpu)
    return table


def _tree(root_pid: int, table) -> set[int]:
    """``root_pid`` and all its descendants."""
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for pid, (ppid, *_rest) in table.items():
            if ppid == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    table = _process_table()
    ticks = sum(table[p][3] for p in _tree(os.getpid(), table) if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants."""
    table = _process_table()
    return sum(table[p][1] for p in _tree(root_pid, table) if p in table)


def stop_spark(spark) -> None:
    """Stop Spark, then wait until its JVM and Python workers have exited."""
    gateway = spark.sparkContext._gateway
    started = _tree(os.getpid(), _process_table()) - {os.getpid()}
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # a signal that cut a py4j call leaves it unusable
        traceback.print_exc(file=sys.stderr)
    gateway.proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        table = _process_table()
        if not any(p in table and table[p][2] != "Z" for p in started):
            return
        time.sleep(0.1)
    log(f"perfbench: Spark processes still running after 30 s: {sorted(started)}")


class RssSampler(threading.Thread):
    """Samples the process tree's RSS every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._halt.wait(self.period)

    def stop(self):
        self._halt.set()
        self.join(timeout=10)


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


# -- workspace accounting ----------------------------------------------------


class WriteMeter:
    """Bytes and files written under a directory, from successive scans:
    a file counts when it is new or its size or mtime changed."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict[str, tuple[int, int]] = {}
        self.bytes = 0
        self.files = 0

    def scan(self) -> tuple[int, int]:
        """Scan; returns ``(bytes, files)`` written since the last scan."""
        d_bytes = d_files = 0
        for root, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                key = (st.st_size, st.st_mtime_ns)
                if self.seen.get(p) != key:
                    self.seen[p] = key
                    d_bytes += st.st_size
                    d_files += 1
        self.bytes += d_bytes
        self.files += d_files
        return d_bytes, d_files

    def disk_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(self.root)
            for f in fs
        )


# -- the run -----------------------------------------------------------------


def build_spark(args, run_dir: str, traced: bool):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_memory
    from data_seedling_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if traced else "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{args.driver_memory} {JIT_OPTION} "
            f"-Dderby.system.home={os.path.join(run_dir, 'tmp')}"
        ),
    }
    if traced:
        conf["spark.ui.port"] = "0"
    return build_session(
        "perfbench",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.shuffle_partitions,
        extra_conf=conf,
    )


class Run:
    """The closed loop's bookkeeping: one record per op, checked."""

    def __init__(self, wl, meter, tracer, jobs):
        self.wl, self.meter, self.tracer, self.jobs = wl, meter, tracer, jobs
        self.attempted = self.failed = 0
        self.records: list[dict] = []

    def one(self, i: int, opts: dict, timed: bool) -> dict:
        wl, tracer = self.wl, self.tracer
        wl.inputs(i, **opts)
        self.meter.scan()
        if self.jobs:
            tracer.op = i
            self.jobs.begin(i)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result, ok = wl.op(i), True
        except Exception:  # a raising op counts as failed, never dropped
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        wall = time.perf_counter() - t0
        rec = {"op": i, "timed": timed, "wall_s": wall, "cpu_s": tree_cpu_s() - cpu0}
        if self.jobs:
            tracer.op = None
            rec.update(self.jobs.end(wall))
            rec["layers"] = tracer.self_times(i)
        rec["bytes"], rec["files"] = self.meter.scan()
        if ok:
            try:
                ok = bool(wl.check(i, result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        rec.update(wl.op_counts() if ok else {})
        rec["ok"] = ok
        self.attempted += 1
        self.failed += not ok
        self.records.append(rec)
        return rec


def wall_latency(run: Run) -> tuple[float, float]:
    """``(op_p50_s, ops_per_s)`` of the timed ops, from wall time."""
    timed = [r["wall_s"] for r in run.records if r["timed"]]
    return statistics.median(timed), len(timed) / sum(timed)


def op_cpu_p50(run: Run) -> float:
    """Median CPU seconds of the timed ops."""
    return statistics.median(r["cpu_s"] for r in run.records if r["timed"])


def end_to_end(run: Run, setup_s: float, amp: dict, peak_rss: int) -> dict:
    cpu = [r["cpu_s"] for r in run.records if r["timed"]]
    return {
        "setup_s": setup_s,
        "op_cpu_p50_s": op_cpu_p50(run),
        "ops_per_cpu_s": len(cpu) / sum(cpu),
        "correct_op_share": (run.attempted - run.failed) / run.attempted,
        "write_amp": amp["written"] / amp["user"],
        "space_amp": amp["disk"] / amp["live"],
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(run: Run) -> dict:
    timed = [r for r in run.records if r["timed"]]
    out = {}
    for name in PER_LAYER_UNITS:
        if name.endswith("_s"):
            layer = name[: -len("_s")]
            vals = [r["layers"][layer] for r in timed if layer in r.get("layers", {})]
        elif name.startswith("ledger.") and name.endswith("_per_op"):
            key = "bytes" if "bytes" in name else "files"
            vals = [r[key] for r in timed]
        else:
            vals = [r[name] for r in timed if name in r]
        out[name] = statistics.median(vals) if vals else 0
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2, help="local[k] master")
    ap.add_argument("--shuffle-partitions", type=int, default=4)
    ap.add_argument("--driver-memory", default="2g")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "data_seedling_spark")):
        log(f"perfbench: no data_seedling_spark package under {ROOT}; nothing to measure")
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    traced = bool(args.trace)

    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM (spark-submit's launcher too) keeps its temp files in the
    # run dir and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    )
    # Python workers import the program by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    # a terminated run still stops Spark and removes its workspace
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    cwd = os.getcwd()
    os.chdir(run_dir)  # derby.log, metastore_db and the like land here
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        from spans import JobGroupStats, Tracer

        spark = build_spark(args, run_dir, traced)
        session_s = time.monotonic() - PROCESS_START
        tracer = Tracer(traced)
        if traced:
            tracer.install()
        jobs = JobGroupStats(spark) if traced else None

        ws = os.path.join(run_dir, "ws")
        os.makedirs(ws)
        meter = WriteMeter(ws)
        t0 = time.monotonic()
        wl = WORKLOADS[args.workload](spark, args.seed, ws, tracer, PARAMS[args.workload])
        wl.prepare()
        prepare_s = time.monotonic() - t0
        run = Run(wl, meter, tracer, jobs)
        t0 = time.monotonic()
        for i, opts in enumerate(wl.warmup()):
            run.one(-1 - i, opts, timed=False)
        warmup_s = time.monotonic() - t0
        setup_s = session_s + prepare_s + warmup_s

        amp = None
        ticks0 = cpu_ticks()
        deadline = time.monotonic() + args.seconds
        cycle = wl.cycle()
        for i in range(cycle * PARAMS[args.workload]["cycles"]):
            if i and i % cycle == 0 and time.monotonic() > deadline:
                log(f"perfbench: timed window passed {args.seconds} s; stopped after "
                    f"{i // cycle} cycles")
                break
            run.one(i, {}, timed=True)
            if i + 1 == cycle:
                amp = {"written": meter.bytes, "user": wl.user_bytes,
                       "disk": meter.disk_bytes(), "live": wl.live_bytes(), "ops": i + 1}
        steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
        steal_share = steal / total if total else 0.0
        sampler.stop()
        metrics = per_layer(run) if traced else end_to_end(run, setup_s, amp, sampler.peak)
        units = PER_LAYER_UNITS if traced else END_TO_END_UNITS
        report(args, run, metrics, units, session_s, prepare_s, warmup_s, amp, steal_share)
        if traced:
            tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            save_untraced(args, run)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
    finally:
        sampler.stop()
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _untraced_path(args) -> str:
    return os.path.join(ROOT, ".perfbench", f"untraced-{args.workload}-{args.seed}.json")


def save_untraced(args, run) -> None:
    with open(_untraced_path(args), "w") as f:
        json.dump({"op_p50_s": wall_latency(run)[0], "op_cpu_p50_s": op_cpu_p50(run)}, f)


def report(args, run, metrics, units, session_s, prepare_s, warmup_s, amp, steal_share) -> None:
    timed = [r for r in run.records if r["timed"]]
    walls = [r["wall_s"] for r in timed]
    log(f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
        f"trace={args.trace} master=local[{args.cores}] "
        f"shuffle_partitions={args.shuffle_partitions}")
    log(f"   set-up: session {session_s:.2f} s, workspace {prepare_s:.2f} s, warm-up "
        f"{warmup_s:.2f} s over {sum(not r['timed'] for r in run.records)} ops")
    log(f"   timed ops: {len(walls)}; op_cpu_p50_s and op_p50_s rest on {len(walls)} "
        f"samples ({len(walls) // 2} beyond them); op_p90_s withheld (needs 100 timed ops)")
    p50, per_s = wall_latency(run)
    log(f"   wall-clock latency (reported, not gated): op_p50_s {p50:.4f} s, "
        f"ops_per_s {per_s:.4f} 1/s")
    log(f"   ops attempted {run.attempted} (warm-up included), failed {run.failed}")
    log(f"   host CPU steal during the timed ops: {steal_share:.1%} "
        "(time the hypervisor gave this machine's CPUs to others)")
    log("   op walls (s): warm-up " + " ".join(
        f"{r['wall_s']:.2f}" for r in run.records if not r["timed"]
    ) + " | timed " + " ".join(f"{w:.2f}" for w in walls))
    log("   op cpu (s): warm-up " + " ".join(
        f"{r['cpu_s']:.2f}" for r in run.records if not r["timed"]
    ) + " | timed " + " ".join(f"{r['cpu_s']:.2f}" for r in timed))
    log(f"   write_amp/space_amp window: set-up + warm-up + {amp['ops']} timed ops; "
        f"written {amp['written']} B, user {amp['user']} B, disk {amp['disk']} B, "
        f"live {amp['live']} B")
    for k, u in units.items():
        log(f"   {k:<34} {metrics[k]:>14.6g} {u}")
    if args.trace:
        log("   note: spans around lazy builders (read_increment, pseudo_transform, "
            "new_vs_all_candidates) time plan construction only; their Spark work "
            "lands in the span of the action that consumes them")
        figures = {"op_p50_s": p50, "op_cpu_p50_s": op_cpu_p50(run)}
        try:
            with open(_untraced_path(args)) as f:
                base = json.load(f)
        except FileNotFoundError:
            base = None
            log("   tracing overhead: run --trace 0 with the same seed first to get "
                "the untraced figures")
        for name, value in figures.items():
            if base is not None and name in base:
                log(f"   tracing overhead: traced {name} {value:.4f} - untraced "
                    f"{base[name]:.4f} = {value - base[name]:+.4f} s")


if __name__ == "__main__":
    sys.exit(main())
