"""Collector benchmark: one seeded workload per run, outputs checked
against truth computed by the generator.

    python3 perfbench/run.py --workload nf9_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the directory holding ``pmacct_spark``).
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Lines before it are a
readable summary. Everything a run writes stays under
``.perfbench_run/`` (removed at exit) and ``.perfbench_out/`` (one JSON
artifact per run: metrics, contention record, checks, spans).
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import MEASURED_GROUP, Tracer, parse_event_log  # noqa: E402

SPARK_CORES = 4
DRIVER_MEM = "2g"
MAX_PASSES = 40
RUN_LIMIT_S = 175  # a run that hangs fails before the 180 s contract limit


def _timeout(_signum, _frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S}s")


class Context:
    """What a workload gets: arguments, its scratch directory, the
    Spark session, the tracer, and the tallies that end up in the
    result line."""

    def __init__(self, args, run_dir: str, tracer: Tracer, group: str = MEASURED_GROUP):
        self.seed = args.seed
        self.seconds = float(args.seconds)
        self.run_dir = run_dir
        self.tracer = tracer
        self.group = group  # Spark job group of the traced passes
        self.forks: list[Context] = []
        self.trace_all = False  # trace every pass, not every other one
        self.spark = None
        self.app_ids: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failed_checks = 0  # outputs that differ from the truth
        self.checks: list[dict] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.measured_passes = 0
        self.notes: dict = {}  # raw samples, kept in the artifact
        self.extra: dict[str, dict] = {}  # workload-specific end-to-end figures
        self.t_start = time.perf_counter()

    def fork(self, name: str, seconds: float) -> "Context":
        """A phase run inside this one (traced runs only): same seed
        and session, its own scratch directory, tracer, Spark job
        group and tallies. ``absorb`` folds its results back."""
        args = argparse.Namespace(seed=self.seed, seconds=seconds)
        sub = Context(args, os.path.join(self.run_dir, name),
                      Tracer(self.tracer.enabled, f"{self.tracer.run_id}/{name}"),
                      group=f"{self.group}-{name}")
        sub.spark = self.spark
        sub.app_ids = self.app_ids
        sub.trace_all = True
        self.forks.append(sub)
        return sub

    def absorb(self, sub: "Context", layers: tuple[str, ...]) -> None:
        """Take a phase's tallies, checks and figures, and those of its
        per-layer metrics whose names start with one of ``layers``."""
        self.count(sub.attempted, sub.failed)
        self.failed_checks += sub.failed_checks
        self.checks += sub.checks
        self.extra.update(sub.extra)
        self.layer.update({k: v for k, v in sub.layer.items() if k.startswith(layers)})
        self.notes[sub.tracer.run_id] = sub.notes

    def report(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        """A workload's own end-to-end figure: printed on the summary
        lines and kept in the artifact, not in the result line."""
        self.extra[name] = {"value": float(value), "unit": unit, "samples": n}

    def note(self, key: str, value) -> None:
        self.notes[key] = value
        print(f"# [{time.perf_counter() - self.t_start:6.1f}s] {key} = {value}",
              file=sys.stderr, flush=True)

    # -- tallies -------------------------------------------------------
    def count(self, attempted: int, failed: int = 0) -> None:
        self.attempted += int(attempted)
        self.failed += int(failed)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.count(1, 0 if ok else 1)
        self.failed_checks += 0 if ok else 1
        if not ok or len(self.checks) < 200:
            self.checks.append({"name": name, "ok": bool(ok), "detail": detail[:500]})
        if not ok:
            print(f"CHECK FAILED {name}: {detail[:300]}", file=sys.stderr, flush=True)
        return ok

    # -- Spark ---------------------------------------------------------
    def start_session(self, cores: int = SPARK_CORES) -> None:
        """A session from the program's own factory on ``cores`` local
        cores."""
        from pmacct_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=cores)
        self.app_ids.append(self.spark.sparkContext.applicationId)

    @contextlib.contextmanager
    def _traced_pass(self, on: bool):
        """Record spans in this block, and tag its Spark jobs so their
        task metrics can be read back from the event log, when ``on``."""
        sc = self.spark.sparkContext
        if on:
            sc.setLocalProperty("spark.jobGroup.id", self.group)
            self.measured_passes += 1
        try:
            with self.tracer.active(on):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def measure(self, work, check, min_passes: int) -> list[float]:
        """Time ``work()`` at least ``min_passes`` times, then until
        ``--seconds`` is spent; ``check(result)`` runs after each pass,
        outside the timing. In traced runs every other pass (the second,
        fourth, ...) records spans, or every pass in a phase (``fork``).
        Returns the pass times."""
        times: list[float] = []
        deadline = time.perf_counter() + self.seconds
        while len(times) < min_passes or (
            time.perf_counter() < deadline and len(times) < MAX_PASSES
        ):
            on = self.tracer.enabled and (self.trace_all or len(times) % 2 == 1)
            with self._traced_pass(on):
                t0 = time.perf_counter()
                with self.tracer.span("bench.pass"):
                    res = work()
                times.append(time.perf_counter() - t0)
            self.count(1)
            check(res)
        self.note("pass_s", times)
        return times

    def per_pass(self, seconds: float) -> float:
        """A traced-span total spread over the traced passes."""
        return seconds / max(self.measured_passes, 1)

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def stop_jvm() -> None:
    """End the JVM the session started, and wait for it: it exits when
    the pipe to its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def calibrate() -> dict[str, float]:
    """Contention record: a fixed pure-Python loop and the load
    average. Flags a noisy run; never re-runs it."""
    n = 300_000
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += (i * i) % 7
    dt = time.perf_counter() - t0
    return {"ops_per_s": n / dt, "loadavg_1m": os.getloadavg()[0], "cpu_ticks": _cpu_ticks()}


def _cpu_ticks() -> list[int]:
    """The machine's CPU time so far (/proc/stat), for the share a
    hypervisor stole from this VM during the run."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    if len(before) < 8 or len(after) < 8:
        return 0.0
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total > 0 else 0.0


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS of this process and of its JVM child, in MB."""
    me = os.getpid()
    jvm = 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        if int(fields[1]) == me and comm == "java":
            jvm += _hwm_kb(int(d))
    return _hwm_kb(me) / 1024.0, jvm / 1024.0


def prepare_env(run_dir: str, trace: bool) -> None:
    """Keep every file the run writes inside ``run_dir``: Python and
    JVM temp files, Spark local and warehouse dirs, the event log."""
    for sub in ("tmp", "jtmp", "local", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    jopts = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')} "
        f"-Dderby.system.home={os.path.join(run_dir, 'warehouse')} "
        "-XX:-UsePerfData"  # else the JVM keeps a counters file in /tmp
    )
    args = [
        "--driver-java-options", jopts,
        "--conf", f"spark.local.dir={os.path.join(run_dir, 'local')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'events')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"]
    )


def main(argv=None) -> int:
    import wl_corpus
    import wl_flows
    import wl_live

    workloads = {
        # the traced runs of the two listed workloads also measure the
        # layers of the two that BENCHMARK.json leaves out (README: Budget)
        "nf9_replay": lambda ctx: wl_flows.nf9_replay(ctx, phases=(wl_live.live_layers,)),
        "bgp_enrich": wl_flows.bgp_enrich,
        "corpus_dedup": lambda ctx: wl_corpus.corpus_dedup(ctx, phases=(wl_flows.bgp_layers,)),
        "live_serve": wl_live.live_serve,
    }
    ap = argparse.ArgumentParser(description="collector benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pmacct_spark")):
        print("perfbench: run from a checkout root holding pmacct_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # the metric names and units a run reports are the ones declared
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(root, ".perfbench_run", run_id)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(run_dir, bool(args.trace))

    tracer = Tracer(bool(args.trace), run_id)
    ctx = Context(args, run_dir, tracer)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    calib0 = calibrate()
    try:
        workloads[args.workload](ctx)
        py_mb, jvm_mb = peak_rss_mb()
        ctx.note("peak_rss_mb", {"python": py_mb, "jvm": jvm_mb})
        ctx.layer["mem.peak_rss_mb"] = py_mb + jvm_mb
    finally:
        tracer.restore()
        ctx.stop_session()
        stop_jvm()
    signal.alarm(0)
    calib1 = calibrate()

    contention = {
        "before": calib0, "after": calib1,
        "steal_share": steal_share(calib0["cpu_ticks"], calib1["cpu_ticks"]),
    }
    contention["flagged"] = bool(
        calib0["loadavg_1m"] > os.cpu_count()
        or calib1["ops_per_s"] < 0.8 * calib0["ops_per_s"]
        or contention["steal_share"] > 0.05
    )
    ctx.layer["calib.ops_per_s"] = calib0["ops_per_s"]
    ctx.layer["calib.loadavg_1m"] = calib0["loadavg_1m"]
    ctx.layer["calib.steal_share"] = contention["steal_share"]
    ctx.layer["bench.failed_ratio"] = ctx.failed / max(ctx.attempted, 1)
    if args.trace:
        logs = sorted(os.listdir(os.path.join(run_dir, "events")))
        main_log = [f for f in logs if ctx.app_ids and f.startswith(ctx.app_ids[0])]
        if main_log:
            ctx.layer.update(parse_event_log(
                os.path.join(run_dir, "events", main_log[0]),
                per=max(ctx.measured_passes, 1)))
        tracer.dump(os.path.join(out_dir, run_id + ".spans.json"),
                    [sub.tracer for sub in ctx.forks])

    source = ctx.e2e if not args.trace else ctx.layer
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    # correct: every output matched its truth. failed also counts
    # operations that failed without a wrong output (a lost datagram, an
    # unseen marker, a client request that raised)
    correct = ctx.failed_checks == 0 and ctx.attempted > 0
    with open(os.path.join(out_dir, run_id + ".json"), "w") as fh:
        json.dump(
            {"args": vars(args), "correct": correct, "attempted": ctx.attempted,
             "failed": ctx.failed, "e2e": ctx.e2e, "extra": ctx.extra, "layer": ctx.layer,
             "contention": contention, "notes": ctx.notes,
             "checks": ctx.checks},
            fh, indent=1,
        )
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"# {run_id}: {'correct' if correct else 'INCORRECT'}, "
          f"failed {ctx.failed}/{ctx.attempted} "
          f"(failed_ratio {ctx.failed / max(ctx.attempted, 1):.6f}), "
          f"peak_rss_mb {ctx.layer.get('mem.peak_rss_mb', 0):.1f}, "
          f"contention {'FLAGGED' if contention['flagged'] else 'ok'} "
          f"(steal {contention['steal_share']:.1%})")
    for name, m in list(metrics.items()) + list(ctx.extra.items()):
        n = f" (n={m['samples']})" if m.get("samples") is not None else ""
        print(f"#   {name:32s} {m['value']:14.4f} {m['unit']}{n}")
    print(json.dumps({"correct": correct, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
