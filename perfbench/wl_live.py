"""``live_serve``: the daemon's steady-state mode under stepped load
with a client reading the served table.

``Daemon.run_continuous(trigger_secs=1)`` serves ``memory[hosts]``
into ``imt_hosts`` (file-source micro-batches, state store, memory
sink). The open-loop sender steps through 15k, 30k and 60k flows/s and
sends a marker flow with a unique source host every 0.5 s. A poller
records when each marker first shows in ``imt_hosts``; freshness is
that time minus the marker's due time. At the same time one
closed-loop client runs the pmacct request mix ``-T bytes,10``,
``-N <spec> -S`` and ``-t``, building a fresh ``ImtTable`` for each
request because ``ImtTable`` caches its table at construction.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import threading
import time

import numpy as np

import gen
from wl_flows import received_payloads, sender_cmd, send_flows, wait_received

STEPS = (15_000, 30_000, 60_000)  # offered flows/s
MIN_STEP_SECS = 8.0
HOSTS = 20_000
SETUP_REPS = 3
WARM_FLOWS = 3000
FRESHNESS_LIMIT_S = 10.0
TREND_LIMIT = 0.25  # freshness slope (s per s) that counts as a growing backlog
CONVERGE_TIMEOUT_S = 90.0
KEYS, COUNTERS = ["src_host", "dst_host"], ["bytes", "packets", "flows"]

CONF = """nfacctd_port: 0
nfacctd_templates_file: {templates}
plugins: memory[hosts]
aggregate[hosts]: src_host,dst_host
sql_history[hosts]: 1h
"""


def start(ctx, tag: str):
    """from_conf, the exporters' templates saved where the daemon's
    streaming decode is seeded from, then ``run_continuous``."""
    from pmacct_spark.daemon import Daemon
    from pmacct_spark.streaming.decode import learn_template_cache, save_templates_file

    path = ctx.path(tag, "templates.json")
    d = Daemon.from_conf(ctx.spark, CONF.format(templates=path),
                         spool_dir=ctx.path(tag, "spool"))
    tmpl = ctx.spark.createDataFrame(
        [(gen.EXPORTERS[e], bytearray(gen.template_datagram(e))) for e in range(len(gen.EXPORTERS))],
        "exporter_ip string, payload binary",
    )
    save_templates_file(learn_template_cache(tmpl), path)
    run = d.run_continuous(trigger_secs=1)
    if not run.await_any_progress(timeout=120):
        raise RuntimeError("live query made no progress")
    return d, run


def served_totals(spark) -> list[int]:
    row = spark.table("imt_hosts").selectExpr(
        *[f"coalesce(sum({c}), 0) AS {c}" for c in COUNTERS]).collect()[0]
    return [int(row[c]) for c in COUNTERS]


def wait_totals(spark, want: list[int], timeout: float) -> list[int]:
    t0 = time.monotonic()
    got = served_totals(spark)
    while got != want and time.monotonic() - t0 < timeout:
        time.sleep(0.5)
        got = served_totals(spark)
    return got


def totals(flows_list: list[dict], n_markers: int) -> list[int]:
    return [
        int(sum(int(f["bytes"].sum()) for f in flows_list)) + 100 * n_markers,
        int(sum(int(f["packets"].sum()) for f in flows_list)) + n_markers,
        int(sum(len(f["bytes"]) for f in flows_list)) + n_markers,
    ]


class MarkerPoller(threading.Thread):
    """Records the wall time each marker source host first appears in
    the served table."""

    def __init__(self, spark):
        super().__init__(daemon=True)
        self.spark = spark
        self.seen: dict[str, float] = {}
        self.stop_ev = threading.Event()
        self.error: Exception | None = None

    def run(self) -> None:
        from pyspark.sql import functions as F

        prefix = gen.marker_host(0).rsplit(".", 2)[0] + "."
        try:
            while not self.stop_ev.is_set():
                rows = (self.spark.table("imt_hosts")
                        .filter(F.col("src_host").startswith(prefix))
                        .select("src_host").distinct().collect())
                now = time.time()
                for r in rows:
                    self.seen.setdefault(r["src_host"], now)
                self.stop_ev.wait(0.25)
        except Exception as exc:  # the run reports it as failed
            self.error = exc


class Client(threading.Thread):
    """One closed-loop pmacct client: -T bytes,10 / -N <spec> -S / -t."""

    def __init__(self, ctx, spec: str):
        super().__init__(daemon=True)
        from pmacct_spark.client.cli import ClientRequest

        self.ctx = ctx
        self.requests = [
            ("topn", ClientRequest(topn=("bytes", 10))),
            ("match_sum", ClientRequest(match=spec, counters_only=True, sum_matches=True)),
            ("status", ClientRequest(status=True)),
        ]
        self.times: dict[str, list[float]] = {name: [] for name, _ in self.requests}
        self.cache_s: list[float] = []
        self.failed = 0
        self.stop_ev = threading.Event()

    def run(self) -> None:
        from pmacct_spark.client.cli import run_client
        from pmacct_spark.client.imt import ImtTable

        spark = self.ctx.spark
        k = 0
        while not self.stop_ev.is_set():
            name, req = self.requests[k % len(self.requests)]
            k += 1
            t0 = time.perf_counter()
            table = None
            try:
                table = ImtTable(spark.table("imt_hosts"), KEYS, COUNTERS)
                self.cache_s.append(time.perf_counter() - t0)
                run_client(table, req).collect()
                self.times[name].append(time.perf_counter() - t0)
            except Exception:  # counted; the client keeps going
                self.failed += 1
            finally:
                if table is not None:
                    table.df.unpersist()


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def slope(xs: list[float], ys: list[float]) -> float:
    return float(np.polyfit(xs, ys, 1)[0]) if len(xs) >= 3 else 0.0


def setup(ctx, reps: int) -> list[float]:
    times = []
    for k in range(reps):
        t0 = time.perf_counter()
        if ctx.spark is None:
            ctx.start_session()
        d, run = start(ctx, f"warm{k}")
        try:
            f = gen.make_flows(ctx.seed + 1_000_003, WARM_FLOWS, 500)
            send_flows(ctx.seed + 1_000_003, d.port, WARM_FLOWS, 500, 0, 2500.0)
            wait_totals(ctx.spark, totals([f], 0), 60)
            times.append(time.perf_counter() - t0)
        finally:
            run.stop()
            d.stop()
    return times


def live_serve(ctx, steps: tuple[int, ...] = STEPS, step_secs: float | None = None,
               setup_reps: int = SETUP_REPS) -> None:
    if setup_reps:
        setup_times = setup(ctx, setup_reps)
        ctx.note("setup_s", setup_times)
        ctx.e2e["setup_s"] = statistics.median(setup_times)

    step_secs = step_secs or max(ctx.seconds / len(steps), MIN_STEP_SECS)
    flows = gen.live_flows(ctx.seed, list(steps), step_secs, HOSTS)
    src = gen.ntoa(flows[0]["src"][:1])[0]
    d, run = start(ctx, "main")
    spark = ctx.spark
    poller, client = MarkerPoller(spark), Client(ctx, f"{src},*")
    proc = None
    try:
        base = d.spool.datagrams_received
        proc = subprocess.Popen(
            sender_cmd("live", ctx.seed, d.port, "--hosts", HOSTS,
                       "--steps", ",".join(map(str, steps)), "--step-secs", step_secs),
            stdout=subprocess.PIPE, text=True,
        )
        t0_wall = json.loads(proc.stdout.readline())["t0_wall"]
        poller.start()
        client.start()
        rep = json.loads(proc.stdout.readline())
        proc.wait(timeout=60)
        ctx.note("feed", rep)
        received = wait_received(d.spool, base + rep["sent_datagrams"]) - base
        lost = max(rep["sent_datagrams"] - received, 0)
        # measured, not counted as failed (see run_replay): the served
        # totals must converge to what was received, and only markers
        # the collector received must be seen
        ctx.report("live_serve.lost_datagrams", lost, "count")
        want = totals(flows, rep["markers"])
        markers = set(range(rep["markers"]))
        if lost:
            got_flows = gen.parse_records(received_payloads(spark, d.spool))
            want = [int(got_flows["bytes"].sum()), int(got_flows["packets"].sum()),
                    len(got_flows["bytes"])]
            markers &= set((got_flows["src"] - gen.MARKER_BASE).tolist())
        got = wait_totals(spark, want, CONVERGE_TIMEOUT_S)
        ctx.check("live.totals_converge", got == want, f"served {got} sent {want}")
        deadline = time.monotonic() + 10
        while len(poller.seen) < len(markers) and time.monotonic() < deadline:
            time.sleep(0.25)
        client.stop_ev.set()
        poller.stop_ev.set()
        client.join(timeout=60)
        poller.join(timeout=60)
        progress = [json.loads(p.json) for p in run.queries["hosts"].recentProgress]
    finally:
        client.stop_ev.set()
        poller.stop_ev.set()
        if proc is not None:
            proc.kill()
            proc.wait()
            proc.stdout.close()
        run.stop()
        d.stop()

    # markers: freshness = first seen - due
    fresh: list[list[tuple[float, float]]] = [[] for _ in steps]
    missing = 0
    for k in sorted(markers):
        due = k * gen.MARKER_EVERY_S
        seen = poller.seen.get(gen.marker_host(k))
        if seen is None:
            missing += 1
            continue
        fresh[min(int(due // step_secs), len(steps) - 1)].append((due, seen - (t0_wall + due)))
    ctx.count(len(markers), missing)
    ctx.check("live.marker_poller", poller.error is None, repr(poller.error))
    n_req = sum(len(v) for v in client.times.values())
    ctx.count(n_req + client.failed, client.failed)

    sustained = 0
    for rate, pts in zip(steps, fresh):
        ys = [y for _, y in pts]
        if pts and pct(ys, 90) <= FRESHNESS_LIMIT_S and slope([x for x, _ in pts], ys) <= TREND_LIMIT:
            sustained = rate
        else:
            break
    step30 = [y for _, y in fresh[steps.index(30_000)]]
    queries = [t for v in client.times.values() for t in v]
    ctx.report("freshness_p50_s", pct(step30, 50), "s", n=len(step30))
    ctx.report("freshness_p90_s", pct(step30, 90), "s", n=len(step30))
    ctx.report("sustained_flows_per_s", sustained, "flows/s")
    ctx.report("query_p50_s", pct(queries, 50), "s", n=len(queries))
    ctx.report("query_p90_s", pct(queries, 90), "s", n=len(queries))
    ctx.note("freshness_by_step", {str(r): [round(y, 3) for _, y in p] for r, p in zip(steps, fresh)})
    ctx.e2e["items_per_s"] = float(sustained)

    if ctx.tracer.enabled:
        L = ctx.layer
        L["gen.late_max_ms"] = rep["late_max_ms"]
        L["gen.sent_datagrams"] = rep["sent_datagrams"]
        L["udp.received"] = received
        L["udp.dropped"] = lost + d.spool.datagrams_dropped

        def med(key, sub=None):
            vals = []
            for p in progress:
                v = p.get(key)
                if sub is not None:
                    v = (v or {}).get(sub)
                if v is not None:
                    vals.append(float(v))
            return statistics.median(vals) if vals else 0.0

        L["stream.trigger_ms_p50"] = med("durationMs", "triggerExecution")
        L["stream.add_batch_ms_p50"] = med("durationMs", "addBatch")
        L["stream.commit_ms_p50"] = med("durationMs", "commitOffsets")
        L["stream.input_rows_per_s"] = med("inputRowsPerSecond")
        L["stream.processed_rows_per_s"] = med("processedRowsPerSecond")
        state = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        L["stream.state_rows"] = float(state[-1].get("numRowsTotal", 0)) if state else 0.0
        L["stream.state_mb"] = float(state[-1].get("memoryUsedBytes", 0)) / 2**20 if state else 0.0
        L["stream.batches"] = float(sum(1 for p in progress if p.get("numInputRows", 0) > 0))
        L["client.topn_s_p50"] = pct(client.times["topn"], 50)
        L["client.match_sum_s_p50"] = pct(client.times["match_sum"], 50)
        L["client.status_s_p50"] = pct(client.times["status"], 50)
        L["client.table_cache_s_p50"] = pct(client.cache_s, 50)


PHASE_STEPS = (30_000,)
PHASE_STEP_SECS = 6.0


def live_layers(ctx) -> None:
    """A short ``live_serve`` inside a traced run, in the same session:
    no warm-up, one 6 s step at 30k flows/s with markers and the
    client, then the same convergence and marker checks. Adds the
    streaming and client layers."""
    sub = ctx.fork("live", seconds=0)
    live_serve(sub, steps=PHASE_STEPS, step_secs=PHASE_STEP_SECS, setup_reps=0)
    ctx.absorb(sub, ("stream.", "client."))
