"""Replay workloads: seeded NetFlow v9 (and BGP) over loopback sockets
into a ``Daemon``, then timed batch drains of every plugin channel.

``nf9_replay``: decode, aggregation and the print sink do the work; no
enrichment. ``bgp_enrich``: RIB build and peer-scoped longest-prefix
match do the work over a smaller flow volume. One seed makes the
traffic (in the sender process) and the truth (here, with numpy).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pandas as pd

import gen
from spans import overhead_ratio

HERE = os.path.dirname(os.path.abspath(__file__))

MIN_DRAINS = 3
SETUP_REPS = 3  # set-up is timed this often; the first includes the session
DATAGRAM_RATE = 5000.0  # datagrams/s, open loop
WARM_RATE = 10_000.0  # warm-up traffic is throwaway: no loss check
WARM = {"flows": 30_000, "hosts": 8000, "prefixes": 1000}

NF9 = {"flows": 600_000, "hosts": 40_000}
BGP = {"flows": 150_000, "hosts": 20_000, "prefixes": 4000}
BGP_PHASE = {"flows": 50_000, "hosts": 10_000, "prefixes": 2000}

NF9_CONF = """nfacctd_port: 0
plugins: memory[hosts], print[ports]
aggregate[hosts]: src_host,dst_host
aggregate[ports]: proto,dst_port
print_output_file[ports]: {out}
print_output[ports]: csv
print_num_protos[ports]: true
"""

BGP_CONF = """nfacctd_port: 0
bgp_daemon: true
bgp_daemon_port: 0
plugins: memory[paths], memory[peers]
aggregate[paths]: as_path,std_comm
aggregate[peers]: peer_src_ip,local_pref
"""

# the program's public functions the daemon resolves at call time,
# wrapped with spans in traced runs
INSTRUMENT = {
    "pmacct_spark.streaming.decode:learn_template_cache": "decode.learn_template_cache",
    "pmacct_spark.streaming.decode:decode_any": "decode.decode_any",
    "pmacct_spark.streaming.bmp:decode_bgp": "bgp.decode_bgp",
    "pmacct_spark.streaming.bmp:rib_state": "bgp.rib_state",
    "pmacct_spark.operators.lpm:lpm_join": "lpm.lpm_join",
    "pmacct_spark.operators.staging:stage": "staging.stage",
    "pmacct_spark.pipeline:build_aggregation": "pipeline.build_aggregation",
    "pmacct_spark.sinks.files:write_print": "sink.write_print",
}


# ---------------------------------------------------------------------
# sender process
# ---------------------------------------------------------------------

def sender_cmd(kind: str, seed: int, port: int, *extra) -> list[str]:
    return [sys.executable, os.path.join(HERE, "sender.py"), kind,
            "--seed", str(seed), "--port", str(port), *map(str, extra)]


def send_flows(seed: int, port: int, flows: int, hosts: int, prefixes: int, rate: float) -> dict:
    """Run the open-loop sender to completion; returns its final
    report (sent datagrams, how late it ran)."""
    extra = ["--flows", flows, "--hosts", hosts, "--rate", rate]
    if prefixes:
        extra += ["--bgp-prefixes", prefixes]
    p = subprocess.run(sender_cmd("nf9", seed, port, *extra),
                       capture_output=True, text=True, timeout=120, check=True)
    return json.loads(p.stdout.strip().splitlines()[-1])


class BgpPeers:
    """The four BGP sessions, held open by a sender process until
    ``close``."""

    def __init__(self, seed: int, port: int, prefixes: int):
        self.proc = subprocess.Popen(
            sender_cmd("bgp", seed, port, "--prefixes", prefixes),
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            self.t0_wall = json.loads(self.proc.stdout.readline())["t0_wall"]
            json.loads(self.proc.stdout.readline())  # all UPDATEs written
        except BaseException:
            self.close()
            raise

    def close(self) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=30)
        finally:
            self.proc.kill()
            self.proc.wait()
            self.proc.stdout.close()


def wait_received(spool, want: int, settle: float = 1.0) -> int:
    """Wait (the sender has finished) until the spool has received
    ``want`` datagrams, or none arrived for ``settle`` seconds: the
    rest were lost."""
    seen, t_seen = spool.datagrams_received, time.monotonic()
    while seen < want and time.monotonic() - t_seen < settle:
        time.sleep(0.02)
        if spool.datagrams_received != seen:
            seen, t_seen = spool.datagrams_received, time.monotonic()
    return spool.datagrams_received


def received_payloads(spark, spool) -> list[bytes]:
    return [r["payload"] for r in spool.batch(spark).select("payload").collect()]


def wait_rib(d, routes: int, timeout: float = 60.0) -> float:
    """Poll ``Daemon.rib()`` until it holds every announced route;
    returns the wall time it did."""
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        d.bgp_spool.flush()
        if d.rib().count() >= routes:
            return time.time()
        time.sleep(0.05)
    raise RuntimeError(f"RIB incomplete after {timeout}s")


# ---------------------------------------------------------------------
# truth
# ---------------------------------------------------------------------

def _frame(keys: dict[str, np.ndarray], flows: dict[str, np.ndarray]) -> pd.DataFrame:
    df = pd.DataFrame({**keys, "bytes": flows["bytes"], "packets": flows["packets"]})
    df["flows"] = 1
    return df.groupby(list(keys), as_index=False).sum()


def nf9_truth(flows) -> dict[str, pd.DataFrame]:
    # group on the integer addresses, render the far fewer keys after
    hosts = _frame({"src_host": flows["src"], "dst_host": flows["dst"]}, flows)
    for col in ("src_host", "dst_host"):
        hosts[col] = gen.ntoa(hosts[col].to_numpy())
    hosts = hosts.sort_values(["src_host", "dst_host"]).reset_index(drop=True)
    return {
        "hosts": hosts,
        "ports": _frame({"proto": flows["proto"], "dst_port": flows["dport"]}, flows),
    }


def bgp_truth(seed: int, flows, prefixes: int) -> dict[str, pd.DataFrame]:
    """Per-peer longest-prefix match over the announced tables; traffic
    with no route lands under empty AS path / communities and
    local_pref 0."""
    ribs = gen.make_rib(seed, prefixes)
    idx = gen.lpm_truth(ribs, flows["exporter"], flows["dst"])
    hit = idx >= 0
    paths = np.concatenate([r["as_path"] for r in ribs]).astype(object)
    comms = np.concatenate([r["std_comm"] for r in ribs]).astype(object)
    lprefs = np.concatenate([r["local_pref"] for r in ribs])
    safe = np.where(hit, idx, 0)
    return {
        "paths": _frame({"as_path": np.where(hit, paths[safe], ""),
                         "std_comm": np.where(hit, comms[safe], "")}, flows),
        "peers": _frame({"peer_src_ip": np.asarray(gen.EXPORTERS)[flows["exporter"]],
                         "local_pref": np.where(hit, lprefs[safe], 0)}, flows),
    }


COUNTERS = ["bytes", "packets", "flows"]


def compare(ctx, name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Totals, the top-10 keys by bytes, and every key's counters.
    ``want`` is sorted by its key columns, as ``_frame`` leaves it."""
    keys = [c for c in want.columns if c not in COUNTERS]
    got = got[keys + COUNTERS].copy()
    for k in keys:
        got[k] = got[k].fillna("").astype(want[k].dtype)
    tot_g = got[COUNTERS].sum().tolist()
    tot_w = want[COUNTERS].sum().tolist()
    ctx.check(f"{name}.totals", tot_g == tot_w, f"got {tot_g} want {tot_w}")

    def top(df):
        return df.nlargest(10, "bytes", keep="all") \
                 .sort_values(["bytes"] + keys, ascending=[False] + [True] * len(keys)) \
                 .head(10).reset_index(drop=True)

    ctx.check(f"{name}.top10", top(got).astype(str).equals(top(want).astype(str)),
              f"got {top(got).to_dict('records')[:3]} want {top(want).to_dict('records')[:3]}")
    g = got.sort_values(keys).reset_index(drop=True)
    same = len(g) == len(want) and all(
        (g[c].to_numpy() == want[c].to_numpy()).all() for c in keys + COUNTERS)
    detail = ""
    if not same:
        m = want.merge(got, on=keys, how="outer", suffixes=("", "_got"), indicator=True)
        bad = m[(m["_merge"] != "both") | (m["bytes"] != m["bytes_got"])
                | (m["packets"] != m["packets_got"]) | (m["flows"] != m["flows_got"])]
        detail = f"{len(bad)} of {len(want)} keys differ, e.g. {bad.head(3).to_dict('records')}"
    ctx.check(f"{name}.keys", same, detail)


def read_print_csv(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "**", "*.csv"), recursive=True))
    if not files:
        return pd.DataFrame(columns=["proto", "dst_port", "bytes", "packets", "flows"])
    return pd.concat([pd.read_csv(f) for f in files], ignore_index=True)


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(f)) / (1024.0 * 1024.0)


# ---------------------------------------------------------------------
# shared shape of both replay workloads
# ---------------------------------------------------------------------

class Replay:
    """One replay workload: its config, how to feed a daemon, what the
    channels must hold."""

    def __init__(self, ctx, kind: str, size: dict | None = None):
        self.ctx = ctx
        self.kind = kind
        self.bgp = kind == "bgp_enrich"
        self.size = size or (BGP if self.bgp else NF9)
        self.peers: BgpPeers | None = None

    def conf(self, tag: str) -> str:
        if self.bgp:
            return BGP_CONF
        return NF9_CONF.format(out=self.ctx.path(tag, "ports_csv"))

    def daemon(self, tag: str, spool_tag: str | None = None):
        from pmacct_spark.daemon import Daemon

        return Daemon.from_conf(self.ctx.spark, self.conf(tag),
                                spool_dir=self.ctx.path(spool_tag or tag, "spool"))

    def feed(self, d, seed: int, flows: int, hosts: int, prefixes: int,
             rate: float = DATAGRAM_RATE) -> dict:
        """Announce the tables (BGP), then send the flows; returns the
        sender report plus datagrams received."""
        report = {}
        if self.bgp:
            self.peers = BgpPeers(seed, d.bgp_port, prefixes)
            routes = sum(len(r["net"]) for r in gen.make_rib(seed, prefixes))
            report["rib_ready_s"] = wait_rib(d, routes) - self.peers.t0_wall
            report["routes"] = routes
        base = d.spool.datagrams_received
        report.update(send_flows(seed, d.port, flows, hosts, prefixes if self.bgp else 0, rate))
        report["received"] = wait_received(d.spool, base + report["sent_datagrams"]) - base
        return report

    def release(self, d) -> None:
        d.stop()
        if self.peers is not None:
            self.peers.close()
            self.peers = None

    def channels(self) -> list[str]:
        return ["paths", "peers"] if self.bgp else ["hosts"]

    def drain(self, d) -> dict[str, pd.DataFrame]:
        """One drain: every plugin channel processed and every sink
        materialized (memory tables collected, the print file written)."""
        tr = self.ctx.tracer
        with tr.span("daemon.run_available"):
            out = d.run_available(streaming=False)
        with tr.span("sink.materialize"):
            res = {ch: out[ch].toPandas() for ch in self.channels()}
        return res

    def truth(self, flows=None) -> dict[str, pd.DataFrame]:
        """What the channels must hold for ``flows``, by default every
        flow the sender sends."""
        s, seed = self.size, self.ctx.seed
        if flows is None and self.bgp:
            flows = gen.bgp_flows(seed, s["flows"], s["hosts"], s["prefixes"])
        elif flows is None:
            flows = gen.make_flows(seed, s["flows"], s["hosts"])
        return bgp_truth(seed, flows, s["prefixes"]) if self.bgp else nf9_truth(flows)

    def verify(self, res, truth, tag: str) -> None:
        for ch in self.channels():
            compare(self.ctx, f"{self.kind}.{ch}", res[ch], truth[ch])
        if not self.bgp:
            compare(self.ctx, f"{self.kind}.ports_csv",
                    read_print_csv(self.ctx.path(tag, "ports_csv")), truth["ports"])


def setup(ctx, wl: Replay, reps: int) -> list[float]:
    """``from_conf`` and a warm-up drain on throwaway traffic, timed
    ``reps`` times; the first rep also starts the session and
    receives the traffic, later reps replay its spool (BGP reps
    re-announce: the RIB lives with the daemon)."""
    times = []
    s = WARM
    for k in range(reps):
        t0 = time.perf_counter()
        if ctx.spark is None:
            ctx.start_session()
        d = wl.daemon(f"warm{k}", spool_tag=f"warm{k}" if wl.bgp else "warm0")
        try:
            if k == 0 or wl.bgp:
                wl.feed(d, ctx.seed + 1_000_003, s["flows"], s["hosts"],
                        s.get("prefixes", 0), rate=WARM_RATE)
            wl.drain(d)
            times.append(time.perf_counter() - t0)
        finally:
            wl.release(d)  # teardown, not set-up: untimed
    return times


def run_replay(ctx, kind: str, size: dict | None = None, min_drains: int = MIN_DRAINS,
               phases=()) -> None:
    """Set-up, feed, timed drains; traced runs add the per-layer
    passes, then ``phases`` (each ``fn(ctx)``), then for NetFlow alone
    the ``local[1]`` baseline, which ends the ``local[4]`` session."""
    wl = Replay(ctx, kind, size)
    # a traced run reports no set-up time: one warm-up is enough
    setup_times = setup(ctx, wl, 1 if ctx.tracer.enabled else SETUP_REPS)
    ctx.note("setup_s", setup_times)
    ctx.e2e["setup_s"] = statistics.median(setup_times)
    tr = ctx.tracer
    tr.instrument(INSTRUMENT)
    s = wl.size
    truth = wl.truth()

    d = wl.daemon("main")
    tr.instrument_method(d.spool, "flush", "udp.flush")
    if d.bgp_spool is not None:
        tr.instrument_method(d.bgp_spool, "flush", "tcp.flush")
    try:
        rep = wl.feed(d, ctx.seed, s["flows"], s["hosts"], s.get("prefixes", 0))
        ctx.note("feed", rep)
        lost = max(rep["sent_datagrams"] - rep["received"], 0)
        # loss at the socket is measured (here, and udp.dropped), not
        # counted as failed: how much a shared host lets an open-loop
        # UDP load lose varies from run to run. The drains are checked
        # against the datagrams the collector did receive.
        ctx.report(f"{kind}.lost_datagrams", lost, "count")
        if lost:
            print(f"lost {lost} of {rep['sent_datagrams']} datagrams", file=sys.stderr)
            truth = wl.truth(gen.parse_records(received_payloads(ctx.spark, d.spool)))

        times = ctx.measure(lambda: wl.drain(d), lambda res: wl.verify(res, truth, "main"),
                            min_drains)
        n_flows = int(next(iter(truth.values()))["flows"].sum())  # flows accounted
        ctx.e2e["items_per_s"] = n_flows / statistics.median(times)

        if tr.enabled:
            tr.restore()
            L = ctx.layer
            L["trace.overhead_ratio"] = overhead_ratio(times)
            L["gen.late_max_ms"] = rep["late_max_ms"]
            L["gen.sent_datagrams"] = rep["sent_datagrams"]
            L["udp.received"] = d.spool.datagrams_received
            L["udp.dropped"] = lost + d.spool.datagrams_dropped
            L["udp.flush_s"] = ctx.per_pass(tr.total("udp.flush"))
            L["udp.spool_files"] = len(glob.glob(os.path.join(d.spool.spool_dir, "*.parquet")))
            L["udp.spool_mb"] = dir_mb(d.spool.spool_dir)
            L["daemon.glue_s"] = ctx.per_pass(tr.self_times().get("daemon.run_available", 0.0))
            L["pipeline.rows_in"] = n_flows
            for layer, t in tr.layer_self_times().items():
                L[f"self_s.{layer}"] = ctx.per_pass(t)
            if wl.bgp:
                L["bgp.rib_ready_s"] = rep["rib_ready_s"]
                L["bgp.rib_routes"] = rep["routes"]
                L["tcp.messages_spooled"] = d.bgp_spool.messages_spooled
                L["tcp.sessions_dropped"] = d.bgp_spool.sessions_dropped
                L["tcp.flush_s"] = ctx.per_pass(tr.total("tcp.flush"))
            layer_passes(ctx, wl, d)
    finally:
        tr.restore()
        wl.release(d)
    if tr.enabled:
        for phase in phases:
            phase(ctx)
        if not wl.bgp:
            speedup(ctx, wl, d.spool.spool_dir, statistics.median(times[2::2]))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def layer_passes(ctx, wl: Replay, d) -> None:
    """Traced run only: each layer's public call run on its own over
    the same spooled input, so its busy time is measured apart from
    the daemon's plan."""
    from pmacct_spark.daemon import canonical_flows
    from pmacct_spark.operators.lpm import lpm_join
    from pmacct_spark.operators.staging import release, stage
    from pmacct_spark.pipeline import build_aggregation
    from pmacct_spark.sinks.files import write_print
    from pmacct_spark.streaming.bmp import decode_bgp, rib_state
    from pmacct_spark.streaming.decode import decode_any, learn_template_cache

    L = ctx.layer
    spark = ctx.spark
    dg = d.spool.batch(spark).select("exporter_ip", "payload")
    n_dg = dg.count()
    cache = {}
    L["decode.learn_templates_s"] = _timed(lambda: cache.update(learn_template_cache(dg)))
    decoded = decode_any(dg, seed_templates=cache)
    L["decode.busy_s"] = _timed(lambda: _noop(decoded))
    flows = stage(canonical_flows(decoded))
    n = flows.count()
    L["decode.flows_out"] = n
    L["decode.flows_per_datagram"] = n / max(n_dg, 1)
    staged = [flows]
    if wl.bgp:
        L["daemon.rib_s"] = _timed(lambda: _noop(d.rib()))
        ev = d.bgp_spool.batch(spark).select("exporter_ip", "seqno", "payload")
        L["bgp.decode_rib_s"] = _timed(lambda: _noop(rib_state(decode_bgp(ev), peer_down=True)))
        rib = stage(d.rib()).withColumnRenamed("prefix", "net_int")
        staged.append(rib)
        joined = lpm_join(
            flows, rib, "ip_dst_i",
            {"as_path": "as_path", "local_pref": "local_pref", "std_comm": "std_comm"},
            default={"as_path": "", "local_pref": 0, "std_comm": ""},
            extra_keys={"peer_ip_src": "peer_ip"},
        )
        L["lpm.join_s"] = _timed(lambda: _noop(joined))
        hits = joined.filter("as_path != ''").count()
        L["lpm.hit_ratio"] = hits / max(n, 1)
        flows = stage(joined)
        staged.append(flows)
    rows_out = 0
    for ch, cfg in d.channels.items():
        agg = build_aggregation(flows, cfg)
        L[f"pipeline.agg_s.{ch}"] = _timed(lambda: _noop(agg))
        rows_out += agg.count()
    L["pipeline.rows_out"] = rows_out
    L["pipeline.reduction_ratio"] = n / max(rows_out, 1)
    if not wl.bgp:
        ports = stage(build_aggregation(flows, d.channels["ports"]))
        staged.append(ports)
        out = ctx.path("layer_ports_csv")
        L["sink.print_s"] = _timed(lambda: write_print(ports, out, fmt="csv"))
        L["sink.print_mb"] = dir_mb(out)
    for df in staged:
        release(df)


def speedup(ctx, wl: Replay, spool_dir: str, drain4: float) -> None:
    """The same drains on ``local[1]``, replayed from the spool the
    main daemon wrote: the single-threaded baseline."""
    from pmacct_spark.daemon import Daemon

    ctx.stop_session()
    ctx.start_session(cores=1)
    d = Daemon.from_conf(ctx.spark, wl.conf("one"), spool_dir=spool_dir)
    try:
        wl.drain(d)  # warm-up
        drain1 = _timed(lambda: wl.drain(d))
    finally:
        d.stop()
    ctx.layer["bench.speedup_4v1"] = drain1 / drain4


def nf9_replay(ctx, phases=()) -> None:
    run_replay(ctx, "nf9_replay", phases=phases)


def bgp_enrich(ctx) -> None:
    run_replay(ctx, "bgp_enrich")


# what a bgp_enrich phase adds to another workload's traced run: the
# layers that workload leaves idle
BGP_LAYERS = ("tcp.", "bgp.", "lpm.", "daemon.rib_s", "pipeline.agg_s.paths",
              "pipeline.agg_s.peers", "self_s.tcp", "self_s.bgp", "self_s.lpm")


def bgp_layers(ctx) -> None:
    """A smaller ``bgp_enrich`` inside a traced run, in the same
    session: one warm-up, one traced and checked drain, and the RIB,
    BGP-decode and LPM layer passes."""
    sub = ctx.fork("bgp", seconds=0)
    run_replay(sub, "bgp_enrich", size=BGP_PHASE, min_drains=1)
    ctx.absorb(sub, BGP_LAYERS)
