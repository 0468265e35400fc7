"""Open-loop load generator for the collector benchmark.

Runs as its own process and imports only ``gen``, so the traffic a run
sends depends on the seed alone. Each datagram has a due time on a
fixed schedule; the sender never waits for the collector, and reports
how late it ran behind that schedule. Lines of JSON on stdout carry
its start time and final counts back to the benchmark.

    python3 perfbench/sender.py nf9  --seed 1 --port P --flows N --hosts H --rate DG_PER_S
    python3 perfbench/sender.py bgp  --seed 1 --port P --prefixes N
    python3 perfbench/sender.py live --seed 1 --port P --hosts H --steps 15000,30000 --step-secs S

``bgp`` keeps its sessions open until its stdin closes. ``bgp`` flows
and ``nf9`` flows share one generator; ``--bgp-prefixes`` makes the
flow destinations follow the announced tables.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def udp_sockets() -> list[socket.socket]:
    """One UDP socket per exporter, bound to the exporter's address so
    the collector sees it as the datagram source."""
    socks = []
    for addr in gen.EXPORTERS:
        s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        s.bind((addr, 0))
        socks.append(s)
    return socks


def paced_send(socks, port: int, schedule) -> dict:
    """Send ``schedule`` — (due offset s, exporter, payload) sorted by
    due time — on time or as soon after as possible."""
    t0 = time.monotonic()
    wall0 = time.time()
    emit({"event": "start", "t0_wall": wall0})
    late_max = 0.0
    sent = 0
    i = 0
    n = len(schedule)
    while i < n:
        now = time.monotonic() - t0
        if schedule[i][0] > now:
            time.sleep(min(schedule[i][0] - now, 0.002))
            continue
        while i < n and schedule[i][0] <= now:
            due, e, payload = schedule[i]
            socks[e].sendto(payload, ("127.0.0.1", port))
            late_max = max(late_max, time.monotonic() - t0 - due)
            sent += 1
            i += 1
    return {"sent_datagrams": sent, "late_max_ms": late_max * 1000.0,
            "t0_wall": wall0, "elapsed_s": time.monotonic() - t0}


def cmd_nf9(args) -> None:
    if args.bgp_prefixes:
        flows = gen.bgp_flows(args.seed, args.flows, args.hosts, args.bgp_prefixes)
    else:
        flows = gen.make_flows(args.seed, args.flows, args.hosts)
    dgs = gen.nf9_datagrams(flows)
    schedule = [(k / args.rate, e, p) for k, (e, p) in enumerate(dgs)]
    socks = udp_sockets()
    try:
        emit({"event": "done", **paced_send(socks, args.port, schedule)})
    finally:
        for s in socks:
            s.close()


def cmd_bgp(args) -> None:
    ribs = gen.make_rib(args.seed, args.prefixes)
    sessions = [gen.bgp_session(r, p) for p, r in enumerate(ribs)]
    conns = []
    try:
        for addr in gen.EXPORTERS:
            c = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
            c.bind((addr, 0))
            c.connect(("127.0.0.1", args.port))
            conns.append(c)
        emit({"event": "start", "t0_wall": time.time()})
        for c, data in zip(conns, sessions):
            c.sendall(data)
        emit({"event": "done", "bytes": sum(len(s) for s in sessions)})
        sys.stdin.read()  # hold the sessions open until told to stop
    finally:
        for c in conns:
            c.close()


def cmd_live(args) -> None:
    """Stepped offered load: each step sends flows at a fixed rate for
    ``--step-secs``; a marker flow is due every 0.5 s throughout."""
    steps = [int(x) for x in args.steps.split(",")]
    schedule = []
    t = 0.0
    seq0 = 0
    for f in gen.live_flows(args.seed, steps, args.step_secs, args.hosts):
        dgs = gen.nf9_datagrams(f, seq0=seq0)
        seq0 += len(dgs) // len(gen.EXPORTERS) + 1
        dt = args.step_secs / max(len(dgs), 1)
        schedule += [(t + j * dt, e, p) for j, (e, p) in enumerate(dgs)]
        t += args.step_secs
    n_markers = int(t / gen.MARKER_EVERY_S)
    for k in range(n_markers):
        due = k * gen.MARKER_EVERY_S
        e, p = gen.marker_datagram(k, int(due * 1000))
        schedule.append((due, e, p))
    schedule.sort(key=lambda x: x[0])
    socks = udp_sockets()
    try:
        emit({"event": "done", "markers": n_markers,
              **paced_send(socks, args.port, schedule)})
    finally:
        for s in socks:
            s.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("kind", choices=("nf9", "bgp", "live"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--flows", type=int, default=0)
    ap.add_argument("--hosts", type=int, default=1000)
    ap.add_argument("--rate", type=float, default=5000.0)
    ap.add_argument("--prefixes", type=int, default=0)
    ap.add_argument("--bgp-prefixes", type=int, default=0)
    ap.add_argument("--steps", default="15000,30000,60000")
    ap.add_argument("--step-secs", type=float, default=4.0)
    args = ap.parse_args(argv)
    {"nf9": cmd_nf9, "bgp": cmd_bgp, "live": cmd_live}[args.kind](args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
