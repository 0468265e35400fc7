"""Seeded inputs for the collector benchmark, and the truth they imply.

Everything the collector sees in a benchmark run is made here from one
seed: NetFlow v9 datagrams, BGP UPDATE sessions, marker flows and the
synthetic text/embedding corpus. The same seed gives byte-identical
inputs. This module imports nothing from ``pmacct_spark``, so no change
to the program can alter the traffic it is measured on; the expected
results (per-key totals, longest-prefix matches, planted duplicates)
are computed here with numpy, independently of the program.
"""

from __future__ import annotations

import struct

import numpy as np

EXPORTERS = ("127.0.1.1", "127.0.1.2", "127.0.1.3", "127.0.1.4")
PEER_AS = (65101, 65102, 65103, 65104)
PEER_LOCAL_PREF = (100, 150, 200, 250)

TEMPLATE_ID = 256
RECORDS_PER_DATAGRAM = 30
TEMPLATE_EVERY = 64  # datagrams per exporter between template re-sends
UNIX_SECS = 1_700_000_000
UPTIME_MS = 3_600_000

# 15 information elements, 43 bytes per record; every IE is one the
# collector maps to a flow column (bytes, packets, proto, tos, flags,
# ports, addresses, interfaces, ASNs, first/last switched).
V9_FIELDS = (
    (1, 4), (2, 4), (4, 1), (5, 1), (6, 1), (7, 2), (8, 4), (10, 2),
    (11, 2), (12, 4), (14, 2), (16, 4), (17, 4), (21, 4), (22, 4),
)
REC_DTYPE = np.dtype(
    [
        ("bytes", ">u4"), ("packets", ">u4"), ("proto", "u1"),
        ("tos", "u1"), ("tcp_flags", "u1"), ("sport", ">u2"),
        ("src", ">u4"), ("iface_in", ">u2"), ("dport", ">u2"),
        ("dst", ">u4"), ("iface_out", ">u2"), ("as_src", ">u4"),
        ("as_dst", ">u4"), ("last", ">u4"), ("first", ">u4"),
    ]
)
assert REC_DTYPE.itemsize == sum(ln for _, ln in V9_FIELDS) == 43

# (proto, dst_port) pairs: ~15 low-cardinality keys for print[ports]
SERVICES = (
    (6, 80), (6, 443), (6, 22), (6, 25), (6, 3306), (6, 8080), (6, 179),
    (17, 53), (17, 123), (17, 161), (17, 514), (17, 4789), (17, 443),
    (1, 0), (47, 0),
)

HOST_BASE = 0x0A000000  # hosts live in 10.0.0.0/8
OFF_RIB_BASE = 0x64400000  # 100.64.0.0/10 is never announced
MARKER_BASE = 0xC6120000  # 198.18.0.0/15: marker source hosts only
MARKER_EVERY_S = 0.5


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose)."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "big")
    return np.random.Generator(np.random.PCG64([int(seed), tag]))


def zipf_index(rng: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` draws from a Zipf(s) distribution over ranks 0..n-1."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


def ntoa(a: np.ndarray) -> np.ndarray:
    """Vectorized dotted-quad rendering of uint32 addresses."""
    return np.array([f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}"
                     for v in np.asarray(a, dtype=np.int64).tolist()], dtype=str)


# ---------------------------------------------------------------------
# flows
# ---------------------------------------------------------------------

def make_flows(
    seed: int, n: int, n_hosts: int, stream: str = "flows", dst=None
) -> dict[str, np.ndarray]:
    """``n`` flow records spread over the 4 exporters. Source and
    destination hosts are Zipf-skewed over a pool of ``n_hosts``
    addresses; ``dst`` overrides the destinations (BGP workload)."""
    rng = rng_for(seed, stream)
    pool = HOST_BASE + rng.choice(1 << 24, size=n_hosts, replace=False)
    src = pool[zipf_index(rng, n_hosts, n)]
    if dst is None:
        dst = pool[rng.permutation(n_hosts)[zipf_index(rng, n_hosts, n)]]
    svc = np.asarray(SERVICES)[zipf_index(rng, len(SERVICES), n, s=0.8)]
    packets = rng.integers(1, 64, n)
    first = rng.integers(0, UPTIME_MS - 120_000, n)
    return {
        "exporter": rng.integers(0, len(EXPORTERS), n),
        "src": src.astype(np.int64),
        "dst": np.asarray(dst, dtype=np.int64),
        "sport": rng.integers(1024, 65536, n),
        "dport": svc[:, 1],
        "proto": svc[:, 0],
        "packets": packets,
        "bytes": packets * rng.integers(40, 1500, n),
        "first": first,
        "last": first + rng.integers(0, 120_000, n),
    }


def _records(flows: dict[str, np.ndarray], idx: np.ndarray) -> bytes:
    rec = np.zeros(len(idx), dtype=REC_DTYPE)
    rec["bytes"] = flows["bytes"][idx]
    rec["packets"] = flows["packets"][idx]
    rec["proto"] = flows["proto"][idx]
    rec["tcp_flags"] = np.where(flows["proto"][idx] == 6, 0x18, 0)
    rec["sport"] = flows["sport"][idx]
    rec["src"] = flows["src"][idx]
    rec["iface_in"] = 1 + flows["exporter"][idx]
    rec["dport"] = flows["dport"][idx]
    rec["dst"] = flows["dst"][idx]
    rec["iface_out"] = 10
    rec["as_src"] = 64512
    rec["as_dst"] = 64513
    rec["first"] = flows["first"][idx]
    rec["last"] = flows["last"][idx]
    return rec.tobytes()


def template_flowset() -> bytes:
    body = struct.pack("!HH", TEMPLATE_ID, len(V9_FIELDS)) + b"".join(
        struct.pack("!HH", ie, ln) for ie, ln in V9_FIELDS
    )
    return struct.pack("!HH", 0, 4 + len(body)) + body


def v9_datagram(
    flows: dict[str, np.ndarray], idx: np.ndarray, seq: int, source_id: int,
    with_template: bool,
) -> bytes:
    """One NetFlow v9 export packet carrying the records ``idx``."""
    data = _records(flows, idx)
    pad = (-(4 + len(data))) % 4
    sets = struct.pack("!HH", TEMPLATE_ID, 4 + len(data) + pad) + data + b"\0" * pad
    count = len(idx)
    if with_template:
        sets = template_flowset() + sets
        count += 1
    hdr = struct.pack("!HHIIII", 9, count, UPTIME_MS, UNIX_SECS, seq, source_id)
    return hdr + sets


def template_datagram(e: int) -> bytes:
    """A packet carrying only exporter ``e``'s template."""
    hdr = struct.pack("!HHIIII", 9, 1, UPTIME_MS, UNIX_SECS, 0, e + 1)
    return hdr + template_flowset()


def nf9_datagrams(
    flows: dict[str, np.ndarray], seq0: int = 0
) -> list[tuple[int, bytes]]:
    """Pack the flows into (exporter index, datagram) pairs in send
    order: each exporter's records in 30-record packets with the
    template first and every ``TEMPLATE_EVERY`` packets after, the
    exporters interleaved round-robin."""
    per_exp = []
    for e in range(len(EXPORTERS)):
        idx = np.flatnonzero(flows["exporter"] == e)
        dgs = []
        for k, lo in enumerate(range(0, len(idx), RECORDS_PER_DATAGRAM)):
            seq = seq0 + k
            dgs.append(
                v9_datagram(
                    flows, idx[lo:lo + RECORDS_PER_DATAGRAM], seq, e + 1,
                    with_template=seq % TEMPLATE_EVERY == 0,
                )
            )
        per_exp.append(dgs)
    out = []
    for k in range(max(len(d) for d in per_exp)):
        for e, dgs in enumerate(per_exp):
            if k < len(dgs):
                out.append((e, dgs[k]))
    return out


def parse_records(payloads) -> dict[str, np.ndarray]:
    """The flow records inside NetFlow v9 packets of this generator's
    layout, as ``make_flows`` columns: the truth for the datagrams a
    collector actually received."""
    recs = []
    for p in payloads:
        off = 20
        while off + 4 <= len(p):
            set_id, ln = struct.unpack("!HH", p[off:off + 4])
            if set_id == TEMPLATE_ID:
                n = (ln - 4) // REC_DTYPE.itemsize
                recs.append(np.frombuffer(p, REC_DTYPE, n, off + 4))
            off += ln
    rec = np.concatenate(recs) if recs else np.zeros(0, REC_DTYPE)
    out = {k: rec[k].astype(np.int64) for k in
           ("src", "dst", "sport", "dport", "proto", "packets", "bytes", "first", "last")}
    out["exporter"] = rec["iface_in"].astype(np.int64) - 1
    return out


def live_flows(seed: int, steps: list[int], step_secs: float, n_hosts: int) -> list[dict]:
    """The flows of each offered-load step (``rate`` flows/s for
    ``step_secs``)."""
    return [make_flows(seed, int(rate * step_secs), n_hosts, stream=f"live{k}")
            for k, rate in enumerate(steps)]


def marker_datagram(k: int, due_ms: int) -> tuple[int, bytes]:
    """Marker flow ``k``: a one-record packet whose source host
    (``marker_host(k)``) appears in no other flow; its due time rides
    in the FIRST_SWITCHED field."""
    e = k % len(EXPORTERS)
    f = {
        "exporter": np.array([e]),
        "src": np.array([MARKER_BASE + k]),
        "dst": np.array([HOST_BASE + 1]),
        "sport": np.array([40000]), "dport": np.array([9]),
        "proto": np.array([17]), "packets": np.array([1]),
        "bytes": np.array([100]),
        "first": np.array([due_ms % UPTIME_MS]),
        "last": np.array([due_ms % UPTIME_MS]),
    }
    return e, v9_datagram(f, np.array([0]), 1_000_000 + k, e + 1, False)


def marker_host(k: int) -> str:
    return str(ntoa(np.array([MARKER_BASE + k]))[0])


# ---------------------------------------------------------------------
# BGP
# ---------------------------------------------------------------------

def make_rib(seed: int, n_prefixes: int) -> list[dict[str, np.ndarray]]:
    """Per-peer announced tables over one shared pool of /16-/24
    prefixes inside 10.0.0.0/8 (so tables overlap and nest): each peer
    announces ~70% of the pool with its own 3-hop AS path, communities
    and local_pref."""
    rng = rng_for(seed, "rib")
    masklen = rng.integers(16, 25, n_prefixes)
    net = (HOST_BASE + rng.integers(0, 1 << 24, n_prefixes)) & (
        (0xFFFFFFFF << (32 - masklen)) & 0xFFFFFFFF
    )
    net = np.unique(net * 64 + masklen)
    masklen = net % 64
    net = net // 64
    out = []
    for p in range(len(EXPORTERS)):
        keep = rng.random(len(net)) < 0.7
        n = int(keep.sum())
        transit = rng.integers(3000, 3100, n)
        origin = rng.integers(64600, 65000, n)
        c1 = rng.integers(1, 50, n)
        out.append(
            {
                "net": net[keep].astype(np.int64),
                "masklen": masklen[keep].astype(np.int64),
                "as_path": np.char.add(
                    np.char.add(f"{PEER_AS[p]} ", transit.astype(str)),
                    np.char.add(" ", origin.astype(str)),
                ),
                "std_comm": np.char.add(
                    np.char.add(f"{PEER_AS[p]}:", c1.astype(str)),
                    f" {PEER_AS[p]}:{100 + p}",
                ),
                "local_pref": np.full(n, PEER_LOCAL_PREF[p], dtype=np.int64),
            }
        )
    return out


def _bgp_attr(flags: int, code: int, val: bytes) -> bytes:
    if len(val) > 255:
        return struct.pack("!BBH", flags | 0x10, code, len(val)) + val
    return struct.pack("!BBB", flags, code, len(val)) + val


def bgp_update(
    net: int, masklen: int, as_path: str, next_hop: int, local_pref: int,
    std_comm: str,
) -> bytes:
    """One BGP UPDATE announcing net/masklen: ORIGIN, AS4 AS_PATH,
    NEXT_HOP, LOCAL_PREF and standard COMMUNITIES."""
    asns = [int(a) for a in as_path.split()]
    attrs = _bgp_attr(0x40, 1, b"\0")
    attrs += _bgp_attr(
        0x40, 2, bytes([2, len(asns)]) + b"".join(a.to_bytes(4, "big") for a in asns)
    )
    attrs += _bgp_attr(0x40, 3, int(next_hop).to_bytes(4, "big"))
    attrs += _bgp_attr(0x40, 5, int(local_pref).to_bytes(4, "big"))
    comm = b"".join(
        int(a).to_bytes(2, "big") + int(b).to_bytes(2, "big")
        for a, b in (c.split(":") for c in std_comm.split())
    )
    attrs += _bgp_attr(0xC0, 8, comm)
    nlri = bytes([masklen]) + int(net).to_bytes(4, "big")[: (masklen + 7) // 8]
    body = struct.pack("!HH", 0, len(attrs)) + attrs + nlri
    return b"\xff" * 16 + struct.pack("!HB", 19 + len(body), 2) + body


def bgp_session(rib: dict[str, np.ndarray], peer: int) -> bytes:
    """The UPDATE stream peer ``peer`` sends for its table."""
    nh = int.from_bytes(bytes(int(x) for x in EXPORTERS[peer].split(".")), "big")
    return b"".join(
        bgp_update(n, m, a, nh, lp, c)
        for n, m, a, lp, c in zip(
            rib["net"].tolist(), rib["masklen"].tolist(),
            rib["as_path"].tolist(), rib["local_pref"].tolist(),
            rib["std_comm"].tolist(),
        )
    )


def bgp_destinations(
    seed: int, ribs: list[dict[str, np.ndarray]], exporter: np.ndarray,
    off_share: float = 0.2,
) -> np.ndarray:
    """Per-flow destinations: inside a route the flow's own peer
    announced (Zipf over its routes), or, for ``off_share`` of flows,
    in 100.64.0.0/10, which no peer announces."""
    rng = rng_for(seed, "bgpdst")
    dst = np.empty(len(exporter), dtype=np.int64)
    for p, rib in enumerate(ribs):
        sel = np.flatnonzero(exporter == p)
        r = zipf_index(rng, len(rib["net"]), len(sel), s=0.9)
        host = rng.integers(0, 1 << 16, len(sel)) & (
            (1 << (32 - rib["masklen"][r])) - 1
        )
        dst[sel] = rib["net"][r] + host
    off = rng.random(len(exporter)) < off_share
    dst[off] = OFF_RIB_BASE + rng.integers(0, 1 << 22, int(off.sum()))
    return dst


def bgp_flows(seed: int, n: int, n_hosts: int, n_prefixes: int) -> dict[str, np.ndarray]:
    """Flows whose destinations follow the tables of ``make_rib``."""
    ribs = make_rib(seed, n_prefixes)
    exporter = rng_for(seed, "bgpexp").integers(0, len(EXPORTERS), n)
    flows = make_flows(seed, n, n_hosts, dst=bgp_destinations(seed, ribs, exporter))
    flows["exporter"] = exporter
    return flows


def lpm_truth(
    ribs: list[dict[str, np.ndarray]], exporter: np.ndarray, dst: np.ndarray
) -> np.ndarray:
    """Index of the longest matching route in the flow's own peer
    table, per flow (-1 = no route). Route indices are offsets into
    the concatenation of the per-peer tables."""
    out = np.full(len(dst), -1, dtype=np.int64)
    base = 0
    for p, rib in enumerate(ribs):
        sel = np.flatnonzero(exporter == p)
        for m in range(32, -1, -1):
            todo = sel[out[sel] < 0]
            routes = np.flatnonzero(rib["masklen"] == m)
            if not len(todo) or not len(routes):
                continue
            keys = rib["net"][routes] >> (32 - m)
            order = np.argsort(keys)
            keys = keys[order]
            q = dst[todo] >> (32 - m)
            pos = np.minimum(np.searchsorted(keys, q), len(keys) - 1)
            hit = keys[pos] == q
            out[todo[hit]] = base + routes[order[pos[hit]]]
        base += len(rib["net"])
    return out


# ---------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------

def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    chars = letters[rng.integers(0, 26, (n, 9))]
    words = {"".join(chars[i, : lens[i]]) for i in range(n)}
    return np.array(sorted(words))


def make_corpus(seed: int, n_docs: int, n_vec: int, dim: int = 32, n_queries: int = 64) -> dict:
    """Synthetic corpus with planted duplicates.

    About 10% of documents are exact copies of an original, about 10%
    are near-duplicates of an original with one contiguous span of at
    most 5% of its tokens replaced; the rest are originals. Tokens are
    Zipf over a generated vocabulary. Document ids are shuffled so a
    copy is not always the larger id. Embeddings are random unit
    vectors; each of ``n_queries`` query vectors has one planted near
    neighbour (itself plus small noise)."""
    rng = rng_for(seed, "corpus")
    vocab = _vocab(rng, 20_000)
    n_exact = n_docs // 10
    n_near = n_docs // 10
    n_orig = n_docs - n_exact - n_near
    docs: list[str] = []
    toks: list[np.ndarray] = []
    for _ in range(n_orig):
        t = zipf_index(rng, len(vocab), int(rng.integers(120, 241)), s=1.05)
        toks.append(t)
        docs.append(" ".join(vocab[t]))
    exact_src = rng.integers(0, n_orig, n_exact)
    for s in exact_src:
        docs.append(docs[s])
    near_src = rng.choice(n_orig, n_near, replace=False)
    for s in near_src:
        t = toks[s].copy()
        span = int(rng.integers(1, max(2, len(t) * 5 // 100 + 1)))
        lo = int(rng.integers(0, len(t) - span))
        new = rng.integers(0, len(vocab), span)
        new = np.where(new == t[lo:lo + span], (new + 1) % len(vocab), new)
        t[lo:lo + span] = new
        docs.append(" ".join(vocab[t]))
    ids = rng.permutation(n_docs).astype(np.int64)
    exact_groups: dict[int, list[int]] = {}
    for k, s in enumerate(exact_src):
        exact_groups.setdefault(int(s), [int(ids[s])]).append(int(ids[n_orig + k]))
    near_pairs = sorted(
        tuple(sorted((int(ids[s]), int(ids[n_orig + n_exact + k]))))
        for k, s in enumerate(near_src)
    )
    vec = rng.standard_normal((n_vec, dim)).astype(np.float32)
    queries = rng.choice(n_vec // 2, n_queries, replace=False)
    twins = n_vec // 2 + rng.choice(n_vec - n_vec // 2, n_queries, replace=False)
    vec[twins] = vec[queries] + 0.02 * rng.standard_normal((n_queries, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return {
        "ids": ids,
        "texts": docs,
        "exact_groups": sorted(sorted(g) for g in exact_groups.values()),
        "near_pairs": near_pairs,
        "vectors": vec,
        "query_ids": queries.astype(np.int64),
        "twin_ids": twins.astype(np.int64),
    }
