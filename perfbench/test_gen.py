"""Checks on the benchmark's own generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import struct
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _traffic(seed: int) -> bytes:
    """Every byte stream a run sends, for one seed, concatenated."""
    flows = gen.make_flows(seed, 3000, 500)
    out = b"".join(p for _, p in gen.nf9_datagrams(flows))
    bflows = gen.bgp_flows(seed, 3000, 500, 300)
    out += b"".join(p for _, p in gen.nf9_datagrams(bflows))
    out += b"".join(gen.bgp_session(r, p) for p, r in enumerate(gen.make_rib(seed, 300)))
    out += b"".join(gen.marker_datagram(k, k * 500)[1] for k in range(8))
    for f in gen.live_flows(seed, [1000, 2000], 1.0, 100):
        out += b"".join(p for _, p in gen.nf9_datagrams(f))
    c = gen.make_corpus(seed, 200, 100, n_queries=4)
    out += "\n".join(c["texts"]).encode() + c["vectors"].tobytes() + c["ids"].tobytes()
    return out


def test_same_seed_same_bytes():
    assert _traffic(7) == _traffic(7)


def test_other_seed_other_bytes():
    assert _traffic(7) != _traffic(8)


def test_nf9_datagram_layout():
    flows = gen.make_flows(3, 4 * 64 * gen.RECORDS_PER_DATAGRAM, 100)
    dgs = gen.nf9_datagrams(flows)
    n_records = 0
    for k, (e, p) in enumerate(dgs):
        ver, count, _up, _secs, seq, source_id = struct.unpack("!HHIIII", p[:20])
        assert ver == 9 and source_id == e + 1
        off = 20
        if seq % gen.TEMPLATE_EVERY == 0:
            set_id, ln = struct.unpack("!HH", p[off:off + 4])
            assert set_id == 0 and ln == 8 + 4 * len(gen.V9_FIELDS)
            off += ln
            count -= 1
        set_id, ln = struct.unpack("!HH", p[off:off + 4])
        assert set_id == gen.TEMPLATE_ID and ln % 4 == 0
        assert (ln - 4) // gen.REC_DTYPE.itemsize == count
        n_records += count
        assert off + ln == len(p)
    assert n_records == len(flows["bytes"])


def test_parse_records_inverts_the_datagrams():
    flows = gen.make_flows(5, 2000, 300)
    got = gen.parse_records(p for _, p in gen.nf9_datagrams(flows))
    order = np.concatenate([np.flatnonzero(flows["exporter"] == e)
                            for e in range(len(gen.EXPORTERS))])
    got_order = np.lexsort((np.arange(len(got["exporter"])), got["exporter"]))
    for k, v in flows.items():
        assert (got[k][got_order] == v[order]).all(), k
    marker = gen.parse_records([gen.marker_datagram(3, 1500)[1]])
    assert marker["src"].tolist() == [gen.MARKER_BASE + 3] and marker["bytes"].tolist() == [100]


def test_lpm_truth_matches_brute_force():
    ribs = gen.make_rib(5, 400)
    flows = gen.bgp_flows(5, 2000, 100, 400)
    idx = gen.lpm_truth(ribs, flows["exporter"], flows["dst"])
    nets = np.concatenate([r["net"] for r in ribs])
    lens = np.concatenate([r["masklen"] for r in ribs])
    owner = np.concatenate([np.full(len(r["net"]), p) for p, r in enumerate(ribs)])
    for f in range(0, 2000, 37):
        best, best_len = -1, -1
        for r in np.flatnonzero(owner == flows["exporter"][f]):
            m = int(lens[r])
            if (int(flows["dst"][f]) >> (32 - m)) == (int(nets[r]) >> (32 - m)) and m > best_len:
                best, best_len = r, m
        assert idx[f] == best
    # about a fifth of the traffic is off-RIB by construction
    assert 0.1 < float(np.mean(idx < 0)) < 0.35


def test_corpus_plants_duplicates():
    c = gen.make_corpus(9, 500, 200, n_queries=8)
    by_id = dict(zip(c["ids"].tolist(), c["texts"]))
    for g in c["exact_groups"]:
        assert len({by_id[i] for i in g}) == 1
    for a, b in c["near_pairs"]:
        ta, tb = by_id[a].split(), by_id[b].split()
        assert len(ta) == len(tb) and ta != tb
        assert sum(x != y for x, y in zip(ta, tb)) <= max(1, len(ta) * 5 // 100)
    sims = c["vectors"][c["query_ids"]] @ c["vectors"].T
    sims[np.arange(len(c["query_ids"])), c["query_ids"]] = -2
    assert (sims.argmax(axis=1) == c["twin_ids"]).all()

