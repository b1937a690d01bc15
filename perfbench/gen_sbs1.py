"""Seeded SBS-1 (BaseStation) traffic generator, run as its own process.

It listens on ``--connections`` local ports and, once the program under
test has connected to every one of them, serves SBS-1 lines the way a
dump1090 broadcast does. The traffic is drawn from ``--seed``:

- all eight MSG transmission types, each populating the fields that
  ``sources.sbs1.POPULATION_MATRIX`` lists for it, in the mix that the
  per-aircraft transmission rates of ``TYPE_RATE_HZ`` give;
- a Zipf-skewed aircraft population (a few busy aircraft, a long tail);
- a fixed small share of lines whose arity is not 22 (dead-letter rows)
  and of lines ending in CRLF.

A run has two phases: ``--warmup`` lines sent at once, to finish the
stream's lazy start, then -- once the system process writes
``OUT/go_steady`` -- ``--rate`` lines/s for ``--seconds`` s on an
open-loop schedule. Each open-loop line's generated and logged
date/time fields carry the UTC time (ms) it was due to be sent;
lateness (queued for sending minus due time) is recorded per tick.
Warm-up lines carry simulated times from a fixed epoch, so apart from
the due times the bytes depend on the seed alone.

The generator is single-threaded (one ``selectors`` loop serves every
connection). It writes the exact bytes it sent to ``OUT/sent_<i>.txt``,
then ``OUT/report.json``, and keeps the connections open until its
standard input closes.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import socket
import sys
import time
from datetime import datetime, timezone

import numpy as np

#: Fields each MSG type fills, in the order of sources.sbs1.SBS1_FIELDS
#: 10..21 (callsign .. is_on_ground). Mirrors sources.sbs1.POPULATION_MATRIX.
POPULATION = {
    1: {"callsign"},
    2: {"altitude", "ground_speed", "track", "lat", "lon", "is_on_ground"},
    3: {"altitude", "lat", "lon", "alert", "emergency", "spi", "is_on_ground"},
    4: {"ground_speed", "track", "vertical_rate"},
    5: {"altitude", "alert", "spi", "is_on_ground"},
    6: {"altitude", "squawk", "alert", "emergency", "spi", "is_on_ground"},
    7: {"altitude", "is_on_ground"},
    8: {"is_on_ground"},
}
#: Messages per second one aircraft sends of each MSG type, airborne and
#: on the ground. dump1090 maps Mode S downlink formats to MSG types as
#: DF17 identification -> 1, surface position -> 2, airborne position -> 3,
#: airborne velocity -> 4; DF4/20 -> 5; DF5/21 -> 6; DF0/16 -> 7; DF11 -> 8.
#: The unsolicited rates are the extended-squitter and acquisition-squitter
#: rates of ICAO Annex 10 Vol. IV (RTCA DO-260B): position and velocity
#: 2/s, identification 0.2/s, surface position 2/s while moving, DF11
#: 1/s. Types 5-7 are replies to radar and ACAS interrogations, which no
#: standard fixes; the rates below for them are an assumption (0.5/s
#: altitude, 0.1/s identity, 0.5/s air-to-air, none on the ground).
#: Reception loss is taken to be the same for every type.
TYPE_RATE_HZ = {
    "airborne": {1: 0.2, 3: 2.0, 4: 2.0, 5: 0.5, 6: 0.1, 7: 0.5, 8: 1.0},
    "ground": {1: 0.2, 2: 2.0, 8: 1.0},
}
#: Share of the aircraft on the ground (and moving).
GROUND_SHARE = 0.05


def _type_mix() -> dict[int, float]:
    rate = {t: 0.0 for t in range(1, 9)}
    for state, share in (("airborne", 1 - GROUND_SHARE), ("ground", GROUND_SHARE)):
        for t, hz in TYPE_RATE_HZ[state].items():
            rate[t] += share * hz
    total = sum(rate.values())
    return {t: r / total for t, r in rate.items()}


#: Share of each transmission type in the traffic (MSG 3 and 4 about 31 %
#: each, 8 about 16 %, 5 and 7 about 8 %, 1 about 3 %, 2 and 6 about 2 %).
TYPE_MIX = _type_mix()
PAYLOAD = (
    "callsign", "altitude", "ground_speed", "track", "lat", "lon",
    "vertical_rate", "squawk", "alert", "emergency", "spi", "is_on_ground",
)
N_AIRCRAFT = 2000
ZIPF_S = 1.1
MALFORMED_SHARE = 0.005
CRLF_SHARE = 0.02
#: Simulated clock of the warm-up lines: one line per 50 us.
SIMULATED_EPOCH_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
SIMULATED_STEP_MS = 0.05


def _aircraft(rng) -> tuple[list[str], list[str], np.ndarray]:
    hexes = rng.choice(1 << 24, N_AIRCRAFT, replace=False)
    idents = [f"{h:06X}" for h in hexes]
    callsigns = [
        "".join(chr(65 + c) for c in rng.integers(0, 26, 3)) + f"{n:04d}"
        for n in rng.integers(0, 10000, N_AIRCRAFT)
    ]
    weights = 1.0 / np.arange(1, N_AIRCRAFT + 1) ** ZIPF_S
    return idents, callsigns, weights / weights.sum()


class Traffic:
    """Line ``k`` of a seed's traffic, split around its four time fields.

    ``heads[k]`` is everything before ``generated_date`` (with the
    trailing comma), ``tails[k]`` everything after ``logged_time`` (with
    the leading comma and the line ending). A full line is
    ``heads[k] + stamp(ms) + tails[k]``. Numeric fields are drawn on
    fixed grids and rendered through lookup tables, so rendering costs a
    few microseconds per line."""

    def __init__(self, seed: int, n: int):
        rng = np.random.default_rng(seed)
        idents, callsigns, weights = _aircraft(rng)
        types = list(TYPE_MIX)
        msg = rng.choice(types, n, p=[TYPE_MIX[t] for t in types])
        ac = rng.choice(N_AIRCRAFT, n, p=weights)
        cols = {
            "callsign": [callsigns[a] for a in ac],
            "altitude": _table(450, lambda i: str(i * 100), rng, n),
            "ground_speed": _table(4400, lambda i: f"{80 + i / 10:.1f}", rng, n),
            "track": _table(3600, lambda i: f"{i / 10:.1f}", rng, n),
            "lat": _table(20_000, lambda i: f"{49 + i / 4000:.5f}", rng, n),
            "lon": _table(24_000, lambda i: f"{-3 + i / 4000:.5f}", rng, n),
            "vertical_rate": _table(81, lambda i: str((i - 40) * 64), rng, n),
            "squawk": _table(4096, lambda i: f"{i:04o}", rng, n),
        }
        for flag in ("alert", "emergency", "spi", "is_on_ground"):
            cols[flag] = _table(2, lambda i: str(-i), rng, n)
        bad = rng.random(n) < MALFORMED_SHARE
        cut = rng.integers(4, 21, n)
        crlf = rng.random(n) < CRLF_SHARE
        self.heads = [
            f"MSG,{m},1,{a + 1},{idents[a]},{a + 1}," for m, a in zip(msg.tolist(), ac.tolist())
        ]
        empty = [""] * n
        per_field = [
            [cols[f] if f in POPULATION[t] else empty for f in PAYLOAD] for t in TYPE_MIX
        ]
        tails = []
        for k, t in enumerate(msg.tolist()):
            fields = [c[k] for c in per_field[t - 1]]
            if bad[k]:
                # 6 head + 4 time fields + payload, cut short: arity < 22
                fields = fields[: max(0, int(cut[k]) - 10)]
            body = "," + ",".join(fields) if fields else ""
            tails.append(body + ("\r\n" if crlf[k] else "\n"))
        self.tails = tails


def _table(size: int, fmt, rng, n: int) -> list[str]:
    """``n`` draws from a grid of ``size`` values, rendered once each."""
    strings = [fmt(i) for i in range(size)]
    return [strings[i] for i in rng.integers(0, size, n).tolist()]


class _Stamps:
    """:func:`stamp` memoised on the last millisecond asked for."""

    def __init__(self):
        self.ms, self.text = None, ""

    def __call__(self, ms: float) -> str:
        ms = int(ms)
        if ms != self.ms:
            self.ms, self.text = ms, stamp(ms)
        return self.text


def stamp(ms: float) -> str:
    """``generated_date,generated_time,logged_date,logged_time`` for one
    UTC instant in epoch milliseconds (SBS-1 uses ``yyyy/MM/dd`` and
    ``HH:mm:ss.SSS``)."""
    t = datetime.fromtimestamp(int(ms) / 1000.0, tz=timezone.utc)
    d, c = t.strftime("%Y/%m/%d"), t.strftime("%H:%M:%S.") + f"{int(ms) % 1000:03d}"
    return f"{d},{c},{d},{c}"


def simulated_lines(traffic: Traffic, n: int) -> list[str]:
    """The first ``n`` lines of ``traffic`` stamped with the simulated
    clock (deterministic in the seed)."""
    st = _Stamps()
    return [
        h + st(SIMULATED_EPOCH_MS + k * SIMULATED_STEP_MS) + t
        for k, (h, t) in enumerate(zip(traffic.heads[:n], traffic.tails))
    ]


def _listen(n: int) -> list[socket.socket]:
    out = []
    for _ in range(n):
        s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        s.bind(("127.0.0.1", 0))
        s.listen(1)
        out.append(s)
    return out


class _Conn:
    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.pending = bytearray()
        self.sent = bytearray()
        self.lines = 0


def _flush(sel: selectors.BaseSelector, conns: list[_Conn], timeout: float) -> None:
    """Send what each connection's socket accepts within ``timeout``."""
    deadline = time.monotonic() + timeout
    while any(c.pending for c in conns):
        left = deadline - time.monotonic()
        if left <= 0:
            return
        for key, _ in sel.select(left):
            c = key.data
            if not c.pending:
                continue
            try:
                n = c.sock.send(c.pending[:1 << 20])
            except BlockingIOError:
                continue
            c.sent += c.pending[:n]
            del c.pending[:n]


def _write_atomic(path: str, text: str) -> None:
    with open(path + ".tmp", "w") as f:
        f.write(text)
    os.replace(path + ".tmp", path)


def _send_all(sel, conns: list[_Conn], timeline: list) -> None:
    while any(c.pending for c in conns):
        _flush(sel, conns, 0.05)
        timeline.append((time.time(), sum(_lines_in(c) for c in conns)))


def _wait_for(path: str) -> None:
    while not os.path.exists(path):
        time.sleep(0.005)


def serve(args) -> dict:
    """Serve one run's traffic: ``--warmup`` lines at once, then, once
    the system process writes ``OUT/go_steady`` (the warm-up is
    queryable), the open-loop schedule of ``--rate`` lines/s for
    ``--seconds`` s."""
    n_conn, warm = args.connections, args.warmup
    steady = int(args.rate * args.seconds)
    traffic, st = Traffic(args.seed, warm + steady), _Stamps()
    warm_lines = simulated_lines(traffic, warm)
    heads, tails = traffic.heads[warm:], traffic.tails[warm:]
    del traffic
    report: dict = {"seed": args.seed, "connections": n_conn,
                    "warmup": warm, "steady": steady, "rate": args.rate}
    listeners = _listen(n_conn)
    _write_atomic(
        os.path.join(args.out, "ports.json"),
        json.dumps([s.getsockname()[1] for s in listeners]),
    )
    conns = []
    for s in listeners:
        c, _ = s.accept()
        c.setblocking(False)
        conns.append(_Conn(c))
    report["t_connected"] = time.time()
    sel = selectors.DefaultSelector()
    for c in conns:
        sel.register(c.sock, selectors.EVENT_WRITE, c)

    timeline: list[tuple[float, int]] = []
    for i, c in enumerate(conns):
        part = warm_lines[i::n_conn]
        c.pending += "".join(part).encode()
        c.lines += len(part)
    _send_all(sel, conns, timeline)

    _wait_for(os.path.join(args.out, "go_steady"))
    t0 = time.time() + 0.01
    report["t_steady_first_due"] = t0
    late: list[float] = []
    k, tick = 0, 0.005
    while k < steady:
        now = time.time()
        due_upto = min(steady, int((now - t0) * args.rate) + 1) if now >= t0 else 0
        if due_upto > k:
            # how late the generator itself ran: the oldest due line of
            # this group against the time it was queued for sending
            late.append(now - (t0 + k / args.rate))
            for j in range(k, due_upto):
                c = conns[j % n_conn]
                c.pending += (heads[j] + st((t0 + j / args.rate) * 1000.0) + tails[j]).encode()
                c.lines += 1
            k = due_upto
            _flush(sel, conns, tick)
            timeline.append((time.time(), sum(_lines_in(c) for c in conns)))
        time.sleep(max(0.0, min(tick, t0 + k / args.rate - time.time())))
    _send_all(sel, conns, timeline)
    report["t_steady_last_byte"] = time.time()
    report["late_ms"] = sorted(x * 1000.0 for x in late)
    report["lines_sent"] = [c.lines for c in conns]
    report["timeline"] = timeline
    for i, c in enumerate(conns):
        with open(os.path.join(args.out, f"sent_{i}.txt"), "wb") as f:
            f.write(c.sent)
    _write_atomic(os.path.join(args.out, "report.json"), json.dumps(report))
    sys.stdin.read()  # hold the connections open until told to stop
    for c in conns:
        c.sock.close()
    for s in listeners:
        s.close()
    return report


def _lines_in(c: _Conn) -> int:
    # lines fully handed to the kernel so far
    return c.lines - c.pending.count(b"\n")


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--connections", type=int, default=4)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    serve(ap.parse_args())
