"""SBS-1 load generator: one process, one TCP listener per connection.

Serves deterministic dump1090 SBS-1 ("BaseStation") lines to the
engine's ``sbs1-jvm`` source, which connects to it as a client. The
whole backlog of ``--lines`` lines is built before the first connection
is accepted, split round-robin over :data:`CONNS` connections, and
written as fast as the reader takes it -- again to each new stream that
connects, so a caller can drain the same backlog more than once.

A probe listener serves the same :data:`PROBE_LINES` lines to every
connection it accepts, so a caller can start and stop short-lived
streams against it to time stream set-up.

Line ``i`` carries ``i`` as its ``aircraft_id``: the per-line sequence
id a checker uses for exactly-once accounting. About 0.5% of lines
have 21 or 23 fields (dead-letter input); :func:`is_bad` says which.

Protocol: the generator prints one JSON line ``{"ports": [...],
"probe_port": p}`` once it listens, sends, and after ``stop`` (or EOF)
on stdin closes everything and prints one JSON line of statistics.

    python3 perfbench/gen.py --lines 900000 --seed 1
"""

from __future__ import annotations

import argparse
import itertools
import json
import socket
import sys
import threading
import time

import numpy as np

CONNS = 2
PROBE_LINES = 2_000
#: MSG transmission types served and their shares. ASSUMED, not
#: measured: no capture of a real receiver's type mix is at hand.
MSG_TYPES = (1, 3, 4, 5, 8)
MSG_SHARES = (0.10, 0.45, 0.25, 0.15, 0.05)
#: Base instant of the generated timestamps (UTC).
BASE_S = 1_786_000_000.0
_CALLSIGNS = ("BAW", "DLH", "AFR", "KLM", "UAL", "RYR", "EZY", "SAS")


def is_bad(seed: int, i):
    """True for the sequence ids served with the wrong field count;
    ``i`` may be an int or a numpy array of them."""
    return (i * 2654435761 + seed * 97) % 200 == 7


def due(i: int) -> float:
    """Line ``i``'s generated timestamp."""
    return BASE_S + (i % 1000) / 1000


def conn_of(i: int) -> int:
    return i % CONNS


#: Distinct line bodies; line ``i`` uses body ``i % POOL`` with its own
#: sequence id, connection and timestamps.
POOL = 4096


class Lines:
    """The deterministic content of every line a seed serves."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = np.random.default_rng(seed)
        n_air = 400
        hexes = [f"{x:06X}" for x in rng.integers(0x400000, 0xC00000, n_air)]
        calls = [f"{_CALLSIGNS[i % 8]}{rng.integers(10, 9999)}" for i in range(n_air)]
        air = rng.integers(0, n_air, POOL).tolist()
        self.type = rng.choice(MSG_TYPES, POOL, p=MSG_SHARES).tolist()
        self.hex = [hexes[a] for a in air]
        self.flight = [a + 1 for a in air]
        self.callsign = [calls[a] for a in air]
        self.altitude = (rng.integers(0, 1600, POOL) * 25).tolist()
        self.ground_speed = np.round(rng.uniform(80, 520, POOL), 1).tolist()
        self.track = np.round(rng.uniform(0, 360, POOL), 1).tolist()
        self.lat = np.round(rng.uniform(40, 55, POOL), 5).tolist()
        self.lon = np.round(rng.uniform(-10, 15, POOL), 5).tolist()
        self.vertical_rate = (rng.integers(-40, 41, POOL) * 64.0).tolist()
        self.flag = (rng.integers(0, 2, POOL) * -1).tolist()
        self.extra = rng.integers(0, 2, POOL).tolist()
        self.mid = [f"{h},{fl}" for h, fl in zip(self.hex, self.flight)]
        tails = [
            ["" if v is None else str(v) for v in self._tail(j).values()]
            for j in range(POOL)
        ]
        self.tail = [",".join(t) for t in tails]
        self.tail_bad = [
            ",".join(t + ["0"] if self.extra[j] else t[:-1])
            for j, t in enumerate(tails)
        ]

    def _tail(self, j: int) -> dict:
        typ, flag = self.type[j], self.flag[j]
        return {
            "callsign": self.callsign[j] if typ == 1 else None,
            "altitude": self.altitude[j] if typ in (3, 5) else None,
            "ground_speed": self.ground_speed[j] if typ == 4 else None,
            "track": self.track[j] if typ == 4 else None,
            "lat": self.lat[j] if typ == 3 else None,
            "lon": self.lon[j] if typ == 3 else None,
            "vertical_rate": self.vertical_rate[j] if typ == 4 else None,
            "squawk": None,
            "alert": flag if typ in (3, 5) else None,
            "emergency": 0 if typ == 3 else None,
            "spi": 0 if typ in (3, 5) else None,
            "is_on_ground": flag if typ in (3, 5, 8) else None,
        }

    def line(self, i: int) -> str:
        j = i % POOL
        d, tm = stamp(due(i))
        tail = self.tail_bad[j] if is_bad(self.seed, i) else self.tail[j]
        return f"MSG,{self.type[j]},{conn_of(i) + 1},{i},{self.mid[j]},{d},{tm},{d},{tm},{tail}"

    def expected(self, i: int) -> dict:
        """The Silver columns a valid line ``i`` must parse to."""
        j = i % POOL
        d, tm = stamp(due(i))
        return {
            "message_type": "MSG",
            "transmission_type": self.type[j],
            "session_id": conn_of(i) + 1,
            "aircraft_id": i,
            "hex_ident": self.hex[j],
            "flight_id": self.flight[j],
            "generated_date": d,
            "generated_time": tm,
            "logged_date": d,
            "logged_time": tm,
            **self._tail(j),
        }

    def text(self, ids) -> bytes:
        return "".join([self.line(i) + "\n" for i in ids]).encode()


def stamp(t: float) -> tuple[str, str]:
    """(date, time) strings of an epoch instant at millisecond precision."""
    ms = int(round(t * 1000))
    tm = time.gmtime(ms // 1000)
    return (
        f"{tm.tm_year:04d}/{tm.tm_mon:02d}/{tm.tm_mday:02d}",
        f"{tm.tm_hour:02d}:{tm.tm_min:02d}:{tm.tm_sec:02d}.{ms % 1000:03d}",
    )


def _listener() -> socket.socket:
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(4)
    return srv


class Generator:
    """One sender thread per connection, one probe thread, and the main
    thread waiting for ``stop``: four threads in all."""

    def __init__(self, n_lines: int, seed: int):
        self.n_lines = n_lines
        lines = Lines(seed)
        self.servers = [_listener() for _ in range(CONNS)]
        self.probe = _listener()
        self.conns: list[socket.socket] = []
        self.lock = threading.Lock()
        self.stopping = threading.Event()
        #: per stream served, in order: first and last send, lines sent
        self.rounds: list[dict] = []
        self.probe_accepts = 0
        self.probe_payload = lines.text(range(min(PROBE_LINES, n_lines)))
        self.payloads = [lines.text(range(k, n_lines, CONNS)) for k in range(CONNS)]

    def _accept(self, srv: socket.socket) -> socket.socket:
        conn, _ = srv.accept()
        conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        with self.lock:
            self.conns.append(conn)
        return conn

    def serve(self, k: int) -> None:
        for r in itertools.count():
            conn = self._accept(self.servers[k])
            t = time.time()
            conn.sendall(self.payloads[k])
            end = time.time()
            with self.lock:
                if r == len(self.rounds):
                    self.rounds.append({"first_send": t, "last_send": end, "sent": 0})
                rd = self.rounds[r]
                rd["first_send"] = min(rd["first_send"], t)
                rd["last_send"] = max(rd["last_send"], end)
                rd["sent"] += len(range(k, self.n_lines, CONNS))

    def serve_probe(self) -> None:
        while not self.stopping.is_set():
            conn = self._accept(self.probe)
            conn.sendall(self.probe_payload)
            with self.lock:
                self.probe_accepts += 1

    def _guard(self, fn, *args) -> None:
        try:
            fn(*args)
        except OSError:
            if not self.stopping.is_set():
                raise

    def run(self) -> None:
        jobs = [(self.serve, k) for k in range(CONNS)] + [(self.serve_probe,)]
        threads = [
            threading.Thread(target=self._guard, args=job, daemon=True)
            for job in jobs
        ]
        for t in threads:
            t.start()
        print(
            json.dumps(
                {
                    "ports": [s.getsockname()[1] for s in self.servers],
                    "probe_port": self.probe.getsockname()[1],
                }
            ),
            flush=True,
        )
        for cmd in sys.stdin:
            if cmd.strip() == "stop":
                break
        self.stopping.set()
        with self.lock:
            socks = [*self.servers, self.probe, *self.conns]
        for s in socks:
            try:
                s.shutdown(socket.SHUT_RDWR)
            except OSError:
                pass
            s.close()
        for t in threads:
            t.join(timeout=10)
        print(
            json.dumps(
                {"rounds": self.rounds, "probe_accepts": self.probe_accepts}
            ),
            flush=True,
        )


def main() -> None:
    ap = argparse.ArgumentParser(description="SBS-1 load generator")
    ap.add_argument("--lines", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    Generator(a.lines, a.seed).run()


if __name__ == "__main__":
    main()
