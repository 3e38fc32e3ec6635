"""Open-loop UDP load generator, run as its own process.

    python3 perfbench/udpgen.py --seed 1 --ports 5001,5002 --pps 399 --seconds 8

Builds the seeded live feed, prints "READY <t0>" (epoch seconds of the
first datagram's due time), then sends 7-packet datagrams on a fixed
due-time schedule (datagram k is due at t0 + k * 7 / pps) to every port.
A late send does not shift the schedule. The last stdout line is a JSON
report: datagrams sent and how late the sends ran.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tsgen  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ports", required=True)
    ap.add_argument("--pps", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    interval = tsgen.DGRAM_PKTS / args.pps
    n = int(args.seconds / interval)
    buf = tsgen.live_feed(args.seed, n).packets.tobytes()
    ports = [int(p) for p in args.ports.split(",")]
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    late = []
    t0 = time.time() + 0.2
    print(f"READY {t0!r}", flush=True)
    for k in range(n):
        due = t0 + k * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        dgram = buf[k * tsgen.DGRAM : (k + 1) * tsgen.DGRAM]
        late.append(time.time() - due)
        for port in ports:
            sock.sendto(dgram, ("127.0.0.1", port))
    sock.close()
    late.sort()
    print(
        json.dumps(
            {
                "t0": t0,
                "interval_s": interval,
                "sent": n,
                "late_p99_ms": 1000 * late[int(0.99 * (len(late) - 1))],
                "late_max_ms": 1000 * late[-1],
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
