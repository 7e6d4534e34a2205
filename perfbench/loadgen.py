"""Open-loop agent load generator for the ingest_push workload.

Simulates `HOSTS` agents. Each agent POSTs one Batch envelope every
`PERIOD_S` seconds (the reference agent's flush ticker), with the agents'
phases staggered across the period. Envelopes carry procfs-shaped metrics
and journald-shaped logs stamped with the envelope's creation time.

The schedule is fixed before the first send: a POST is due at its slot
whether or not earlier POSTs have returned, so a server stall is charged
to every POST queued behind it. At most `--threads` sender threads, each
with one keep-alive connection, do the sending.

Writes one record per envelope to `--out` as JSON.
"""
import argparse
import http.client
import json
import queue
import random
import threading
import time
import urllib.parse

CPU_KEYS = ["user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"]
DISK_KEYS = ["reads", "writes", "read_bytes", "write_bytes", "io_ms"]
NET_KEYS = ["net.rx.bytes", "net.rx.packets", "net.tx.bytes", "net.tx.packets"]
MEM_KEYS = ["memory.total", "memory.used", "memory.cached", "memory.free",
            "memory.available"]
SERVICES = ["sshd", "systemd", "cron", "kernel", "nginx", "dockerd"]
LEVELS = ["info", "info", "info", "warning", "error", "debug"]

# simulated agents, and their flush period (s); fixed for the benchmark
HOSTS = 15
PERIOD_S = 5.0


def rfc3339(us):
    secs, frac = divmod(us, 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{frac:06d}Z"


def envelope(rng, host, seq, t_us, cpus=4):
    """One agent flush: (body, metric rows, log rows)."""
    t = rfc3339(t_us)
    m = []

    def metric(kind, name, v, tags):
        m.append({"t": t, "m": kind, "h": host, "n": name, "v": v, "g": tags})

    for c in range(cpus):
        for k in CPU_KEYS:
            metric("counter", f"cpu.{k}", float(rng.randrange(1, 10**7)), {"cpu": str(c)})
    for k in ("1", "5", "15"):
        metric("gauge", f"load.{k}", round(rng.random() * 4, 2), {})
    for dev in ("sda", "nvme0n1"):
        for k in DISK_KEYS:
            metric("counter", f"disk.{k}", float(rng.randrange(1, 10**9)), {"device": dev})
    for iface in ("eth0", "lo"):
        for k in NET_KEYS:
            metric("counter", k, float(rng.randrange(1, 10**9)), {"interface": iface})
    for k in MEM_KEYS:
        metric("gauge", k, float(rng.randrange(1, 16 * 2**30)), {})
    logs = []
    for i in range(rng.randrange(2, 11)):
        svc = rng.choice(SERVICES)
        logs.append({"t": t, "h": host, "s": svc, "l": rng.choice(LEVELS),
                     "d": f"{svc}[{rng.randrange(100, 5000)}]: message {seq}-{i}",
                     "g": {"_PID": str(rng.randrange(100, 5000))}})
    return json.dumps({"m": m, "l": logs}), len(m), len(logs)


def schedule(hosts, seconds, period, seed):
    """(due offset s, host index, seq) for every POST in the window, with
    each host's phase drawn once from the seed."""
    rng = random.Random(seed)
    slots = []
    for h in range(hosts):
        phase = period * (h + rng.random()) / hosts
        k = 0
        while phase + k * period < seconds:
            slots.append((phase + k * period, h, k))
            k += 1
    slots.sort()
    return slots


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--url", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    u = urllib.parse.urlparse(a.url)
    slots = schedule(HOSTS, a.seconds, PERIOD_S, a.seed)
    work = queue.Queue()
    records = []
    lock = threading.Lock()

    def sender():
        conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
        while True:
            item = work.get()
            if item is None:
                break
            due, h, k = item
            rng = random.Random(a.seed * 1_000_003 + h * 7919 + k)
            start = time.time()
            t_us = time.time_ns() // 1000
            body, nm, nl = envelope(rng, f"agent-{h:04d}", k, t_us)
            try:
                conn.request("POST", u.path, body, {"Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                status = -1
                conn.close()
                conn = http.client.HTTPConnection(u.hostname, u.port, timeout=30)
            end = time.time()
            with lock:
                records.append({"host": f"agent-{h:04d}", "seq": k, "t_us": t_us,
                                "due": due, "start": start, "end": end,
                                "status": status, "metrics": nm, "logs": nl})
        conn.close()

    threads = [threading.Thread(target=sender, daemon=True) for _ in range(a.threads)]
    for t in threads:
        t.start()
    t0 = time.time() + 0.1
    for off, h, k in slots:
        wait = t0 + off - time.time()
        if wait > 0:
            time.sleep(wait)
        work.put((t0 + off, h, k))
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    with open(a.out, "w") as f:
        json.dump({"t0": t0, "hosts": HOSTS, "period": PERIOD_S,
                   "seconds": a.seconds, "records": records}, f)


if __name__ == "__main__":
    main()
