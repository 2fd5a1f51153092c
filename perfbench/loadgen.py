"""The load process of orion_roundtrip: a seeded open-loop notification
generator and the stub Orion broker, in one single-threaded asyncio loop.

Entities notify in a seeded phase order at one common period, in the
reference wire format (files/example1/curl_Notification.sh). Each entity's
temperature strictly decreases, so every windowed minimum the job writes
back names the notification that produced it. The generator holds
nproc - 1 keep-alive connections to the source, so the process uses no more
threads plus connections than nproc.

The JVM under test drives phases through the control port:
  POST /phase  {"name", "port", "rates": [notif/s...], "seconds"}
               sends the rungs back to back, waits until the broker holds
               every entity's last value, returns a summary.
  POST /finish writes every record to --out and exits.

Usage: python3 loadgen.py --seed N --entities 1000 --out FILE
       (prints "READY <broker_port> <control_port>" when listening)
"""
import argparse
import asyncio
import json
import os
import random
import time

DRAIN_TIMEOUT_S = 60.0


def body_for(entity, temperature, pressure):
    return json.dumps({
        "data": [{
            "id": entity, "type": "Node",
            "co": {"type": "Float", "value": 0, "metadata": {}},
            "co2": {"type": "Float", "value": 0, "metadata": {}},
            "humidity": {"type": "Float", "value": 40, "metadata": {}},
            "pressure": {"type": "Float", "value": pressure, "metadata": {}},
            "temperature": {"type": "Float", "value": temperature, "metadata": {}},
            "wind_speed": {"type": "Float", "value": 1.06, "metadata": {}},
        }],
        "subscriptionId": "57458eb60962ef754e7c0998",
    }, separators=(",", ":")).encode()


async def read_http(reader):
    """Reads one HTTP/1.1 message; returns (start line, headers, body)."""
    head = await reader.readuntil(b"\r\n\r\n")
    lines = head.decode("latin-1").split("\r\n")
    headers = {}
    for ln in lines[1:]:
        if ":" in ln:
            k, v = ln.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    n = int(headers.get("content-length", "0"))
    body = await reader.readexactly(n) if n else b""
    return lines[0], headers, body


class Load:
    def __init__(self, seed, entities, conns):
        self.rng = random.Random(seed)
        self.entities = [f"Room{i}" for i in range(entities)]
        self.order = list(self.entities)
        self.rng.shuffle(self.order)
        self.conns = conns
        self.count = {e: 0 for e in self.entities}     # notifications per entity
        self.last_sent = {}                            # entity -> last value sent
        self.broker_min = {}                           # entity -> lowest value received
        self.updates = {e: [] for e in self.entities}  # entity -> [(t, value)]
        self.notifs = []   # [phase, rung, seq, entity, value, due, start, end, status, pressure]
        self.sink_connections = []                    # accept times
        self.cursor = 0
        self.phases = {}
        self.done = asyncio.Event()

    # ---- stub broker -------------------------------------------------------
    async def broker(self, reader, writer):
        self.sink_connections.append(time.time())
        try:
            while True:
                try:
                    line, _, body = await read_http(reader)
                except (asyncio.IncompleteReadError, ConnectionError):
                    return
                t = time.time()
                path = line.split(" ")[1]
                # /v2/entities/<id>/attrs
                entity = path.split("/")[3]
                value = json.loads(body)["temperature_min"]["value"]
                self.updates.setdefault(entity, []).append((t, value))
                if value is not None and value < self.broker_min.get(entity, float("inf")):
                    self.broker_min[entity] = value
                writer.write(b"HTTP/1.1 204 No Content\r\nContent-Length: 0\r\n\r\n")
        finally:
            writer.close()

    # ---- generator ---------------------------------------------------------
    def temperature(self, entity):
        # exact in binary floating point, so the float the job computes
        # prints back as the same decimal
        self.count[entity] += 1
        return 53.0 - self.count[entity] / 64.0

    async def connect(self, port):
        deadline = time.time() + 60
        while True:
            try:
                return await asyncio.open_connection("127.0.0.1", port)
            except OSError:
                if time.time() > deadline:
                    raise
                await asyncio.sleep(0.05)

    async def sender(self, port, queue):
        reader, writer = await self.connect(port)
        try:
            while True:
                rec = await queue.get()
                if rec is None:
                    return
                entity, value = rec[3], rec[4]
                payload = body_for(entity, value, rec[9])
                rec[6] = time.time()
                try:
                    writer.write(
                        b"POST / HTTP/1.1\r\nHost: localhost\r\n"
                        b"Content-Type: application/json; charset=utf-8\r\n"
                        b"User-Agent: orion/0.10.0\r\nFiware-Service: demo\r\n"
                        b"Fiware-ServicePath: /test\r\n"
                        b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n" + payload)
                    line, _, _ = await read_http(reader)
                    rec[8] = int(line.split(" ")[1])
                except (OSError, asyncio.IncompleteReadError) as e:
                    rec[8] = f"transport: {e}"
                    writer.close()
                    reader, writer = await self.connect(port)
                rec[7] = time.time()
        finally:
            writer.close()

    async def drain(self, entities):
        """Waits until the broker holds the last value sent to each entity;
        returns (time it did, whether it did before the timeout)."""
        waited_from = time.time()
        while time.time() - waited_from < DRAIN_TIMEOUT_S:
            if all(self.broker_min.get(e, float("inf")) <= self.last_sent[e] for e in entities):
                return time.time(), True
            await asyncio.sleep(0.01)
        return time.time(), False

    async def phase(self, spec):
        """Sends the rungs back to back, each for "seconds" on its schedule,
        then drains: waits until the broker holds the last value sent to
        every entity the phase touched."""
        name, port, seconds = spec["name"], spec["port"], float(spec["seconds"])
        queue = asyncio.Queue()
        senders = [asyncio.create_task(self.sender(port, queue)) for _ in range(self.conns)]
        rungs, lag_max, touched = [], 0.0, set()
        start = time.time()
        for rate in spec["rates"]:
            rungs.append({"rate": rate, "start": start, "end": start + seconds})
            for k in range(int(round(rate * seconds))):
                due = start + k / rate
                delay = due - time.time()
                if delay > 0:
                    await asyncio.sleep(delay)
                lag_max = max(lag_max, time.time() - due)
                entity = self.order[self.cursor % len(self.order)]
                self.cursor += 1
                touched.add(entity)
                value = self.temperature(entity)
                self.last_sent[entity] = value
                rec = [name, rate, len(self.notifs), entity, value, due, None, None, None,
                       self.rng.randint(1, 3113)]
                self.notifs.append(rec)
                queue.put_nowait(rec)
            start += seconds
        for _ in senders:
            queue.put_nowait(None)
        await asyncio.gather(*senders)
        sent_end = time.time()
        drained_at, drained = await self.drain(touched)
        summary = {"name": name, "start": rungs[0]["start"], "sent_end": sent_end,
                   "drained_at": drained_at, "drained": drained, "rungs": rungs,
                   "lag_max_s": lag_max, "sent": sum(1 for r in self.notifs if r[0] == name)}
        self.phases[name] = summary
        return summary

    # ---- control -----------------------------------------------------------
    async def control(self, reader, writer):
        try:
            line, _, body = await read_http(reader)
            path = line.split(" ")[1]
            if path == "/phase":
                out = await self.phase(json.loads(body))
            else:
                out = {"ok": True}
                self.done.set()
            data = json.dumps(out).encode()
            writer.write(b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                         b"Connection: close\r\nContent-Length: "
                         + str(len(data)).encode() + b"\r\n\r\n" + data)
            await writer.drain()
        finally:
            writer.close()

    def record(self):
        return {"notifications": self.notifs, "updates": self.updates,
                "last_sent": self.last_sent, "phases": self.phases,
                "sink_connections": self.sink_connections}


async def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--entities", type=int, default=1000)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    load = Load(a.seed, a.entities, max(1, len(os.sched_getaffinity(0)) - 1))
    broker = await asyncio.start_server(load.broker, "127.0.0.1", 0, backlog=256)
    ctl = await asyncio.start_server(load.control, "127.0.0.1", 0)
    print("READY", broker.sockets[0].getsockname()[1], ctl.sockets[0].getsockname()[1],
          flush=True)
    await load.done.wait()
    broker.close()
    ctl.close()
    with open(a.out, "w") as f:
        json.dump(load.record(), f)


if __name__ == "__main__":
    asyncio.run(main())
