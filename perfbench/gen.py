#!/usr/bin/env python3
"""Open-loop tweet generator for the tweet-ingest workload.

A separate single-process client: one persistent HTTP connection POSTs
seeded tweets to HttpIngest's /tweets on a doubling rate ladder. Each event
has a due time fixed in advance; the generator sends it at its due time or,
if it is running late, at once, and records how late it was. A slow server
never delays the schedule, only the generator's lateness. With one
connection the order of acknowledgements is the order the server accepted
the tweets in, which is what the event -> micro-batch mapping needs.
Every rung runs; whether a rung kept up is judged afterwards, from the
complete list of micro-batches (run.py).

    gen.py --port P --seed S --rates 10,20,40 --rung-s 8 --out DIR
writes DIR/accepted.json (accepted bodies, acceptance order),
DIR/gen.json (per-event due/sent/ack/status/rung) and, last, DIR/gen.done
(the number of accepted tweets).
"""
import argparse
import http.client
import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402

WORDS = ("fast merge big value slow dup small scan flood rain river road "
         "boulder creek water help news update city park school bridge "
         "closed open storm cloud sun night morning team").split()
EPOCH_2024 = 1704067200


def tweet(rng, i):
    """Tweet number i (unique created_at); all other fields from rng."""
    ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(EPOCH_2024 + i))
    tags = " ".join(f"#tag{rng.randrange(20)}" for _ in range(rng.randrange(3)))
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12)))
    user = rng.randrange(64)
    body = {"created_at": ts, "text": f"{words} {tags} id{i}".replace("  ", " "),
            "user": {"id": user, "name": f"user{user}"}}
    if rng.random() < 0.8:
        body["geo"] = {"lat": round(rng.uniform(-60, 60), 4),
                       "lon": round(rng.uniform(-180, 180), 4)}
    return json.dumps(body, separators=(",", ":"))


class Client:
    def __init__(self, port):
        self.port = port
        self.conn = None

    def post(self, body):
        """HTTP status, or 0 when the connection failed. Never retried: the
        server may have accepted a POST whose reply was lost, and a resend
        would put the tweet in the index twice."""
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            self.conn.request("POST", "/tweets", body, {"Content-Type": "application/json"})
            r = self.conn.getresponse()
            r.read()
            return r.status
        except (OSError, http.client.HTTPException):
            if self.conn is not None:
                self.conn.close()
            self.conn = None
            return 0


def drive(plan, send, now=time.time, sleep=time.sleep):
    """Open loop: event i leaves at its due time plan[i], or at once when
    the generator is already late; a slow send() delays later sends but
    never moves a due time. Returns the per-event log."""
    log = {"rung": [], "due": [], "sent": [], "ack": [], "status": []}
    for i, (rung, due) in enumerate(plan):
        wait = due - now()
        if wait > 0:
            sleep(wait)
        sent = now()
        status = send(i)
        for k, v in (("rung", rung), ("due", due), ("sent", sent), ("ack", now()),
                     ("status", status)):
            log[k].append(v)
    return log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rates", required=True)
    ap.add_argument("--rung-s", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    rates = [float(r) for r in a.rates.split(",")]
    rng = random.Random(a.seed)
    client = Client(a.port)
    t0 = time.time() + 0.2
    accepted = []

    def send(i):
        body = tweet(rng, i)
        status = client.post(body)
        if status == 200:
            accepted.append(body)
        return status

    log = drive(metrics.schedule(rates, a.rung_s, t0), send)
    log.update(rates=rates, rung_s=a.rung_s, t0=t0)
    with open(os.path.join(a.out, "accepted.json"), "w") as fh:
        fh.writelines(b + "\n" for b in accepted)
    with open(os.path.join(a.out, "gen.json"), "w") as fh:
        json.dump(log, fh)
    done = os.path.join(a.out, "gen.done")
    with open(done + ".tmp", "w") as fh:
        fh.write(str(len(accepted)))
    os.replace(done + ".tmp", done)


if __name__ == "__main__":
    main()
