"""Seeded input generators for the sparklog benchmark.

Pure Python and PyArrow: nothing here imports Spark or the engine, so the
engine only ever sees the files these functions write. The same seed
always gives the same files.

Three generators:

* ``MaillogModel`` — a Postfix maillog. Traffic dimensions, fixed per seed
  and recorded in ``stats``: the line-type mix (smtpd / cleanup / qmgr /
  smtp / noise), ~3% malformed lines (admission filter), ~10% exact
  replays of recent lines (dedup), queueid lifecycles whose deferred
  retries land minutes of log time later (cross-batch last-writer-wins
  merges) and Zipf-reused clients. It also predicts the row count of
  each of the four tables.
* ``write_documents`` — a ``documents`` table shaped like the engine's
  test corpus (31-word vocabulary, five languages, twenty sources,
  planted near-duplicates and exact duplicates).
* ``write_events`` — an ``events`` table, the input the ``ml_*`` queries
  synthesize their maillog from.

Run as a script, this module is the live-tail generator: a separate,
single-threaded process that appends the maillog to one file in waves
on a fixed schedule (open loop) and stamps each wave's due time::

    python3 gen.py tail --seed 1 --out grow.log --stamps stamps.json --stop stop.flag

It appends TAIL_RATE lines per second in waves every TAIL_WAVE_MS.
"""

from __future__ import annotations

import argparse
import bisect
import heapq
import json
import os
import random
import time

YEAR = 2024
_MONTH = "Mar"
_HOSTS = ["mx01", "mx02", "mx03"]
_STATUSES = [
    ("sent", "2.0.0", "250 2.0.0 Ok: queued as {q}"),
    ("deferred", "4.4.1", "connect to {r}[{ip}]:25: Connection timed out"),
    ("bounced", "5.1.1", "host {r}[{ip}] said: 550 5.1.1 user unknown"),
]
LINE_TYPES = ["smtpd", "cleanup", "qmgr", "smtp", "noise", "malformed", "replay"]


def _zipf_cdf(n: int, s: float) -> list[float]:
    w = [1.0 / (k + 1) ** s for k in range(n)]
    tot = sum(w)
    acc, out = 0.0, []
    for x in w:
        acc += x
        out.append(acc / tot)
    return out


class MaillogModel:
    """Deterministic line stream. ``next_line()`` returns one line; the
    model's log clock advances ~1/20 s per line, so 1M lines span about
    14 hours of one March day plus the next (all two-digit days, so
    every header passes the strict admission filter)."""

    MALFORMED = 0.03
    REPLAY = 0.10
    N_CLIENTS = 3000

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.t = 9 * 86400.0  # seconds since Mar 1 00:00:00
        self.events: list = []  # heap of (due, tiebreak, kind, payload)
        self.tick = 0
        self.recent: list[str] = []
        self.clients = [self._client(i) for i in range(self.N_CLIENTS)]
        self.cdf = _zipf_cdf(self.N_CLIENTS, 1.1)
        self.pids = {(h, p): self.rng.randrange(1000, 60000)
                     for h in _HOSTS for p in ("smtpd", "cleanup", "qmgr", "smtp")}
        self.stats = {k: 0 for k in LINE_TYPES}
        self._log_keys: set = set()
        self._delivery_keys: set = set()
        self._queueids: set = set()
        self._client_keys: set = set()

    # --- vocabulary ------------------------------------------------------

    def _client(self, i: int) -> str:
        a, b = divmod(i, 250)
        if i % 17 == 0:
            return f"unknown[198.18.{a}.{b + 1}]"
        return f"mail{i}.sender{i % 211}.example.org[203.0.{a}.{b + 1}]"

    def _ts(self, t: float) -> str:
        s = int(t)
        d, s = divmod(s, 86400)
        h, s = divmod(s, 3600)
        m, s = divmod(s, 60)
        return f"{_MONTH} {d + 1:02d} {h:02d}:{m:02d}:{s:02d}"

    def _queueid(self) -> str:
        return f"{self.rng.getrandbits(40):010X}"

    def _line(self, t: float, host: str, proc: str, msg: str) -> str:
        pid = self.pids[(host, proc)]
        return f"{self._ts(t)} {host} postfix/{proc}[{pid}]: {msg}"

    def _push(self, due: float, kind: str, payload) -> None:
        self.tick += 1
        heapq.heappush(self.events, (due, self.tick, kind, payload))

    # --- message lifecycle ------------------------------------------------

    def _start_message(self) -> tuple[str, str]:
        r = self.rng
        q = self._queueid()
        host = r.choice(_HOSTS)
        client = self.clients[bisect.bisect_left(self.cdf, r.random())]
        nrcpt = 1 + (r.random() < 0.3) + (r.random() < 0.1)
        m = {"q": q, "host": host, "nrcpt": nrcpt, "client": client}
        self._push(self.t + r.uniform(0.0, 1.0), "cleanup", m)
        self._push(self.t + r.uniform(1.0, 2.0), "qmgr", m)
        for k in range(nrcpt):
            self._push(self.t + r.uniform(2.0, 20.0), "smtp", (m, k, 0))
        return "smtpd", self._line(self.t, host, "smtpd", f"{q}: client={client}")

    def _event_line(self, kind: str, payload) -> tuple[str, str]:
        r = self.rng
        if kind == "cleanup":
            m = payload
            msg = f"{m['q']}: message-id=<{r.getrandbits(48):x}.{m['q']}@example.org>"
            return "cleanup", self._line(self.t, m["host"], "cleanup", msg)
        if kind == "qmgr":
            m = payload
            msg = (f"{m['q']}: from=<user{r.randrange(5000)}@example.org>, "
                   f"size={r.randrange(800, 90000)}, nrcpt={m['nrcpt']} (queue active)")
            return "qmgr", self._line(self.t, m["host"], "qmgr", msg)
        m, k, attempt = payload
        relay = f"mx{k}.rcpt{r.randrange(400)}.example.net"
        ip = f"192.0.2.{r.randrange(1, 255)}"
        u = r.random()
        st = 0 if u < 0.75 or attempt >= 2 else (1 if u < 0.93 else 2)
        status, dsn, ext = _STATUSES[st]
        delay = r.uniform(0.1, 30.0)
        delays = "/".join(f"{r.uniform(0, 3):.2f}" for _ in range(4))
        msg = (f"{m['q']}: to=<rcpt{r.randrange(20000)}@example.com>, relay={relay}[{ip}]:25, "
               f"delay={delay:.1f}, delays={delays}, dsn={dsn}, status={status} "
               f"({ext.format(q=self._queueid(), r=relay, ip=ip)})")
        if status == "deferred":
            # the retry lands minutes of log time later: many waves and
            # micro-batches after the message's first lines
            self._push(self.t + r.uniform(60.0, 600.0), "smtp", (m, k, attempt + 1))
        return "smtp", self._line(self.t, m["host"], "smtp", msg)

    def _noise(self) -> tuple[str, str]:
        r = self.rng
        client = self.clients[bisect.bisect_left(self.cdf, r.random())]
        host = r.choice(_HOSTS)
        pick = r.random()
        if pick < 0.45:
            msg = f"connect from {client}"
        elif pick < 0.9:
            msg = f"disconnect from {client} ehlo=1 mail=1 rcpt=1 data=1 quit=1 commands=5"
        else:
            msg = f"warning: hostname {client.split('[')[0]} does not resolve to address {r.randrange(256)}.0.0.1"
        return "noise", self._line(self.t, host, "smtpd", msg)

    def _malformed(self) -> str:
        r = self.rng
        pick = r.random()
        if pick < 0.4:
            return f"{_MONTH}  {r.randrange(1, 10)} 00:00:0{r.randrange(10)} mx01 postfix/smtpd[1]: padded day"
        if pick < 0.7:
            return f"-- MARK -- {r.getrandbits(32):08x}"
        return f"{self._ts(self.t)} mx0{r.randrange(1, 4)} truncated line {r.getrandbits(24)}"

    # --- stream -----------------------------------------------------------

    def next_line(self) -> str:
        r = self.rng
        self.t += r.expovariate(20.0)
        u = r.random()
        if u < self.MALFORMED:
            kind, line = "malformed", self._malformed()
        elif u < self.MALFORMED + self.REPLAY and self.recent:
            kind, line = "replay", self.recent[r.randrange(len(self.recent))]
        elif self.events and self.events[0][0] <= self.t:
            _, _, k, payload = heapq.heappop(self.events)
            kind, line = self._event_line(k, payload)
        elif r.random() < 0.7:
            kind, line = self._start_message()
        else:
            kind, line = self._noise()
        self.stats[kind] += 1
        if kind not in ("malformed", "replay"):
            self._account(kind, line)
            self.recent.append(line)
            if len(self.recent) > 4000:
                del self.recent[:2000]
        return line

    def _account(self, kind: str, line: str) -> None:
        """Predicted table rows: logs = distinct admitted lines;
        deliveries = distinct (timestamp, smtp message) — host and pid are
        not delivery payload; messages = distinct queueids; clients =
        distinct client strings (``rdns[ip]``, nothing after ``]``)."""
        self._log_keys.add(line)
        ts, rest = line[:15], line.split(": ", 1)[1]
        if kind == "smtp":
            self._delivery_keys.add((ts, rest))
        if kind in ("smtpd", "cleanup", "qmgr"):
            self._queueids.add(rest.split(":", 1)[0])
        if kind == "smtpd":
            self._client_keys.add(rest.split("client=", 1)[1])

    def lines(self, n: int) -> list[str]:
        return [self.next_line() for _ in range(n)]

    def predicted_rows(self) -> dict[str, int]:
        return {
            "logs": len(self._log_keys),
            "clients": len(self._client_keys),
            "messages": len(self._queueids),
            "deliveries": len(self._delivery_keys),
        }

    def summary(self) -> dict:
        return {"line_types": dict(self.stats), "predicted_rows": self.predicted_rows()}


# --- documents / events tables -------------------------------------------

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"] * 1 + ["en"]


def documents_rows(seed: int, n_docs: int, first_id: int = 0) -> list[dict]:
    """Rows of a seeded ``documents`` table: ~5% near-duplicates (one
    word changed, or ' dup' appended) and ~0.2% exact duplicates of an
    earlier document's text."""
    r = random.Random(seed)
    rows: list[dict] = []
    for i in range(n_docs):
        u = r.random()
        if rows and u < 0.002:
            text = rows[r.randrange(len(rows))]["text"]
        elif rows and u < 0.05:
            words = rows[r.randrange(len(rows))]["text"].split()
            if r.random() < 0.5:
                words[r.randrange(len(words))] = r.choice(VOCAB)
            else:
                words.append("dup")
            text = " ".join(words)
        else:
            text = " ".join(r.choice(VOCAB) for _ in range(r.randrange(8, 80)))
        doc_id = first_id + i
        rows.append({"doc_id": doc_id, "text": text, "lang": r.choice(LANGS),
                     "source": f"src{doc_id % 20}", "n_chars": len(text)})
    return rows


def write_documents(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def write_events(path: str, seed: int, n_events: int) -> None:
    """Seeded ``events`` table: ids in time order over 30 days of
    January 2024, ~1 user per 66 events, five event types."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    r = random.Random(seed)
    n_users = max(n_events // 66, 10)
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 1_000_000
    offs = sorted(r.randrange(span_us) for _ in range(n_events))
    types = ["signup", "purchase", "view", "click", "error"]
    tbl = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=o) for o in offs],
                       pa.timestamp("us")),
        "user_id": pa.array([r.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": pa.array([r.choice(types) for _ in range(n_events)], pa.string()),
        "value": pa.array([round(r.expovariate(0.02), 2) for _ in range(n_events)],
                          pa.float64()),
        "props": pa.array([json.dumps({"k": r.randrange(100)}) for _ in range(n_events)],
                          pa.string()),
    })
    pq.write_table(tbl, path)


# --- live-tail generator process -------------------------------------------

TAIL_RATE = 500     # lines per second, open loop
TAIL_WAVE_MS = 100  # one append every 100 ms


def _tail(args: argparse.Namespace) -> None:
    """Append waves of ``TAIL_RATE * TAIL_WAVE_MS / 1000`` lines to
    ``out`` on a fixed schedule until the ``stop`` file appears (or the
    parent exits). Each wave is one ``write`` of complete lines; its due
    time, write time and end byte offset are recorded. The stamps file is
    written once, at exit, with the model summary (predicted rows cover
    every wave)."""
    model = MaillogModel(args.seed)
    per_wave = round(TAIL_RATE * TAIL_WAVE_MS / 1000)
    period = TAIL_WAVE_MS / 1000.0
    waves = []
    parent = os.getppid()
    with open(args.out, "w") as f:
        start = time.time() + period
        k = 0
        # a benchmark that died without creating the stop file must not
        # leave the generator appending forever
        while not os.path.exists(args.stop) and os.getppid() == parent:
            due = start + k * period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            chunk = "\n".join(model.lines(per_wave)) + "\n"
            f.write(chunk)
            f.flush()
            waves.append((due, time.time(), f.tell()))
            k += 1
    out = {"lines_per_wave": per_wave, "waves": waves,
           **model.summary()}
    tmp = args.stamps + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.stamps)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("tail", help="append a live maillog in timed waves")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--stamps", required=True)
    t.add_argument("--stop", required=True)
    args = p.parse_args()
    _tail(args)


if __name__ == "__main__":
    main()
