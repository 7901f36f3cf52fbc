"""Seeded input generator for the venus benchmark.

Everything the system receives is built here from the seed: LogRecord
envelope lines for the ingest path, the context/span tables and the query
mix for the read path, and the operator shelf's inputs: a fixed slice of
the sf0.1 test data's documents and customer names, sent in seeded order.
Every function is pure in its arguments, so the checks rebuild the same
records to compute the expected answers.

Command line (one process, at most nproc threads and connections):

    python3 bench/gen.py plan --workload log_queries --seed 7 --out DIR
    python3 bench/gen.py send --stream STREAM.json --port PORT

`plan` writes the workload's tables, query mix and expected answers into
DIR. `send` pushes one stream (a burst, a set-up load or a paced live
tail) to a PushSocketSource port. It prints a JSON line per wave sent,
reads a line from stdin before the next wave, and ends with a summary:
what it sent, how late it ran, and the answers the checks expect.
"""

import argparse
import bisect
import gzip
import json
import math
import os
import random
import socket
import sys
import threading
import time

# 2026-01-01T00:00:00Z: stored corpora live on fixed past dates, so they
# never share a date partition with a live tail written "now".
CORPUS_EPOCH_S = 1767225600
DAY_S = 86400

# Keys IngestTransform pops from the payload: the promoted columns plus
# IngestConfig.DefaultDropFields.
PROMOTED = ("created", "message", "correlation_id")
DROPPED = ("stack_info", "funcName", "created", "msecs", "module",
           "thread", "threadName", "processName")
POPPED = frozenset(PROMOTED + DROPPED)

SERVICES = ("auth", "billing", "search", "gateway", "ledger", "mailer",
            "profile", "reports")
LEVELS = (("INFO", 20, 0.70), ("WARNING", 30, 0.15), ("ERROR", 40, 0.10),
          ("DEBUG", 10, 0.05))
STATUSES = (("ok", 0.75), ("retry", 0.15), ("failed", 0.10))
VERBS = ("handled", "queued", "flushed", "rejected", "forwarded", "parsed",
         "loaded", "scheduled", "dropped", "committed")
OBJECTS = ("request", "batch", "session", "invoice", "token", "page",
           "report", "message", "upload", "query")
# Search vocabulary with fixed hit rates: each term joins a message with
# its probability, so the share of messages an ILIKE finds is known.
SEARCH_TERMS = (("timeout", 0.08), ("refused", 0.05), ("deadlock", 0.02),
                ("OOMKilled", 0.01), ("checksum", 0.03))
MALFORMED_FRAC = 0.015
NO_CREATED_FRAC = 0.01
DETAIL_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "
# payload detail text is cut from one fixed random pool
DETAIL_POOL = "".join(random.Random(7).choice(DETAIL_ALPHABET) for _ in range(1 << 16))

# Corpus shelf: the first half by key of the sf0.1 test data's `documents`
# (doc_id, text, lang, source; doc_id < 2500) and `customer` names. A
# customer's c_name in that data is "Customer#" and its key in nine digits,
# so the names are built here rather than stored.
DOC_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        "sf0.1-documents-0-2499.jsonl.gz")

def rng_for(seed, *names):
    return random.Random("|".join([str(seed)] + [str(n) for n in names]))


def weighted(rng, pairs):
    x = rng.random()
    acc = 0.0
    for item, w in pairs:
        acc += w
        if x < acc:
            return item
    return pairs[-1][0]


class Zipf:
    """Zipf(s) over ranks 0..n-1 by inverse CDF lookup."""

    def __init__(self, n, s):
        acc = 0.0
        self.cdf = []
        for k in range(1, n + 1):
            acc += 1.0 / k ** s
            self.cdf.append(acc)
        self.total = acc

    def draw(self, rng):
        return bisect.bisect_left(self.cdf, rng.random() * self.total)


def corr_ids(seed, n):
    rng = rng_for(seed, "ids")
    return ["%08x-%04x-%04x-%04x-%012x" % (
        rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(16),
        rng.getrandbits(16), rng.getrandbits(48)) for _ in range(n)]


def message_text(rng, seq):
    words = [rng.choice(VERBS), rng.choice(OBJECTS)]
    for term, p in SEARCH_TERMS:
        if rng.random() < p:
            words.append(term)
    rng.shuffle(words)
    return " ".join(words) + " #%d" % seq


def log_record(rng, seq, created_us, cid, due_ms):
    """One LogRecord envelope (Python logging's 22 attributes plus the
    producer's promoted fields) with a varied-width payload.

    Returns (record dict, kind) where kind is "ok", "malformed_json" or
    "missing_created"; a malformed record is encoded as a cut line.
    """
    level, levelno = "INFO", 20
    x = rng.random()
    acc = 0.0
    for name, no, p in LEVELS:
        acc += p
        if x < acc:
            level, levelno = name, no
            break
    service = rng.choice(SERVICES)
    created = created_us / 1e6
    rec = {
        "name": "venus.%s" % service,
        "msg": "%s event",
        "args": [service],
        "levelname": level,
        "levelno": levelno,
        "pathname": "/srv/%s/app/handlers.py" % service,
        "filename": "handlers.py",
        "module": "handlers",
        "exc_text": None,
        "stack_info": None,
        "lineno": rng.randint(10, 900),
        "funcName": "handle_%s" % rng.choice(OBJECTS),
        "created": created,
        "msecs": float(created_us // 1000 % 1000),
        "relativeCreated": float(rng.randint(1, 10 ** 7)),
        "thread": rng.randint(10 ** 6, 10 ** 7),
        "threadName": "worker-%d" % rng.randint(0, 15),
        "processName": "MainProcess",
        "process": rng.randint(100, 60000),
        "correlation_id": cid.upper() if rng.random() < 0.1 else cid,
        "random_timing_data": round(rng.random() * 10, 6),
        "message": message_text(rng, seq),
        "created_iso": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(created)),
        "seq": seq,
        "due_ms": due_ms,
        "service": service,
        "status": weighted(rng, STATUSES),
    }
    if rng.random() < 0.5:
        rec["user"] = "u%03d" % rng.randint(0, 199)
    if service in ("gateway", "search") and rng.random() < 0.8:
        rec["http_path"] = "/api/%s/%d" % (rng.choice(OBJECTS), rng.randint(1, 50))
    # payload widths vary over two orders of magnitude
    width = int(min(2000, rng.lognormvariate(3.5, 1.2)))
    at = rng.randrange(len(DETAIL_POOL) - width)
    rec["detail"] = DETAIL_POOL[at:at + width]
    x = rng.random()
    if x < MALFORMED_FRAC:
        return rec, "malformed_json"
    if x < MALFORMED_FRAC + NO_CREATED_FRAC:
        del rec["created"]
        return rec, "missing_created"
    return rec, "ok"


def encode(rec, kind):
    line = json.dumps(rec, separators=(",", ":"))
    if kind == "malformed_json":
        # any proper prefix of a JSON object is not a JSON document
        line = line[: max(2, len(line) // 3)]
    return line


# ---------------------------------------------------------------- streams

def log_stream(seed, stream, n, first_seq, start_ms, span_ms, ids, zipf,
               in_time_order=True):
    """n records with `created` spread over [start_ms, start_ms + span_ms).

    Created times are distinct and never on a whole second, so hour and
    minute boundaries of range queries never meet a record.
    """
    rng = rng_for(seed, stream)
    step = max(1, span_ms // n)
    out = []
    for i in range(n):
        off = i * step + 1 + rng.randrange(max(1, step - 1))
        if off % 1000 == 0:
            off += 1
        cid = ids[zipf.draw(rng)]
        rec, kind = log_record(rng, first_seq + i, (start_ms + off) * 1000, cid, 0)
        out.append((rec, kind))
    if not in_time_order:
        rng.shuffle(out)
    return out


def burst_base(seed, n, n_ids):
    """The records every burst of a run sends, with sequence numbers 0..n-1:
    created over three days, so each micro-batch writes several dates.
    Burst b sends them with b*n added to every sequence number."""
    ids = corr_ids(seed, n_ids)
    out = log_stream(seed, "burst", n, 0, CORPUS_EPOCH_S * 1000,
                     3 * DAY_S * 1000, ids, Zipf(n_ids, 1.1), in_time_order=False)
    for i, (r, _) in enumerate(out):
        r["seq"] = i
    return out


def rebase(line, i, offset):
    """Line i of the burst base with `offset` added to its sequence number
    (a cut line may have lost it)."""
    return line.replace('"seq":%d,' % i, '"seq":%d,' % (i + offset), 1)


def live_records(seed, t0_ms, rate, count, first_seq, ids):
    """The paced live tail: record i is due at t0 + i/rate and was
    created half a millisecond later, so event times are distinct and never
    on a whole millisecond."""
    rng = rng_for(seed, "live")
    zipf = Zipf(len(ids), 1.1)
    out = []
    for i in range(count):
        due = t0_ms + int(i * 1000 / rate)
        rec, kind = log_record(rng, first_seq + i, due * 1000 + 500, ids[zipf.draw(rng)], due)
        out.append((rec, kind))
    return out


def live_stream(desc, t0_ms):
    """The records of a live tail: `count` paced records, then FLUSH_SIZE
    more sent at once when the pacing ends, so that the last paced records
    leave in a full micro-batch instead of waiting out the flush gate's age
    bound. Visibility is measured on the paced records only."""
    ids = corr_ids(desc["seed"], desc["ids"])
    return live_records(desc["seed"], t0_ms, desc["rate"], desc["count"] + FLUSH_SIZE,
                        desc["first_seq"], ids)


def log_corpus(seed, n, days, n_ids):
    """A multi-day corpus in time order, as a production tail writes it."""
    ids = corr_ids(seed, n_ids)
    return log_stream(seed, "corpus", n, 0, CORPUS_EPOCH_S * 1000,
                      days * DAY_S * 1000, ids, Zipf(n_ids, 1.1)), ids


def context_rows(seed, ids):
    rng = rng_for(seed, "context")
    rows = []
    for cid in ids:
        if rng.random() < 0.6:
            rows.append({"correlation_id": cid, "data_raw": json.dumps(
                {"tier": rng.choice(("free", "pro", "enterprise")),
                 "region": rng.choice(("eu", "us", "ap"))},
                separators=(",", ":"))})
    return rows


def span_rows(seed, corpus, n):
    """Spans around existing records: [t - a, t + b] in whole ms plus a
    half ms, so no record time sits on a span boundary."""
    rng = rng_for(seed, "spans")
    good = [r for r, k in corpus if k == "ok"]
    rows = []
    for i in range(n):
        r = rng.choice(good)
        t = created_us(r)
        a = rng.randint(0, 30000)
        b = rng.randint(0, 30000)
        rows.append({"span_id": "sp%05d" % i,
                     "correlation_id": r["correlation_id"].lower(),
                     "description": rng.choice(VERBS),
                     "start_us": t - a * 1000 - 500,
                     "end_us": t + b * 1000 + 500})
    return rows


def documents(n):
    """The first n documents of the slice, by doc_id."""
    with gzip.open(DOC_FILE, "rt") as f:
        docs = [json.loads(x) for x in f]
    if n > len(docs):
        raise ValueError("the slice holds %d documents, not %d" % (len(docs), n))
    return docs[:n]


def document_records(seed, n_docs, n_customers):
    """The first n_docs documents (message = text) and the first
    n_customers customer names (message = c_name) as log records, one
    second apart in that order, sent in an order the run seed permutes."""
    recs = [{"name": "venus.corpus", "message": d["text"], "doc_id": d["doc_id"],
             "correlation_id": "doc-%06d" % d["doc_id"], "source": d["source"],
             "lang": d["lang"]} for d in documents(n_docs)]
    recs += [{"name": "venus.customer", "message": "Customer#%09d" % k, "c_custkey": k,
              "correlation_id": "cust-%06d" % k} for k in range(n_customers)]
    order = list(range(len(recs)))
    rng_for(seed, "doc-order").shuffle(order)
    out = []
    for pos, i in enumerate(order):
        rec = {"name": recs[i]["name"], "levelname": "INFO", "levelno": 20,
               "created": (CORPUS_EPOCH_S * 1000 + i * 1000 + 7) / 1000.0,
               "seq": pos, "due_ms": 0}
        rec.update(recs[i])
        out.append((rec, "ok"))
    return out


# ------------------------------------------------------------ query mix

def ilike_hit(pattern, message):
    """`lower(message) LIKE lower(pattern)` for %needle% patterns."""
    return pattern.strip("%").lower() in message.lower()


def created_us(rec):
    return round(rec["created"] * 1e6)


def payload_of(rec):
    return {k: v for k, v in rec.items() if k not in POPPED}


def answer(op, recs, tables):
    """The expected answer of one LogsTable operation over `recs` (the
    records a query can see: well-formed ones only)."""
    kind = op["op"]
    if kind == "lookup":
        cid = op["id"].lower()
        return sorted(r["seq"] for r in recs if r["correlation_id"].lower() == cid)
    if kind == "range_bucket":
        lo, hi, width = op["from_ms"] * 1000, op["to_ms"] * 1000, op["bucket_ms"] * 1000
        counts = {}
        for r in recs:
            t = created_us(r)
            if lo <= t < hi:
                b = (t - t % width) // 1000
                counts[b] = counts.get(b, 0) + 1
        return [[b, counts[b]] for b in sorted(counts)]
    if kind == "ilike":
        return sorted(r["seq"] for r in recs
                      if any(ilike_hit(p, r["message"]) for p in op["patterns"]))
    if kind == "contains":
        pairs = op["pairs"]
        return sorted(r["seq"] for r in recs
                      if all(str(r.get(k)) == v for k, v in pairs.items()))
    if kind == "recent":
        top = sorted(recs, key=lambda r: -r["created"])[: op["n"]]
        return [r["seq"] for r in top]
    if kind == "enrich":
        cid = op["id"].lower()
        ctx = tables["context_ids"]
        return sorted([r["seq"], cid in ctx] for r in recs
                      if r["correlation_id"].lower() == cid)
    if kind == "spans":
        cid = op["id"].lower()
        out = []
        for r in recs:
            if r["correlation_id"].lower() != cid:
                continue
            t_us = created_us(r)
            for s in tables["spans_by_id"].get(cid, ()):
                if s["start_us"] <= t_us <= s["end_us"]:
                    out.append([r["seq"], s["span_id"]])
        return sorted(out)
    if kind == "keys":
        lo, hi = op["from_ms"] * 1000, op["to_ms"] * 1000
        keys = set()
        for r in recs:
            if lo <= created_us(r) < hi:
                keys.update(payload_of(r))
        return sorted(keys)
    raise ValueError(kind)


def index_tables(ctx, spans):
    by_id = {}
    for s in spans:
        by_id.setdefault(s["correlation_id"], []).append(s)
    return {"context_ids": {c["correlation_id"] for c in ctx}, "spans_by_id": by_id}


# The analyst mix repeats this cycle of operation kinds; the seed draws
# each operation's arguments. A fixed cycle keeps the share of each kind
# the same on every seed, so runs differ in arguments, not in mix.
MIX = ("lookup", "range_bucket", "ilike", "lookup", "contains", "recent",
       "lookup", "enrich", "spans", "lookup", "keys", "range_bucket")


def query_mix(seed, n_ops, ids, span_ms, spans):
    """A fixed seeded sequence of operations (the closed-loop client
    cycles through it). Every fourth lookup is a miss; span lookups target
    ids that own spans."""
    rng = rng_for(seed, "mix")
    zipf = Zipf(len(ids), 1.1)
    span_ids = sorted({s["correlation_id"] for s in spans})
    start = CORPUS_EPOCH_S * 1000
    ops = []
    lookups = 0
    for i in range(n_ops):
        kind = MIX[i % len(MIX)]
        if kind == "lookup":
            lookups += 1
            if lookups % 4:
                op = {"op": kind, "id": ids[zipf.draw(rng)]}
            else:
                op = {"op": kind, "id": "%08x-0000-0000-0000-000000000000" % rng.getrandbits(32)}
        elif kind == "range_bucket":
            hours = rng.choice((6, 12, 24))
            lo = start + rng.randrange(0, span_ms - hours * 3600000, 3600000)
            op = {"op": kind, "from_ms": lo, "to_ms": lo + hours * 3600000,
                  "bucket": "hour", "bucket_ms": 3600000}
        elif kind == "ilike":
            terms = [t for t, _ in SEARCH_TERMS]
            op = {"op": kind, "patterns": ["%" + t.lower() + "%"
                                           for t in rng.sample(terms, rng.choice((1, 2)))]}
        elif kind == "contains":
            op = {"op": kind, "pairs": {"service": rng.choice(SERVICES),
                                        "status": weighted(rng, STATUSES)}}
        elif kind == "recent":
            op = {"op": kind, "n": rng.choice((10, 20, 50))}
        elif kind == "enrich":
            op = {"op": kind, "id": ids[zipf.draw(rng)]}
        elif kind == "spans":
            op = {"op": kind, "id": rng.choice(span_ids)}
        else:
            lo = start + rng.randrange(0, span_ms - 3600000, 3600000)
            op = {"op": kind, "from_ms": lo, "to_ms": lo + 3600000}
        ops.append(op)
    return ops


# ------------------------------------------------------------------ plan

def load_spec():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "spec.json")) as f:
        return json.load(f)


def well_formed(stream):
    return [r for r, k in stream if k == "ok"]


def plan(workload, seed, out, seconds):
    """Write the workload's tables, query mix and expected answers."""
    spec = load_spec()["workloads"][workload]
    os.makedirs(out, exist_ok=True)
    result = {"workload": workload, "seed": seed, "age_probe_records": AGE_PROBE_RECORDS}
    if workload in ("log_queries", "live_tail"):
        corpus, ids = log_corpus(seed, spec["corpus_records"], spec["corpus_days"],
                                 spec["corpus_ids"])
        ctx = context_rows(seed, ids)
        spans = span_rows(seed, corpus, spec["spans"])
        with open(os.path.join(out, "context.jsonl"), "w") as f:
            for r in ctx:
                f.write(json.dumps(r) + "\n")
        with open(os.path.join(out, "span.jsonl"), "w") as f:
            for r in spans:
                f.write(json.dumps(r) + "\n")
        result["ids"] = ids
        ops = query_mix(seed, spec["mix_ops"], ids, spec["corpus_days"] * DAY_S * 1000, spans)
        if workload == "log_queries":
            tables = index_tables(ctx, spans)
            recs = well_formed(corpus)
            for op in ops:
                op["expect"] = answer(op, recs, tables)
        result["ops"] = ops
    if workload == "ingest_burst":
        base = burst_base(seed, spec["burst_records"], spec["ids"])
        with open(os.path.join(out, "burst-base.jsonl"), "w") as f:
            for r, k in base:
                f.write(encode(r, k) + "\n")
        with open(os.path.join(out, "burst-meta.json"), "w") as f:
            json.dump({"kinds": [k for _, k in base],
                       "cids": [r["correlation_id"].lower() for r, _ in base]}, f)
        ids = corr_ids(seed, spec["ids"])
        step = spec["lookup_rank_span"] // spec["lookups"]
        result["lookup_ids"] = [ids[k * step] for k in range(spec["lookups"])]
    if workload == "live_tail":
        # the live tail's correlation ids in send order (they do not depend
        # on when it starts), so the client can look up a just-sent one
        count = int(spec["rate"] * seconds) + 1
        result["live_ids"] = [r["correlation_id"].lower() for r, _ in
                              live_records(seed, 0, spec["rate"], count, 0, ids)]
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(result, f)
    return result


# ------------------------------------------------------------------ send

def stream_records(desc):
    """The records of one stream description (see `send`)."""
    kind = desc["kind"]
    if kind == "corpus":
        return log_corpus(desc["seed"], desc["n"], desc["days"], desc["ids"])[0]
    if kind == "documents":
        return document_records(desc["seed"], desc["documents"], desc["customers"])
    raise ValueError(kind)


def connect(port):
    s = socket.create_connection(("127.0.0.1", port))
    s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return s


# time between fixing a wave's due time and its first write, enough to
# stamp and frame a 65,536-record burst
LEAD_S = 0.25
# how far a load's head goes out ahead of the rest (push_load): well over
# the source's 10 ms poll, well under a micro-batch
HEAD_GAP_S = 0.05
# PushSocketSource's flush size under the default IngestConfig (maxBatchSize)
FLUSH_SIZE = 100
# the traced runs' unshaped push: under the flush size, so only the flush
# gate's age bound exposes it
AGE_PROBE_RECORDS = 40


def emit(obj):
    print(json.dumps(obj), flush=True)


def push_wave(lines, port, conns, t0=None):
    """Open loop: every line of the wave is due at its t0 (by default a
    short lead after the call) and carries that due time. Each connection
    carries one contiguous range of the stream, so offsets keep send order
    within a range. Returns (t0_ms, lateness of each record in seconds)."""
    if t0 is None:
        t0 = time.time() + LEAD_S
    due = '"due_ms":%d,' % int(t0 * 1000)
    lines = [x.replace('"due_ms":0,', due, 1) for x in lines]
    per = math.ceil(len(lines) / conns)
    parts = [lines[i * per:(i + 1) * per] for i in range(conns)]
    parts = [p for p in parts if p]
    socks = [connect(port) for _ in parts]
    payloads = [[("\n".join(p[a:a + 1000]) + "\n").encode()
                 for a in range(0, len(p), 1000)] for p in parts]
    lat = [[] for _ in parts]
    time.sleep(max(0.0, t0 - time.time()))

    def run(j):
        for a, chunk in enumerate(payloads[j]):
            socks[j].sendall(chunk)
            n = min(1000, len(parts[j]) - a * 1000)
            lat[j].append((time.time() - t0, n))

    threads = [threading.Thread(target=run, args=(j,)) for j in range(len(parts))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for s in socks:
        s.close()
    late = []
    for lj in lat:
        for d, n in lj:
            late.extend([d] * n)
    return int(t0 * 1000), late


def push_load(lines, port, conns, head):
    """A set-up load, all due at t0, whose first `head` lines go out
    HEAD_GAP_S ahead of the rest. With `head` at the source's flush size the
    first micro-batch takes exactly those lines and the next one all the
    rest. Sent all at once, where a load splits races the source's poll,
    and a split that strands fewer than `head` lines holds them for the
    flush gate's age bound: set-up times came out bimodal."""
    t0, late = push_wave(lines[:head], port, 1)
    time.sleep(HEAD_GAP_S)
    _, rest = push_wave(lines[head:], port, conns, t0=t0 / 1000.0)
    return t0, late + rest


def p99(xs):
    xs = sorted(xs)
    return xs[int(0.99 * (len(xs) - 1))] if xs else 0.0


def expect_row(rec, due_ms):
    """What a landed record must read back as: sequence number, event time
    in microseconds, message, lower-cased correlation id, payload."""
    payload = payload_of(rec)
    payload["due_ms"] = due_ms
    return [rec["seq"], created_us(rec), rec["message"],
            rec["correlation_id"].lower(), payload]


def expectations(recs, dues, watch):
    """Expected answers for one stream: how many records land, their
    sequence-number sum, the rows of a fixed sample (seq divisible by 509)
    and every row of the watched correlation ids."""
    watch = {w.lower(): [] for w in watch}
    ok = [(r, d) for (r, k), d in zip(recs, dues) if k == "ok"]
    for r, d in ok:
        rows = watch.get(r["correlation_id"].lower())
        if rows is not None:
            rows.append(expect_row(r, d))
    return {"ok": len(ok), "seq_sum": sum(r["seq"] for r, _ in ok),
            "sample": [expect_row(r, d) for r, d in ok if r["seq"] % 509 == 0],
            "watch": watch}


def send(desc, port):
    """Push one stream. Prints {"wave", "end", "last"} after each wave and
    reads a line from stdin before the next one; ends with a summary."""
    if desc["kind"] == "live":
        return send_live(desc, port)
    conns = max(1, min(desc.get("conns", 1), os.cpu_count() or 1))
    if desc["kind"] == "burst":
        return send_burst(desc, port, conns)
    recs = stream_records(desc)
    lines = [encode(r, k) for r, k in recs]
    if desc.get("dump"):
        with open(desc["dump"], "w") as f:
            f.write("\n".join(lines) + "\n")
    waves = desc.get("waves", 1)
    size = math.ceil(len(lines) / waves)
    t0s, late = [], []
    for w in range(waves):
        if w:
            sys.stdin.readline()
        wave = lines[w * size:(w + 1) * size]
        if desc.get("shaped", True):
            t0, lw = push_load(wave, port, conns, FLUSH_SIZE)
        else:
            t0, lw = push_wave(wave, port, conns)
        t0s.append(t0)
        late.extend(lw)
        end = min(len(lines), (w + 1) * size)
        emit({"wave": w, "end": end, "last": w == waves - 1})
    dues = [t0s[i // size] for i in range(len(recs))]
    return {"sent": len(lines), "t0_ms": t0s, "bytes": sum(len(x) + 1 for x in lines),
            "malformed": sum(1 for _, k in recs if k == "malformed_json"),
            "missing_created": sum(1 for _, k in recs if k == "missing_created"),
            "late_p99_s": p99(late),
            "expect": expectations(recs, dues, desc.get("watch", ()))}


def send_burst(desc, port, conns):
    """One burst: the first n lines of the run's burst base (written by
    `plan`), rebased to this burst's sequence numbers, all due at t0."""
    n, offset = desc["n"], desc["offset"]
    with open(desc["base"]) as f:
        lines = [rebase(f.readline().rstrip("\n"), i, offset) for i in range(n)]
    with open(desc["meta"]) as f:
        meta = json.load(f)
    kinds, cids = meta["kinds"][:n], meta["cids"][:n]
    if desc.get("dump"):
        with open(desc["dump"], "w") as f:
            f.write("\n".join(lines) + "\n")
    t0, late = push_wave(lines, port, conns)
    emit({"wave": 0, "end": n, "last": True})
    watch = {w.lower(): [] for w in desc.get("watch", ())}
    sample = []
    for i, (kind, cid) in enumerate(zip(kinds, cids)):
        if kind != "ok":
            continue
        rows = watch.get(cid)
        if rows is not None or (i + offset) % 509 == 0:
            row = expect_row(json.loads(lines[i]), t0)
            if rows is not None:
                rows.append(row)
            if (i + offset) % 509 == 0:
                sample.append(row)
    ok = [i for i, k in enumerate(kinds) if k == "ok"]
    return {"sent": n, "t0_ms": [t0], "bytes": sum(len(x) + 1 for x in lines),
            "malformed": kinds.count("malformed_json"),
            "missing_created": kinds.count("missing_created"),
            "late_p99_s": p99(late),
            "expect": {"ok": len(ok), "seq_sum": sum(ok) + offset * len(ok),
                       "sample": sample, "watch": watch}}


def send_live(desc, port):
    """Paced open loop over one connection: record i is written once its
    due time t0 + i/rate has come; lateness is write time minus due.
    Prints {"t0_ms"} before the first record is due."""
    rate, count = desc["rate"], desc["count"]
    sock = connect(port)
    t0_ms = int(time.time() * 1000) + 100
    recs = live_stream(desc, t0_ms)
    lines = [encode(r, k) for r, k in recs]
    emit({"t0_ms": t0_ms})
    late = []
    nbytes = 0
    i = 0
    while i < count:
        now_ms = time.time() * 1000
        due = t0_ms + i * 1000 / rate
        if due > now_ms:
            time.sleep(min(0.002, (due - now_ms) / 1000))
            continue
        j = i
        while j < count and t0_ms + j * 1000 / rate <= now_ms:
            j += 1
        payload = ("\n".join(lines[i:j]) + "\n").encode()
        sock.sendall(payload)
        nbytes += len(payload)
        done = time.time() * 1000
        late.extend((done - (t0_ms + k * 1000 / rate)) / 1000 for k in range(i, j))
        i = j
    payload = ("\n".join(lines[count:]) + "\n").encode()
    sock.sendall(payload)
    nbytes += len(payload)
    sock.close()
    if desc.get("dump"):
        with open(desc["dump"], "w") as f:
            f.write("\n".join(lines) + "\n")
    exp = expectations(recs, [r["due_ms"] for r, _ in recs], ())
    return {"sent": len(lines), "t0_ms": [t0_ms], "bytes": nbytes,
            "malformed": sum(1 for _, k in recs if k == "malformed_json"),
            "missing_created": sum(1 for _, k in recs if k == "missing_created"),
            "late_p99_s": p99(late), "rate": rate, "expect": exp}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("plan")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    s = sub.add_parser("send")
    s.add_argument("--stream", required=True, help="stream description (JSON file)")
    s.add_argument("--port", type=int, required=True)
    a = ap.parse_args(argv)
    if a.cmd == "plan":
        plan(a.workload, a.seed, a.out, a.seconds)
    else:
        with open(a.stream) as f:
            desc = json.load(f)
        emit(send(desc, a.port))


if __name__ == "__main__":
    sys.exit(main())
