"""Metrics and checks of one benchmark run.

Inputs: the JVM side's result.json (timings, stream progress, answers and,
traced, the span/job/stage record), the generator's plan and the summaries
each `gen.py send` returned with its expected answers.
"""

import json

import gen
import stats
from stats import median, percentile

END_TO_END = ("setup_s", "heap_live_mb", "ingest_rps", "store_bytes_per_input_byte",
              "visible_p50_s", "visible_p99_s", "query_p50_s", "query_tail_s",
              "queries_per_s", "batch_s")

# The pushes the ingest metrics describe, as (burst drain rate, visibility):
# the ingest capacity measure is a burst's drain rate, so a workload whose
# measured stream is paced takes it from its set-up loads.
INGEST_ROLES = {"ingest_burst": ("measured", "measured"),
                "live_tail": ("setup", "measured"),
                "log_queries": ("setup", "setup"),
                "corpus_batch": ("setup", "setup")}

QUERY_OPS = ("lookup", "range_bucket", "ilike", "contains", "recent", "enrich",
             "spans", "keys")
OPERATOR_CALLS = ("dedup_exact", "minhash_lsh", "remove_dup_passages", "winnowing_overlap",
                  "containment_pairs", "substr_pairs", "term_dispersion", "dunn_posthoc",
                  "edit_join")
LAYERS = ("streaming", "ingest", "store", "query", "operators", "spark", "bench")
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                "commitOffsets")


def pushes(result, role):
    return [(s, p) for s in result["streams"] for p in s["pushes"]
            if p["desc"]["role"] == role]


def push_view(stream, push):
    """One push's frames per micro-batch: ingest-to-queryable samples (batch
    completion minus each record's due time), the drain time from first
    send to last commit, and the batches that carried it."""
    base, summ = push["base"], push["summary"]
    sent, t0s = summ["sent"], summ["t0_ms"]
    live = push["desc"]["kind"] == "live"
    ends = push["wave_ends"] or [sent]
    samples, batches = [], []
    for b in stream["batches"]:
        lo = max(b["start"], base) - base
        hi = min(b["end"], base + sent) - base
        if hi <= lo:
            continue
        batches.append(b)
        if live:
            # one connection: offsets are send order, frame k is record k;
            # the flush records after the paced ones are not measured
            rate, t0 = summ["rate"], t0s[0]
            samples.extend((b["end_ms"] - t0 - int(k * 1000 / rate)) / 1000.0
                           for k in range(lo, min(hi, push["desc"]["count"])))
        else:
            prev = 0
            for w, e in enumerate(ends):
                n = min(hi, e) - max(lo, prev)
                if n > 0:
                    samples.extend([(b["end_ms"] - t0s[w]) / 1000.0] * n)
                prev = e
    drain = (max(b["end_ms"] for b in batches) - t0s[0]) / 1000.0
    return {"samples": samples, "drain_s": drain, "rps": sent / drain,
            "batches": batches, "sent": sent, "late_p99_s": summ["late_p99_s"],
            "stream": stream}


def groups(xs, size):
    return [xs[i:i + size] for i in range(0, len(xs) - size + 1, size)]


def batch_times(workload, result, views, spec):
    """Time of one pass of the workload's fixed sequence: a burst, a block
    of the query mix, a dashboard round or the operator sequence."""
    ops = result["ops"]
    if workload == "ingest_burst":
        return [v["drain_s"] for v in views]
    if workload == "log_queries":
        return [sum(o["s"] for o in g) for g in groups(ops, spec["pass_ops"])]
    if workload == "live_tail":
        return [sum(o["s"] for o in g) for g in groups(ops, 3 + spec["mix_per_round"])]
    by_pass = {}
    for o in ops:
        by_pass[o["pass"]] = by_pass.get(o["pass"], 0.0) + o["s"]
    return list(by_pass.values())


def end_to_end(workload, result, spec):
    """Every end-to-end metric, plus the sample counts behind them."""
    rate_role, vis_role = INGEST_ROLES[workload]
    drains = [push_view(s, p) for s, p in pushes(result, rate_role)]
    views = [push_view(s, p) for s, p in pushes(result, vis_role)]
    # Each push is one sample of the ingest path (a set-up load, a burst or
    # the live tail); metrics are the median over pushes, so one push whose
    # last fragment waited out the flush gate's age bound does not decide
    # the run.
    v_tail = stats.tail_level(min(len(v["samples"]) for v in views), 99)
    lat = [o["s"] for o in result["ops"]]
    q_tail = stats.tail_level(len(lat), 95)
    if q_tail is None or v_tail is None:
        raise SystemExit("too few samples: %d operations, %s records"
                         % (len(lat), [len(v["samples"]) for v in views]))
    # the stores those pushes landed in, each against all it was sent
    stores = {v["stream"]["name"]: v["stream"] for v in views}.values()
    metrics = {
        "setup_s": median(result["setup_s"]),
        "heap_live_mb": result["heap_live_mb"],
        "ingest_rps": median([v["rps"] for v in drains]),
        "store_bytes_per_input_byte": median(
            [s["store_bytes"] / sum(p["summary"]["bytes"] for p in s["pushes"]) for s in stores]),
        "visible_p50_s": median([percentile(v["samples"], 50) for v in views]),
        "visible_p99_s": median([percentile(v["samples"], v_tail) for v in views]),
        "query_p50_s": percentile(lat, 50),
        "query_tail_s": percentile(lat, q_tail),
        "queries_per_s": len(lat) / sum(lat),
        "batch_s": median(batch_times(workload, result, views, spec)),
    }
    info = {"query_samples": len(lat), "query_tail_pct": q_tail,
            "visible_samples": sum(len(v["samples"]) for v in views), "visible_tail_pct": v_tail,
            "setup_runs": len(result["setup_s"]), "views": views}
    return metrics, info


# ----------------------------------------------------------------- checks

def same_row(actual, expected):
    """A landed row against the generator's record: sequence number, event
    time (to 2 us: seconds arrive as a double), message, lower-cased
    correlation id, and the payload with every popped key gone."""
    seq, t_us, msg, cid, raw = actual
    eseq, et_us, emsg, ecid, epay = expected
    return (seq == eseq and abs(t_us - et_us) <= 2 and msg == emsg and cid == ecid
            and json.loads(raw) == epay)


def same_rows(actual, expected):
    return (len(actual) == len(expected)
            and all(same_row(a, e) for a, e in zip(actual, expected)))


def check_live(result, plan, spec, seed, workdir):
    """Each live answer must equal the generator's answer over the set-up
    corpus plus some prefix of the live tail: every micro-batch that
    completed before the query started, and any that started before it
    ended."""
    kept = result["streams"][-1]
    push = [p for p in kept["pushes"] if p["desc"]["role"] == "measured"][0]
    d, summ = push["desc"], push["summary"]
    corpus, _ = gen.log_corpus(seed, spec["corpus_records"], spec["corpus_days"],
                               spec["corpus_ids"])
    pre = gen.well_formed(corpus)
    live = gen.live_stream(d, summ["t0_ms"][0])
    ok_before = [0]
    for _, k in live:
        ok_before.append(ok_before[-1] + (k == "ok"))
    live_ok = gen.well_formed(live)
    with open(workdir + "/context.jsonl") as f:
        ctx = [json.loads(x) for x in f]
    with open(workdir + "/span.jsonl") as f:
        spans = [json.loads(x) for x in f]
    tables = gen.index_tables(ctx, spans)
    base = push["base"]
    marks = [(b["start_ms"], b["end_ms"], min(b["end"] - base, len(live)))
             for b in kept["batches"] if b["end"] > base]
    bad = []
    for o in result["ops"]:
        lo = max([f for s, e, f in marks if e <= o["t0"]] or [0])
        cands = sorted({lo} | {f for s, e, f in marks if s <= o["t1"] and f > lo})
        if not any(gen.answer(o["args"], pre + live_ok[:ok_before[f]], tables) == o["answer"]
                   for f in cands):
            bad.append("live %s at %d: no visible prefix %s gives %s"
                       % (o["op"], o["t0"], cands[:4], str(o["answer"])[:120]))
    return bad


def check(workload, result, plan, spec, seed, workdir):
    """Every output check. Returns (problems, attempted, failed): attempted
    counts records sent and client operations; failed counts records lost
    or dropped and operations answered wrongly."""
    problems = []
    failed = 0
    sent = sum(p["summary"]["sent"] for s in result["streams"] for p in s["pushes"])
    for s in result["streams"]:
        if s["dropped"]:
            problems.append("%s dropped %d frames" % (s["name"], s["dropped"]))
            failed += s["dropped"]
    kept = result["streams"][-1]
    sums = [p["summary"] for p in kept["pushes"]]
    land = result["landing"]
    want_rows = sum(x["expect"]["ok"] for x in sums)
    if land["rows"] != want_rows:
        problems.append("landed %d rows, expected %d" % (land["rows"], want_rows))
        failed += abs(want_rows - land["rows"])
    if land["distinct_seq"] != land["rows"]:
        problems.append("%d rows but %d distinct sequence numbers"
                        % (land["rows"], land["distinct_seq"]))
    if land["seq_sum"] != sum(x["expect"]["seq_sum"] for x in sums):
        problems.append("sequence-number sum differs")
    dead = {"malformed_json": sum(x["malformed"] for x in sums),
            "missing_created": sum(x["missing_created"] for x in sums)}
    dead = {k: v for k, v in dead.items() if v}
    if land["dead_letter"] != dead:
        problems.append("dead letters %s, expected %s" % (land["dead_letter"], dead))
    want_sample = sorted((r for x in sums for r in x["expect"]["sample"]), key=lambda r: r[0])
    if not same_rows(land["sample"], want_sample):
        problems.append("sampled rows differ from the sent records")
        failed += 1

    ops = result["ops"]
    if workload == "ingest_burst":
        for o in ops:
            cid = o["args"]["id"].lower()
            want = sorted((r for x in sums for r in x["expect"]["watch"].get(cid, ())),
                          key=lambda r: r[0])
            if not same_rows(o["answer"], want):
                problems.append("lookup %s: %d rows, expected %d"
                                % (cid, len(o["answer"]), len(want)))
                failed += 1
    elif workload == "log_queries":
        for o in ops:
            if o["answer"] != plan["ops"][o["i"]]["expect"]:
                problems.append("op %d (%s) answered %s, expected %s" % (
                    o["i"], o["op"], str(o["answer"])[:80],
                    str(plan["ops"][o["i"]]["expect"])[:80]))
                failed += 1
    elif workload == "live_tail":
        bad = check_live(result, plan, spec, seed, workdir)
        problems.extend(bad)
        failed += len(bad)
    else:
        recorded = spec["digests"]
        for o in ops:
            want = recorded.get(o["op"])
            if want != {"rows": o["rows"], "digest": o["digest"]}:
                problems.append("%s: %d rows digest %s, recorded %s"
                                % (o["op"], o["rows"], o["digest"], want))
                failed += 1
    return problems, sent + len(ops), failed


# -------------------------------------------------------------- per layer

def trace_spans(result):
    """All spans of a traced run in microseconds: the benchmark's own, one
    per micro-batch with its progress phases laid end to end as children,
    and one per Spark job and stage, attached to the call or micro-batch
    that was active when the job started."""
    t = result["trace"]
    spans = [{"id": i, "parent": p, "name": n, "layer": l, "start": s, "end": e}
             for i, p, n, l, s, e in t["spans"]]
    next_id = [10 ** 9]

    def add(parent, name, layer, start, end):
        next_id[0] += 1
        spans.append({"id": next_id[0], "parent": parent, "name": name, "layer": layer,
                      "start": start, "end": end})
        return next_id[0]

    add_batch = {}
    for s in result["streams"]:
        for b in s["batches"]:
            bid = add(0, "streaming.batch", "streaming", b["start_ms"] * 1000, b["end_ms"] * 1000)
            cursor = b["start_ms"] * 1000
            for phase in BATCH_PHASES:
                d = b["durations"].get(phase)
                if d is None:
                    continue
                pid = add(bid, "streaming.batch." + phase, "streaming", cursor, cursor + d * 1000)
                if phase == "addBatch":
                    add_batch[(s["query"], b["batch"])] = pid
                cursor += d * 1000
    job_span = {}
    for j in t["jobs"]:
        if j["end_ms"] < 0:
            continue
        parent = j["span"] or add_batch.get((j["query"], j["batch"]), 0)
        job_span[j["id"]] = add(parent, "spark.job", "spark", j["start_ms"] * 1000,
                                j["end_ms"] * 1000)
    for st in t["stages"]:
        if st["job"] in job_span and st["end_ms"] > 0:
            add(job_span[st["job"]], "spark.stage", "spark", st["submit_ms"] * 1000,
                st["end_ms"] * 1000)
    return spans


def per_layer(workload, result, spec, e2e, info, attempted, failed, steal):
    """Every per-layer metric. Layers a workload does not run report 0.
    `steal` is the share of the machine's CPU time its host took during
    the run."""
    t = result["trace"]
    spans = trace_spans(result)
    by_id = {s["id"]: s for s in spans}
    named = {}
    for s in spans:
        named.setdefault(s["name"], []).append(s)
    warm = [(s["start"], s["end"]) for s in named.get("warmup", ())]

    def live_spans(name):
        return [s for s in named.get(name, ())
                if not any(a <= s["start"] < b for a, b in warm)]

    def ms(s):
        return (s["end"] - s["start"]) / 1000.0

    def ancestor(span_id, prefix):
        while span_id:
            s = by_id.get(span_id)
            if s is None:
                return None
            if s["name"].startswith(prefix):
                return span_id
            span_id = s["parent"]
        return None

    jobs = [j for j in t["jobs"] if j["end_ms"] >= 0]
    stages_of = {}
    for st in t["stages"]:
        stages_of.setdefault(st["job"], []).append(st)
    m = {}

    # streaming
    views = info["views"]
    batches = [b for v in views for b in v["batches"] if b["rows"] > 0]
    dur = lambda b, k: b["durations"].get(k, 0)
    trig = [dur(b, "triggerExecution") for b in batches]
    tasks = {}
    for j in jobs:
        if j["batch"] >= 0:
            key = (j["query"], j["batch"])
            tasks[key] = tasks.get(key, 0) + sum(st["tasks"] for st in stages_of.get(j["id"], ()))
    busy_den = sum((max(b["end_ms"] for b in v["batches"]) - min(b["start_ms"] for b in v["batches"]))
                   for v in views)
    m.update({
        "streaming.source.dropped": sum(s["dropped"] for s in result["streams"]),
        "streaming.source.backlog_max": max(b["latest"] - b["end"] for b in batches),
        "streaming.source.latest_offset_ms_p50": median([dur(b, "latestOffset") for b in batches]),
        "streaming.batch.count": len(batches),
        "streaming.batch.rows_p50": median([b["rows"] for b in batches]),
        "streaming.batch.trigger_ms_p50": median(trig),
        "streaming.batch.trigger_ms_max": max(trig),
        "streaming.batch.add_batch_ms_p50": median([dur(b, "addBatch") for b in batches]),
        "streaming.batch.overhead_ms_p50": median(
            [dur(b, "triggerExecution") - dur(b, "addBatch") for b in batches]),
        "streaming.batch.wal_commit_ms_p50": median([dur(b, "walCommit") for b in batches]),
        "streaming.batch.commit_offsets_ms_p50": median([dur(b, "commitOffsets") for b in batches]),
        "streaming.batch.tasks_p50": median(
            [tasks.get((v["stream"]["query"], b["batch"]), 0) for v in views for b in v["batches"]]),
        "streaming.batch.busy_frac": sum(trig) / busy_den if busy_den > 0 else 0.0,
    })
    # the one push under the flush size: queryable only after the age bound
    age = result["age_probe"]
    m["streaming.batch.age_flush_s"] = max(push_view(age, age["pushes"][0])["samples"])

    # ingest: direct calls on the lines one push sent
    probe = result.get("ingest_probe", {"rows": 0})
    per_1k = lambda name: (median([ms(s) for s in named[name]]) / (probe["rows"] / 1000.0)
                           if named.get(name) and probe["rows"] else 0.0)
    m.update({
        "ingest.transform_ms_per_1k": per_1k("ingest.transform"),
        "ingest.dead_letter_ms_per_1k": per_1k("ingest.dead_letter"),
        "ingest.dead_letter_rows": sum(result["landing"]["dead_letter"].values()),
    })

    # store
    appends = [ms(s) for s in named.get("store.append", ())]
    reads = [ms(s) for s in live_spans("store.read")
             if ancestor(s["parent"], "query.") or ancestor(s["parent"], "operators.")]
    scanned = [o["scan"] for o in result["ops"] if "scan" in o]
    returned = sum(len(o["answer"]) for o in result["ops"] if "answer" in o)
    files = result["store_files"]
    idx = result.get("searchidx", [])
    m.update({
        "store.append_ms_p50": median(appends) if appends else 0.0,
        "store.append_ms_max": max(appends) if appends else 0.0,
        "store.files_written": sum(f[1] for f in files),
        "store.files_per_date_max": max(f[1] for f in files),
        "store.bytes_written_per_record": sum(f[2] for f in files) / max(1, result["landing"]["rows"]),
        "store.read_plan_ms_p50": median(reads) if reads else 0.0,
        "store.files_scanned_per_query_p50": median([s["files"] for s in scanned]) if scanned else 0,
        "store.bytes_scanned_per_query_p50": median([s["bytes"] for s in scanned]) if scanned else 0,
        "store.rows_scanned_per_row_returned":
            sum(s["rows"] for s in scanned) / returned if scanned and returned else 0.0,
        "store.searchidx.build_s": median([ms(s) / 1000 for s in named["store.searchidx.build"]])
            if named.get("store.searchidx.build") else 0.0,
        "store.searchidx.candidate_frac": sum(idx) / len(idx) if idx else 0.0,
        "store.searchidx.candidates_ms_p50": median([ms(s) for s in live_spans("store.searchidx.candidates")])
            if named.get("store.searchidx.candidates") else 0.0,
    })

    # jobs and shuffle bytes under each call span
    under = {}
    for j in jobs:
        for prefix in ("query.", "operators."):
            a = ancestor(j["span"], prefix)
            if a:
                under.setdefault(a, []).append(j)

    def per_call(spans_):
        return [under.get(s["id"], []) for s in spans_]

    # query
    for op in QUERY_OPS:
        lat = [o["s"] for o in result["ops"] if o["op"] == op]
        sp = live_spans("query." + op)
        js = per_call(sp)
        m["query.%s_p50_s" % op] = median(lat) if lat else 0.0
        m["query.%s_max_s" % op] = max(lat) if lat else 0.0
        m["query.%s_jobs" % op] = sum(len(x) for x in js) / len(js) if js else 0.0

    # operators: medians over the calls, like operators.<call>_s
    def med(xs):
        return median(xs) if xs else 0
    for call in OPERATOR_CALLS:
        sp = live_spans("operators." + call)
        js = per_call(sp)
        m["operators.%s_s" % call] = med([ms(s) / 1000 for s in sp])
        m["operators.%s_jobs" % call] = med([len(x) for x in js])
        m["operators.%s_shuffle_bytes" % call] = med(
            [sum(st["shuffle_write"] for j in x for st in stages_of.get(j["id"], ())) for x in js])
        m["operators.%s_driver_ms" % call] = med(
            [ms(s) - stats.union_length([(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in x]) / 1000.0
             for s, x in zip(sp, js)])

    # spark, over the measured window
    win = named["measure"][0]
    in_win = [j for j in jobs if win["start"] <= j["start_ms"] * 1000 <= win["end"]]
    sts = [st for j in in_win for st in stages_of.get(j["id"], ())]
    m.update({
        "spark.jobs": len(in_win),
        "spark.stages": len(sts),
        "spark.tasks": sum(st["tasks"] for st in sts),
        "spark.task_cpu_s": sum(st["cpu_ns"] for st in sts) / 1e9,
        "spark.shuffle_read_bytes": sum(st["shuffle_read"] for st in sts),
        "spark.shuffle_write_bytes": sum(st["shuffle_write"] for st in sts),
        "spark.spill_bytes": sum(st["spill"] for st in sts),
        "spark.gc_ms": sum(st["gc_ms"] for st in sts),
        "spark.driver_only_ms": (ms(win) - stats.union_length(
            [(max(j["start_ms"] * 1000, win["start"]), min(j["end_ms"] * 1000, win["end"]))
             for j in in_win]) / 1000.0),
    })

    m["gen.sent"] = sum(v["sent"] for v in views)
    m["gen.late_p99_s"] = max(v["late_p99_s"] for v in views)
    m["host.steal_frac"] = steal

    own = stats.layer_self_times(spans)
    for layer in LAYERS:
        m["self.%s_s" % layer] = own.get(layer, 0) / 1e6
    m["error_frac"] = failed / attempted
    m["query.samples"] = info["query_samples"]
    m["query.tail_pct"] = info["query_tail_pct"]
    for k in END_TO_END:
        m["traced." + k] = e2e[k]
    return m, spans
