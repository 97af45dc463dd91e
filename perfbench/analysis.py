"""Metrics from a run's raw record and, for traced runs, its span and
listener events.

The arithmetic here is deliberately independent of Spark: spans are
intervals the benchmark recorded around its own calls into the library,
jobs and stages are what the Spark listener saw, and attribution joins them
by the span id Spark copies onto every job (a local property) and by each
job's own list of stage ids.
"""
import json
import math
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")

BOARD_FAMILIES = ("relational", "semantics", "text", "vector", "web", "store")
SUBSCRIPTIONS = ("window", "tableview")


class TooFewSamples(ValueError):
    """A percentile was asked of too few samples to lie beyond it."""


def units():
    with open(BENCHMARK) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def per_layer_names():
    with open(BENCHMARK) as f:
        return [m["name"] for m in json.load(f)["per_layer"]]


def percentile(values, q, min_beyond=10):
    """The `q` quantile (linear interpolation between closest ranks) of
    `values`, refused unless at least `min_beyond` samples lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    beyond = n - math.ceil(q * n)
    if n == 0 or beyond < min_beyond:
        raise TooFewSamples(f"p{round(q * 100)} of {n} samples leaves "
                            f"{max(beyond, 0)} beyond it (< {min_beyond})")
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), clipped to
    [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(clipped):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def load_events(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def jobs_of(events):
    """{job id: {t0, t1, stages, span, batch, query}} from job start/end
    events; a job with no end event ends where it started."""
    jobs = {}
    for e in events:
        if e["ev"] == "job_start":
            jobs[e["job"]] = dict(t0=e["t"], t1=None, stages=e["stages"],
                                  span=e["span"], batch=e["batch"],
                                  query=e["query"])
    for e in events:
        if e["ev"] == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["t1"] = e["t"]
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return jobs


def stage_owner(jobs, stages):
    """{(stage id, attempt): job id}. A stage belongs to the job that lists
    it in its stage ids; when several do (a shared shuffle stage), to the
    earliest of them that was running when the stage completed. Jobs that
    overlap in time never steal each other's stages."""
    listing = {}
    for jid, j in jobs.items():
        for s in j["stages"]:
            listing.setdefault(s, []).append(jid)
    owner = {}
    for st in stages:
        cands = sorted(listing.get(st["stage"], []))
        running = [j for j in cands
                   if jobs[j]["t0"] <= st["t1"] <= jobs[j]["t1"] + 1]
        pick = running or cands
        if pick:
            owner[(st["stage"], st["attempt"])] = pick[0]
    return owner


class Attribution:
    """Spans, jobs and stages of one traced run, joined."""

    def __init__(self, events):
        self.spans = {e["id"]: e for e in events if e["ev"] == "span"}
        self.children = {}
        for s in self.spans.values():
            self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs = jobs_of(events)
        self.stages = [e for e in events if e["ev"] == "stage"]
        owner = stage_owner(self.jobs, self.stages)
        self.job_stages = {}
        for st in self.stages:
            jid = owner.get((st["stage"], st["attempt"]))
            if jid is not None:
                self.job_stages.setdefault(jid, []).append(st)
        self.span_jobs = {}
        for jid, j in self.jobs.items():
            if j["span"] and int(j["span"]) in self.spans:
                self.span_jobs.setdefault(int(j["span"]), []).append(jid)

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children.get(s, []))
        return out

    def stats(self, sid):
        """Wall, self time, jobs, driver gap, task time, shuffle and spill of
        span `sid`, counting the jobs of its whole subtree."""
        s = self.spans[sid]
        wall = s["t1"] - s["t0"]
        kids = [self.spans[c] for c in self.children.get(sid, [])]
        self_ms = wall - union_length([(k["t0"], k["t1"]) for k in kids],
                                      s["t0"], s["t1"])
        jids = [j for x in self.subtree(sid) for j in self.span_jobs.get(x, [])]
        return self.job_stats(jids, s["t0"], s["t1"], wall, self_ms)

    def job_stats(self, jids, t0, t1, wall, self_ms=None):
        busy = union_length([(self.jobs[j]["t0"], self.jobs[j]["t1"])
                             for j in jids], t0, t1)
        sts = [st for j in jids for st in self.job_stages.get(j, [])]
        return dict(
            wall_ms=wall, self_ms=wall if self_ms is None else self_ms,
            jobs=len(jids), driver_gap_ms=wall - busy,
            task_ms=sum(st["run_ms"] for st in sts),
            tasks=sum(st["tasks"] for st in sts),
            shuffle_b=sum(st["shuffle_read"] + st["shuffle_write"]
                          for st in sts),
            spill_b=sum(st["spill"] for st in sts))


def _sum(dicts, key):
    return sum(d[key] for d in dicts)


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def op_samples(workload, rec):
    """The samples behind `op_p50_s`: query seconds, or each subscription's
    emit latencies."""
    if workload == "board":
        return {"queries": [(q["t1"] - q["t0"]) / 1e3 for q in rec["queries"]]}
    return {q: s["latencies"] for q, s in rec["subs"].items()}


def end_to_end(workload, rec):
    setup = rec["session_s"] + rec["warmup_s"] + statistics.median(rec["stage_s"])
    samples = op_samples(workload, rec)
    if workload == "board":
        secs = samples["queries"]
        work, p50 = len(secs) / sum(secs), percentile(secs, 0.5)
    else:
        subs = rec["subs"].values()
        work = (sum(s["catchup_rows"] for s in subs)
                / sum(s["catchup_s"] for s in subs))
        # the two subscriptions' latency populations differ by an order of
        # magnitude, so each gets its own median
        p50 = mean([percentile(v, 0.5) for v in samples.values()])
    return {"setup_s": setup, "peak_rss_mb": rec["peak_rss_mb"],
            "work_per_s": work, "op_p50_s": p50}


def _progress_stats(progress, attr, query_id):
    """Per-micro-batch means of one streaming query's phases, with jobs,
    driver gap and task time from the listener."""
    batches = [p for p in progress if p["query_id"] == query_id]
    dur = lambda k: mean([p["dur"].get(k, 0) for p in batches])  # noqa: E731
    per = []
    for p in batches:
        trig = p["dur"].get("triggerExecution", 0)
        jids = [j for j, x in attr.jobs.items()
                if x["query"] == query_id and x["batch"] == str(p["batch"])]
        per.append(attr.job_stats(jids, p["t"], p["t"] + trig, trig))
    return dict(
        batches=len(batches), latest_offset_ms=dur("latestOffset"),
        get_batch_ms=dur("getBatch"), planning_ms=dur("queryPlanning"),
        add_batch_ms=dur("addBatch"), wal_commit_ms=dur("walCommit"),
        commit_ms=dur("commitOffsets"),
        jobs_per_batch=mean([x["jobs"] for x in per]),
        driver_gap_ms=mean([x["driver_gap_ms"] for x in per]),
        task_ms=mean([x["task_ms"] for x in per]),
        state_rows=max([sum(s["rows"] for s in p["state"]) for p in batches],
                       default=0),
        state_mb=max([sum(s["mem"] for s in p["state"]) for p in batches],
                     default=0) / 1e6,
        state_commit_ms=mean([sum(s["commit_ms"] for s in p["state"])
                              for p in batches]),
        trigger_ms=[(p["t"], p["t"] + p["dur"].get("triggerExecution", 0))
                    for p in batches])


def per_layer(workload, rec, events):
    """Every per-layer metric of BENCHMARK.json (metrics of the layers this
    workload does not exercise read 0) and a per-span summary."""
    attr = Attribution(events)
    out = dict.fromkeys(per_layer_names(), 0.0)
    t0, t1 = rec["timed_t0"], rec["timed_t1"]
    timed = [s for s in attr.spans.values() if s["t0"] >= t0]
    top = [s for s in timed if s["parent"] == 0]
    summary = {"spans": [dict(name=s["name"], req=s["req"],
                              **attr.stats(s["id"])) for s in timed],
               "unattributed_jobs": sum(1 for j in attr.jobs.values()
                                        if not j["span"] and not j["query"])}
    cores = rec["cores"]
    if workload == "board":
        fam = {q["name"]: ("store" if q["store"] else q["family"])
               for q in rec["queries"]}
        by = {}
        for s in top:
            if s["name"] == "query":
                by.setdefault(fam[s["req"]], []).append(attr.stats(s["id"]))
        for f in BOARD_FAMILIES:
            st = by.get(f, [])
            wall = _sum(st, "wall_ms")
            out[f"board.{f}.busy_s"] = wall / 1e3
            out[f"board.{f}.jobs"] = _sum(st, "jobs")
            out[f"board.{f}.driver_gap_s"] = _sum(st, "driver_gap_ms") / 1e3
            out[f"board.{f}.par_eff"] = (_sum(st, "task_ms") / (wall * cores)
                                         if wall else 0.0)
        allq = [x for st in by.values() for x in st]
        out["board.tasks"] = _sum(allq, "tasks")
        out["board.shuffle_mb"] = _sum(allq, "shuffle_b") / 1e6
        out["board.spill_mb"] = _sum(allq, "spill_b") / 1e6
        # the measured wall: everything but the untimed output checks
        covered = [(s["t0"], s["t1"]) for s in top if s["name"] == "query"]
        checks_ms = sum(q["t2"] - q["t1"] for q in rec["queries"])
        summary["coverage"] = (union_length(covered, t0, t1)
                               / (t1 - t0 - checks_ms))
    else:
        covered = {}
        for q in SUBSCRIPTIONS:
            sub = rec["subs"][q]
            prog = sub["progress"]
            st = _progress_stats(prog, attr, prog[0]["query_id"])
            covered[q] = st.pop("trigger_ms")
            for k, v in st.items():
                out[f"stream.{q}.{k}"] = v
            out[f"stream.{q}.backlog_end_rows"] = sub["backlog_end_rows"]
        w = rec["subs"]["window"]
        out["stream.window.late_drop_ratio"] = w["dropped"] / w["rows"]
        out["stream.window.dup_drop_ratio"] = w["dups"] / w["rows"]
        subs = rec["subs"].values()
        out["stream.gen.lag_max_s"] = max(s["lag_max_s"] for s in subs)
        out["stream.gen.rows"] = sum(s["offered_rows"] for s in subs)
        # the rest of a subscription's wall time is idle, waiting for the
        # generator's next segment
        summary["coverage"] = {q: union_length(c) / (c[-1][1] - c[0][0])
                               for q, c in covered.items()}
        summary["emit_p90_s"] = {q: percentile(s["latencies"], 0.9)
                                 for q, s in rec["subs"].items()}
    return out, summary
