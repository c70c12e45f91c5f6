"""Metric code of the benchmark: turns the runner's spans and Spark listener
aggregates into the end-to-end and per-layer metrics.

Pure functions over plain data, so the rules are unit-tested on their own
(see test_metrics.py): the percentile rule, the interval union behind
``driver_only_s``, SQL-execution call-site attribution and the ratio bases.
"""
import math
import re
import statistics

# --- metric catalogue -------------------------------------------------------

END_TO_END = [
    ("setup_s", "s"),
    ("items_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
    ("disk_bytes_per_item", "B"),
]

# query of the mix -> module under ops/ (or the frontier module it calls)
QUERY_MODULE = {
    "q_dedup_clusters": "Dedup", "q_graph_hits": "GraphOps",
    "q_search_fuzzy": "SearchOps", "q_event_sessionize": "EventOps",
    "q_event_funnel": "EventOps", "q_event_quantiles": "EventOps",
    "q_text_colloc": "TextOps", "q_sample_budget": "Sampling",
    "q_sim_recall": "Similarity", "q_mm_tokens": "Multimodal",
    "q_url_normalize": "frontier",
}
OPS_MODULES = ["Dedup", "GraphOps", "SearchOps", "EventOps", "TextOps",
               "Sampling", "Similarity", "Multimodal", "frontier"]
OPS_FIELDS = [("cold_s", "s"), ("warm_s", "s"), ("spark_jobs", "count"),
              ("shuffle_bytes", "B"), ("driver_only_s", "s")]

STORE_TABLES = ["frontier", "seen", "docs"]

PER_LAYER = [
    ("loop.op_samples", "count"),
    ("loop.op_p50_s", "s"),
    ("loop.op_tail_pct", "%"),
    ("loop.op_tail_s", "s"),
    ("crawl.init_s", "s"),
    ("crawl.round.sql_actions", "count"),
    ("crawl.round.spark_jobs", "count"),
    ("crawl.round.tasks", "count"),
    ("crawl.round.driver_only_s", "s"),
    ("crawl.round.task_busy_s", "s"),
    ("crawl.round.shuffle_bytes", "B"),
    ("crawl.round.spill_bytes", "B"),
    ("crawl.round.input_rows_per_page", "rows/page"),
    ("crawl.round.failed_tasks", "count"),
    ("frontier.store.sql_actions_per_round", "count"),
    ("frontier.store.busy_s_per_round", "s"),
    ("frontier.seen.busy_s_per_round", "s"),
    ("frontier.store.files_per_round", "count"),
] + [("frontier.store.bytes_per_round.%s" % t, "B") for t in STORE_TABLES] + [
    ("frontier.store.live_segments", "count"),
    ("frontier.store.live_tombstone_dirs", "count"),
    ("frontier.store.compactions", "count"),
    ("frontier.claim_s", "s"),
    ("frontier.filter_new_s", "s"),
    ("extract.rows_per_s", "rows/s"),
    ("functions.url_canon_rows_per_s", "rows/s"),
] + [("ops.%s.%s" % (m, f), u) for m in OPS_MODULES for f, u in OPS_FIELDS] + [
    ("trace.overhead_ratio", "ratio"),
]

# --- statistics -------------------------------------------------------------


def supported_percentile(n, candidates=(99, 95, 90, 75, 50), beyond=10):
    """The highest candidate percentile with at least `beyond` of `n`
    samples above it, or None when even the median is not supported."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of (start, end) intervals, each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_only(span_start, span_end, job_intervals):
    """Span wall time during which no Spark job was active."""
    return (span_end - span_start) - union_length(job_intervals, span_start, span_end)


_CALL_SITE = re.compile(r"\bat ([A-Za-z0-9_$]+\.(?:scala|java)):\d+")


def call_site_file(description):
    """Source file of a SQL execution description such as
    'parquet at FrontierStore.scala:262', or None."""
    m = _CALL_SITE.search(description or "")
    return m.group(1) if m else None


def ratio(num, den):
    """num/den, or 0.0 when there is no base to divide by."""
    return num / den if den else 0.0


# --- span tree ----------------------------------------------------------------


class Run:
    """Indexed view of one runner result file."""

    def __init__(self, result):
        self.spans = result["spans"]
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = {}
        for s in self.spans:
            self.children.setdefault(s["parent"], []).append(s)

    @staticmethod
    def dur(s):
        return (s["end_ms"] - s["start_ms"]) / 1000.0

    def named(self, name, under=None):
        out = [s for s in self.spans if s["name"] == name]
        return [s for s in out if under is None or self.within(s, under)]

    def within(self, s, ancestor):
        p = s["parent"]
        while p:
            if p == ancestor["id"]:
                return True
            p = self.by_id[p]["parent"]
        return False

    def leg(self, name):
        legs = self.named(name)
        return legs[0] if legs else None

    def steps(self, leg):
        return [s for s in self.children.get(leg["id"], []) if s["name"] == "step"]

    def ops(self, leg, in_steps=True):
        """round spans (crawl) or query spans (query mix) of a leg."""
        roots = self.steps(leg) if in_steps else [leg]
        out = []
        for root in roots:
            for s in self.spans:
                if self.within(s, root) and (
                        (s["name"] == "crawl.round" and "claimed" in s["attrs"])
                        or s["name"].startswith("query.")):
                    out.append(s)
        return sorted(out, key=lambda s: s["start_ms"])


# --- end-to-end ----------------------------------------------------------------


def end_to_end(result):
    run = Run(result)
    plain = run.leg("leg.plain")
    spark_ready = run.named("setup.spark")[0]["end_ms"]
    input_s = [Run.dur(s) for s in run.named("setup.input")]
    warmup_s = sum(Run.dur(s) for s in run.named("warmup", plain))
    setup_s = ((spark_ready - result["jvm_start_ms"]) / 1000.0
               + statistics.median(input_s) + warmup_s)
    steps = run.steps(plain)
    step_s = sum(Run.dur(s) for s in steps)
    items = sum(s["attrs"].get("items", 0.0) for s in steps)
    checks = run.named("check", plain)
    disk = sum(s["attrs"].get("disk_bytes", 0.0) for s in checks)
    unit_items = sum(s["attrs"].get("items", 0.0) for s in checks)
    return {
        "setup_s": setup_s,
        "items_per_s": ratio(items, step_s),
        "peak_rss_mb": result["peak_rss_kb"] / 1024.0,
        "disk_bytes_per_item": ratio(disk, unit_items),
    }


def op_summary(result):
    """sample count, median, and the highest supported percentile with its
    latency, of the plain leg's timed ops."""
    run = Run(result)
    ops = [Run.dur(s) for s in run.ops(run.leg("leg.plain"))]
    p = supported_percentile(len(ops))
    return len(ops), statistics.median(ops), p, (percentile(ops, p) if p else None)


# --- per-layer ---------------------------------------------------------------


class SparkWork:
    """Listener aggregates joined up: stages to jobs, jobs to executions."""

    def __init__(self, spark):
        spark = spark or {"jobs": [], "stages": [], "executions": []}
        self.jobs = spark["jobs"]
        self.stages = {s["id"]: s for s in spark["stages"]}
        self.execs = {e["id"]: e for e in spark["executions"]}
        # a stage's tasks count once, for the first job that lists it
        owner = {}
        for j in sorted(self.jobs, key=lambda j: j["id"]):
            for st in j["stages"]:
                owner.setdefault(st, j["id"])
        self.job_stages = {}
        for st, jid in owner.items():
            if st in self.stages:
                self.job_stages.setdefault(jid, []).append(self.stages[st])

    def in_span(self, span, slack_ms=1.0):
        return [j for j in self.jobs
                if span["start_ms"] - slack_ms <= j["start_ms"] <= span["end_ms"]]

    def root_exec(self, job):
        e = self.execs.get(job["exec"])
        if e is None:
            return None
        return self.execs.get(e["root"], e)

    def call_site(self, job):
        e = self.root_exec(job)
        return call_site_file(e["description"]) if e else None

    def totals(self, jobs):
        t = {"tasks": 0, "failed": 0, "busy_s": 0.0, "shuffle": 0, "spill": 0,
             "input_records": 0}
        for j in jobs:
            for st in self.job_stages.get(j["id"], []):
                t["tasks"] += st["tasks"]
                t["failed"] += st["failed"]
                t["busy_s"] += st["busy_ms"] / 1000.0
                t["shuffle"] += st["shuffle_write"]
                t["spill"] += st["spill"]
                t["input_records"] += st["input_records"]
        return t

    def sql_actions(self, jobs):
        return len({self.root_exec(j)["id"] for j in jobs if self.root_exec(j)})


def _store_after(run, rounds):
    """the trace.store span that follows each round span."""
    stores = sorted(run.named("trace.store"), key=lambda s: s["start_ms"])
    out = []
    for r in rounds:
        nxt = [s for s in stores if s["start_ms"] >= r["end_ms"]]
        out.append(nxt[0] if nxt else None)
    return out


def per_layer(result):
    run = Run(result)
    work = SparkWork(result.get("spark"))
    m = {name: 0.0 for name, _ in PER_LAYER}

    n, med, p, tail = op_summary(result)
    m["loop.op_samples"] = float(n)
    m["loop.op_p50_s"] = med
    m["loop.op_tail_pct"] = float(p or 0)
    m["loop.op_tail_s"] = tail or 0.0

    traced, base = run.leg("leg.traced"), run.leg("leg.base")
    m["trace.overhead_ratio"] = ratio(
        sum(Run.dur(s) for s in run.steps(traced)),
        sum(Run.dur(s) for s in run.steps(base)))

    rounds = [s for s in run.ops(traced) if s["name"] == "crawl.round"]
    if rounds:
        k = len(rounds)
        pages = sum(s["attrs"]["claimed"] for s in rounds)
        jobs_of = [work.in_span(r) for r in rounds]
        all_jobs = [j for js in jobs_of for j in js]
        t = work.totals(all_jobs)
        inits = run.named("crawl.init", traced)
        m["crawl.init_s"] = statistics.mean(Run.dur(s) for s in inits)
        m["crawl.round.sql_actions"] = ratio(sum(work.sql_actions(js) for js in jobs_of), k)
        m["crawl.round.spark_jobs"] = ratio(len(all_jobs), k)
        m["crawl.round.tasks"] = ratio(t["tasks"], k)
        m["crawl.round.driver_only_s"] = statistics.mean(
            driver_only(r["start_ms"], r["end_ms"],
                        [(j["start_ms"], j["end_ms"]) for j in js]) / 1000.0
            for r, js in zip(rounds, jobs_of))
        m["crawl.round.task_busy_s"] = ratio(t["busy_s"], k)
        m["crawl.round.shuffle_bytes"] = ratio(t["shuffle"], k)
        m["crawl.round.spill_bytes"] = ratio(t["spill"], k)
        m["crawl.round.input_rows_per_page"] = ratio(t["input_records"], pages)
        m["crawl.round.failed_tasks"] = float(t["failed"])

        store_jobs = [j for j in all_jobs if work.call_site(j) == "FrontierStore.scala"]
        seen_jobs = [j for j in all_jobs if work.call_site(j) == "SeenSet.scala"]
        m["frontier.store.sql_actions_per_round"] = ratio(
            sum(work.sql_actions([j for j in js if j in store_jobs]) for js in jobs_of), k)
        m["frontier.store.busy_s_per_round"] = ratio(work.totals(store_jobs)["busy_s"], k)
        m["frontier.seen.busy_s_per_round"] = ratio(work.totals(seen_jobs)["busy_s"], k)

        stores = [s for s in _store_after(run, rounds) if s]
        if stores:
            a = [s["attrs"] for s in stores]
            m["frontier.store.files_per_round"] = statistics.mean(x["files_new"] for x in a)
            for tname in STORE_TABLES:
                m["frontier.store.bytes_per_round.%s" % tname] = statistics.mean(
                    x["bytes_new.%s" % tname] for x in a)
            m["frontier.store.live_segments"] = statistics.mean(x["live_segments"] for x in a)
            m["frontier.store.live_tombstone_dirs"] = statistics.mean(
                x["live_tombstone_dirs"] for x in a)
            m["frontier.store.compactions"] = float(sum(x.get("compaction", 0) for x in a))

    # operator replays at data volume (crawl traced run): median of three reps
    def replay(name):
        xs = run.named(name)
        if not xs:
            return None, None
        return statistics.median(Run.dur(s) for s in xs), xs[0]["attrs"]["rows"]

    for metric, name, as_rate in [
            ("frontier.claim_s", "replay.frontier.claim", False),
            ("frontier.filter_new_s", "replay.frontier.filter_new", False),
            ("extract.rows_per_s", "replay.extract.extract", True),
            ("functions.url_canon_rows_per_s", "replay.functions.url_canon", True)]:
        sec, rows = replay(name)
        if sec is not None:
            m[metric] = ratio(rows, sec) if as_rate else sec

    # query mix: cold from the plain leg's first pass (the JVM's first),
    # warm from the untraced baseline leg, Spark work from the traced leg
    def queries(leg):
        return [s for s in run.ops(leg) if s["name"].startswith("query.")] if leg else []

    def first_pass(qs):
        if not qs:
            return []
        p0 = min(s["attrs"]["pass"] for s in qs)
        return [s for s in qs if s["attrs"]["pass"] == p0]

    def per_pass(qs, fn):
        passes = sorted({s["attrs"]["pass"] for s in qs})
        return ratio(sum(fn(s) for s in qs), len(passes))

    cold = first_pass(queries(run.leg("leg.plain")))
    warm = queries(base)
    traced_q = queries(traced)
    for mod in OPS_MODULES:
        def of(qs):
            return [s for s in qs if QUERY_MODULE.get(s["name"][6:]) == mod]
        if not of(cold):
            continue
        pre = "ops.%s." % mod
        m[pre + "cold_s"] = sum(Run.dur(s) for s in of(cold))
        m[pre + "warm_s"] = per_pass(of(warm), Run.dur)
        m[pre + "spark_jobs"] = per_pass(of(traced_q), lambda s: len(work.in_span(s)))
        m[pre + "shuffle_bytes"] = per_pass(
            of(traced_q), lambda s: work.totals(work.in_span(s))["shuffle"])
        m[pre + "driver_only_s"] = per_pass(of(traced_q), lambda s: driver_only(
            s["start_ms"], s["end_ms"],
            [(j["start_ms"], j["end_ms"]) for j in work.in_span(s)]) / 1000.0)
    return m
