"""Pure metric arithmetic: latency statistics, failure accounting, span
assembly from the harness's raw records, span self time, and the
per-layer metrics. No I/O, so the tests can drive it directly."""
import math
import statistics

P90_MIN_SAMPLES = 100


def median(xs):
    return statistics.median(xs) if xs else None


def p90(xs):
    """90th percentile (nearest rank), or None with fewer than
    P90_MIN_SAMPLES samples: a p90 needs at least ten samples beyond it."""
    if len(xs) < P90_MIN_SAMPLES:
        return None
    s = sorted(xs)
    return s[math.ceil(0.9 * len(s)) - 1]


def latencies(ops, kind):
    """Latency samples (s) of the operations of `kind` that succeeded;
    a failed operation, thrown or failing its check, adds none."""
    return [(o["end_us"] - o["start_us"]) / 1e6
            for o in ops if o["kind"] == kind and o["verdict"] == "pass"]


def failed_share(ops):
    failed = sum(1 for o in ops if o["verdict"] != "pass")
    return failed, len(ops), (failed / len(ops) if ops else 0.0)


def pass_seconds(ops):
    """Query workloads: one pass over the key set, as the sum over keys
    of each key's median latency."""
    by_key = {}
    for o in ops:
        if o["kind"] == "query" and o["verdict"] == "pass":
            by_key.setdefault(o["key"], []).append((o["end_us"] - o["start_us"]) / 1e6)
    return sum(statistics.median(v) for v in by_key.values()) if by_key else None


# ------------------------------------------------------------------ spans

def union_us(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    iv = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            iv.append((s, e))
    iv.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its children cover. Returns {span id: microseconds}."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - union_us(kids.get(s["id"], []), s["start_us"], s["end_us"])
            for s in spans}


def job_class(job, stages):
    """Ingest phase of a job, from the call site of the action that
    started it: a job of a write is `write`; one under the CSV source is
    `parse`; any other read in the importer (the live-lake schema merge)
    is `evolve`."""
    text = " ".join([job.get("sql_details", "")] + [st["name"] + " " + st["details"] for st in stages])
    if "DataFrameWriter" in text or any(st["output_bytes"] > 0 for st in stages):
        return "write"
    if "CsvSource" in text:
        return "parse"
    if "Ingest" in text:
        return "evolve"
    return "other"


def build_spans(ops, records):
    """Assemble the span tree: each operation is a root span; a query
    has `construct` and `collect` children; Catalyst phases nest by time
    under the child that holds them; jobs nest under the child they were
    tagged with; stages nest under their job. All spans of one operation
    share its trace id."""
    spans = []
    nid = [0]

    def add(parent, trace, name, s, e, **attrs):
        nid[0] += 1
        spans.append({"id": nid[0], "parent": parent, "trace": trace, "name": name,
                      "start_us": s, "end_us": e, "attrs": attrs})
        return nid[0]

    stages_by_job = {}
    for st in records["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    jobs_by_op = {}
    for j in records["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    phases = sorted(records["phases"], key=lambda p: p["start_ms"])

    for o in ops:
        root = add(None, o["id"], o["kind"], o["start_us"], o["end_us"], key=o["key"])
        children = {}
        if o["kind"] == "query" and o.get("split_us", -1) > 0:
            children["construct"] = add(root, o["id"], "construct", o["start_us"], o["split_us"])
            children["exec"] = add(root, o["id"], "collect", o["split_us"], o["end_us"])

        def holder(t_us):
            for name, lo, hi in (("construct", o["start_us"], o.get("split_us", -1)),
                                 ("exec", o.get("split_us", -1), o["end_us"])):
                if name in children and lo <= t_us < hi:
                    return children[name]
            return root

        # phases are reported in whole milliseconds: allow 1 ms of slack
        for p in phases:
            s, e = p["start_ms"] * 1000, p["end_ms"] * 1000
            if o["start_us"] - 1000 <= s and e <= o["end_us"] + 1000:
                add(holder(s), o["id"], "catalyst." + p["name"], s, e)
        for j in jobs_by_op.get(o["id"], []):
            sts = stages_by_job.get(j["id"], [])
            end = j["end_ms"] if j["end_ms"] > 0 else o["end_us"] // 1000
            jid = add(children.get(j["phase"], root), o["id"], "job", j["start_ms"] * 1000,
                      end * 1000, job=j["id"], cls=job_class(j, sts))
            for st in sts:
                if st["start_ms"] > 0 and st["end_ms"] > 0:
                    add(jid, o["id"], "stage", st["start_ms"] * 1000, st["end_ms"] * 1000,
                        stage=st["id"], tasks=st["tasks"])
    return spans


def layer_self_ms(spans):
    """Self time summed per layer name (catalyst phases kept apart)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1000.0
    return out


# -------------------------------------------------------------- per layer

PER_LAYER = {
    "tables.construct_ms": "ms", "tables.construct_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.busy_share": "ratio", "exec.scan_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.task_skew": "ratio",
    "ingest.parse_ms": "ms", "ingest.evolve_ms": "ms", "ingest.write_ms": "ms",
    "ingest.driver_ms": "ms", "ingest.jobs_per_tick": "count",
    "ingest.rows_read_per_loaded": "ratio", "ingest.lake_files": "count",
    "ingest.lake_bytes_per_csv_byte": "ratio",
    "audit.ms": "ms", "jdbc.ms": "ms", "jdbc.rows": "count",
    "trace.pass_s": "s", "trace.op_p50_s": "s",
}


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(ops, records, cores, extra):
    """Every per-layer metric; a layer that does not run on the workload
    reads 0. `extra` carries lake and plan figures from the run."""
    m = {k: 0.0 for k in PER_LAYER}
    stages_by_job = {}
    for st in records["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    jobs_by_op = {}
    for j in records["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    phases = records["phases"]
    main = [o for o in ops if o["kind"] in ("query", "tick") and o["verdict"] == "pass"]

    def job_iv(j, o):
        end = j["end_ms"] * 1000 if j["end_ms"] > 0 else o["end_us"]
        return (j["start_ms"] * 1000, end)

    exec_ms, runs, skews = [], 0.0, []
    per = {k: [] for k in ("jobs", "stages", "tasks", "scan", "sw", "sr", "spill",
                           "analysis", "optimization", "planning")}
    for o in main:
        js = jobs_by_op.get(o["id"], [])
        sts = [st for j in js for st in stages_by_job.get(j["id"], [])]
        exec_ms.append(union_us([job_iv(j, o) for j in js], o["start_us"], o["end_us"]) / 1000)
        runs += sum(st["run_ms"] for st in sts)
        per["jobs"].append(len(js))
        per["stages"].append(len(sts))
        per["tasks"].append(sum(st["tasks"] for st in sts))
        per["scan"].append(sum(x["bytes"] for x in records["scans"]
                               if o["start_us"] <= x["at_ms"] * 1000 < o["end_us"] + 1000) / 1e6)
        per["sw"].append(sum(st["shuffle_write_bytes"] for st in sts) / 1e6)
        per["sr"].append(sum(st["shuffle_read_bytes"] for st in sts) / 1e6)
        per["spill"].append(sum(st["spill_bytes"] for st in sts) / 1e6)
        for ph in ("analysis", "optimization", "planning"):
            per[ph].append(sum(p["end_ms"] - p["start_ms"] for p in phases
                               if p["name"] == ph
                               and o["start_us"] - 1000 <= p["start_ms"] * 1000
                               and p["end_ms"] * 1000 <= o["end_us"] + 1000))
        longest = max((st for st in sts if st["task_ms"]),
                      key=lambda st: st["end_ms"] - st["start_ms"], default=None)
        if longest is not None:
            skews.append(max(longest["task_ms"]) / max(1.0, statistics.median(longest["task_ms"])))

    m["exec.ms"] = _mean(exec_ms)
    m["exec.jobs"] = _mean(per["jobs"])
    m["exec.stages"] = _mean(per["stages"])
    m["exec.tasks"] = _mean(per["tasks"])
    m["exec.busy_share"] = runs / (sum(exec_ms) * cores) if exec_ms and sum(exec_ms) else 0.0
    m["exec.scan_mb"] = _mean(per["scan"])
    m["exec.shuffle_write_mb"] = _mean(per["sw"])
    m["exec.shuffle_read_mb"] = _mean(per["sr"])
    m["exec.spill_mb"] = _mean(per["spill"])
    m["exec.task_skew"] = statistics.median(skews) if skews else 0.0
    m["catalyst.analysis_ms"] = _mean(per["analysis"])
    m["catalyst.optimize_ms"] = _mean(per["optimization"])
    m["catalyst.plan_ms"] = _mean(per["planning"])

    queries = [o for o in main if o["kind"] == "query"]
    if queries:
        m["tables.construct_ms"] = _mean([(o["split_us"] - o["start_us"]) / 1000 for o in queries])
        m["tables.construct_jobs"] = _mean([sum(1 for j in jobs_by_op.get(o["id"], [])
                                                if j["phase"] == "construct") for o in queries])
    ticks = [o for o in ops if o["kind"] == "tick"]
    if ticks:
        cls = {"parse": [], "evolve": [], "write": []}
        driver, njobs, read = [], [], 0
        for o in ticks:
            js = jobs_by_op.get(o["id"], [])
            acc = {"parse": 0.0, "evolve": 0.0, "write": 0.0}
            for j in js:
                sts = stages_by_job.get(j["id"], [])
                c = job_class(j, sts)
                s, e = job_iv(j, o)
                if c in acc:
                    acc[c] += (e - s) / 1000
                if c == "parse":
                    read += sum(st["input_records"] for st in sts)
            for c in cls:
                cls[c].append(acc[c])
            njobs.append(len(js))
            wall = o["end_us"] - o["start_us"]
            driver.append((wall - union_us([job_iv(j, o) for j in js], o["start_us"], o["end_us"])) / 1000)
        m["ingest.parse_ms"] = _mean(cls["parse"])
        m["ingest.evolve_ms"] = _mean(cls["evolve"])
        m["ingest.write_ms"] = _mean(cls["write"])
        m["ingest.driver_ms"] = _mean(driver)
        m["ingest.jobs_per_tick"] = _mean(njobs)
        want = extra.get("expected_loaded", 0)
        m["ingest.rows_read_per_loaded"] = read / want if want else 0.0
        m["ingest.lake_files"] = float(extra.get("lake_files", 0))
        if extra.get("csv_bytes"):
            m["ingest.lake_bytes_per_csv_byte"] = extra.get("lake_bytes", 0) / extra["csv_bytes"]
    for o in ops:
        if o["kind"] == "audit":
            m["audit.ms"] = (o["end_us"] - o["start_us"]) / 1000
        if o["kind"] == "jdbc":
            m["jdbc.ms"] = (o["end_us"] - o["start_us"]) / 1000
            m["jdbc.rows"] = float(sum(c["landed"][0] for c in o.get("check", {}).values()))
    return m
