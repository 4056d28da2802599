#!/usr/bin/env python3
"""Benchmark of the graft program: one closed-loop workload per run.

    python3 perfbench/run.py --workload <lake_sql|llm_pipeline|ingest_ticks>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (see
build.py), runs the workload in a fresh JVM on local[<cpus>] with one
driver thread, checks every operation's output, and prints the metrics;
the last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). Records, traces and per-layer
summaries go to .bench_out/; scratch files live in .bench_run/ and are
removed at exit. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics as M  # noqa: E402


def fixture_dir():
    """The sf0.1 parquet fixture: $SPARK_GRAFT_SF_DIR when set, else the
    sf0.1 row of the repository's TESTDATA.md."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    path = os.path.join(ROOT, "TESTDATA.md")
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                cells = [c.strip(" `") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == "0.1":
                    return cells[2].rstrip("/")
    return ""


SF_DIR = fixture_dir()
TIME_LIMIT_S = 175
JVM_HEAP = "3g"

# Key sets are fixed subsets of the key families, sized so that a run
# holds several passes; lake_sql's subset matches the construction and
# Catalyst shares of the whole tpch_/ts_ family (see README.md, "Sizes").
WORKLOADS = {
    "lake_sql": {
        "kind": "query",
        "keys": ["tpch_q3", "tpch_q16", "ts_ccf", "ts_gapfill_locf", "ts_spectral_peak"],
        "tables": ["customer", "orders", "lineitem", "part", "supplier", "events"],
        "pass_est_s": 4.5,
        "warm_passes": 2,
        "rows_only": {},
    },
    "llm_pipeline": {
        "kind": "query",
        "keys": ["dedup_simhash", "ann_ivf_topk", "multimodal_phash_dedup"],
        "tables": ["documents", "embeddings"],
        "pass_est_s": 3.5,
        "warm_passes": 2,
        # rows-only keys: row counts recorded at the seed on sf0.1
        "rows_only": {"multimodal_phash_dedup": 7},
    },
    "ingest_ticks": {"kind": "ingest"},
}
# ticks per run: most take 0.4-0.7 s on 4 cores, so a run measures
# roughly --seconds of ticks before the audit and the JDBC landing
TICKS_PER_SECOND = 1.5

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"), ("peak_rss_mb", "MB")]


def read_json(path):
    with open(path) as f:
        return json.load(f)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_rev():
    """The checked-out commit, or None outside a git work tree."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    except OSError:
        return None
    return r.stdout.strip() or None


def key_orders(keys, seed, n):
    """Seeded key order for each pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        ks = list(keys)
        rng.shuffle(ks)
        out.append(ks)
    return out


def java_cmd(b, cfg_path, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([b["harness"], b["classes"], os.path.join(b["jars"], "*")])
    return cmd + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
                  f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dderby.stream.error.file={work}/derby.log",
                  "-cp", cp, "perfbench.Harness", cfg_path]


def check_query_ops(raw, wl, oracle):
    dumped = {d["key_hash"]: d["dir"] for d in raw.get("dumped", [])}
    sqls = raw["oracle_sql"]
    for o in raw["ops"]:
        if not o["ok"]:
            o["verdict"] = "fail: " + (o["error"] or "threw")
        elif o["key"] in wl["rows_only"]:
            want = wl["rows_only"][o["key"]]
            o["verdict"] = "pass" if o["rows"] == want else f"fail: {o['rows']} rows, recorded {want}"
        elif o["key"] not in sqls:
            o["verdict"] = "fail: no oracle and no recorded row count"
        else:
            kh = f"{o['key']}|{o['hash']}"
            v = oracle.verdicts.get(kh)
            if v is None:
                v = oracle.compare(kh, sqls[o["key"]], dumped[kh]) if kh in dumped \
                    else "fail: result not dumped"
            o["verdict"] = v


# Defects of the program that the ingest feed shows at the seed. A failed
# operation whose every problem is one of these is still failed; it is
# named here so that `correct` can tell it from an unexpected one.
KNOWN_DEFECTS = {
    "part_glob": "CsvSource.read globs *.csv*, so an in-flight <batch>.csv.part is loaded "
                 "with the tick it sits beside, and loaded again once renamed",
    "manifest_only": "a table directory holding only its manifest fails the table with "
                     "PATH_NOT_FOUND, because the *.csv* glob matches no file",
}


def check_ingest_ops(raw, plan):
    """Verdict of every ingest operation. Each problem is (text, known
    defect or None); `known` is set on a failed operation whose problems
    all come from KNOWN_DEFECTS."""
    ticks, inflight = plan["ticks"], set(plan["inflight_ticks"])
    extra_loaded = 0
    for o in raw["ops"]:
        problems = [] if o["ok"] else [(o["error"] or "threw", None)]
        if o["kind"] == "tick":
            i = int(o["id"][1:])
            expect = ticks[i]["expect"]
            reps = {r["table"]: r for r in o["reports"]}
            # a correct importer may skip a table that has no data file
            missing = [t for t, e in expect.items() if e["files"] and t not in reps]
            unexpected = [t for t in reps if t not in expect]
            if missing or unexpected:
                problems.append((f"tables missing {missing}, unexpected {unexpected}", None))
            for t, e in expect.items():
                r = reps.get(t)
                if r is None:
                    continue
                if r["failed"]:
                    known = "manifest_only" if not e["files"] and "PATH_NOT_FOUND" in r["failed"] \
                        else None
                    problems.append((f"{t} failed: {r['failed'][:160]}", known))
                for k in ("loaded", "rejected", "files", "evolved"):
                    if r[k] != e[k]:
                        more = k in ("loaded", "rejected") and r[k] > e[k]
                        problems.append((f"{t} {k} {r[k]} != expected {e[k]}",
                                         "part_glob" if i in inflight and more else None))
                if i in inflight and r["loaded"] > e["loaded"]:
                    extra_loaded += r["loaded"] - e["loaded"]
                for f in e["files"]:
                    if f"{t}/{f}" not in o["archive"] or f"{t}/{f}" in o["upload"]:
                        problems.append((f"{t}/{f} not archived", None))
        elif o["kind"] == "audit":
            for t, want in o["expected"].items():
                got = o["audit"].get(t)
                if got != want:
                    # the rows loaded from in-flight files are in the lake twice
                    known = "part_glob" if t == "metrics" and extra_loaded and got \
                        and got[0] == want[0] + extra_loaded else None
                    problems.append((f"lake {t} (n, checksum) {got} != expected {want}", known))
        elif o["kind"] == "jdbc":
            for t, c in o["check"].items():
                if c["landed"] != c["read_back"]:
                    problems.append((f"{t} read-back {c['read_back']} != landed {c['landed']}", None))
            if not o["check"]:
                problems.append(("nothing landed", None))
        o["verdict"] = "pass" if not problems else "fail: " + "; ".join(p for p, _ in problems)
        kinds = {k for _, k in problems}
        o["known"] = sorted(kinds) if problems and None not in kinds else None


def correct(ops):
    """True when every operation passed its check or failed only through
    the known defects of KNOWN_DEFECTS."""
    return bool(ops) and all(o["verdict"] == "pass" or o.get("known") for o in ops)


def end_to_end(raw, kind):
    """The gated metrics, from the program's own operation intervals only:
    a query pass is the sum of each key's median latency, an ingest pass
    the sum of its tick, audit and JDBC intervals."""
    ops = raw["ops"]
    if kind == "query":
        lat = M.latencies(ops, "query")
        pass_s = M.pass_seconds(ops)
    else:
        lat = M.latencies(ops, "tick")
        pass_s = sum(o["end_us"] - o["start_us"] for o in ops) / 1e6
    return {"setup_s": raw["setup_s"], "pass_s": pass_s,
            "op_p50_s": M.median(lat), "peak_rss_mb": raw["peak_rss_mb"]}, lat


def extras(raw, kind, lat, plan):
    """Metrics outside the gated set, printed and recorded."""
    out = {"failed_share": M.failed_share(raw["ops"])[2], ("query_p90_s" if kind == "query" else "tick_p90_s"): M.p90(lat),
           "op_samples": len(lat)}
    if kind == "ingest":
        ops = {o["kind"]: o for o in raw["ops"] if o["kind"] in ("audit", "jdbc")}
        wall = sum(o["end_us"] - o["start_us"] for o in raw["ops"] if o["kind"] != "jdbc") / 1e6
        out["ingest_rows_per_s"] = plan["source_rows"] / wall
        out["ingest_mb_per_s"] = plan["csv_bytes"] / 1e6 / wall
        rows = sum(c["landed"][0] for c in ops["jdbc"]["check"].values())
        out["jdbc_rows_per_s"] = rows / ((ops["jdbc"]["end_us"] - ops["jdbc"]["start_us"]) / 1e6)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.time()
    wl = WORKLOADS[a.workload]
    if not SF_DIR or not os.path.isdir(SF_DIR):
        raise SystemExit(f"perfbench: sf0.1 fixture directory '{SF_DIR}' not found")

    b = build.build()
    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    try:
        return run(a, wl, b, work, out_dir, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(a, wl, b, work, out_dir, t_start):
    n = cpus()
    cfg = {"workload": a.workload, "kind": wl["kind"], "seed": a.seed, "seconds": a.seconds,
           "trace": bool(a.trace), "cores": n, "sf_dir": SF_DIR, "work_dir": work,
           "out": os.path.join(work, "raw.json")}
    plan, gen_s, oracle = None, 0.0, None
    if wl["kind"] == "query":
        import oracle as O
        oracle = O.Oracle(ROOT, SF_DIR, build.build_dir(), b["classes_sha256"])
        passes = max(3, math.ceil(a.seconds / wl["pass_est_s"]))
        orders = key_orders(wl["keys"], a.seed, wl["warm_passes"] + passes)
        cfg.update(keys=wl["keys"], tables=wl["tables"], passes=passes,
                   orders=orders[wl["warm_passes"]:], warm_orders=orders[:wl["warm_passes"]],
                   known=oracle.known(set(wl["keys"])))
    else:
        import gen
        t0 = time.time()
        ticks = max(8, int(round(a.seconds * TICKS_PER_SECOND)))
        plan = gen.generate(a.seed, ticks, SF_DIR, os.path.join(work, "gen"),
                            os.path.join(work, "ingest"))
        gen_s = time.time() - t0
        cfg["plan"] = os.path.join(work, "gen", "plan.json")
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)

    log = os.path.join(work, "jvm.log")
    budget = TIME_LIMIT_S - (time.time() - t_start)
    with open(log, "w") as lf:
        try:
            r = subprocess.run(java_cmd(b, cfg_path, work), cwd=work, stdout=lf,
                               stderr=subprocess.STDOUT, timeout=budget)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness exceeded {budget:.0f} s")
    if r.returncode != 0 or not os.path.exists(cfg["out"]):
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-3000:])
        raise SystemExit(f"perfbench: harness exited with {r.returncode}")
    raw = read_json(cfg["out"])

    if wl["kind"] == "query":
        check_query_ops(raw, wl, oracle)
        oracle.save()
    else:
        check_ingest_ops(raw, plan)
    e2e, lat = end_to_end(raw, wl["kind"])
    ext = extras(raw, wl["kind"], lat, plan)
    failed, attempted, _ = M.failed_share(raw["ops"])
    missing = [k for k, v in e2e.items() if v is None]
    if missing:
        for o in raw["ops"]:
            if o["verdict"] != "pass":
                sys.stderr.write(f"{o['id']} {o['key']}: {o['verdict'][:300]}\n")
        raise SystemExit(f"perfbench: no successful operation to measure {missing}")

    tag = f"{a.workload}-s{a.seed}"
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "provenance": {"git_rev": git_rev(), "classes_sha256": b["classes_sha256"],
                       "source_sha256": b["source_sha256"], "nproc": n,
                       "jdk": raw["java_version"], "spark": raw["spark_version"],
                       "sf_dir": SF_DIR},
        "generate_s": gen_s, "window_s": raw["window_s"],
        # set-up: (JVM start to session, table or ingest warm-up, warm passes)
        "setup_parts_s": raw["setup_parts_s"],
        "passes": raw["passes"], "end_to_end": e2e, "extra": ext,
        "latency_s": [[o["key"], (o["end_us"] - o["start_us"]) / 1e6, o["verdict"] == "pass"]
                      for o in raw["ops"]],
        "attempted": attempted, "failed": failed,
        "failures": [{"op": o["id"], "key": o["key"], "known": o.get("known"),
                      "why": o["verdict"][:400]}
                     for o in raw["ops"] if o["verdict"] != "pass"],
    }
    if a.trace:
        records = raw["trace_records"]
        spans = M.build_spans(raw["ops"], records)
        extra = {"lake_files": raw.get("lake_files", 0), "lake_bytes": raw.get("lake_bytes", 0),
                 "csv_bytes": plan["csv_bytes"] if plan else 0,
                 "expected_loaded": sum(e["loaded"] for t in plan["ticks"]
                                        for e in t["expect"].values()) if plan else 0}
        layers = M.per_layer(raw["ops"], records, n, extra)
        layers["trace.pass_s"] = e2e["pass_s"]
        layers["trace.op_p50_s"] = e2e["op_p50_s"]
        record["per_layer"] = layers
        with open(os.path.join(out_dir, f"trace-{tag}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": spans}, f)
        summary = layer_summary(spans, layers, out_dir, tag, e2e)
        record["layer_summary"] = summary
        metrics = {k: {"value": layers[k], "unit": u} for k, u in M.PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    with open(os.path.join(out_dir, f"{tag}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    prov = record["provenance"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} nproc={n} "
          f"jdk={prov['jdk']} spark={prov['spark']} rev={prov['git_rev']} "
          f"classes={prov['classes_sha256'][:12]}")
    for k, u in E2E:
        print(f"  {k:<22} {e2e[k]:.4f} {u}")
    for k, v in ext.items():
        print(f"  {k:<22} {'omitted (<100 samples)' if v is None else f'{v:.4f}'}")
    if a.trace:
        for k, u in M.PER_LAYER.items():
            print(f"  {k:<32} {layers[k]:.4f} {u}")
    for fl in record["failures"][:10]:
        print(f"  FAILED {fl['op']} {fl['key']} (known: {fl['known']}): {fl['why'][:200]}")
    ok = correct(raw["ops"])
    known = sum(1 for fl in record["failures"] if fl["known"])
    print(f"  correct: {ok}; failed {failed} of {attempted} operations, "
          f"{known} of them through known defects")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def layer_summary(spans, layers, out_dir, tag, e2e):
    """Self time per layer, the per-layer metrics, and the tracing
    overhead against an untraced run of the same workload and seed."""
    self_ms = M.layer_self_ms(spans)
    total = sum(self_ms.values()) or 1.0
    summary = {"self_ms": self_ms, "self_share": {k: v / total for k, v in self_ms.items()},
               "per_layer": layers, "overhead": None}
    untraced = os.path.join(out_dir, f"{tag}-trace0.json")
    if os.path.exists(untraced):
        base = read_json(untraced)["end_to_end"]
        summary["overhead"] = {k: e2e[k] / base[k] - 1.0 for k in ("pass_s", "op_p50_s")}
    with open(os.path.join(out_dir, f"layers-{tag}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return summary


if __name__ == "__main__":
    sys.exit(main())
