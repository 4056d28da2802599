"""Seeded generator of the ingest_ticks inputs.

Renders rows of the fixture's lineitem table as a `metrics` CSV feed:
one batch per tick with its column-manifest sidecar, about 0.1%
malformed lines, about 1% exact in-batch duplicate lines, one tick where
the manifest gains a column, an in-flight `<batch>.csv.part` with a
truncated last line ahead of about one tick in five (completed and
renamed before the next tick), and a full-refresh `dims` table that gets
a new generation every DIMS_EVERY ticks.

The plan it returns lists, per tick, the upload actions to apply before
the tick and what a correct importer reports for it; the expected final
lake content is written as CSV, built here without the program's code.
The same seed gives the same bytes; the program sees only the files.
"""
import json
import os

import numpy as np
import pyarrow.parquet as pq

MANIFEST_V1 = [("id", "bigint"), ("ts", "timestamp"), ("host", "text"),
               ("flag", "text"), ("qty", "double precision"),
               ("price", "double precision"), ("disc", "numeric")]
MANIFEST_V2 = MANIFEST_V1 + [("tax", "double precision")]
DIMS_MANIFEST = [("id", "bigint"), ("host", "text"), ("region", "text"),
                 ("gen", "integer")]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIMS_ROWS = 1000
DIMS_EVERY = 6
BIG_BATCH = 50000
BIG_BATCHES = 2
SMALL_MIN, SMALL_MAX = 1000, 10000
MALFORMED_SHARE = 0.001
DUP_SHARE = 0.01
INFLIGHT_EVERY = 5
JDBC_SLICE_MOD = 100
WARM_TICKS = 4
WARM_ROWS = 20000


def manifest_text(cols):
    return "".join(f"{n},{t}\n" for n, t in cols)


def batch_sizes(ticks, inflight, dims_at, rng):
    """A fixed multiset of sizes, so every seed does the same work, in
    seeded order. Ticks that run with the next batch in flight and those
    next batches take fixed sizes from the multiset, so the work of each
    kind of tick and the rows in flight are the same for every seed too.
    The ticks with a new dims generation, the only ones a program with the
    defects the feed shows loads without failing, take fixed sizes in a
    fixed order: their latency samples are the same work for every seed."""
    n_small = ticks - BIG_BATCHES
    base = [int(round(SMALL_MIN + (SMALL_MAX - SMALL_MIN) * j / max(1, n_small - 1)))
            for j in range(n_small)] + [BIG_BATCH] * BIG_BATCHES
    fixed = {}
    for group, offset, order in ((inflight, 1, rng.permutation),
                                 ([i + 1 for i in inflight], 2, rng.permutation),
                                 (dims_at, 3, list)):
        picks = list(range(offset, ticks, INFLIGHT_EVERY))[:len(group)]
        for pos, j in zip(group, order(picks)):
            fixed[pos] = int(j)
    free_pos = [p for p in range(ticks) if p not in fixed]
    free_idx = [j for j in range(ticks) if j not in fixed.values()]
    sizes = [0] * ticks
    for pos, j in fixed.items():
        sizes[pos] = base[j]
    for pos, j in zip(free_pos, rng.permutation(free_idx)):
        sizes[pos] = base[int(j)]
    return sizes


def pick_inflight(ticks, evolve_at, dims_at, rng):
    """One tick in INFLIGHT_EVERY runs with the next batch in flight; no
    two such ticks are adjacent, and the batch in flight is never the one
    that changes the manifest (its header would not match yet). Neither
    the tick with a batch in flight nor the one that completes it gets a
    new dims generation, so every seed has the same mix of ticks."""
    chosen = []
    for i in rng.permutation(ticks - 1):
        i = int(i)
        if i + 1 != evolve_at and i - 1 not in chosen and i + 1 not in chosen \
                and i not in dims_at and i + 1 not in dims_at:
            chosen.append(i)
        if len(chosen) == ticks // INFLIGHT_EVERY:
            break
    return sorted(chosen)


def render(src, idx, with_tax, malformed=False):
    """CSV lines for source rows `idx`; a malformed line carries a
    non-numeric quantity."""
    ts = np.char.replace(np.datetime_as_string(src["ts"][idx], unit="s"), "T", " ")
    out = []
    for j, i in enumerate(idx):
        qty = "n/a" if malformed else repr(float(src["qty"][i]))
        fields = [str(int(i) + 1), ts[j], f"host-{int(src['supp'][i])}", src["flag"][i],
                  qty, repr(float(src["price"][i])), repr(float(src["disc"][i]))]
        if with_tax:
            fields.append(repr(float(src["tax"][i])))
        out.append(",".join(fields) + "\n")
    return out


def load_source(sf_dir):
    t = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"),
                      columns=["l_suppkey", "l_quantity", "l_extendedprice", "l_discount",
                               "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"])
    col = {n: t.column(n).to_numpy() for n in t.column_names}
    ship = col["l_shipdate"].astype("datetime64[s]")
    return {
        "supp": col["l_suppkey"], "qty": col["l_quantity"], "price": col["l_extendedprice"],
        "disc": col["l_discount"], "tax": col["l_tax"],
        "flag": np.char.add(col["l_returnflag"].astype(str), col["l_linestatus"].astype(str)),
        "ts": ship, "n": t.num_rows,
    }


def generate(seed, ticks, sf_dir, out_dir, upload_root):
    """Write the seed's inputs under out_dir and return the plan.
    `upload_root` is the importer's root directory (upload/ lake/
    archive/ live under it)."""
    if ticks < 4:
        raise ValueError("ingest_ticks needs at least 4 ticks")
    rng = np.random.default_rng(seed)
    src = load_source(sf_dir)
    dims_at = list(range(0, ticks, DIMS_EVERY))
    # the manifest changes on a tick without a new dims generation
    evolve_at = int(rng.choice([i for i in range(ticks // 3, 2 * ticks // 3 + 1)
                                if i not in dims_at]))
    inflight = pick_inflight(ticks, evolve_at, dims_at, rng)
    sizes = batch_sizes(ticks, inflight, dims_at, rng)
    n_malformed = [max(1, int(round(s * MALFORMED_SHARE))) for s in sizes]
    need = sum(sizes) + sum(n_malformed) + WARM_TICKS * WARM_ROWS
    if need > src["n"]:
        raise ValueError(f"{ticks} ticks need {need} source rows, fixture has {src['n']}")
    order = rng.permutation(src["n"])

    stage = os.path.join(out_dir, "stage")
    for d in ("metrics", "dims", "manifests"):
        os.makedirs(os.path.join(stage, d), exist_ok=True)
    mpath = {}
    for name, cols in (("v1", MANIFEST_V1), ("v2", MANIFEST_V2), ("dims", DIMS_MANIFEST)):
        mpath[name] = os.path.join(stage, "manifests", name + ".txt")
        with open(mpath[name], "w") as f:
            f.write(manifest_text(cols))

    up = os.path.join(upload_root, "upload")
    m_up, d_up = os.path.join(up, "metrics"), os.path.join(up, "dims")
    header = {False: ",".join(n for n, _ in MANIFEST_V1) + "\n",
              True: ",".join(n for n, _ in MANIFEST_V2) + "\n"}
    cursor = 0
    batches = []
    expected_lines = []
    csv_bytes = 0
    for i, size in enumerate(sizes):
        with_tax = i >= evolve_at
        valid = order[cursor:cursor + size]
        cursor += size
        bad = order[cursor:cursor + n_malformed[i]]
        cursor += n_malformed[i]
        lines = render(src, valid, with_tax)
        dups = [lines[j] for j in rng.choice(len(lines), size=int(round(size * DUP_SHARE)),
                                             replace=False)]
        body = lines + dups + render(src, bad, with_tax, malformed=True)
        body = [body[j] for j in rng.permutation(len(body))]
        text = header[with_tax] + "".join(body)
        path = os.path.join(stage, "metrics", f"b{i:03d}.csv")
        with open(path, "w") as f:
            f.write(text)
        csv_bytes += len(text.encode())
        # the in-flight prefix: three quarters of the lines, then a cut
        # inside the next line
        cut_line = 3 * len(body) // 4
        prefix = header[with_tax] + "".join(body[:cut_line])
        partial = body[cut_line]
        part = prefix + partial[:int(rng.integers(1, len(partial) - 1))]
        if i - 1 in inflight:
            with open(path + ".part", "w") as f:
                f.write(part)
        batches.append({"name": f"b{i:03d}.csv", "path": path, "loaded": size,
                        "rejected": n_malformed[i]})
        expected_lines += [ln if with_tax else ln[:-1] + ",\n" for ln in lines]

    dims_lines = None
    plan_ticks = []
    for i in range(ticks):
        before = []
        b = batches[i]
        if i == 0:
            before.append(["copy", mpath["v1"], os.path.join(m_up, "manifest.txt")])
        if i == evolve_at:
            before.append(["copy", mpath["v2"], os.path.join(m_up, "manifest.txt")])
        dst = os.path.join(m_up, b["name"])
        if i - 1 in inflight:
            # the upload completes: full content, then the rename
            before += [["copy", b["path"], dst + ".part"], ["move", dst + ".part", dst]]
        else:
            before.append(["copy", b["path"], dst])
        expect = {"metrics": {"loaded": b["loaded"], "rejected": b["rejected"],
                              "files": [b["name"]], "evolved": ["tax"] if i == evolve_at else []}}
        # the dims manifest stays in place between generations, as the
        # metrics one does; a correct importer loads nothing from it
        expect["dims"] = {"loaded": 0, "rejected": 0, "files": [], "evolved": []}
        if i == 0:
            before.append(["copy", mpath["dims"], os.path.join(d_up, "manifest.txt")])
        if i in dims_at:
            gen = dims_at.index(i) + 1
            regions = rng.choice(REGIONS, size=DIMS_ROWS)
            dims_lines = [f"{k},host-{k},{regions[k - 1]},{gen}\n" for k in range(1, DIMS_ROWS + 1)]
            text = ",".join(n for n, _ in DIMS_MANIFEST) + "\n" + "".join(dims_lines)
            g = os.path.join(stage, "dims", f"g{gen:02d}.csv")
            with open(g, "w") as f:
                f.write(text)
            csv_bytes += len(text.encode())
            before.append(["copy", g, os.path.join(d_up, f"g{gen:02d}.csv")])
            expect["dims"] = {"loaded": DIMS_ROWS, "rejected": 0,
                              "files": [f"g{gen:02d}.csv"], "evolved": []}
        if i in inflight:
            nxt = batches[i + 1]
            before.append(["copy", nxt["path"] + ".part",
                           os.path.join(m_up, nxt["name"] + ".part")])
        plan_ticks.append({"before": before, "expect": expect})

    exp_dir = os.path.join(out_dir, "expected")
    os.makedirs(exp_dir, exist_ok=True)
    exp_m, exp_d = os.path.join(exp_dir, "metrics.csv"), os.path.join(exp_dir, "dims.csv")
    with open(exp_m, "w") as f:
        f.write(",".join(n for n, _ in MANIFEST_V2) + "\n" + "".join(expected_lines))
    with open(exp_d, "w") as f:
        f.write(",".join(n for n, _ in DIMS_MANIFEST) + "\n" + "".join(dims_lines))

    # warm-up ticks for set-up, one directory each (its files are placed
    # in the upload directory before the tick): the same shapes on rows
    # no tick uses
    warm = os.path.join(out_dir, "warmup")
    for k in range(WARM_TICKS):
        wk = os.path.join(warm, str(k))
        os.makedirs(os.path.join(wk, "metrics"))
        os.makedirs(os.path.join(wk, "dims"))
        if k == 0:
            with open(os.path.join(wk, "metrics", "manifest.txt"), "w") as f:
                f.write(manifest_text(MANIFEST_V1))
            with open(os.path.join(wk, "dims", "manifest.txt"), "w") as f:
                f.write(manifest_text(DIMS_MANIFEST))
        rows = order[cursor:cursor + WARM_ROWS]
        cursor += WARM_ROWS
        with open(os.path.join(wk, "metrics", f"w{k}.csv"), "w") as f:
            f.write(header[False] + "".join(render(src, rows, False)))
        with open(os.path.join(wk, "dims", f"w{k}.csv"), "w") as f:
            f.write(",".join(n for n, _ in DIMS_MANIFEST) + "\n" + "".join(dims_lines))

    plan = {
        "seed": seed, "ticks": plan_ticks, "evolution_tick": evolve_at,
        "inflight_ticks": inflight, "dims_ticks": dims_at,
        "source_rows": sum(sizes) + DIMS_ROWS * len(dims_at), "csv_bytes": csv_bytes,
        "jdbc_slice_mod": JDBC_SLICE_MOD, "warmup_dir": warm,
        "expected": {"metrics": {"csv": exp_m, "manifest": MANIFEST_V2},
                     "dims": {"csv": exp_d, "manifest": DIMS_MANIFEST}},
    }
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan
