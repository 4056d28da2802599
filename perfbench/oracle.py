"""Output checks of the query workloads against DuckDB.

Each oracle key's result is compared with DuckDB running the key's
`oracleSql` on the same parquet fixture, through the comparator of
tools/check.py (imported, not modified): columns sorted by name, rows
sorted by value, cells compared as type-tagged reprs.

Verdicts are cached in the build directory per compiled program and
fixture, keyed by (key, digest of the collected rows): a result whose
digest was already compared is not compared again.
"""
import glob
import hashlib
import importlib.util
import json
import os

import duckdb
import pandas as pd


def load_comparator(root):
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def fixture_stamp(sf_dir):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        st = os.stat(p)
        h.update(f"{os.path.basename(p)}:{st.st_size}:{int(st.st_mtime)}\n".encode())
    return h.hexdigest()[:16]


class Oracle:
    def __init__(self, root, sf_dir, cache_dir, program_sha):
        self.check = load_comparator(root)
        self.sf_dir = sf_dir
        self.path = os.path.join(cache_dir, f"verdicts-{program_sha[:16]}-{fixture_stamp(sf_dir)}.json")
        self.verdicts = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.verdicts = json.load(f)
        self.con = None

    def known(self, keys):
        return [kh for kh in self.verdicts if kh.split("|")[0] in keys]

    def _duck(self, sql):
        if self.con is None:
            self.con = duckdb.connect()
            for t in self.check.TABLES:
                p = os.path.join(self.sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return self.con.sql(sql).df()

    def compare(self, key_hash, sql, result_dir):
        """Compare one dumped Spark result with the oracle; cache and
        return the verdict ('pass' or 'fail: <reason>')."""
        files = glob.glob(os.path.join(result_dir, "*.parquet"))
        try:
            sdf = pd.read_parquet(files[0])
            ddf = self._duck(sql)
            if sorted(sdf.columns) != sorted(ddf.columns):
                v = f"fail: columns {sorted(sdf.columns)} != {sorted(ddf.columns)}"
            else:
                sr, dr = self.check.frame_cells(sdf), self.check.frame_cells(ddf)
                v = "pass" if sr == dr else f"fail: {len(sr)} rows differ from oracle's {len(dr)}"
        except Exception as e:  # unhashable cells, oracle errors, unreadable dump
            v = f"fail: {type(e).__name__}: {str(e)[:200]}"
        self.verdicts[key_hash] = v
        return v

    def save(self):
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.verdicts, f)
        os.replace(tmp, self.path)
