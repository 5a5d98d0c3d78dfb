#!/usr/bin/env python3
"""Regenerate perfbench/expected/digests.json, cross-checked by DuckDB.

    python3 perfbench/gen_expected.py

For every distinct request of the two menu workloads, the harness
JVM writes the request's output (the compared columns) as parquet with
its digest and oracle SQL. Each output is compared with DuckDB running
the oracle over the same fixture tables, with the canonical form of
tools/oracle_check.py (columns by name, rows sorted, types strict). The
digests are written only if every request matches.
"""
import json
import os
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
import run  # noqa: E402
from oracle_check import TABLES, canon, norm, result_types  # noqa: E402

MENU_WORKLOADS = ("interactive_topn", "pipeline_iterative")


def compare(con, path, sql):
    """None if the parquet output at `path` equals the oracle's rows."""
    got_sql = "SELECT * FROM read_parquet('%s/*.parquet')" % path
    got_rel = con.execute(got_sql)
    got_cols = [d[0] for d in got_rel.description]
    got = got_rel.fetchall()
    want_rel = con.execute(sql)
    want_cols = [d[0] for d in want_rel.description]
    want = want_rel.fetchall()
    if sorted(c.lower() for c in got_cols) != sorted(c.lower() for c in want_cols):
        return "columns %s != %s" % (sorted(got_cols), sorted(want_cols))
    gt, wt = result_types(con, got_sql), result_types(con, "(%s)" % sql)
    diverge = {c: (gt[c], wt.get(c)) for c in gt if gt[c] != wt.get(c)}
    if diverge:
        return "types diverge %s" % diverge
    gi = [got_cols.index(c) for c in sorted(got_cols, key=str.lower)]
    wi = [want_cols.index(c) for c in sorted(want_cols, key=str.lower)]
    g = canon([tuple(norm(r[i]) for i in gi) for r in got])
    w = canon([tuple(norm(r[i]) for i in wi) for r in want])
    return None if g == w else "rows differ (%d vs %d)" % (len(g), len(w))


def main():
    classpath = run.build()
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, run.DATA, t))
    digests, bad = {}, []
    for workload in MENU_WORKLOADS:
        scratch = os.path.join(run.TARGET, "gen-" + workload)
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(os.path.join(scratch, "tmp"))
        dump = os.path.join(scratch, "dump")
        rc = run.run_jvm(classpath, scratch, [
            "--workload", workload, "--seed", "0", "--generate", dump])
        if rc != 0:
            raise SystemExit("perfbench: generate JVM for %s exited with %d" % (workload, rc))
        with open(os.path.join(dump, "manifest.json")) as fh:
            manifest = json.load(fh)
        for key, entry in sorted(manifest.items()):
            err = "no oracle SQL" if not entry["sql"] else compare(con, entry["path"], entry["sql"])
            print("%s %s %s" % ("FAIL" if err else "PASS", key, err or entry["digest"]))
            if err:
                bad.append(key)
            digests[key] = entry["digest"]
        shutil.rmtree(scratch, ignore_errors=True)
    if bad:
        raise SystemExit("%d requests disagree with the oracle; digests not written" % len(bad))
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print("wrote %d digests to %s" % (len(digests), run.EXPECTED))


if __name__ == "__main__":
    main()
