"""Output check: each query's Spark result against its DuckDB twin.

It runs the repository's correctness gate, tools/check.py, on the parquet
outputs and oracle_sql.json the harness writes, so the benchmark and the
gate share one definition of a correct result. The check runs with the run
directory as its working directory, where DuckDB puts its spill files.
"""
import glob
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CHECK = os.path.join(os.path.dirname(HERE), "tools", "check.py")
TIMEOUT_S = 120


def _drop_row(out_dir, name):
    """Rewrites NAME's output without its first row (a one-column table when
    it has none), so the check must report it."""
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return
    table = pa.concat_tables([pq.read_table(f) for f in files])
    for f in files:
        os.remove(f)
    wrong = table.slice(1) if table.num_rows else pa.table({"injected": [1]})
    pq.write_table(wrong, files[0])


def check(corpus_dir, out_dir, names, inject_wrong=None):
    """Checks OUT_DIR/<name> for every name against its twin over the
    corpus in CORPUS_DIR.

    `inject_wrong` names a query whose Spark output loses a row before the
    check, to show that the check catches it.
    Returns {name: None | reason}."""
    names = sorted(set(names))
    if inject_wrong:
        _drop_row(out_dir, inject_wrong)
    cmd = [sys.executable, CHECK, corpus_dir, out_dir] + names
    try:
        out = subprocess.run(cmd, cwd=os.path.dirname(out_dir), stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=TIMEOUT_S).stdout
    except subprocess.TimeoutExpired as e:
        out = e.stdout.decode() if isinstance(e.stdout, bytes) else (e.stdout or "")
        out += "\ntimed out after %d s" % TIMEOUT_S
    lines = out.splitlines()
    result = {}
    for line in lines:
        verdict, _, rest = line.partition(" ")
        if verdict == "PASS":
            result[rest.split(" ")[0]] = None
        elif verdict == "FAIL":
            name, _, why = rest.partition(": ")
            result[name] = why[:200]
    # the gate reports only queries that have a twin, and ends with a summary
    if any(line.startswith("== ") for line in lines):
        unreported = "no DuckDB twin"
    else:
        unreported = "check did not finish: %s" % (lines or ["no output"])[-1][:200]
    return {n: result.get(n, unreported) for n in names}
