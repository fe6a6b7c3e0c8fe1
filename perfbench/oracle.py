"""Independent oracles for the benchmark's output checks.

- ``mr_expected`` rebuilds a Hadoop-streaming job with coreutils: route each
  line by python ``hashlib`` md5 of its key mod R, then
  ``LC_ALL=C sort | wc_reduce.sh`` per partition. It returns the sha256 of
  every part file the engine must write.
- ``compare_queries`` runs each query's DuckDB twin (``SparkEntry.oracleSql``)
  over the generated tables and compares it with the engine's parquet dump,
  with the semantics of ``tools/check_correctness.py``: columns sorted by
  name, rows sorted, exact equality (floats included).
"""
import hashlib
import json
import math
import os
import shlex
import subprocess
from pathlib import Path

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _file_lines(path):
    """Lines of one file, read on their own so that a file without a final
    newline cannot join its last line to the next file's first."""
    data = Path(path).read_bytes()
    lines = data.split(b"\n")
    if data.endswith(b"\n"):
        lines.pop()
    return lines


def mr_expected(input_dir, reducer, num_reducers):
    parts = [[] for _ in range(num_reducers)]
    for name in sorted(os.listdir(input_dir)):
        for line in _file_lines(os.path.join(input_dir, name)):
            key = line.split(b"\t", 1)[0]
            parts[int(hashlib.md5(key).hexdigest(), 16) % num_reducers].append(line)
    expected = {}
    env = dict(os.environ, LC_ALL="C")
    for r, lines in enumerate(parts):
        stdin = b"".join(l + b"\n" for l in lines)
        out = subprocess.run(f"sort | {shlex.quote(reducer)}", shell=True, input=stdin, env=env,
                             stdout=subprocess.PIPE, check=True).stdout
        expected[f"part-{r:05d}"] = hashlib.sha256(out).hexdigest()
    return expected


def mr_check(output_dir, expected):
    """True when the job wrote exactly the expected part files."""
    try:
        names = sorted(n for n in os.listdir(output_dir) if n.startswith("part-"))
    except FileNotFoundError:
        return False
    got = {n: hashlib.sha256(Path(output_dir, n).read_bytes()).hexdigest() for n in names}
    return got == expected


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b


def compare_queries(tables_dir, results_dir, names):
    """{query: (ok, oracle_row_count, message)} for each name."""
    import duckdb
    import pyarrow.parquet as pq

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    oracle = json.loads(Path(results_dir, "oracle_sql.json").read_text())
    verdicts = {}
    for name in names:
        sql = oracle.get(name)
        if not sql:
            verdicts[name] = (False, None, "no oracle SQL")
            continue
        try:
            cur = con.execute(sql)
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            verdicts[name] = (False, None, f"duckdb error: {e}")
            continue
        spark_path = Path(results_dir, name)
        if not spark_path.exists():
            verdicts[name] = (False, len(drows), "no engine output")
            continue
        tbl = pq.read_table(spark_path)
        scols = tbl.column_names
        srows = [tuple(r[c] for c in scols) for r in tbl.to_pylist()]
        dc, dr = _canon(drows, dcols)
        sc, sr = _canon(srows, scols)
        if dc != sc:
            verdicts[name] = (False, len(dr), f"columns differ: {dc} vs {sc}")
        elif len(dr) != len(sr):
            verdicts[name] = (False, len(dr), f"rows differ: {len(dr)} vs {len(sr)}")
        else:
            bad = next((i for i, (a, b) in enumerate(zip(dr, sr))
                        if not all(_same(x, y) for x, y in zip(a, b))), None)
            msg = "ok" if bad is None else f"first diff at row {bad}: {dr[bad]} vs {sr[bad]}"
            verdicts[name] = (bad is None, len(dr), msg)
    return verdicts
