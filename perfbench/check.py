"""Output checks made apart from the program.

* ``check_docs`` compares one ETL job's output directory with the
  documents the generator derived from its own records.
* ``compare_query`` compares a query's full result with the rows DuckDB
  computes from the query's oracle SQL, with the declared-type check and
  the canonical rows of the project's own gate, ``tools/check_oracle.py``
  (columns sorted by name, each cell rendered with ``repr``, rows sorted).
"""
import glob
import json
import os
import sys

from gen import canonical

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import (  # noqa: E402
    canon_type, declared_types, load_rows, type_fail)


def read_docs(out_dir):
    """attempt_id -> list of JSON documents found under ``attempt_id=<id>``."""
    docs = {}
    for d in sorted(os.listdir(out_dir)):
        if not d.startswith("attempt_id="):
            continue
        lines = []
        for f in sorted(glob.glob(os.path.join(out_dir, d, "part-*"))):
            with open(f) as fh:
                lines += [x for x in fh.read().split("\n") if x]
        docs[d[len("attempt_id="):]] = lines
    return docs


def check_docs(out_dir, expected):
    """Problems found in one job's output (empty list when it is correct).

    ``expected`` maps attempt_id to the sorted canonical events of its
    document. Each attempt must have exactly one directory holding exactly
    one JSON array whose events equal the expected multiset; no other
    attempt may appear, and the job must have committed (``_SUCCESS``).
    """
    problems = []
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        problems.append("no _SUCCESS marker")
    found = read_docs(out_dir) if os.path.isdir(out_dir) else {}
    for attempt in sorted(set(expected) - set(found)):
        problems.append(f"missing attempt {attempt}")
    for attempt in sorted(set(found) - set(expected)):
        problems.append(f"unexpected attempt {attempt}")
    for attempt in sorted(set(found) & set(expected)):
        lines = found[attempt]
        if len(lines) != 1:
            problems.append(f"{attempt}: {len(lines)} documents")
            continue
        try:
            events = sorted(canonical(e) for e in json.loads(lines[0]))
        except (ValueError, TypeError) as e:
            problems.append(f"{attempt}: not a JSON array of events ({e})")
            continue
        if events != expected[attempt]:
            problems.append(f"{attempt}: events differ")
    return problems


def tree_bytes(path):
    """Total size of the regular files under ``path``."""
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def tree_files(path):
    return sum(len(files) for _, _, files in os.walk(path))


# ---------------------------------------------------------------- queries

def connect(sf_dir):
    """A DuckDB connection with every table of ``sf_dir`` as a view."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def compare_query(con, oracle_sql, result_sql):
    """(oracle row count, None or the first problem) of one full result.

    As ``tools/check_oracle.py`` does: both sides' declared column types
    must have a canonical class and agree column by column, then the
    canonical rows must be equal.
    """
    stypes, otypes = declared_types(con, result_sql), declared_types(con, oracle_sql)
    got, expect = load_rows(con, result_sql), load_rows(con, oracle_sql)
    problem = type_fail("SPARK", stypes) or type_fail("ORACLE", otypes)
    if not problem and got[0] == expect[0]:
        diff = [f"{n}: {st} vs {ot}" for (n, st), (_, ot) in zip(stypes, otypes)
                if canon_type(st) != canon_type(ot)]
        if diff:
            problem = "type mismatch: " + "; ".join(diff)
    return len(expect[1]), problem or compare_rows(got, expect)


def compare_rows(spark, oracle):
    """None when two (cols, rows) results agree, else the first difference."""
    (scols, srows), (ocols, orows) = spark, oracle
    if scols != ocols:
        return f"columns differ: {scols} vs {ocols}"
    if len(srows) != len(orows):
        return f"row count {len(srows)} vs {len(orows)}"
    for i, (a, b) in enumerate(zip(srows, orows)):
        if a != b:
            return f"sorted row {i} differs: {a} vs {b}"
    return None
