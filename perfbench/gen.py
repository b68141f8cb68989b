"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``gen_tables`` writes the ten parquet tables the registered queries read
  (``SparkEntry.queries(name)(spark, dir)``), at the row counts of the
  project's sf0.1 scale, with the column types and value domains the
  queries expect.
* ``gen_caliper`` writes one item-level and one assessment-level Caliper
  CSV export and returns the records it wrote; ``expected_item_docs`` and
  ``expected_assessment_docs`` derive, from those records alone, the JSON
  document the ETL must write for every attempt.

Values are drawn from ``numpy.random.default_rng(seed)`` and
``random.Random(seed)``, so the same seed gives identical inputs.
"""
import csv
import json
import os
import random

# Row counts of the sf0.1 scale the project benchmarks at.
SF01_ROWS = {
    "customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
    "lineitem": 600000, "events": 100000, "documents": 5000,
    "embeddings": 2000,
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def gen_tables(out_dir, seed, rows=None):
    """Write region … embeddings as ``<out_dir>/<table>.parquet``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = dict(SF01_ROWS, **(rows or {}))
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(int(seed))

    def write(table, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{table}.parquet")

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    def ints(lo, hi, n, dtype=np.int64):
        return rng.integers(lo, hi + 1, n).astype(dtype)

    def money(lo, hi, n):
        return np.round(lo + rng.random(n) * (hi - lo), 2)

    def days(start, n_days, n):
        return (np.datetime64(start, "us")
                + ints(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")

    def keyed(prefix, n):
        return [f"{prefix}{i:09d}" for i in range(n)]

    write("region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    n = rows["customer"]
    write("customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": keyed("Customer#", n),
        "c_nationkey": ints(0, 24, n, np.int32),
        "c_acctbal": money(-999.99, 9999.99, n),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n)})
    n = rows["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": keyed("Supplier#", n),
        "s_nationkey": ints(0, 24, n, np.int32),
        "s_acctbal": money(-999.99, 9999.99, n)})
    n = rows["part"]
    adjectives = ["red", "new", "hot", "small", "large", "old", "cold", "blue"]
    nouns = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
    write("part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pick([f"{a} {b}" for a in adjectives for b in nouns], n),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n),
        "p_size": ints(1, 50, n, np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10.0, 1)})
    n = rows["orders"]
    write("orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": ints(0, rows["customer"] - 1, n),
        "o_orderstatus": pick(["F", "O", "P"], n),
        "o_totalprice": money(1000, 500000, n),
        "o_orderdate": days("1995-01-01", 2404, n),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n)})
    n = rows["lineitem"]
    write("lineitem", {
        "l_orderkey": ints(0, rows["orders"] - 1, n),
        "l_partkey": ints(0, rows["part"] - 1, n),
        "l_suppkey": ints(0, rows["supplier"] - 1, n),
        "l_linenumber": ints(1, 7, n, np.int32),
        "l_quantity": ints(1, 50, n).astype(np.float64),
        "l_extendedprice": money(900, 105000, n),
        "l_discount": np.round(rng.random(n) * 0.10, 2),
        "l_tax": np.round(rng.random(n) * 0.08, 2),
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["F", "O"], n),
        "l_shipdate": days("1995-01-02", 2497, n)})
    # events: uniform times over 30 days, numbered in time order
    n = rows["events"]
    offs = np.sort(rng.integers(0, 30 * 86400 * 1000000, n))
    write("events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": ints(0, 1499, n),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in ints(0, 99, n)]})
    # documents: 10-99 words from a 30-word vocabulary; then 5% of them,
    # one after another, become another document plus the token "dup"
    # (near duplicates; two that copy the same document are exact copies)
    n = rows["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in ints(10, 99, n)]
    for i, j in zip(rng.choice(n, n // 20, replace=False), rng.integers(0, n, n // 20)):
        texts[i] = texts[j] + " dup"
    langs = np.asarray(["en", "es", "fr", "zh", "de"], dtype=object)
    write("documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": pa.array(langs[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)})
    # embeddings: isotropic unit 64-d vectors; the label is independent
    n = rows["embeddings"]
    labels = ints(0, 9, n, np.int32)
    x = rng.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": labels})


# ---------------------------------------------------------------- Caliper

ITEM_COLUMNS = [
    "identity_id", "login_identity_id", "school_id", "assessment_id",
    "assessment_version", "attempt_id", "assmtitem_id", "assmtitem_version",
    "assessment_type_id", "response_type", "question_time", "score_posible",
    "score_earned", "masterobjectives", "masterobjectivesid",
    "objectivenumber"]

ASSESSMENT_COLUMNS = [
    "identity_id", "login_identity_id", "school_id", "assessment_id",
    "assessment_version", "date_submitted", "assessment_type_id",
    "assessment_type", "attempt_id", "attemptnumber", "is_mastered",
    "score_earned", "score_posible"]


def gen_caliper(out_dir, seed, item_attempts, assessment_attempts):
    """Write ``items.csv`` and ``assessments.csv`` under ``out_dir``.

    Returns ``(item_rows, assessment_rows)``: every data row written, as
    the list of its fields, malformed ones included. The shape of both
    exports is fixed and only their values depend on the seed, so every
    seed gives the ETL the same amount of work:

    * items: ``item_attempts`` attempts of 2–6 item rows (cycling), every
      tenth row with two ``;``-separated objective ids, objective names
      that may hold a quoted comma, and a row cut short (wrong arity)
      after every fiftieth;
    * assessments: one row per attempt for ``assessment_attempts``
      attempts, and after every tenth a row with one empty field, which
      the ETL must skip.
    """
    rnd = random.Random(int(seed))
    os.makedirs(out_dir, exist_ok=True)
    subjects = ["Algebra I", "Algebra, advanced", "History", "Biology",
                "Reading", "Geometry"]
    item_rows = []
    for a in range(item_attempts):
        stu = f"stu-{rnd.randrange(10000):05d}"
        assess = f"assessment-{rnd.randrange(1000):04d}"
        version = f"{rnd.randrange(1, 10)}.0"
        attempt = f"attempt-{seed}-{a:06d}"
        for k in range(2 + a % 5):
            posible = rnd.choice([1, 2, 5, 10])
            lo = f"{rnd.randrange(1, 10)}.{rnd.randrange(1, 10)}"
            if len(item_rows) % 10 == 3:
                lo += f";{rnd.randrange(1, 10)}.{rnd.randrange(1, 10)}"
            item_rows.append([
                stu, "login-" + stu[4:], f"school-{rnd.randrange(100):03d}",
                assess, version, attempt, f"item-{rnd.randrange(10000):05d}",
                "1", "5", rnd.choice(["FILLINBLANK", "SELECTTEXT", "TRUEFALSE"]),
                str(rnd.randrange(10, 100)), str(posible),
                str(rnd.randrange(0, posible + 1)), rnd.choice(subjects), lo,
                str(k + 1)])
            if len(item_rows) % 51 == 50:
                item_rows.append([f"cut-{a:06d}", "x", "y"])
    assessment_rows = []
    for a in range(assessment_attempts):
        posible = rnd.choice([10, 20, 50, 100])
        row = [
            f"stu-{rnd.randrange(10000):05d}", f"login-{rnd.randrange(10000):05d}",
            f"school-{rnd.randrange(100):03d}", f"assessment-{rnd.randrange(1000):04d}",
            f"{rnd.randrange(1, 10)}.0",
            f"2016-{rnd.randrange(1, 13):02d}-{rnd.randrange(10, 29):02d}", "5",
            rnd.choice(["quiz", "exam", "test"]), f"attempt-{seed}-{a:06d}",
            str(rnd.randrange(1, 10)), rnd.choice(["true", "false"]),
            str(rnd.randrange(0, posible + 1)), str(posible)]
        assessment_rows.append(row)
        if a % 10 == 9:
            skipped = list(row)
            skipped[8] = f"attempt-{seed}-skip-{a:06d}"
            skipped[rnd.choice([0, 1, 2, 3, 4, 5, 6, 7, 9, 10, 11, 12])] = ""
            assessment_rows.append(skipped)
    _write_csv(os.path.join(out_dir, "items.csv"), ITEM_COLUMNS, item_rows)
    _write_csv(os.path.join(out_dir, "assessments.csv"), ASSESSMENT_COLUMNS,
               assessment_rows)
    return item_rows, assessment_rows


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def read_csv_rows(path):
    """Data rows of a CSV export (header skipped), quotes resolved."""
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return rows[1:]


def expected_item_docs(rows):
    """attempt_id -> sorted canonical events of its item-level document.

    A row with fewer than 16 fields (or a missing attempt id) is dropped;
    empty fields read as empty strings; the objective ids are trimmed and
    split on ``;`` into one ``learningObjectives`` entry each.
    """
    docs = {}
    for r in rows:
        if len(r) != len(ITEM_COLUMNS) or r[5] == "":
            continue
        f = dict(zip(ITEM_COLUMNS, r))
        ev = {"type": "OutcomeEvent", "values": {
            "action": "GRADED",
            "actor": {"id": f["identity_id"]},
            "target": {"id": f["assmtitem_id"], "learningObjectives": [
                {"id": x} for x in f["masterobjectivesid"].strip().split(";")]},
            "object": {"id": f["attempt_id"], "count": 1},
            "generated": {"normalScore": f["score_earned"],
                          "totalScore": f["score_posible"]},
            "assessment": {"id": f["assessment_id"],
                           "version": f["assessment_version"]}}}
        docs.setdefault(f["attempt_id"], []).append(canonical(ev))
    return {k: sorted(v) for k, v in docs.items()}


def expected_assessment_docs(rows):
    """attempt_id -> sorted canonical events of its assessment document.

    A row with any empty field (or the wrong arity) is skipped; every other
    row yields STARTED, SUBMITTED and GRADED, with the corrected score
    orientation (totalScore = score_posible, normalScore = score_earned).
    """
    docs = {}
    for r in rows:
        if len(r) != len(ASSESSMENT_COLUMNS) or any(x == "" for x in r):
            continue
        f = dict(zip(ASSESSMENT_COLUMNS, r))
        actor = {"id": f["identity_id"]}
        assessment = {"id": f["assessment_id"],
                      "version": f["assessment_version"]}
        attempt = {"id": f["attempt_id"]}
        try:
            attempt["count"] = int(f["attemptnumber"])
        except ValueError:
            pass
        evs = [{"type": "AssessmentEvent", "values": {"action": a},
                "actor": actor, "object": assessment, "generated": attempt}
               for a in ("STARTED", "SUBMITTED")]
        evs.append({"type": "AssessmentOutcomeEvent", "values": {
            "action": "GRADED", "actor": actor,
            "organization": {"id": f["school_id"]},
            "assessment": assessment, "object": attempt,
            "generated": {"totalScore": f["score_posible"],
                          "normalScore": f["score_earned"]}}})
        docs.setdefault(f["attempt_id"], []).extend(canonical(e) for e in evs)
    return {k: sorted(v) for k, v in docs.items()}


def canonical(obj):
    """One JSON value as a string with sorted keys and no spaces."""
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))
