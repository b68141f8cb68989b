#!/usr/bin/env python3
"""Statistics of an sf table directory, to hold the generator to real data.

    python3 perfbench/datastats.py <sf_dir>              # one directory
    python3 perfbench/datastats.py <sf_dir> --seed <n>   # against gen.py

With ``--seed`` the script generates the tables of ``gen.gen_tables`` for
that seed under ``.bench_work/`` and prints, for every statistic, the
reference value, the generated one and their relative difference, then
deletes the generated tables. The statistics are the ones the registered
queries are sensitive to: per column the distinct count, the share of the
most frequent value, mean and standard deviation; join-key fan-out;
document vocabulary, length, exact and near duplicates; and the cosine
structure of the embeddings.
"""
import argparse
import glob
import os
import shutil
import sys

import numpy as np


def column_stats(con, sf, table):
    out = {}
    path = f"'{sf}/{table}.parquet'"
    n = con.execute(f"SELECT count(*) FROM {path}").fetchone()[0]
    out[f"{table}.rows"] = n
    for name, typ, *_ in con.execute(f"DESCRIBE SELECT * FROM {path}").fetchall():
        if typ.endswith("[]"):
            continue
        key = f"{table}.{name}"
        distinct, top = con.execute(
            f"SELECT count(DISTINCT {name}), max(c) FROM "
            f"(SELECT {name}, count(*) c FROM {path} GROUP BY 1)").fetchone()
        out[key + ".distinct"] = distinct
        out[key + ".top_share"] = top / n
        num = name if typ in ("INTEGER", "BIGINT", "DOUBLE") else (
            f"epoch({name})" if typ.startswith("TIMESTAMP") else None)
        if num and not name.endswith("key") and not name.endswith("_id"):
            mean, sd = con.execute(
                f"SELECT avg({num}), stddev_samp({num}) FROM {path}").fetchone()
            out[key + ".mean"] = mean
            out[key + ".sd"] = sd
    return out


def stats(sf):
    import duckdb
    con = duckdb.connect()
    tables = sorted(os.path.basename(p)[:-len(".parquet")]
                    for p in glob.glob(os.path.join(sf, "*.parquet")))
    out = {}
    for t in tables:
        out.update(column_stats(con, sf, t))

    def one(sql):
        return con.execute(sql).fetchone()

    p = lambda t: f"'{sf}/{t}.parquet'"  # noqa: E731
    # join fan-out: lines per order, orders per customer, events per user
    for key, table, col in (("lineitem.per_order", "lineitem", "l_orderkey"),
                            ("orders.per_customer", "orders", "o_custkey"),
                            ("events.per_user", "events", "user_id")):
        mx, sd = one(f"SELECT max(c), stddev_samp(c) FROM "
                     f"(SELECT count(*) c FROM {p(table)} GROUP BY {col})")
        out[key + ".max"], out[key + ".sd"] = mx, sd
    # events: value quantiles and inter-arrival gaps
    q = one(f"SELECT quantile_cont(value, [0.5, 0.9, 0.99]) FROM {p('events')}")[0]
    out["events.value.p50"], out["events.value.p90"], out["events.value.p99"] = q
    out["events.ts.gap_sd_s"] = one(
        f"SELECT stddev_samp(g) FROM (SELECT epoch(ts) - lag(epoch(ts)) "
        f"OVER (ORDER BY event_id) g FROM {p('events')})")[0]
    # documents: vocabulary, length, duplicates
    toks = f"(SELECT doc_id, unnest(string_split(text, ' ')) w FROM {p('documents')})"
    out["documents.vocab"] = one(f"SELECT count(DISTINCT w) FROM {toks}")[0]
    out["documents.tokens.mean"], out["documents.tokens.sd"] = one(
        f"SELECT avg(n), stddev_samp(n) FROM (SELECT len(string_split(text, ' ')) n "
        f"FROM {p('documents')})")
    out["documents.word_top_share"] = one(
        f"SELECT max(c) / sum(c) FROM (SELECT count(*) c FROM {toks} GROUP BY w)")[0]
    out["documents.exact_dup_docs"] = one(
        f"SELECT count(*) - count(DISTINCT text) FROM {p('documents')}")[0]
    # a near duplicate: another document whose token 3-shingle set has
    # Jaccard similarity >= 0.8 with this one, exact copies excluded
    con.execute(f"""CREATE TEMP TABLE sh AS
        SELECT DISTINCT doc_id, w1 || ' ' || w2 || ' ' || w3 s FROM (
          SELECT doc_id, w w1, lead(w) OVER d w2, lead(w, 2) OVER d w3 FROM
            (SELECT doc_id, generate_subscripts(t, 1) i, unnest(t) w
             FROM (SELECT doc_id, string_split(text, ' ') t FROM {p('documents')}))
          WINDOW d AS (PARTITION BY doc_id ORDER BY i)) WHERE w3 IS NOT NULL""")
    out["documents.near_dup_docs"] = one("""
        WITH n AS (SELECT doc_id, count(*) k FROM sh GROUP BY 1),
        pairs AS (SELECT a.doc_id x, b.doc_id y, count(*) inter
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT count(DISTINCT x) + 0 FROM (
          SELECT x FROM pairs JOIN n nx ON nx.doc_id = x JOIN n ny ON ny.doc_id = y
          WHERE inter / (nx.k + ny.k - inter) >= 0.8 AND inter < nx.k + ny.k
          UNION SELECT y FROM pairs JOIN n nx ON nx.doc_id = x JOIN n ny ON ny.doc_id = y
          WHERE inter / (nx.k + ny.k - inter) >= 0.8 AND inter < nx.k + ny.k)""")[0]
    # embeddings: cosine to the nearest other vector, within vs across labels
    rows = con.execute(f"SELECT embedding, label FROM {p('embeddings')} "
                       "ORDER BY vec_id").fetchall()
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    lab = np.asarray([r[1] for r in rows])
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cos = x @ x.T
    np.fill_diagonal(cos, np.nan)
    same = lab[:, None] == lab[None, :]
    out["embeddings.nn_cos.p50"] = float(np.nanmedian(np.nanmax(cos, axis=1)))
    out["embeddings.cos_same_label.mean"] = float(np.nanmean(cos[same]))
    out["embeddings.cos_other_label.mean"] = float(np.nanmean(cos[~same]))
    out["embeddings.pairs_cos_ge_0.9"] = int(np.nansum(cos >= 0.9) // 2)
    out["embeddings.norm.mean"] = float(np.mean(np.linalg.norm(
        np.asarray([r[0] for r in rows], dtype=np.float64), axis=1)))
    con.close()
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--seed", type=int)
    a = ap.parse_args(argv)
    ref = stats(a.sf_dir)
    if a.seed is None:
        for k, v in ref.items():
            print(f"{k:40s} {v:.6g}")
        return 0
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import gen
    work = os.path.join(os.getcwd(), ".bench_work", f"datastats-{os.getpid()}")
    try:
        gen.gen_tables(work, a.seed)
        got = stats(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(f"{'statistic':40s} {'reference':>12s} {'generated':>12s} {'rel.diff':>9s}")
    for k in ref:
        r, g = ref[k], got.get(k)
        d = (g - r) / abs(r) if g is not None and r else float("nan")
        print(f"{k:40s} {r:12.6g} {g if g is not None else float('nan'):12.6g} {d:+9.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
