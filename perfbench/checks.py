"""Correctness checks of the benchmark's outputs.

Query results are compared with DuckDB running the engine's own oracle
SQL (`SparkEntry.oracleSql`) over the same parquet tables: columns
sorted by name, rows sorted, values compared exactly (floats with ==,
nulls equal to nulls). The six queries without oracle SQL are checked
by row shape and value bounds. Corpus runs are checked by invariants
that hold for any seed, stream runs by request/response accounting.
Every check returns a list of problems; empty means correct.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def load_tables(con, data_dir):
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{p}')")


def read_output(out_dir):
    parts = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not parts:
        return None
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def normalize(df):
    """Column order by name, rows sorted, dtypes unified for comparison."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif kind in ("int8", "int16", "int32", "Int32", "Int64", "uint8"):
            df[c] = df[c].astype("int64")
        elif kind == "float32":
            df[c] = df[c].astype("float64")
    if len(df) and len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare_frames(got, want):
    """Problems between an engine result and its oracle result."""
    s, d = normalize(got), normalize(want)
    if list(s.columns) != list(d.columns):
        return [f"columns {list(s.columns)} != oracle {list(d.columns)}"]
    if len(s) != len(d):
        return [f"{len(s)} rows != oracle {len(d)}"]
    bad = []
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = a.astype("float64").fillna(-9e99) == b.astype("float64").fillna(-9e99)
        else:
            eq = a.astype(str) == b.astype(str)
        if not eq.all():
            bad.append(f"column {c}: {int((~eq).sum())} values differ")
    return bad


def _scalar(con, sql):
    return con.execute(sql).fetchone()[0]


def _bounds_q12(df, con):
    exact = con.execute("""SELECT l_returnflag, quantile_disc(l_quantity, 0.25),
        quantile_disc(l_quantity, 0.5), quantile_disc(l_quantity, 0.75)
        FROM lineitem GROUP BY 1""").fetchall()
    want = {r[0]: r[1:] for r in exact}
    bad = [] if set(df.l_returnflag) == set(want) else ["groups differ from l_returnflag values"]
    for r in df.itertuples():
        got = (r.q25_approx, r.q50_approx, r.q75_approx)
        if list(got) != sorted(got):
            bad.append(f"{r.l_returnflag}: quantiles not ordered")
        exact_q = want.get(r.l_returnflag)
        if exact_q and any(abs(g - w) > 1.0 for g, w in zip(got, exact_q)):
            bad.append(f"{r.l_returnflag}: quantiles {got} off exact {exact_q} by > 1")
    return bad


def _bounds_q41(df, con):
    n = _scalar(con, "SELECT count(*) FROM lineitem")
    bad = []
    if not set(df.label) <= {0.0, 1.0} or not set(df.prediction) <= {0.0, 1.0}:
        bad.append("labels or predictions outside {0, 1}")
    if not ((df.avg_p1 >= 0) & (df.avg_p1 <= 1)).all():
        bad.append("avg_p1 outside [0, 1]")
    if not 0.25 * n <= df.n.sum() <= 0.35 * n:
        bad.append(f"confusion total {df.n.sum()} not a ~30% test split of {n}")
    return bad


def _bounds_q42(df, con):
    n = _scalar(con, "SELECT count(*) FROM orders")
    got = dict(zip(df.split, df.n_rows))
    bad = []
    if got.get("total") != n:
        bad.append(f"total {got.get('total')} != {n}")
    if got.get("train", 0) + got.get("test", 0) != n:
        bad.append("train + test != total")
    if not 0.4 * n <= got.get("sampled_wr_0.5", -1) <= 0.6 * n:
        bad.append("0.5 sample size outside [0.4, 0.6] of total")
    return bad


def _bounds_q49(df, con):
    exact = dict(con.execute(
        "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1").fetchall())
    events = dict(con.execute("SELECT event_type, count(*) FROM events GROUP BY 1").fetchall())
    bad = [] if set(df.event_type) == set(exact) else ["event types differ"]
    for r in df.itertuples():
        n = exact.get(r.event_type)
        if n is not None and abs(r.n_users_approx - n) > 0.05 * n:
            bad.append(f"{r.event_type}: approx distinct {r.n_users_approx} off {n} by > 5%")
        if events.get(r.event_type) != r.n_events:
            bad.append(f"{r.event_type}: n_events {r.n_events} != {events.get(r.event_type)}")
    return bad


def _bounds_q52(df, con):
    ids = {r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()}
    bad = []
    if len(df) == 0:
        bad.append("no pairs")
    if not (set(df.id_a) | set(df.id_b)) <= ids:
        bad.append("pair ids outside documents")
    if not ((df.jaccard_dist >= 0) & (df.jaccard_dist <= 1)).all():
        bad.append("jaccard distance outside [0, 1]")
    if (df.id_a == df.id_b).any():
        bad.append("self pairs")
    return bad


def _bounds_q53(df, con):
    ids = {r[0] for r in con.execute("SELECT vec_id FROM embeddings").fetchall()}
    bad = []
    if len(df) == 0:
        bad.append("no neighbours")
    if not (set(df.q_id) | set(df.neighbor_id)) <= ids:
        bad.append("ids outside embeddings")
    if (df.dist < 0).any() or (df.rk < 1).any():
        bad.append("negative distance or rank below 1")
    if df.duplicated(["q_id", "rk"]).any():
        bad.append("duplicate rank for a query vector")
    return bad


BOUNDS = {
    "q12_approx_quantiles": _bounds_q12,
    "q41_ml_confusion": _bounds_q41,
    "q42_sample_split": _bounds_q42,
    "q49_approx_distinct": _bounds_q49,
    "q52_minhash_mllib": _bounds_q52,
    "q53_ann_mllib": _bounds_q53,
}


class QueryChecker:
    """Checks query outputs against the oracle, one DuckDB session per dataset."""

    def __init__(self, data_dir, oracle_sql):
        self.con = duckdb.connect()
        load_tables(self.con, data_dir)
        self.oracle = oracle_sql
        self._want = {}

    def check(self, query, out_dir):
        got = read_output(out_dir)
        if got is None:
            return ["no output written"]
        if query in self.oracle:
            if query not in self._want:
                self._want[query] = self.con.execute(self.oracle[query]).df()
            return compare_frames(got, self._want[query])
        if query in BOUNDS:
            return BOUNDS[query](got, self.con)
        return ["no oracle SQL and no bounds check"]


def check_corpus(report, shards_dir, jsonl_dir):
    """Invariants of one CorpusPipeline run: stage counts never increase,
    shard rows = JSONL rows = shipped, no two shipped docs share a text."""
    bad = []
    if len(report) != 6:
        return [f"report has {len(report)} counts, expected 6"]
    if any(a < b for a, b in zip(report, report[1:])):
        bad.append(f"stage counts increase: {report}")
    if report[0] <= 0:
        bad.append("empty input")
    shipped = report[-1]
    con = duckdb.connect()
    shard_rows = _scalar(con, f"SELECT count(*) FROM read_parquet('{shards_dir}/**/*.parquet')")
    texts = con.execute(
        f"SELECT count(*), count(DISTINCT text) FROM read_json_auto('{jsonl_dir}/*.json')"
    ).fetchone()
    if shard_rows != shipped:
        bad.append(f"shard rows {shard_rows} != shipped {shipped}")
    if texts[0] != shipped:
        bad.append(f"JSONL rows {texts[0]} != shipped {shipped}")
    if texts[1] != texts[0]:
        bad.append(f"{texts[0] - texts[1]} shipped docs repeat another's text")
    return bad


def check_stream(check, epoch_ids):
    """Exactly one response per request, equal to the batch routing graph,
    and each committed epoch a contiguous id range."""
    bad = []
    n = check["requests"]
    if check["responses"] != n or check["distinctIds"] != n:
        bad.append(f"{check['responses']} responses / {check['distinctIds']} ids for {n} requests")
    for k in ("missing", "unexpected", "unmatched"):
        if check[k]:
            bad.append(f"{check[k]} {k} responses")
    for e in epoch_ids:
        if e["maxId"] - e["minId"] + 1 != e["n"]:
            bad.append(f"epoch {e['batch']} is not one contiguous id range")
    return bad


def load_oracle(path):
    with open(path) as fh:
        return json.load(fh)
