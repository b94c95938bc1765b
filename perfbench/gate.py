"""Output gate of the benchmark: runs once per run, untimed.

Mix queries: each result the engine wrote is compared exactly with its
DuckDB oracle (`SparkEntry.oracleSql`) over the same generated tables,
by the rules of the repository's `tools/check.py`: the Spark side is read
raw with pyarrow, a DECIMAL final column fails, columns are compared by
name, and rows must match in order.

Streaming recommendations: each micro-batch's top-k lists are checked for
the loop's invariants against the history and the batch's own ratings.
"""
import datetime
import glob
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings stream_order").split()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _temporals(df):
    """Coerce date and timestamp columns to one engine-neutral dtype."""
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            nn = df[c].dropna()
            if len(nn) and isinstance(nn.iloc[0], (datetime.date, datetime.datetime)):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df


def compare(got_files, want):
    """None when the Spark output equals the oracle frame, else a reason."""
    tbl = pq.read_table(sorted(got_files))
    decs = [f.name for f in tbl.schema if str(f.type).startswith("decimal")]
    if decs:
        return f"decimal final columns {decs}"
    got = _temporals(tbl.to_pandas().reindex(sorted(tbl.column_names), axis=1))
    want = _temporals(want.reindex(sorted(want.columns), axis=1))
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if got.shape != want.shape:
        return f"shape {got.shape} vs {want.shape}"
    if got.reset_index(drop=True).equals(want.reset_index(drop=True)):
        return None
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    ws = want.sort_values(by=list(want.columns)).reset_index(drop=True)
    if gs.equals(ws):
        return "row order differs from the oracle"
    bad = ((gs != ws) & ~(gs.isna() & ws.isna())).any(axis=1)
    return f"{int(bad.sum())}/{len(gs)} rows differ"


def check_mix(out_dir, data_dir, path_map=()):
    """{query: None | reason} for every query in the run's oracle file.

    path_map rewrites scratch paths inside oracle SQL (the engine ran with
    its tmpfs and temp directories bound into the run directory).
    """
    con = connect(data_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    verdicts = {}
    for name, sql in sorted(oracles.items()):
        for old, new in path_map:
            sql = sql.replace(old, new)
        files = glob.glob(os.path.join(out_dir, "gate", name, "*.parquet"))
        if not files:
            verdicts[name] = "no engine output"
            continue
        try:
            verdicts[name] = compare(files, con.execute(sql).fetchdf())
        except Exception as e:  # an oracle or read error fails the query
            verdicts[name] = f"oracle/read error: {str(e)[:200]}"
    return verdicts


def check_stream(out_dir, data_dir, k, min_cnt):
    """{batch: reason} for micro-batches whose recommendations break an
    invariant, and {batch: number of ratings} for every batch.

    Invariants, per batch user: at most k songs, exactly min(k, eligible
    unrated songs) of them, none rated in history or the batch, each song
    rated at least min_cnt times in history and the batch, ordered by
    (prediction desc, songId); users come only from the batch.
    """
    con = connect(data_dir)
    ratings = con.execute("""
        SELECT e.event_id, CAST(e.user_id AS INTEGER) AS userId,
               CAST(json_extract_string(e.props, '$.k') AS INTEGER) AS songId,
               o.seq
        FROM events e LEFT JOIN stream_order o USING (event_id)""").fetchdf()
    history = ratings[ratings.seq.isna()]
    with open(os.path.join(out_dir, "batches.json")) as f:
        batches = json.load(f)
    recs = pd.read_csv(os.path.join(out_dir, "recs.csv"))
    bad, sizes = {}, {}
    for b in batches:
        bid = b["batch"]
        fresh = ratings[(ratings.seq > b["start"]) & (ratings.seq <= b["end"])]
        sizes[bid] = len(fresh)
        both = pd.concat([history, fresh])
        cnt = both.groupby("songId").size()
        eligible = set(cnt[cnt >= min_cnt].index)
        rated = both.groupby("userId").songId.agg(set)
        got = recs[recs.batch == bid]
        users = set(fresh.userId)
        reason = None
        if not set(got.userId) <= users:
            reason = "recommendations for users outside the batch"
        for u in sorted(users):
            if reason:
                break
            r = got[got.userId == u]
            want_n = min(k, len(eligible - rated.get(u, set())))
            songs = list(r.songId)
            preds = list(r.prediction)
            if len(songs) != want_n:
                reason = f"user {u}: {len(songs)} songs, expected {want_n}"
            elif set(songs) & rated.get(u, set()):
                reason = f"user {u}: recommends an already rated song"
            elif not set(songs) <= eligible:
                reason = f"user {u}: song below {min_cnt} ratings"
            elif any((preds[i], -songs[i]) < (preds[i + 1], -songs[i + 1])
                     for i in range(len(songs) - 1)):
                reason = f"user {u}: not ordered by (prediction desc, songId)"
        if reason is None and list(got.userId) != sorted(got.userId):
            reason = "users not grouped in order"
        if reason:
            bad[bid] = reason
    return bad, sizes
