"""Correctness checkers that do not depend on the Spark plan.

Each checker recomputes what an operation should have produced, from its
inputs, with DuckDB or plain Python, and returns a list of problems (empty
when the output is right). The runner marks an operation failed when its
checker returns any problem; the run goes on.
"""
import glob

import duckdb
import numpy as np
import pandas as pd

SUMMARY_KEYS = ["summary_date", "hour_of_day", "machine_id"]
# the sink's rounding: force statistics at 2 dp, cycle times at 3 dp
SUMMARY_DP = {
    "avg_pick_force": 2, "max_pick_force": 2, "min_pick_force": 2,
    "avg_place_force": 2, "max_place_force": 2, "min_place_force": 2,
    "min_cycle_time_seconds": 3, "max_cycle_time_seconds": 3,
    "avg_cycle_time_seconds": 3,
}
SUMMARY_COUNTS = [
    "as_vacuum_error_count", "pp_vacuum_error_count", "as_release_error_count",
    "pp_release_error_count", "pick_force_error_count", "place_force_error_count",
    "cycle_count",
]

# the six reference threshold rules (config/schwellwerte.json)
RULES = [
    ("AS_VacuumUnits", "AS_Check", "value > 70.0"),
    ("PP_VacuumUnits", "Pick_Check", "value > 75.0"),
    ("AS_VacuumUnits", "AS_Blowoff_Check", "value < 450.0"),
    ("PP_VacuumUnits", "Place_Check", "value < 450.0"),
    ("PP_Force", "Pick_Check", "(value < 60.0 OR value > 120.0)"),
    ("PP_Force", "Place_Check", "(value < 60.0 OR value > 120.0)"),
]
RULE_COLUMNS = SUMMARY_COUNTS[:6]


def read_parquet_dir(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(f"{path}/**/*.parquet", recursive=True))
    if not files:
        return pd.DataFrame()
    return duckdb.sql(
        f"SELECT * FROM read_parquet({files!r}, hive_partitioning = 1)").df()


# ---- machine_day ------------------------------------------------------------

def expected_summary(csv_path: str) -> pd.DataFrame:
    """The hourly summary recomputed from the raw CSV by DuckDB: cycles are
    the running count of Cycle_Start per machine, a cycle's time is its
    last minus first Start/End timestamp, and every event is bucketed by
    the hour its cycle started."""
    flag = " + ".join(
        f"CASE WHEN parameter_name = '{p}' AND event_name = '{e}' AND {c} THEN 1 ELSE 0 END"
        for p, e, c in RULES)
    per_rule = ",\n".join(
        f"sum(CASE WHEN parameter_name = '{p}' AND event_name = '{e}' AND {c} "
        f"THEN 1 ELSE 0 END) AS {col}"
        for (p, e, c), col in zip(RULES, RULE_COLUMNS))
    force = lambda ev: f"CASE WHEN event_name = '{ev}' AND parameter_name = 'PP_Force' THEN value END"
    sql = f"""
    WITH raw AS (
      SELECT CAST(replace(replace(timestamp, 'T', ' '), 'Z', '') AS TIMESTAMP) AS ts,
             machine_id, event_name, coalesce(parameter_name, '') AS parameter_name,
             CAST(value AS REAL) AS value
      FROM read_csv('{csv_path}', header = true, all_varchar = true)),
    seq AS (
      SELECT *, sum(CASE WHEN event_name = 'Cycle_Start' THEN 1 ELSE 0 END)
        OVER (PARTITION BY machine_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cycle_seq
      FROM raw),
    cyc AS (
      SELECT machine_id, cycle_seq, min(ts) AS start_ts,
             CAST((epoch_ms(max(ts)) - epoch_ms(min(ts))) / 1000.0 AS REAL) AS ct
      FROM seq WHERE cycle_seq > 0 AND event_name IN ('Cycle_Start', 'Cycle_End')
      GROUP BY 1, 2),
    ev AS (
      SELECT s.*, c.start_ts, ({flag}) AS is_error
      FROM seq s JOIN cyc c USING (machine_id, cycle_seq)),
    cs AS (
      SELECT CAST(start_ts AS DATE) AS summary_date, hour(start_ts) AS hour_of_day,
             machine_id, count(*) AS cycle_count, avg(ct) AS avg_ct,
             min(ct) AS min_ct, max(ct) AS max_ct
      FROM cyc GROUP BY 1, 2, 3),
    es AS (
      SELECT CAST(start_ts AS DATE) AS summary_date, hour(start_ts) AS hour_of_day,
             machine_id,
             avg({force('Pick_Check')}) AS avg_pick, max({force('Pick_Check')}) AS max_pick,
             min({force('Pick_Check')}) AS min_pick,
             avg({force('Place_Check')}) AS avg_place, max({force('Place_Check')}) AS max_place,
             min({force('Place_Check')}) AS min_place,
             {per_rule}
      FROM ev GROUP BY 1, 2, 3)
    SELECT summary_date, hour_of_day, machine_id,
      coalesce(avg_pick, 0) AS avg_pick_force, coalesce(max_pick, 0) AS max_pick_force,
      coalesce(min_pick, 0) AS min_pick_force, coalesce(avg_place, 0) AS avg_place_force,
      coalesce(max_place, 0) AS max_place_force, coalesce(min_place, 0) AS min_place_force,
      {", ".join(f"coalesce({c}, 0) AS {c}" for c in RULE_COLUMNS)},
      coalesce(cycle_count, 0) AS cycle_count,
      coalesce(min_ct, 0) AS min_cycle_time_seconds,
      coalesce(max_ct, 0) AS max_cycle_time_seconds,
      coalesce(avg_ct, 0) AS avg_cycle_time_seconds
    FROM cs FULL OUTER JOIN es USING (summary_date, hour_of_day, machine_id)
    """
    return duckdb.sql(sql).df()


def _keyed(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df["summary_date"] = pd.to_datetime(df["summary_date"]).dt.strftime("%Y-%m-%d")
    df["hour_of_day"] = df["hour_of_day"].astype(int)
    return df.set_index(SUMMARY_KEYS).sort_index()


def compare_summary(expected: pd.DataFrame, got: pd.DataFrame, what: str) -> list:
    """Counts must be equal; force statistics and cycle times must agree at
    the sink's rounding (one unit of the last kept decimal absorbs a
    rounding tie resolved differently by float32 and float64)."""
    if got is None or len(got) == 0:
        return [f"{what}: empty"]
    got = got.rename(columns=str.lower)  # Derby reports upper-case names
    missing = [c for c in SUMMARY_COUNTS + list(SUMMARY_DP) + SUMMARY_KEYS if c not in got.columns]
    if missing:
        return [f"{what}: missing columns {missing}"]
    e, g = _keyed(expected), _keyed(got)
    if list(e.index) != list(g.index):
        return [f"{what}: keys differ: expected {len(e)} rows, got {len(g)}"]
    problems = []
    for c in SUMMARY_COUNTS:
        diff = (e[c].astype(np.int64) != g[c].astype(np.int64))
        if diff.any():
            k = diff.idxmax()
            problems.append(f"{what}: {c} at {k}: expected {e.at[k, c]}, got {g.at[k, c]}")
    for c, dp in SUMMARY_DP.items():
        tol = 10.0 ** -dp + 1e-9
        diff = (e[c].astype(float).round(dp) - g[c].astype(float).round(dp)).abs() > tol
        if diff.any():
            k = diff.idxmax()
            problems.append(f"{what}: {c} at {k}: expected {e.at[k, c]:.6f}, got {g.at[k, c]:.6f}")
    return problems


def parquet_rows(path: str) -> int:
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    return int(duckdb.sql(f"SELECT count(*) FROM read_parquet({files!r})").fetchone()[0]) if files else 0


def check_batch(op: dict, expected: pd.DataFrame) -> list:
    problems = []
    rows = parquet_rows(op["enriched"])
    if rows != op["data_rows"]:
        problems.append(f"enriched rows {rows} != CSV data rows {op['data_rows']}")
    summary = read_parquet_dir(op["summary"])
    problems += compare_summary(expected, summary, "batch summary")
    problems += compare_summary(summary, read_parquet_dir(op["derby"]), "Derby read-back")
    if not (op["derby_rows_pass1"] == op["derby_rows_pass2"] == len(summary)):
        problems.append(f"Derby rows insert pass {op['derby_rows_pass1']}, "
                        f"update pass {op['derby_rows_pass2']}, summary {len(summary)}")
    return problems


def check_stream(op: dict, batch_summary_dir: str) -> list:
    return compare_summary(read_parquet_dir(batch_summary_dir),
                           read_parquet_dir(op["stream_summary"]), "stream summary")


# ---- catalog_queries --------------------------------------------------------

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def oracle_connection(data_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def canon(df: pd.DataFrame, dp: int = 3) -> pd.DataFrame:
    """Column-name sort, floats rounded, timestamps as strings, row sort."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype in (np.float64, np.float32):
            df[c] = df[c].astype(np.float64).round(dp)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def compare_result(expected: pd.DataFrame, got: pd.DataFrame, dp: int = 3) -> list:
    e, g = canon(expected, dp), canon(got, dp)
    if list(e.columns) != list(g.columns):
        return [f"columns: expected {list(e.columns)}, got {list(g.columns)}"]
    if len(e) != len(g):
        return [f"rows: expected {len(e)}, got {len(g)}"]
    problems = []
    for c in e.columns:
        a, b = e[c], g[c]
        if a.dtype == np.float64 or b.dtype == np.float64:
            a, b = a.astype(np.float64), b.astype(np.float64)
            eq = (a.isna() & b.isna()) | (np.isclose(a.fillna(0), b.fillna(0), rtol=0,
                                                     atol=10.0 ** -dp / 2) & ~(a.isna() ^ b.isna()))
        else:
            eq = a.astype(str).fillna("<null>") == b.astype(str).fillna("<null>")
        if not eq.all():
            i = int(np.argmin(eq.values))
            problems.append(f"column {c}: {int((~eq).sum())} diffs, first: "
                            f"expected {a.iloc[i]!r}, got {b.iloc[i]!r}")
    return problems


# ---- corpus_ingest ----------------------------------------------------------

def shingles(text: str, k: int = 2) -> frozenset:
    """Word k-grams over single-space tokens, as a set (TextDedup.shingles)."""
    w = text.split(" ")
    return frozenset(" ".join(w[i:i + k]) for i in range(len(w) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def _exactly_once(kept_ids, tick_ids) -> list:
    problems = []
    if len(kept_ids) != len(set(kept_ids)):
        problems.append("an item was kept more than once")
    stray = set(kept_ids) - set(tick_ids)
    if stray:
        problems.append(f"{len(stray)} kept items are not tick inputs, e.g. {sorted(stray)[:3]}")
    return problems


def check_text_loop(seed: dict, ticks: list, kept_ids: list, tau: float, k: int = 2) -> list:
    """seed: {id: text}; ticks: [{id: text}, ...] in arrival order.
    Every tick item is kept or dropped exactly once; no kept item is an
    exact or near (Jaccard ≥ tau) duplicate of the seed corpus or of another
    kept item; every dropped item has a partner at or above tau among the
    items that had arrived by its tick (nothing is dropped by mistake)."""
    tick_ids = [i for t in ticks for i in t]
    problems = _exactly_once(kept_ids, tick_ids)
    kept = set(kept_ids)
    texts = dict(seed)
    for t in ticks:
        texts.update(t)
    sh = {i: shingles(x, k) for i, x in texts.items()}
    postings = {}
    for i, s in sh.items():
        for g in s:
            postings.setdefault(g, set()).add(i)

    def near(i, pool):
        cands = set().union(*(postings[g] for g in sh[i])) if sh[i] else set()
        return [j for j in cands & pool if j != i and
                (texts[j] == texts[i] or jaccard(sh[i], sh[j]) >= tau)]

    corpus = set(seed) | (kept & set(texts))
    bad = [i for i in sorted(kept & set(texts)) if near(i, corpus)]
    if bad:
        problems.append(f"{len(bad)} kept items duplicate the corpus, e.g. "
                        f"{bad[0]} ~ {near(bad[0], corpus)[:3]}")
    arrived = set(seed)
    wrong = []
    for t in ticks:
        arrived |= set(t)
        wrong += [i for i in t if i not in kept and not near(i, arrived)]
    if wrong:
        problems.append(f"{len(wrong)} items dropped without a duplicate partner, e.g. {wrong[:3]}")
    return problems


def cosine_matrix(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    na = np.linalg.norm(a, axis=1, keepdims=True)
    nb = np.linalg.norm(b, axis=1, keepdims=True)
    return (a @ b.T) / (na * nb.T)


def check_embed_loop(seed: dict, ticks: list, kept_ids: list, tau: float):
    """seed: {id: vector}; ticks: [{id: vector}, ...]. Every tick item is
    kept or dropped exactly once, and every dropped item has a partner at
    cosine ≥ tau among the items that had arrived by its tick. The probe
    is approximate by design (a near duplicate in an unprobed list is
    kept), so instead of "no kept duplicates" the checker returns recall:
    the share of brute-force duplicates (a partner ≥ tau in the seed, an
    earlier tick, or a lower id of the same tick) that the loop dropped."""
    tick_ids = [i for t in ticks for i in t]
    problems = _exactly_once(kept_ids, tick_ids)
    kept = set(kept_ids)
    arrived_ids = list(seed)
    arrived = np.array([seed[i] for i in arrived_ids]).reshape(len(arrived_ids), -1)
    wrong, dups, caught = [], 0, 0
    for t in ticks:
        ids = sorted(t)
        vecs = np.array([t[i] for i in ids])
        pool = np.vstack([arrived, vecs]) if len(arrived) else vecs
        pool_ids = arrived_ids + ids
        cos = cosine_matrix(vecs, pool)
        for r, i in enumerate(ids):
            partners = [pool_ids[c] for c in np.nonzero(cos[r] >= tau)[0] if pool_ids[c] != i]
            if i not in kept and not partners:
                wrong.append(i)
            earlier = [j for j in partners if j not in t or j < i]
            if earlier:
                dups += 1
                caught += i not in kept
        arrived = pool
        arrived_ids = pool_ids
    if wrong:
        problems.append(f"{len(wrong)} vectors dropped without a partner ≥ tau, e.g. {wrong[:3]}")
    recall = caught / dups if dups else 1.0
    return problems, recall


def load_docs(path: str) -> dict:
    df = duckdb.sql(f"SELECT doc_id, text FROM read_parquet('{path}')").df()
    return dict(zip(df.doc_id.tolist(), df.text.tolist()))


def load_vecs(path: str) -> dict:
    df = duckdb.sql(f"SELECT vec_id, embedding FROM read_parquet('{path}')").df()
    return {i: np.asarray(v, dtype=np.float32) for i, v in zip(df.vec_id.tolist(), df.embedding)}


def tick_files(d: str) -> list:
    return sorted(glob.glob(f"{d}/*.parquet"))


def kept_ids(out_dir: str, id_col: str) -> list:
    df = read_parquet_dir(out_dir)
    return [] if df.empty else df[id_col].astype(int).tolist()
