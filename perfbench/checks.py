"""Output checks for the benchmark. Each check recomputes the expected
result with DuckDB over the same input files the engine read and returns a
list of (op, message) for every op whose output differs.

corpus_ref: the DF and IDF TSVs against the reference semantics in SQL (the
stems come from the engine's scalar Porter stemmer, written by the harness
for the generated vocabulary, as the engine's own tfidf oracles do), and
POS pairs against stripes and against the engine's pos_pairs oracle SQL.

query workloads: every key's warm-up output against its oracle SQL,
compared as the engine's tools/check.py does (columns sorted by name, rows
sorted, values compared as text). Expected results are cached under a key
made of the SQL text and the input files' digests. The results for the
checked-in tables ship in fixture/oracle/: DuckDB needs about a minute for
them, which would push a run past its time limit; a changed oracle SQL or
table misses that cache and is recomputed.
"""
import glob
import hashlib
import json
import os
import re

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SHIPPED = os.path.join(HERE, "fixture", "oracle")


def unit(name):
    if name.endswith("_mb_per_s"):
        return "MB/s"
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"), ("_frac", "ratio"),
                      ("_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def stopwords():
    """Every line of the stopword file is one entry, as a line reader sees it."""
    with open(os.path.join(ROOT, "src", "main", "resources", "stopwords.txt"),
              encoding="utf-8") as f:
        parts = re.split(r"\r\n|\n|\r", f.read())
    return sorted(set(parts[:-1] if parts and parts[-1] == "" else parts))


def read_tsv(con, out_dir, columns, select="*"):
    files = sorted(glob.glob(os.path.join(out_dir, "part-*")))
    if not files:
        return None
    cols = ", ".join(f"'{c}': 'VARCHAR'" for c in columns)
    return con.execute(
        f"SELECT {select} FROM read_csv({files!r}, delim='\t', header=false, quote='', "
        f"escape='', columns={{{cols}}})").fetchall()


def corpus(input_dir, run_dir):
    con = duckdb.connect()
    tdir = os.path.join(input_dir, "text")
    names = sorted(os.listdir(tdir))
    texts = []
    for n in names:
        with open(os.path.join(tdir, n), encoding="utf-8") as f:
            texts.append(f.read())
    con.register("articles", pd.DataFrame({"doc_id": names, "text": texts}))
    con.register("stops", pd.DataFrame({"w": stopwords()}))
    con.execute(f"""CREATE TABLE smap AS SELECT * FROM read_csv('{run_dir}/stemmap.tsv',
        delim='\t', header=true, quote='', escape='',
        columns={{'term_raw': 'VARCHAR', 'term_stem': 'VARCHAR'}})""")
    con.execute(r"""
        CREATE TABLE terms AS
        WITH toks AS (
          SELECT doc_id, unnest(string_split_regex(
            regexp_replace(regexp_replace(lower(text), '[\n\r]', ' ', 'g'),
                           '[^a-zA-Z ]', '', 'g'), ' +')) AS term
          FROM articles),
        kept AS (SELECT doc_id, term FROM toks WHERE term NOT IN (SELECT w FROM stops))
        SELECT k.doc_id, coalesce(m.term_stem, k.term) AS term
        FROM kept k LEFT JOIN smap m ON k.term = m.term_raw""")
    con.execute("""
        CREATE TABLE top AS
        SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term
        ORDER BY df DESC, term ASC LIMIT 100""")
    wrong = []

    exp_df = sorted((t, int(d)) for t, d in con.execute("SELECT term, df FROM top").fetchall())
    got = read_tsv(con, os.path.join(run_dir, "out", "df"), ["term", "df"])
    got_df = None if got is None else sorted((t, int(d)) for t, d in got)
    if got_df != exp_df:
        wrong.append(("df_job", "top-100 DF differs from the SQL recomputation"
                      + ("" if got_df is None else f" ({len(got_df)} vs {len(exp_df)} rows)")))

    exp_idf = sorted(con.execute("""
        SELECT t.doc_id, t.term, round(count(*) * ln(10000.0 / (p.df + 1)), 6)
        FROM terms t JOIN top p ON t.term = p.term
        GROUP BY t.doc_id, t.term, p.df""").fetchall())
    got = read_tsv(con, os.path.join(run_dir, "out", "idf"), ["doc_id", "term", "score"],
                   "doc_id, term, round(CAST(score AS DOUBLE), 6)")
    got_idf = None if got is None else sorted(got)
    if got_idf != exp_idf:
        diff = "" if got_idf is None else \
            f" ({len(set(got_idf) ^ set(exp_idf))} rows differ of {len(exp_idf)})"
        wrong.append(("idf_job", "TF-IDF scores differ from the SQL recomputation" + diff))

    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)["pos_pairs"]
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{input_dir}/parquet/documents.parquet')")
    exp_pos = sorted((t, int(c)) for t, c in con.execute(oracle).fetchall())
    got = read_tsv(con, os.path.join(run_dir, "out", "pos"), ["tag", "cnt"])
    got_pairs = None if got is None else sorted((t, int(c)) for t, c in got)
    stripes_dir = os.path.join(run_dir, "out", "pos_stripes")
    got_stripes = sorted((t, int(c)) for t, c in con.execute(
        f"SELECT tag, cnt FROM read_parquet('{stripes_dir}/*.parquet')").fetchall()) \
        if glob.glob(os.path.join(stripes_dir, "*.parquet")) else None
    if got_pairs != exp_pos:
        wrong.append(("pos_pairs", "pairs counts differ from the pos_pairs oracle SQL"))
    if got_stripes != exp_pos or got_stripes != got_pairs:
        wrong.append(("pos_stripes", "stripes counts differ from pairs or the oracle SQL"))
    return wrong


def normalized(df):
    """Digest of a result as tools/check.py compares it."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    text = df.astype(str).to_csv(index=False)
    return {"columns": list(df.columns), "rows": len(df),
            "sha256": hashlib.sha256(text.encode()).hexdigest()}


def file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def queries(tables_dir, run_dir, cache_dir):
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    tables = sorted(f[:-len(".parquet")] for f in os.listdir(tables_dir) if f.endswith(".parquet"))
    inputs = "".join(file_digest(os.path.join(tables_dir, f"{t}.parquet")) for t in tables)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    wrong = []
    for key, sql in sorted(oracle.items()):
        name = hashlib.sha256((sql + inputs).encode()).hexdigest() + ".json"
        cache = os.path.join(cache_dir, name)
        known = [p for p in (os.path.join(SHIPPED, name), cache) if os.path.exists(p)]
        if known:
            with open(known[0]) as f:
                exp = json.load(f)
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET enable_progress_bar = false")
                for t in tables:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{tables_dir}/{t}.parquet')")
            exp = normalized(con.execute(sql).df())
            with open(cache + ".tmp", "w") as f:
                json.dump(exp, f)
            os.replace(cache + ".tmp", cache)
        out = os.path.join(run_dir, "out", key)
        try:
            got = normalized(pd.read_parquet(out))
        except Exception as e:  # a missing or unreadable output is a failure
            wrong.append((key, f"cannot read output: {e}"))
            continue
        if got != exp:
            wrong.append((key, f"output differs from its oracle SQL: rows {got['rows']} vs "
                               f"{exp['rows']}, columns {got['columns']} vs {exp['columns']}"))
    return wrong
