"""Output checks of a benchmark run against DuckDB oracles.

Each check returns failure records (workload, op, error_class,
error_message); an output mismatch is a failure of every op that
produced that output, never a silent pass. Result frames are compared
the way tools/oracle_check.py compares them: columns sorted by name,
rows sorted, values exactly equal, integer vs float kinds kept apart.
"""
import csv
import glob
import io
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CELL_WIDTH = 30  # the page renderer's default column width

# Oracles of the plan_browse goals over a corpus slice, written like the
# registry's own: planner_top90 shares w2_top90's, the planned dedup
# uses ns_dedup_exact's content key on the served (undoubled) corpus,
# and the split chain is splitter + remove_num.
BROWSE_ORACLES = {
    "text.tokens.top90": """
        WITH toks AS (
          SELECT t.token FROM documents,
            unnest(string_split_regex(lower(text), '\\W+')) AS t(token)
          WHERE length(t.token) > 1),
        counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        tot AS (SELECT sum(cnt) AS total FROM counts),
        w AS (SELECT token, cnt,
                sum(cnt) OVER (ORDER BY cnt DESC, token ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
              FROM counts)
        SELECT token, cnt FROM w, tot WHERE running < 0.9 * total""",
    "text.canonical_id,text.n_copies": """
        SELECT min(doc_id) AS canonical_id, count(*) AS n_copies
        FROM documents GROUP BY ('0x' || substr(md5(text), 1, 15))::BIGINT""",
    "text.split.alpha": """
        SELECT regexp_replace(t.w, '[0-9]', '', 'g') AS alpha
        FROM documents, unnest(string_split(text, ' ')) AS t(w)""",
}


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == "object":
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort") \
        .reset_index(drop=True)


def frames_differ(got, want):
    """None when equal, else a one-line reason."""
    got, want = norm(got), norm(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    bad = [c for c in got.columns
           if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}]
    if bad:
        return f"int-vs-float dtype kind on {bad}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=True)
    except AssertionError as e:
        return "value mismatch: " + " | ".join(str(e).splitlines()[:3])
    return None


def connect(data):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def read_dir(d):
    return pd.concat([pd.read_parquet(f)
                      for f in sorted(glob.glob(f"{d}/*.parquet"))])


def failure(workload, op, msg):
    return {"workload": workload, "op": op, "pass": None,
            "error_class": "OutputMismatch", "error_message": msg}


def query_mix(res, data):
    c = res["checks"]
    with open(c["oracle"]) as f:
        oracle = json.load(f)
    con = connect(data)
    broken = {x["name"]: f"{x['error_class']}: {x['error_message']}"
              for x in c["failed_checks"]}
    for name, sql in sorted(oracle.items()):
        if name in broken:
            continue
        try:
            why = frames_differ(read_dir(f"{c['dir']}/{name}"),
                                con.execute(sql).fetchdf())
        except Exception as e:  # a missing or unreadable result
            why = f"{type(e).__name__}: {e}"
        if why:
            broken[name] = why
    return [failure("query_mix", f"query:{o['name']}", broken[o["name"]])
            for o in res["ops"] if o["ok"] and o["name"] in broken]


def cell(v):
    s = str(v)
    return s if len(s) <= CELL_WIDTH else s[:CELL_WIDTH] + "..."


def plan_browse(res, data):
    c = res["checks"]
    size = c["page_size"]
    with open(c["observed"]) as f:
        observed = json.load(f)
    con = connect(data)
    oracle = {}
    out = []
    for ob in observed:
        key = (ob["slice"], ob["goal"])
        if key not in oracle:
            con.execute("CREATE OR REPLACE TEMP VIEW documents AS SELECT * "
                        f"FROM read_parquet('{data}/documents.parquet') "
                        f"WHERE doc_id % 1000 <> {ob['slice']}")
            rows = con.execute(BROWSE_ORACLES[ob["goal"]]).fetchall()
            # the served frame's stable order: every column ascending
            oracle[key] = [[str(v) for v in r] for r in sorted(rows)]
        want = oracle[key]
        if ob["kind"] == "csv":
            got = list(csv.reader(io.StringIO(ob["body"])))[1:]
            ok = got == want
        else:
            p = ob["page"]
            ok = ob["body"] == [[cell(v) for v in r]
                                for r in want[p * size:(p + 1) * size]]
        if not ok:
            out.append(failure("plan_browse", f"{ob['kind']}:{ob['goal']}",
                               f"slice {ob['slice']} page {ob['page']} "
                               "differs from the DuckDB oracle"))
    return out


def ingest_keep_best(res, data):
    c = res["checks"]
    with open(c["oracle"]) as f:
        sql = json.load(f)["final_search"]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{c['live']}/*.parquet')")
    why = frames_differ(read_dir(c["final_search"]), con.execute(sql).fetchdf())
    if not why:
        return []
    searches = [o for o in res["ops"] if o["kind"] == "search" and o["ok"]]
    last = searches[-1]["name"] if searches else "final"
    return [failure("ingest_keep_best", f"search:{last}",
                    "final search differs from a from-scratch BM25 over the "
                    f"live corpus: {why}")]


def run(res, data):
    return {"query_mix": query_mix, "plan_browse": plan_browse,
            "ingest_keep_best": ingest_keep_best}[res["workload"]](res, data)
