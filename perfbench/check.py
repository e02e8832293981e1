"""Expected answers (computed once per seed, before the measured JVM
starts) and the output check (run after it exits).

Query-shaped ops are compared the way ``scripts/oracle_check.py`` does:
both sides become pandas frames, columns sorted by name, rows sorted by
every column, every cell rendered to its string form.  The expected side
is the QDef's own ``SparkEntry.oracleSql`` (or a benchmark-written SQL
for the non-QDef ops) run by DuckDB on the same files; the compare is on
a sha256 of the rendered frame.  Write ops and rows-only QDefs are
checked by invariants instead.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings"]


def rendered(df):
    """oracle_check.py's canonical form."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="last")
    return df.reset_index(drop=True).astype(str)


def digest(df):
    r = rendered(df)
    return hashlib.sha256(r.to_csv(index=False).encode()).hexdigest()


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        p = f"{data}/{t}.parquet"
        if os.path.isdir(p):
            p += "/*.parquet"
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def day_ts(day):
    return f"TIMESTAMP '1970-01-01' + INTERVAL {int(day)} DAY"


LI_SUM = ("SELECT count(*), sum(l_orderkey), sum(l_linenumber), "
          "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FROM {src}")


def expected(workload, data, manifest, oracle_sql):
    """op -> expected answer, as a JSON-able dict."""
    con = connect(data)
    p = manifest["params"]
    exp = {}

    def oracle(op, sql):
        df = con.execute(sql).df()
        exp[op] = {"digest": digest(df), "rows": len(df)}

    for op, kind in gen.OPS[workload]:
        if kind == "qdef" and op in oracle_sql:
            oracle(op, oracle_sql[op])
    if workload == "warehouse_scan":
        def window(name):
            return (f"l_shipdate >= {day_ts(p[name + '_lo_day'])} "
                    f"AND l_shipdate < {day_ts(p[name + '_hi_day'])}")
        oracle("range_scan", "SELECT * FROM lineitem WHERE " + window("range"))
        oracle("point_lookup",
               f"SELECT * FROM lineitem WHERE l_orderkey = {p['lookup_key']}")
        exp["bucketed_join"] = exp[gen.BUCKETED_JOIN_ORACLE]
        exp["extract_write"] = {"sum": list(con.execute(LI_SUM.format(
            src="lineitem WHERE " + window("extract"))).fetchone())}
        exp["legacy_date_read"] = {"sum": [p["legacy_rows"], p["legacy_days_sum"],
                                           None, None]}
        exp["avro_to_parquet"] = {"sum": list(con.execute(
            "SELECT count(*), sum(o_orderkey), "
            "sum(CAST(round(o_totalprice * 100) AS BIGINT)), NULL FROM orders").fetchone())}
        small = manifest["inputs"]["small_files"]
        exp["compact"] = {"sum": list(con.execute(LI_SUM.format(
            src=f"read_parquet('{data}/small_files/*.parquet')")).fetchone()),
            "files_in": small["files"],
            "files_out": -(-small["bytes"] // COMPACT_TARGET_BYTES)}
    elif workload == "llm_curation":
        exp["l1d_minhash_lsh"] = {"planted_pairs": p["planted_pairs"],
                                  "recall_floor": gen.LSH_PLANTED_RECALL_FLOOR}
        n_docs = manifest["inputs"]["documents"]["rows"]
        exp["l1e_simhash"] = {"rows": n_docs, "distinct_ids": n_docs}
        exact = con.execute(
            "SELECT q_id, n_id FROM (SELECT a.vec_id AS q_id, b.vec_id AS n_id, "
            "row_number() OVER (PARTITION BY a.vec_id ORDER BY "
            "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) "
            "DESC, b.vec_id) AS rk FROM embeddings a, embeddings b "
            "WHERE a.vec_id < 20 AND b.vec_id <> a.vec_id) WHERE rk <= 5").fetchall()
        exp["l2c_ann_ivf"] = {"rows": len(exact), "exact": sorted(list(r) for r in exact),
                              "recall_floor": gen.ANN_RECALL_FLOOR}
        exp["dedup_ingest"] = {"sum": [p["distinct_texts"], p["distinct_texts"],
                                       p["distinct_text_chars"], None]}
        exp["curated_write"] = {"sum": list(con.execute(
            "SELECT count(*), sum(d), sum(c), NULL FROM (SELECT min(doc_id) AS d, "
            "min(n_chars) AS c FROM documents GROUP BY text)").fetchone())}
    con.close()
    return exp


# Compaction output file size target (Bench.scala passes it to
# Compaction.compact through the plan).
COMPACT_TARGET_BYTES = 256 * 1024


def _check_output(op, want, out_dir):
    """Compare the op's checked output (written by the JVM from its
    warm-up execution) with its expected answer.  None when it matches,
    else a one-line reason."""
    files = sorted(glob.glob(f"{out_dir}/check/{op}/*.parquet"))
    if not files:
        return "no check output"
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if "digest" in want:
        if len(df) != want["rows"]:
            return f"rows {len(df)} != {want['rows']}"
        return None if digest(df) == want["digest"] else "rendered digest differs"
    if "planted_pairs" in want:
        got = set(zip(df["d1"].tolist(), df["d2"].tolist()))
        hit = sum((min(a, b), max(a, b)) in got for a, b in want["planted_pairs"])
        rec = hit / max(1, len(want["planted_pairs"]))
        if (df["d1"] >= df["d2"]).any():
            return "pair not ordered d1 < d2"
        return None if rec >= want["recall_floor"] else f"planted recall {rec:.3f}"
    if "exact" in want:
        got = set(zip(df["q_id"].tolist(), df["n_id"].tolist()))
        rec = sum(tuple(e) in got for e in want["exact"]) / len(want["exact"])
        if len(df) != want["rows"]:
            return f"rows {len(df)} != {want['rows']}"
        return None if rec >= want["recall_floor"] else f"recall {rec:.3f}"
    if "distinct_ids" in want:
        ok = len(df) == want["rows"] and df["doc_id"].nunique() == want["distinct_ids"]
        return None if ok else f"rows {len(df)} / ids {df['doc_id'].nunique()}"
    return "no expectation"


def _check_result(want, res):
    """Invariant check of one execution's in-JVM result summary."""
    if "sum" in want:
        got = res.get("sum")
        if got is None or any(w is not None and w != g for w, g in zip(want["sum"], got)):
            return f"checksum {got} != {want['sum']}"
    for k in ("files_in", "files_out"):
        if k in want and res.get(k) != want[k]:
            return f"{k} {res.get(k)} != {want[k]}"
    return None


def score(expected_answers, executions, check_digests, out_dir):
    """Mark each timed execution ok or failed.

    An execution fails when it threw, when its invariant summary differs
    from the expected one, or, for query-shaped ops, when its in-JVM row
    digest differs from that of the checked output, or that output
    differs from the expected answer.  Returns (attempted, failed,
    {op: first failure reason})."""
    reasons = {}
    out_ok = {}
    for op, want in expected_answers.items():
        if "sum" not in want:
            out_ok[op] = _check_output(op, want, out_dir)
    failed = 0
    for e in executions:
        op = e["op"]
        why = e.get("err")
        if why is None and op not in expected_answers:
            why = "no expected answer"
        elif why is None and op in out_ok:
            why = out_ok[op]
            if why is None and e["res"].get("digest") != check_digests.get(op):
                why = "row digest differs from the checked output"
        elif why is None:
            why = _check_result(expected_answers[op], e["res"])
        if why is not None:
            failed += 1
            reasons.setdefault(op, why)
    return len(executions), failed, reasons


def load_json(path):
    with open(path) as fh:
        return json.load(fh)
