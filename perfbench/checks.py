"""Correctness checks of each workload's outputs against its seeded ground
truth and against DuckDB.  Each check returns (failed_count, details)."""
import json
import os
import re

import duckdb
import pyarrow as pa

import stats

# MinHash LSH keeps no pair it has not seen, and verifies none it has: the
# chain removes the larger id of every candidate pair.  The floors bound
# how far that may stray from the planted truth.
NEAR_RECALL_FLOOR = 0.9      # planted near pairs found / planted near pairs
NEAR_PRECISION_FLOOR = 0.9   # planted near pairs found / candidate pairs
DISTINCT_LOST_CEIL = 0.01    # distinct documents removed / distinct documents

# OracleSql counts stopword hits as `regexp_extract_all(lower(text),
# '\b(w1|...)\b')`.  DuckDB's RE2 `\b` only knows ASCII word characters,
# while graft's documented contract (LangIdHitsExpr, QualityStatsExpr) is the
# JDK one: a hit is a maximal run of letter-or-digit-or-underscore code
# points equal to a stopword, so "xéla" holds no "la".  The two disagree on
# accented Latin text; the check uses the contract's form, and reports how
# many documents the statement as written would classify differently.
_BOUNDED_HITS = re.compile(r"len\(regexp_extract_all\(lower\(text\), '\\b\(([^)']*)\)\\b'\)\)")


def word_run_hits(sql):
    """Rewrite each bounded stopword count of an OracleSql statement into the
    word-run count graft defines."""
    def sub(m):
        words = ", ".join("'" + w + "'" for w in m.group(1).split("|"))
        return (f"len(list_filter(regexp_extract_all(lower(text), '[\\pL\\p{{Nd}}_]+'), "
                f"t -> t IN ({words})))")
    out, n = _BOUNDED_HITS.subn(sub, sql)
    if n == 0:
        raise ValueError("no bounded stopword count found to rewrite")
    return out


def _con():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con


def _load_sql(out):
    with open(os.path.join(out, "outputs", "oracle_sql.json")) as f:
        return json.load(f)


def _state_sink_errors(con):
    """Compare table `got` (running-state sink rows) with table `expected`
    (one row per distinct on-time event): every event exactly once, and each
    user's final count and total equal to the batch answer."""
    return {
        "duplicates": con.execute(
            "SELECT COUNT(*) - COUNT(DISTINCT event_id) FROM got").fetchone()[0],
        "missing": con.execute(
            "SELECT COUNT(*) FROM expected WHERE event_id NOT IN (SELECT event_id FROM got)"
        ).fetchone()[0],
        "unexpected": con.execute(
            "SELECT COUNT(DISTINCT event_id) FROM got WHERE event_id NOT IN "
            "(SELECT event_id FROM expected)").fetchone()[0],
        "user_mismatches": con.execute("""
            SELECT COUNT(*) FROM
              (SELECT user_id, COUNT(*) n, SUM(amount) t FROM expected GROUP BY 1) e
            FULL JOIN (SELECT user_id, MAX(n) n, MAX(total) t FROM got GROUP BY 1) g
            USING (user_id)
            WHERE e.n IS DISTINCT FROM g.n OR e.t IS DISTINCT FROM g.t""").fetchone()[0]}


def curate(data, out, result, truth):
    """Exact dedup keeps one of each planted copy group and loses nothing
    else; the MinHash candidates find the planted near duplicates and
    little else; the per-language totals equal DuckDB's over the documents
    the truth and those candidates leave, so a chain that removes anything
    more, or anything less, fails."""
    con = _con()
    docs = f"{data}/documents.parquet/*.parquet"
    outputs = os.path.join(out, "outputs")
    all_ids = {r[0] for r in con.execute(f"SELECT doc_id FROM '{docs}'").fetchall()}
    removed = set()
    for orig, copies in truth["exact_groups"].items():
        group = [int(orig)] + copies
        removed |= set(group) - {min(group)}
    distinct = all_ids - removed
    survivors = {r[0] for r in con.execute(
        f"SELECT doc_id FROM '{outputs}/exact_survivors/*.parquet'").fetchall()}
    exact_errors = len(survivors ^ distinct)
    cands = {(a, b) for a, b in con.execute(
        f"SELECT doc_a, doc_b FROM '{outputs}/candidates/*.parquet'").fetchall()}
    planted = {tuple(p) for p in truth["near_pairs"]}
    found = len(planted & cands)
    recall = found / len(planted)
    precision = found / max(len(cands), 1)
    kept = distinct - {b for _, b in cands}
    lost = len(distinct - {max(p) for p in planted} - kept)
    con.register("kept_ids", pa.table({"doc_id": pa.array(sorted(kept), pa.int64())}))
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}' "
                f"WHERE doc_id IN (SELECT doc_id FROM kept_ids)")
    sql = _load_sql(out)
    qmin = result["prime"]["quality_min"]

    def totals(quality_sql, lang_sql):
        return [tuple(r) for r in con.execute(f"""
            WITH q AS ({quality_sql}), l AS ({lang_sql})
            SELECT pred_lang, COUNT(*), SUM(n_tok) FROM q JOIN l USING (doc_id)
            WHERE quality >= {qmin} AND pred_lang <> 'und'
            GROUP BY pred_lang ORDER BY pred_lang""").fetchall()]
    spark = [tuple(r) for r in result["prime"]["lang_totals"]]
    totals_ok = totals(word_run_hits(sql["q_quality"]), word_run_hits(sql["q_lang_id"])) == spark
    as_written = totals(sql["q_quality"], sql["q_lang_id"])
    ascii_boundary_docs = sum(abs(a[1] - b[1]) for a, b in zip(as_written, spark)) \
        if len(as_written) == len(spark) else -1
    prime_ok = (exact_errors == 0 and recall >= NEAR_RECALL_FLOOR
                and precision >= NEAR_PRECISION_FLOOR
                and lost <= DISTINCT_LOST_CEIL * len(distinct) and totals_ok)
    ops = result["measured"]["ops"]
    failed = sum(1 for o in ops if not o["ok"] or not prime_ok) + result["prime"]["warm_wrong"]
    return failed, {"exact_errors": exact_errors, "near_recall": recall,
                    "near_recall_floor": NEAR_RECALL_FLOOR, "candidate_pairs": len(cands),
                    "verified_ratio": precision, "verified_ratio_floor": NEAR_PRECISION_FLOOR,
                    "distinct_docs_lost": lost,
                    "distinct_docs_lost_ceil": int(DISTINCT_LOST_CEIL * len(distinct)),
                    "lang_totals_match": totals_ok, "warm_wrong": result["prime"]["warm_wrong"],
                    "oracle_sql_as_written_doc_diff": ascii_boundary_docs}


def stream(data, out, result):
    """The sink equals the batch answer over the events appended: every
    distinct on-time event exactly once, per-user totals equal, and every
    emitted window count equal.  Also returns the phase-2 latencies."""
    m = result["measured"]
    con = _con()
    con.execute(f"""CREATE TABLE ev AS SELECT * FROM '{data}/stream_events.parquet'
                    WHERE batch < {m['appended_batches']}""")
    con.execute(f"""CREATE TABLE expected AS
        SELECT event_id, ANY_VALUE(user_id) AS user_id, ANY_VALUE(kind) AS kind,
               ANY_VALUE(amount) AS amount,
               ANY_VALUE(ts_rel_ms + CASE WHEN batch < 0 THEN {result['prime']['backlog_base_ms']}
                                          ELSE {m['phase2_t0_ms']} END) AS ts_ms
        FROM ev WHERE NOT late GROUP BY event_id""")
    sink = os.path.join(out, "sink")
    con.execute(f"""CREATE TABLE got AS SELECT * FROM
        read_parquet('{sink}/events-state/*/*.parquet', hive_partitioning = true)""")
    errors = _state_sink_errors(con)
    windows = con.execute(f"""
        WITH w AS (SELECT kind, epoch_ms(window_start) AS ws, n FROM
                   read_parquet('{sink}/events-windows/*/*.parquet', hive_partitioning = true)),
             e AS (SELECT kind, (ts_ms // 5000) * 5000 AS ws, COUNT(*) AS n FROM expected GROUP BY 1, 2)
        SELECT (SELECT COUNT(*) FROM w LEFT JOIN e USING (kind, ws) WHERE e.n IS DISTINCT FROM w.n),
               (SELECT COUNT(*) - COUNT(DISTINCT (kind, ws)) FROM w),
               (SELECT COUNT(*) FROM w)""").fetchone()
    expected_n = con.execute("SELECT COUNT(*) FROM expected").fetchone()[0]
    commits = {}
    cdir = os.path.join(out, "ckpt", "events-state", "commits")
    for name in os.listdir(cdir):
        if name.isdigit():
            commits[int(name)] = os.stat(os.path.join(cdir, name)).st_mtime_ns / 1e6
    rows = con.execute(f"SELECT created_ms, batch FROM got WHERE created_ms >= {m['phase2_t0_ms']}"
                       ).fetchall()
    lat = stats.open_loop_latencies(rows, commits)
    failed = sum(errors.values()) + windows[0] + windows[1] + m["gen_errors"]
    return failed, expected_n, lat, dict(
        errors, window_mismatches=windows[0], window_duplicates=windows[1],
        windows_emitted=windows[2], generator_errors=m["gen_errors"],
        gen_late_ms=m["gen_late_ms"], append_ms=m["append_ms"],
        sink_rows=con.execute("SELECT COUNT(*) FROM got").fetchone()[0])
