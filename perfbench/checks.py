"""Output checks, computed apart from the program.

Expected values come from DuckDB over the generated input (the check
definitions of the suite written out again in SQL), from the
generator's record of planted rows, or from properties the method must
have. Nothing is compared against a stored copy of an earlier output.

Every check function returns a list of failure messages; empty = pass.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa

import gen


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _pq(path: str) -> str:
    """read_parquet over every data file below ``path``; Spark's
    _SUCCESS and .crc files are not matched."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def cascade_sql() -> str:
    """The suite's first-failing cascade check per row (NULL = passes),
    in the order and with the predicates of the program's check list."""
    banned = ", ".join(str(t) for t in gen.BANNED)
    allowed = ", ".join(f"'{s}'" for s in gen.ALLOWED)
    return f"""CASE
        WHEN tokens IS NULL THEN 'null_payload'
        WHEN len(tokens) = 0 THEN 'empty_payload'
        WHEN source IS NULL OR source = '' THEN 'null_key'
        WHEN n_tok IS NULL OR n_tok <> len(tokens) THEN 'inconsistent_n_tok'
        WHEN n_tok < {gen.MIN_N_TOK} THEN 'too_short'
        WHEN n_tok > {gen.MAX_N_TOK} THEN 'too_long'
        WHEN list_has_any(tokens, [{banned}]) THEN 'banned_token'
        WHEN source NOT IN ({allowed}) THEN 'unknown_source'
    END"""


def _annotate(con, name: str, files: str) -> None:
    """Table ``name``: the input rows with their expected first-failing
    check and whether their doc_id occurs more than once."""
    con.execute(
        f"""CREATE OR REPLACE TABLE {name} AS
        SELECT doc_id, source, n_tok, {cascade_sql()} AS first_fail,
               count(*) OVER (PARTITION BY doc_id) > 1 AS dup
        FROM read_parquet({files})"""
    )


def _expected_counts(con, table: str) -> set:
    """(source, check, violation rows): one row per first-failing
    cascade check plus one per row whose doc_id is duplicated."""
    rows = con.execute(
        f"""SELECT source, check_name, count(*) FROM (
              SELECT source, first_fail AS check_name FROM {table}
              WHERE first_fail IS NOT NULL
              UNION ALL
              SELECT source, 'duplicate_key' FROM {table} WHERE dup)
            GROUP BY ALL"""
    ).fetchall()
    return set(rows)


def _verdict_counts(con, verdicts: str) -> set:
    rows = con.execute(
        f"""SELECT source, e.key, e.value FROM (
              SELECT source, unnest(map_entries(viol_by_check)) AS e
              FROM {_pq(verdicts)})"""
    ).fetchall()
    return set(rows)


def _diff(label: str, want: set, got: set) -> list[str]:
    if want == got:
        return []
    return [
        f"{label}: missing {sorted(want - got, key=str)[:5]} "
        f"unexpected {sorted(got - want, key=str)[:5]}"
    ]


def validate_full(con, inp_files: str, out: str, run_id: str) -> list[str]:
    """Checks of one full ``cli.run`` (drift, emit_valid, key_index,
    corpus_states) over the input files ``inp_files`` (a DuckDB list
    literal of parquet paths)."""
    _annotate(con, "inp", inp_files)
    want = _expected_counts(con, "inp")
    verdicts = f"{out}/verdicts/{run_id}"
    fails = _diff("verdict per-check counts", want, _verdict_counts(con, verdicts))
    got_v = set(
        con.execute(
            f"SELECT source, check_name, count(*) FROM {_pq(out + '/violations')} "
            "GROUP BY ALL"
        ).fetchall()
    )
    fails += _diff("written violations per-check counts", want, got_v)
    # every input row is certified or has its doc_id among the
    # violations, never both: certified == rows whose doc_id is clean
    fails += _diff_rows(
        con,
        "certified vs clean input rows",
        f"""SELECT doc_id, source, n_tok FROM inp WHERE doc_id NOT IN (
              SELECT doc_id FROM {_pq(out + '/violations')})""",
        f"SELECT doc_id, source, n_tok FROM {_pq(out + '/certified')}",
    )
    both = con.execute(
        f"""SELECT count(*) FROM {_pq(out + '/certified')} WHERE doc_id IN (
              SELECT doc_id FROM {_pq(out + '/violations')})"""
    ).fetchone()[0]
    if both:
        fails.append(f"{both} certified rows have a violation")
    n_in = con.execute("SELECT count(*) FROM inp").fetchone()[0]
    n_rep = con.execute(f"SELECT sum(row_count) FROM {_pq(verdicts)}").fetchone()[0]
    if n_rep != n_in:
        fails.append(f"verdict row_count sums to {n_rep}, input has {n_in}")
    drift = {
        r[0]
        for r in con.execute(
            f"SELECT source FROM {_pq(verdicts)} WHERE drift_verdict = 'fail'"
        ).fetchall()
    }
    if drift != {gen.DRIFTED}:
        fails.append(f"drift fails {sorted(drift, key=str)}, expected {gen.DRIFTED}")
    return fails


def _diff_rows(con, label: str, want_sql: str, got_sql: str) -> list[str]:
    """Multiset equality of two queries' rows."""
    n_extra, n_missing = (
        con.execute(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))").fetchone()[0]
        for a, b in ((got_sql, want_sql), (want_sql, got_sql))
    )
    if n_extra or n_missing:
        return [f"{label}: {n_missing} rows missing, {n_extra} unexpected"]
    return []


def file_digests(root: str) -> dict[str, str]:
    """relative path → sha256 of every data file below ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def validate_resume(
    con,
    seed_files: str,
    final_files: str,
    out: str,
    report: dict,
    plan: gen.Plan,
    seed_certified: dict[str, str],
) -> list[str]:
    """Checks of one ``cli.run(resume=True)`` after a delta file landed
    in ``gen.CHANGED``. ``seed_certified`` is :func:`file_digests` of
    the seeded certified table."""
    _annotate(con, "seed_inp", seed_files)
    _annotate(con, "final_inp", final_files)
    fails = []
    n_changed = con.execute(
        "SELECT count(*) FROM final_inp WHERE source = ?", [gen.CHANGED]
    ).fetchone()[0]
    if report.get("validated_rows") != n_changed:
        fails.append(
            f"validated_rows {report.get('validated_rows')}, "
            f"{gen.CHANGED} has {n_changed}"
        )
    cross = plan.planted["dup_cross"][0]
    hit = con.execute(
        f"""SELECT count(*) FROM {_pq(out + '/violations')}
            WHERE doc_id = ? AND source = ? AND check_name = 'duplicate_key'""",
        [cross, gen.CHANGED],
    ).fetchone()[0]
    if not hit:
        fails.append(f"cross-source duplicate {cross} not reported")
    # The re-validated source is judged on the final input; untouched
    # sources keep the verdicts of the run that last validated them
    # (the documented resume contract: rows of an old partition are not
    # re-flagged by a duplicate that arrived later in another one).
    fails += _diff_rows(
        con,
        "certified vs passing rows",
        f"""SELECT doc_id, source, n_tok FROM final_inp
            WHERE source = '{gen.CHANGED}' AND first_fail IS NULL AND NOT dup
            UNION ALL
            SELECT doc_id, source, n_tok FROM seed_inp
            WHERE source <> '{gen.CHANGED}' AND first_fail IS NULL AND NOT dup""",
        f"SELECT doc_id, source, n_tok FROM {_pq(out + '/certified')}",
    )
    now = file_digests(f"{out}/certified")
    prefix = f"source_dir={gen.CHANGED}{os.sep}"
    untouched_then = {k: v for k, v in seed_certified.items() if not k.startswith(prefix)}
    untouched_now = {k: v for k, v in now.items() if not k.startswith(prefix)}
    if untouched_then != untouched_now:
        fails.append("certified files of untouched sources changed")
    return fails


def prep_corpus(con, docs: str, out: str, plan: gen.Plan, capacity: int) -> list[str]:
    """Checks of one ``pipeline.prep_corpus`` with its default stages."""
    fails = []
    n_in = con.execute(f"SELECT count(*) FROM {_pq(docs)}").fetchone()[0]
    n_pass = con.execute(f"SELECT count(*) FROM {_pq(out + '/clean_docs')}").fetchone()[0]
    qv = _pq(out + "/quality_violations")
    n_fail = con.execute(f"SELECT count(*) FROM {qv}").fetchone()[0]
    if n_pass + n_fail != n_in:
        fails.append(f"quality passed {n_pass} + failed {n_fail} != input {n_in}")
    groups = plan.planted["exact_groups"]
    con.register(
        "groups",
        pa.table(
            {
                "g": [i for i, g in enumerate(groups) for _ in g],
                "doc_id": [d for g in groups for d in g],
            }
        ),
    )
    bad = con.execute(
        f"""SELECT count(*) FROM (
              SELECT g, count(d.doc_id) AS kept FROM groups
              LEFT JOIN {_pq(out + '/dedup_docs')} d USING (doc_id)
              GROUP BY g) WHERE kept <> 1"""
    ).fetchone()[0]
    if bad:
        fails.append(f"{bad} exact-duplicate groups do not keep exactly one document")
    junk = plan.planted["junk"]
    caught = con.execute(
        f"SELECT count(DISTINCT doc_id) FROM {qv} WHERE list_contains(?, doc_id)", [junk]
    ).fetchone()[0]
    if caught != len(junk):
        fails.append(f"{len(junk) - caught} planted junk documents passed quality")
    n_tok_rows = con.execute(f"SELECT count(*) FROM {_pq(out + '/corpus_flat')}").fetchone()[0]
    n_split = con.execute(f"SELECT count(*) FROM {_pq(out + '/corpus')}").fetchone()[0]
    if n_split != n_tok_rows:
        fails.append(f"split counts sum to {n_split}, tokenized rows {n_tok_rows}")
    packs = _pq(out + "/packs")
    fails += _diff_rows(
        con,
        "packed vs tokenized documents",
        f"SELECT doc_id FROM {_pq(out + '/corpus_flat')}",
        f"SELECT doc_id FROM {packs}",
    )
    over = con.execute(
        f"""SELECT count(*) FROM (
              SELECT p.split, p.source_dir, p.pack_id, sum(c.n_tok) AS n
              FROM {packs} p JOIN {_pq(out + '/corpus_flat')} c USING (doc_id)
              GROUP BY ALL) WHERE n > {int(capacity)}"""
    ).fetchone()[0]
    if over:
        fails.append(f"{over} packs exceed capacity {capacity}")
    return fails
