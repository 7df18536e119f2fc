"""NULL-fuzz the oracle gate.

The shipped fixtures carry no NULL keys, so any Spark-vs-DuckDB
divergence on NULL paths (NULLS FIRST/LAST ordering defaults,
three-valued CASE logic, join null-dropping) stays latent until a
future dataset trips it — exactly the class of bug a code review
found twice. This harness builds an adversarial copy of the engine's
OWN domain tables (documents, events, embeddings) at sf0.001 with
NULLs injected into every nullable column, then replays the full
oracle gate against it.

TPC-H tables are copied untouched: their columns are NOT NULL by
spec, and the engine makes no NULL promises there.

Usage: python scripts/null_fuzz.py [query ...]
       python scripts/null_fuzz.py --empty [query ...]     # zero-row tables
       python scripts/null_fuzz.py --unicode [query ...]   # exotic text

``--unicode`` injects documents whose text exercises the Spark-vs-
DuckDB representation seams: emoji + surrogate pairs (UTF-16 code
units vs code points), CJK (no-whitespace scripts), RTL + bidi marks,
NBSP/ideographic-space/zero-width characters (Java regex ``\\s`` vs
RE2), combining diacritics, and very long tokens.

``--extreme`` injects non-finite and boundary numerics — NaN, ±inf,
±1e308, denormals into ``events.value``; negative / huge ``n_chars``
into documents — the values real telemetry produces and ANSI-mode
casts turn into runtime errors.

``--skew`` makes ``src_00`` hold ~95% of documents/events rows (the
hot-partition shape the north rule calls out) — results must still
hash-match the oracle, pinning that AQE/skew handling changes plans,
never answers.

``--empty`` rebuilds every table with its schema and ZERO rows — the
degenerate input that breaks naive aggregates (element_at on empty,
div-by-zero means, collect-on-empty driver paths). Queries must run
and agree (both sides empty or both sides their empty-input identity
rows).
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check_oracles

SRC = "/root/testdata/sf0.001"
DST = "/tmp/sfnull"

# per-table extra rows: every nullable column goes NULL somewhere,
# including composite patterns (NULL key + real payload and vice versa)
INJECT = {
    "documents": """
        SELECT * FROM '{src}/documents.parquet'
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (NULL, 'null id document with some words', 'en', 'src3', CAST(33 AS BIGINT)),
          (900001, NULL, NULL, 'src4', NULL),
          (900002, 'doc with null source columns here', 'fr', NULL, 31),
          (NULL, NULL, NULL, NULL, NULL)
        ) t(doc_id, text, lang, source, n_chars)
    """,
    "events": """
        SELECT * FROM '{src}/events.parquet'
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (NULL, TIMESTAMP '2024-01-15 12:00:00', CAST(7 AS BIGINT), 'click', 1.5, '{{"k": 3}}'),
          (CAST(900001 AS BIGINT), NULL, 8, 'view', NULL, NULL),
          (CAST(900002 AS BIGINT), TIMESTAMP '2024-01-16 01:00:00', NULL, NULL, 2.5, '{{"k": 4}}'),
          (NULL, NULL, NULL, NULL, NULL, NULL)
        ) t(event_id, ts, user_id, event_type, value, props)
    """,
    "embeddings": """
        SELECT * FROM '{src}/embeddings.parquet'
        UNION ALL BY NAME
        SELECT * FROM (VALUES
          (NULL, NULL, NULL)
        ) t(vec_id, embedding, label)
    """,
}


# text that stresses UTF-16-vs-UTF-8 length, regex \s dialects, bidi,
# zero-width chars, combining marks, and token-length extremes
UNICODE_TEXTS = [
    "emoji 🎉🎊 pair 👨‍👩‍👧‍👦 flags 🇺🇳 done",
    "中文没有空格但是很长的一段文字在这里继续下去",
    "عربي rtl نص with latin mixed in",
    "nbsp separated words here",
    "ideographic　space and zero​width joined",
    "combining áé diacritics café",
    "tab\tand\nnewline\rand\x0bvertical",
    "x" * 5000 + " single giant token",
    "trailing markdown [link](https://example.com/🎉)",
    "",
]


def build(mode: str = "null") -> str:
    dst = DST + ("" if mode == "null" else f"_{mode}")
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    con = duckdb.connect()
    extras: dict[str, "object"] = {}
    if mode == "unicode":
        import pandas as pd

        extras["documents"] = pd.DataFrame(
            {
                "doc_id": [900100 + i for i in range(len(UNICODE_TEXTS))],
                "text": UNICODE_TEXTS,
                "lang": ["xx"] * len(UNICODE_TEXTS),
                "source": [f"src{i % 5}" for i in range(len(UNICODE_TEXTS))],
                "n_chars": [len(t) for t in UNICODE_TEXTS],
            }
        )
    elif mode == "extreme":
        import pandas as pd

        vals = [
            float("nan"), float("inf"), float("-inf"),
            1e308, -1e308, 5e-324, -0.0,
        ]
        extras["events"] = pd.DataFrame(
            {
                "event_id": [900200 + i for i in range(len(vals))],
                "ts": pd.to_datetime(["2024-01-15 12:00:00"] * len(vals)),
                "user_id": [11] * len(vals),
                "event_type": ["click"] * len(vals),
                "value": vals,
                "props": ['{"k": 2}'] * len(vals),
            }
        )
        extras["documents"] = pd.DataFrame(
            {
                "doc_id": [900300, 900301],
                "text": ["negative length row", "huge length row"],
                "lang": ["en", "en"],
                "source": ["src3", "src4"],
                "n_chars": [-50, 2**62],
            }
        )
    for name, frame in extras.items():
        con.register(f"extra_{name}", frame)
    if mode == "skew":
        # documents: src_00 absorbs ~19x duplicated rows (hot source);
        # events: user 7 absorbs them (hot session/window key). New
        # surrogate ids keep uniqueness semantics intact.
        con.execute(
            f"""COPY (
                SELECT * FROM '{SRC}/documents.parquet'
                UNION ALL BY NAME
                SELECT * REPLACE (
                    doc_id + 1000000 * (g.i + 1) AS doc_id,
                    'src_00' AS source
                )
                FROM '{SRC}/documents.parquet', generate_series(0, 18) g(i)
            ) TO '{dst}/documents.parquet' (FORMAT parquet)"""
        )
        con.execute(
            f"""COPY (
                SELECT * FROM '{SRC}/events.parquet'
                UNION ALL BY NAME
                SELECT * REPLACE (
                    event_id + 1000000 * (g.i + 1) AS event_id,
                    CAST(7 AS BIGINT) AS user_id
                )
                FROM '{SRC}/events.parquet', generate_series(0, 18) g(i)
            ) TO '{dst}/events.parquet' (FORMAT parquet)"""
        )
    for t in check_oracles.TABLES:
        if mode == "skew" and t in ("documents", "events"):
            continue  # built above
        if mode == "empty":
            con.execute(
                f"COPY (SELECT * FROM '{SRC}/{t}.parquet' WHERE 1=0) "
                f"TO '{dst}/{t}.parquet' (FORMAT parquet)"
            )
        elif t in extras:
            con.execute(
                f"COPY (SELECT * FROM '{SRC}/{t}.parquet' "
                f"UNION ALL BY NAME SELECT * FROM extra_{t}) "
                f"TO '{dst}/{t}.parquet' (FORMAT parquet)"
            )
        elif mode == "null" and t in INJECT:
            q = INJECT[t].format(src=SRC)
            con.execute(f"COPY ({q}) TO '{dst}/{t}.parquet' (FORMAT parquet)")
        else:
            shutil.copy(f"{SRC}/{t}.parquet", f"{dst}/{t}.parquet")
    return dst


if __name__ == "__main__":
    args = sys.argv[1:]
    mode = "null"
    for m in ("empty", "unicode", "extreme", "skew"):
        if f"--{m}" in args:
            mode = m
    args = [a for a in args if not a.startswith("--")]
    dst = build(mode=mode)
    sys.exit(check_oracles.main(args or None, sf_dir=dst))
