"""Seeded input generator for the benchmark (numpy + pyarrow only).

It is independent of ``teleharvest_spark.datagen`` on purpose: a change
to the program's own generator cannot move the benchmark. Every planted
row is recorded in the returned ``Plan`` so the output checks can find
it again.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The suite every validate workload runs with (cli.build_suite JSON).
BANNED = (60001, 60002, 60003)
N_SOURCES = 10
ALLOWED = tuple(f"src_{i:02d}" for i in range(N_SOURCES))
HOT, DRIFTED, CHANGED = "src_00", "src_09", "src_05"
MIN_N_TOK, MAX_N_TOK = 16, 240
SUITE = {
    "min_n_tok": MIN_N_TOK,
    "max_n_tok": MAX_N_TOK,
    "banned_tokens": list(BANNED),
    "allowed_sources": list(ALLOWED),
}
VOCAB = 50_000

SEQ_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("source", pa.string()),
    ]
)


@dataclass
class Plan:
    """What the generator planted, keyed by kind."""

    rows: int = 0
    planted: dict = field(default_factory=dict)


def _n_tok(rng: np.random.Generator, n: int, drifted: bool) -> np.ndarray:
    # Drift buckets are 128 tokens wide: regular sources split ~50/50
    # between buckets 0 and 1; the drifted source sits ~90% in bucket 1.
    lo = rng.integers(MIN_N_TOK, 128, n)
    hi = rng.integers(128, MAX_N_TOK + 1, n)
    p_hi = 0.9 if drifted else 0.5
    return np.where(rng.random(n) < p_hi, hi, lo).astype(np.int32)


def _table(doc_ids, tokens, n_tok, sources) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.array(tokens, pa.list_(pa.int32())),
            "n_tok": pa.array(n_tok, pa.int32()),
            "source": pa.array(sources, pa.string()),
        },
        schema=SEQ_SCHEMA,
    )


def _rows(rng, prefix: str, start: int, n: int, source, drifted=False):
    n_tok = _n_tok(rng, n, drifted)
    flat = rng.integers(0, VOCAB, int(n_tok.sum()), dtype=np.int32)
    offsets = np.concatenate([[0], np.cumsum(n_tok)])
    tokens = [flat[offsets[i] : offsets[i + 1]] for i in range(n)]
    ids = [f"{prefix}{start + i:07d}" for i in range(n)]
    return ids, tokens, list(n_tok), [source] * n


FAULTS = (
    "null_payload", "empty_payload", "null_key", "inconsistent_n_tok",
    "too_short", "too_long", "banned_token",
)


def _plant_faults(rng, ids, tokens, n_tok, sources, idx, plan: Plan, tag: str,
                  kinds=FAULTS):
    """Overwrite rows ``idx`` (one fault each, in cascade order) and
    record them under ``plan.planted[<check>]``."""
    for j, i in enumerate(idx):
        kind = kinds[j % len(kinds)]
        if kind == "null_payload":
            tokens[i] = None
        elif kind == "empty_payload":
            tokens[i], n_tok[i] = np.zeros(0, np.int32), 0
        elif kind == "null_key":
            sources[i] = None if j % 2 else ""
        elif kind == "inconsistent_n_tok":
            n_tok[i] = None if j % 2 else int(n_tok[i]) + 1
        elif kind == "too_short":
            k = int(rng.integers(1, MIN_N_TOK))
            tokens[i], n_tok[i] = tokens[i][:k], k
        elif kind == "too_long":
            k = int(rng.integers(MAX_N_TOK + 1, 256))
            tokens[i] = rng.integers(0, VOCAB, k, dtype=np.int32)
            n_tok[i] = k
        else:
            t = np.array(tokens[i], copy=True)
            t[int(rng.integers(0, len(t)))] = BANNED[j % len(BANNED)]
            tokens[i] = t
        plan.planted.setdefault(kind, []).append(ids[i])
    plan.planted.setdefault(f"faults_{tag}", []).extend(ids[i] for i in idx)


def sequences(root: str, seed: int, rows: int) -> Plan:
    """Write the validate corpus as ``root/part-*.parquet`` (one file
    per source, flat, not hive-partitioned) and return its plan.

    ~half the rows are the hot source, one source is drifted, 1% of the
    rows of every regular source carry a cascade fault, some doc_ids are
    duplicated within and across sources, and one extra source is not in
    the allowed set."""
    rng = np.random.default_rng(seed)
    plan = Plan()
    os.makedirs(root, exist_ok=True)
    shares = {HOT: 0.5}
    rest = [s for s in ALLOWED if s != HOT]
    for s in rest:
        shares[s] = 0.47 / len(rest)
    shares["src_rogue"] = 0.03
    # NULL and '' sources (null_key rows) get partitions of their own,
    # large enough that their drift scores stay under the bounds
    shares[None] = shares[""] = 0.02
    start = 0
    for s, share in shares.items():
        n = max(int(rows * share), 200)
        ids, tokens, n_tok, srcs = _rows(rng, f"s{seed}-", start, n, s, s == DRIFTED)
        start += n
        if s in ALLOWED:
            idx = rng.choice(n, size=max(n // 100, 14), replace=False)
            _plant_faults(rng, ids, tokens, n_tok, srcs, idx, plan, s)
        elif s:
            plan.planted["unknown_source"] = list(ids)
        else:
            plan.planted.setdefault("null_key", []).extend(ids)
        # within-source duplicates: re-use 3 doc_ids of this source
        faulty = set(plan.planted.get(f"faults_{s}", []))
        clean = [i for i in range(n) if ids[i] not in faulty]
        src_i, dst_i = clean[:3], clean[3:6]
        for a, b in zip(src_i, dst_i):
            ids[b] = ids[a]
            plan.planted.setdefault("dup_within", []).append(ids[a])
        name = {None: "null", "": "empty"}.get(s, s)
        pq.write_table(_table(ids, tokens, n_tok, srcs), f"{root}/part-{name}.parquet")
    plan.rows = start
    return plan


def delta(root: str, seed: int, rows: int, seed_ids: list[str], plan: Plan) -> str:
    """A small file landing in ``CHANGED``: fresh rows with planted
    faults, plus one row re-using a doc_id of another source (the
    cross-source duplicate a key-index resume must report)."""
    rng = np.random.default_rng(seed + 1_000_003)
    ids, tokens, n_tok, srcs = _rows(rng, f"d{seed}-", 0, rows, CHANGED)
    idx = rng.choice(np.arange(1, rows), size=14, replace=False)
    # no null_key fault here: it would move a row out of CHANGED and
    # re-queue the NULL/empty-source partitions as well
    kinds = tuple(k for k in FAULTS if k != "null_key")
    _plant_faults(rng, ids, tokens, n_tok, srcs, idx, plan, "delta", kinds)
    ids[0] = seed_ids[int(rng.integers(0, len(seed_ids)))]
    plan.planted["dup_cross"] = [ids[0]]
    path = f"{root}/part-{CHANGED}-delta.parquet"
    pq.write_table(_table(ids, tokens, n_tok, srcs), path)
    plan.rows += rows
    return path


# ---------------------------------------------------------------- documents

def _vocab(rng) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, 3000)
    words = {"".join(rng.choice(letters, k)) for k in lens}
    return np.array(sorted(words))


def _doc(rng, vocab) -> str:
    n_lines = int(rng.integers(4, 9))
    lines = []
    for _ in range(n_lines):
        w = rng.choice(vocab, int(rng.integers(8, 16)))
        lines.append(" ".join(w))
    return "\n".join(lines)


DOC_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("text", pa.string()), ("source", pa.string())]
)


def documents(root: str, seed: int, n_docs: int) -> Plan:
    """Write the prep corpus: random-word documents over 4 sources with
    planted exact-duplicate groups, near-duplicates (one word changed)
    and repetitive junk (the same line repeated)."""
    rng = np.random.default_rng(seed + 7)
    vocab = _vocab(np.random.default_rng(12345))
    plan = Plan()
    os.makedirs(root, exist_ok=True)
    ids = [f"doc{seed}-{i:06d}" for i in range(n_docs)]
    texts = [_doc(rng, vocab) for _ in range(n_docs)]
    sources = [f"web_{i % 4}" for i in range(n_docs)]
    order = rng.permutation(n_docs)
    n_groups, n_near, n_junk = n_docs // 50, n_docs // 50, n_docs // 40
    cur = 0
    groups = []
    for _ in range(n_groups):
        size = int(rng.integers(2, 5))
        members = [int(i) for i in order[cur : cur + size]]
        cur += size
        for m in members[1:]:
            texts[m] = texts[members[0]]
        groups.append([ids[m] for m in members])
    plan.planted["exact_groups"] = groups
    for _ in range(n_near):
        a, b = int(order[cur]), int(order[cur + 1])
        cur += 2
        words = texts[a].split(" ")
        words[int(rng.integers(0, len(words)))] = "zzzq"
        texts[b] = " ".join(words)
        plan.planted.setdefault("near_pairs", []).append([ids[a], ids[b]])
    junk = []
    for _ in range(n_junk):
        j = int(order[cur])
        cur += 1
        line = " ".join(rng.choice(vocab, 10))
        texts[j] = "\n".join([line] * int(rng.integers(5, 10)))
        junk.append(ids[j])
    plan.planted["junk"] = junk
    plan.rows = n_docs
    tbl = pa.table(
        {"doc_id": ids, "text": texts, "source": sources}, schema=DOC_SCHEMA
    )
    pq.write_table(tbl, f"{root}/part-0.parquet", row_group_size=max(n_docs // 4, 1))
    return plan
